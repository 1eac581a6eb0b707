package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark program: runs one workload against graft in this JVM and
  * writes a raw record (per-operation times, failures, spans and
  * listener counts) to `<root>/record.json`. perfbench/run.py turns the
  * record into metrics and checks the outputs.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <run root> <params.json>
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, root, params) = args
    val ctx = new Ctx(workload, seed.toLong, seconds.toDouble, trace == "1",
      Paths.get(root), json.readValue(Paths.get(params).toFile, classOf[Map[String, Any]]))
    val body = workload match {
      case "tsdb_serve"      => TsdbServe.run(ctx)
      case "lake_analytics"  => LakeAnalytics.run(ctx)
      case "corpus_pipeline" => CorpusPipeline.run(ctx)
      case other             => sys.error(s"unknown workload $other")
    }
    val record = body ++ Map(
      "setup_s" -> ctx.setupS.toSeq,
      "ops" -> ctx.ops.asScala.toSeq,
      "spans" -> ctx.spans.all.map(s => Seq(s.id, s.parent, s.name, s.req, s.start, s.end)),
      "listeners" -> ctx.listeners.map(_.snapshot).getOrElse(Map.empty),
      "peak_rss_mb" -> peakRssMb())
    json.writeValue(ctx.root.resolve("record.json").toFile, record)
    sys.exit(0)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Per-run state shared by the workloads. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double, val trace: Boolean,
                val root: Path, val params: Map[String, Any]) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  val spans = new Spans(trace)
  val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
  val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
  var listeners: Option[Listeners] = None

  def str(k: String): String = params(k).toString
  def int(k: String): Int = params(k).asInstanceOf[Number].intValue
  def dbl(k: String): Double = params(k).asInstanceOf[Number].doubleValue
  def strs(k: String): Seq[String] = params(k).asInstanceOf[Seq[Any]].map(_.toString)

  def dir(parts: String*): Path = Files.createDirectories(Paths.get(root.toString, parts: _*))

  /** A fresh local session whose scratch space lives under this run's
    * root. Shuffle width is the core count, as graft's own bench derives
    * it for lakes this small. */
  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", dir("hadoop-tmp").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Time `setup` (which returns the state the timed load uses) `times`
    * times, tearing down all but the last, and record each duration. */
  def repeatSetup[T](times: Int)(setup: Int => T)(teardown: T => Unit): T = {
    var last: Option[T] = None
    for (i <- 1 to times) {
      last.foreach(teardown)
      val t0 = System.nanoTime()
      last = Some(setup(i))
      setupS += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  /** After set-up: register the trace listeners on the session the timed
    * load uses. */
  def ready(spark: SparkSession): Unit =
    if (trace) {
      val l = new Listeners
      l.register(spark)
      listeners = Some(l)
    }

  /** Run one operation under job group `tag`, timing it at the call
    * boundary. A throw is recorded with its cause and counted as failed;
    * it never aborts the run. */
  def op[T](spark: SparkSession, kind: String, tag: String, counted: Boolean = true)
           (body: => T): Option[T] = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val res = try Right(spans.span(kind)(body)) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    record(kind, tag, t0, t1, res.left.toOption.map(describe), counted)
    res.toOption
  }

  def record(kind: String, tag: String, t0: Long, t1: Long, error: Option[String],
             counted: Boolean = true, extra: Map[String, Any] = Map.empty): Unit =
    ops.add(Map("kind" -> kind, "tag" -> tag, "start" -> t0, "end" -> t1,
      "ok" -> error.isEmpty, "error" -> error.getOrElse(""), "counted" -> counted) ++ extra)

  def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"
      .take(500)
}
