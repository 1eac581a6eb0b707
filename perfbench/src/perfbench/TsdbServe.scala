package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.admin.{AdminEngine, MetaCatalog}
import graft.sources.WireHttp

/** `tsdb_serve`: line-protocol writes over `/api/v1/write` beside
  * dashboard reads over `/api/v1/sql`, with a stream table rolling the
  * raw table up into one-minute windows.
  *
  * Threads: one writer connection, one committer, one dashboard
  * connection. Phase (a), backfill: in each of a fixed number of rounds
  * the writer posts its share of the backfill bodies as fast as the
  * listener accepts, and the round ends when they are committed and the
  * stream has consumed them. Phase (b), steady state:
  * the writer posts open-loop on a fixed schedule while the dashboard
  * runs its SQL mix closed-loop, for the run's window. The committer
  * drains newly spooled bodies into `writeLines` and then
  * `awaitStreams`, in a loop, through both phases.
  */
object TsdbServe {
  private val Auth = ("root", "")

  final class Server(val spark: SparkSession, val engine: AdminEngine, val wire: WireHttp,
                     val dataRoot: Path, val spool: Path)

  def run(ctx: Ctx): Map[String, Any] = {
    val db = ctx.str("db")
    val bodies = ctx.str("bodies")
    def body(name: String): Array[Byte] = Files.readAllBytes(Path.of(bodies, name))
    val seedBody = body("seed.lp")
    val backfill = (0 until ctx.int("backfill_bodies")).map(i => body(f"backfill-$i%05d.lp"))
    val steady = (0 until ctx.int("steady_bodies")).map(i => body(f"steady-$i%05d.lp"))
    val dashboard = Main.json.readValue(Path.of(ctx.str("dashboard")).toFile,
      classOf[Seq[Map[String, Any]]])
    val sqlReq = new AtomicLong()

    def commitBodies(s: Server, files: Seq[Path]): Unit = {
      import s.spark.implicits._
      // one file per commit: the stream table reads the raw table one
      // file per trigger, and points of one commit must share a trigger
      // for the zero-delay watermark to keep them
      s.engine.writeLines(db, s.spark.read.text(files.map(_.toString): _*).coalesce(1).as[String])
    }

    val server = ctx.repeatSetup(ctx.int("setups")) { i =>
      val spark = ctx.newSession()
      val dataRoot = ctx.dir(s"setup$i", "data")
      val spool = ctx.dir(s"setup$i", "spool")
      val engine = new AdminEngine(spark, new MetaCatalog, dataRoot.toString,
        () => System.currentTimeMillis() * 1000000L)
      val sqlExec = (u: String, p: String, t: String, d: String, sql: String) => {
        val req = sqlReq.incrementAndGet()
        spark.sparkContext.setJobGroup(s"sql:$req", "dashboard", interruptOnCancel = false)
        try ctx.spans.span("admin.exec_http", req)(engine.execHttp(u, p, t, d, sql))
        finally spark.sparkContext.clearJobGroup()
      }
      val wire = WireHttp.start(spool.toString, sqlExec = sqlExec, writeAuth = engine.authWrite)
      engine.attachWire(wire)
      val s = new Server(spark, engine, wire, dataRoot, spool)
      ctx.strs("ddl").foreach(engine.execute)
      val (code, msg) = WireHttp.post(s"${wire.base}/api/v1/write?db=$db", seedBody,
        "text/plain", Auth)
      require(code == 204, s"seed write answered $code: ${new String(msg, "UTF-8")}")
      commitBodies(s, Seq(spool.resolve("lp").resolve("body-000001.bin")))
      ctx.strs("stream_ddl").foreach(engine.execute)
      engine.awaitStreams()
      // warm-up: one statement of each dashboard kind over the wire
      dashboard.groupBy(_("kind")).values.map(_.head).foreach { q =>
        val (c, body) = WireHttp.post(s"${wire.base}/api/v1/sql?db=$db",
          q("sql").toString.getBytes("UTF-8"), "text/plain", Auth)
        require(c == 200, s"warm-up statement answered $c: ${new String(body, "UTF-8").take(300)}")
      }
      s
    } { s => s.engine.stopStreams(); s.wire.stop(); ctx.stopSession(s.spark) }
    ctx.ready(server.spark)
    sqlReq.set(0) // the timed load's k-th statement is request k
    val spark = server.spark
    val writeUrl = s"${server.wire.base}/api/v1/write?db=$db"
    val sqlUrl = s"${server.wire.base}/api/v1/sql?db=$db"

    // ---- committer: spool body n is the n-th accepted POST ------------
    val accepted = new AtomicLong(1) // the seed body
    val posted = new AtomicLong(1) // accepted bodies the committer may take
    val consumed = new AtomicLong(1) // bodies committed and streamed
    val stop = new AtomicBoolean(false)
    val commits = new ConcurrentLinkedQueue[Map[String, Any]]()
    val lpDir = server.spool.resolve("lp")
    val committer = new Thread(() => {
      var next = 2L
      var k = 0L
      while (!stop.get || consumed.get < posted.get) {
        val last = posted.get
        if (last < next) LockSupport.parkNanos(2000000L)
        else {
          k += 1
          val files = (next to last).map(n => lpDir.resolve(f"body-$n%06d.bin"))
          val bytes = files.map(Files.size).sum
          val t0 = System.nanoTime()
          val err = try {
            spark.sparkContext.setJobGroup(s"commit:$k", "commit", interruptOnCancel = false)
            ctx.spans.span("admin.write_lines", k)(commitBodies(server, files))
            None
          } catch { case e: Throwable => Some(ctx.describe(e)) }
          val t1 = System.nanoTime()
          val err2 = try {
            spark.sparkContext.setJobGroup(s"await:$k", "await", interruptOnCancel = false)
            ctx.spans.span("stream.await", k)(server.engine.awaitStreams())
            None
          } catch { case e: Throwable => Some(ctx.describe(e)) }
          spark.sparkContext.clearJobGroup()
          val t2 = System.nanoTime()
          ctx.record("commit", s"commit:$k", t0, t1, err, extra = Map("bytes" -> bytes))
          ctx.record("await", s"await:$k", t1, t2, err2)
          commits.add(Map("first" -> next, "last" -> last, "start" -> t0, "committed" -> t1,
            "streamed" -> t2, "bytes" -> bytes))
          consumed.set(last)
          next = last + 1
        }
      }
    }, "perfbench-committer")
    committer.start()

    def write(b: Array[Byte], req: Long, sched: Long, phase: String, publish: Boolean,
              sent: ConcurrentLinkedQueue[Map[String, Any]]): Unit = {
      val t0 = System.nanoTime()
      val res = try {
        val (code, msg) = ctx.spans.span("sources.wire_write", req)(
          WireHttp.post(writeUrl, b, "text/plain", Auth))
        if (code == 204) None else Some(s"HTTP $code: ${new String(msg, "UTF-8").take(300)}")
      } catch { case e: Throwable => Some(ctx.describe(e)) }
      val t1 = System.nanoTime()
      ctx.record("write", s"write:$phase:$req", t0, t1, res)
      // only an accepted POST lands in the spool, as body number `accepted`
      val body = if (res.isEmpty) accepted.incrementAndGet() else -1L
      if (publish) posted.set(accepted.get)
      sent.add(Map("index" -> req, "phase" -> phase, "sched" -> sched, "start" -> t0,
        "end" -> t1, "body" -> body, "ok" -> res.isEmpty))
    }

    def awaitConsumed(n: Long, timeoutS: Double): Boolean = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (consumed.get < n && System.nanoTime() < deadline) LockSupport.parkNanos(1000000L)
      consumed.get >= n
    }

    // ---- phase (a): backfill, in rounds ---------------------------------
    // Each round's bodies reach the committer together, so a round is one
    // commit and one stream trigger whatever the committer's timing.
    val sent = new ConcurrentLinkedQueue[Map[String, Any]]()
    val b0 = System.nanoTime()
    val perRound = math.ceil(backfill.size.toDouble / ctx.int("backfill_rounds")).toInt
    val backfillDone = backfill.zipWithIndex.grouped(perRound).forall { round =>
      round.foreach { case (b, i) => write(b, i, System.nanoTime(), "backfill", publish = false, sent) }
      posted.set(accepted.get)
      awaitConsumed(posted.get, 60)
    }
    val b1 = System.nanoTime()

    // ---- phase (b): steady state ---------------------------------------
    val intervalNs = (1e9 / ctx.dbl("bodies_per_s")).toLong
    val windowNs = (ctx.seconds * 1e9).toLong
    val s0 = System.nanoTime() + 5000000L
    val writer = new Thread(() => {
      var i = 0
      while (i < steady.size && i * intervalNs < windowNs) {
        val sched = s0 + i * intervalNs
        while (System.nanoTime() < sched) LockSupport.parkNanos(sched - System.nanoTime())
        write(steady(i), i, sched, "steady", publish = true, sent)
        i += 1
      }
    }, "perfbench-writer")
    val reader = new Thread(() => {
      var k = 0L
      while (System.nanoTime() < s0 + windowNs) {
        val q = dashboard((k % dashboard.size).toInt)
        val sql = q("sql").toString
        val t0 = System.nanoTime()
        val res = try {
          val (code, body) = WireHttp.post(sqlUrl, sql.getBytes("UTF-8"), "text/plain", Auth)
          val text = new String(body, "UTF-8")
          val header = text.linesIterator.nextOption().getOrElse("")
          val want = q("columns").asInstanceOf[Seq[Any]].mkString(",")
          if (code != 200) Some(s"HTTP $code: ${text.take(300)}")
          else if (header != want) Some(s"columns [$header], expected [$want]")
          else None
        } catch { case e: Throwable => Some(ctx.describe(e)) }
        val t1 = System.nanoTime()
        k += 1
        ctx.record("query", s"query:${q("kind")}:$k", t0, t1, res)
      }
    }, "perfbench-dashboard")
    writer.start(); reader.start()
    writer.join(); reader.join()
    val drained = awaitConsumed(accepted.get, 120)
    stop.set(true)
    committer.join(130000L)

    // ---- untimed: final state for run.py's checks -----------------------
    def check(sql: String): String = {
      spark.sparkContext.setJobGroup("check", "check", interruptOnCancel = false)
      try server.engine.execHttp(Auth._1, Auth._2, "cnosdb", db, sql) match {
        case Right(csv) => csv
        case Left((code, msg)) => s"ERROR $code $msg"
      } finally spark.sparkContext.clearJobGroup()
    }
    val checks = ctx.params("checks").asInstanceOf[Map[String, Any]]
      .map { case (k, sql) => k -> check(sql.toString) }
    val files = Seq("raw" -> ctx.str("raw_table"), "rollup" -> ctx.str("rollup_table")).map {
      case (k, t) =>
        val dir = server.dataRoot.resolve("cnosdb").resolve(db).resolve(t)
        val parquet = if (!Files.exists(dir)) Nil else {
          val w = Files.walk(dir)
          try w.iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toList
          finally w.close()
        }
        k -> Map("files" -> parquet.size, "bytes" -> parquet.map(Files.size).sum)
    }.toMap
    server.engine.stopStreams()
    server.wire.stop()
    ctx.stopSession(spark)
    Map("sent" -> sent.asScala.toSeq, "commits" -> commits.asScala.toSeq,
      "backfill" -> Seq(b0, b1), "backfill_done" -> backfillDone, "drained" -> drained,
      "checks" -> checks, "files" -> files)
  }
}
