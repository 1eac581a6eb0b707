package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call at a layer boundary. `req` groups the spans of one
  * client request; `parent` is the id of the enclosing span on the same
  * thread (0 for a root). Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      start: Long, end: Long)

/** In-memory span recorder. Disabled (the untraced runs) it records
  * nothing and `span` is a plain call. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, req: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parents.headOption.getOrElse(0L), name, req, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.start)
}

/** Spark-side counts for one tag (a job group the benchmark set around
  * one operation). */
final class TagCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var peakExecMem = 0L
  var actions = 0L; var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var scanFiles = 0L; var scanBytes = 0L; var scanRows = 0L
  /** [submit, end] of each job, System.nanoTime-aligned. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "spill" -> spill, "input_bytes" -> inputBytes,
    "peak_exec_mem" -> peakExecMem, "actions" -> actions, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "scan_files" -> scanFiles, "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
    "job_intervals" -> jobIntervals.map { case (a, b) => Seq(a, b) }.toSeq)
}

/** The listeners the benchmark registers on a traced run: Spark jobs,
  * stages and tasks (SparkListener), planning phases and scan metrics
  * (QueryExecutionListener) and stream triggers (StreamingQueryListener).
  * Every count is attributed by the job group of the action that caused
  * it, never by timing. Callbacks arrive on Spark's listener threads;
  * all state is guarded by `this`. */
final class Listeners extends SparkListener with QueryExecutionListener
  with AdaptiveSparkPlanHelper {

  // listener timestamps are wall-clock millis; spans use nanoTime
  private val clockSkewNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanoOf(ms: Long): Long = ms * 1000000L + clockSkewNs

  private val byTag = mutable.Map.empty[String, TagCounts]
  private val jobTag = mutable.Map.empty[Int, String]
  private val jobSubmit = mutable.Map.empty[Int, Long]
  private val stageTag = mutable.Map.empty[Int, String]
  private val execTag = mutable.Map.empty[Long, String]
  /** SQL metric accumulator id -> SQL execution id, from the plans the
    * execution events carry: the one link from a QueryExecution handed
    * to onSuccess back to its execution (and so its job group). */
  private val accExec = mutable.Map.empty[Long, Long]
  /** (stage duration ms, task durations ms) for the stage-skew metric. */
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var slowest: (Long, Seq[Long]) = (-1L, Nil)
  val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def counts(tag: String): TagCounts = byTag.getOrElseUpdate(tag, new TagCounts)
  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.jobGroup.id"))).getOrElse("untagged")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    jobTag(e.jobId) = tag
    jobSubmit(e.jobId) = nanoOf(e.time)
    e.stageIds.foreach(stageTag(_) = tag)
    counts(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (tag <- jobTag.remove(e.jobId); t0 <- jobSubmit.remove(e.jobId))
      counts(tag).jobIntervals += ((t0, nanoOf(e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val tag = stageTag.getOrElse(info.stageId, "untagged")
    counts(tag).stages += 1
    val tasks = stageTasks.remove(info.stageId).map(_.toSeq).getOrElse(Nil)
    val dur = for (s <- info.submissionTime; c <- info.completionTime) yield c - s
    // the output checks run after the timed load and are not part of it
    if (!tag.startsWith("check") && dur.exists(_ > slowest._1) && tasks.nonEmpty)
      slowest = (dur.get, tasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageTag.getOrElse(e.stageId, "untagged"))
    c.tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  private def indexPlan(exec: Long, p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accExec(m.accumulatorId) = exec)
    p.children.foreach(indexPlan(exec, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execTag(s.executionId) = s.jobGroupId.getOrElse("untagged")
      indexPlan(s.executionId, s.sparkPlanInfo)
    }
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      synchronized(indexPlan(u.executionId, u.sparkPlanInfo))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val plan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val metricIds = collectWithSubqueries(plan) { case n => n.metrics.values.map(_.id) }.flatten
    def metric(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    synchronized {
      val tag = metricIds.collectFirst { case id if accExec.contains(id) => accExec(id) }
        .flatMap(execTag.get).getOrElse("untagged")
      val c = counts(tag)
      c.actions += 1
      c.analysisMs += ms("analysis"); c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      scans.foreach { s =>
        c.scanFiles += metric(s, "numFiles"); c.scanBytes += metric(s, "filesSize")
        c.scanRows += metric(s, "numOutputRows")
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      progress.add(Map(
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "end_ns" -> nanoOf(java.time.Instant.parse(p.timestamp).toEpochMilli +
          d.getOrElse("triggerExecution", 0L))))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streams)
  }

  def snapshot: Map[String, Any] = synchronized {
    Map("tags" -> byTag.map { case (k, v) => k -> v.toMap }.toMap,
      "slowest_stage_task_ms" -> slowest._2,
      "stream_progress" -> progress.asScala.toSeq)
  }
}
