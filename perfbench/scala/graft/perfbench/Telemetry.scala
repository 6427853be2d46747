package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{DataSourceScanExec, LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's view of the engine: executor CPU per iteration (always
  * on), and — while `tracing` — one span per call the benchmark makes into a
  * layer, with the Spark jobs, tasks and Catalyst phases that ran inside it.
  *
  * Jobs are tied to spans by a job tag naming the innermost open span; a
  * stage belongs to the span of the job that submitted it, a task to its
  * stage's span. Catalyst phases carry no tag, so each phase is given to the
  * innermost span open at its start time (one client thread, so spans nest
  * and never overlap).
  *
  * DataFrames are lazy: work a layer's call only describes runs in the span
  * of the call whose action executes it. Tracing leaves the plans as they
  * are, except at `boundary`. */
final class Telemetry extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  import Telemetry._

  val cpuNs = new AtomicLong
  @volatile var tracing = false

  private var spark: SparkSession = _
  private var iter = 0
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val jobs = new ConcurrentLinkedQueue[Int]() // span id per job
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val scans = new ConcurrentLinkedQueue[ScanRec]()
  private val notes = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val benchRdds = mutable.Set[Int]()
  private val boundaries = mutable.ArrayBuffer[DataFrame]()
  private val tracedIters = mutable.Set[Int]()

  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(this)
    s.listenerManager.register(this)
  }

  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  /** One iteration's root span (layer `core`). */
  def iteration[T](it: Int)(body: => T): T = {
    iter = it
    if (tracing) tracedIters += it
    span("core", "iteration")(body)
  }

  /** Run `body` as a span of `layer`; a plain call when not tracing. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption
      val s = Span(spans.length, layer, name, parent.map(_.id).getOrElse(-1), iter,
        System.nanoTime, System.currentTimeMillis)
      spans += s
      parent.foreach(p => sc.removeJobTag(tag(p.id)))
      sc.addJobTag(tag(s.id))
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime
        s.endMs = System.currentTimeMillis
        stack = stack.tail
        sc.removeJobTag(tag(s.id))
        parent.foreach(p => sc.addJobTag(tag(p.id)))
      }
    }

  /** In a traced iteration, materialize `df` (eager local checkpoint) so
    * the work that produces it is charged to the open span rather than to
    * the later layer whose action would run it. Untraced: `df`.
    *
    * Only for a frame that exactly one action consumes, directly or through
    * the frames built on it: then the untraced program computes it once too,
    * and the traced plan differs only by the checkpoint's write and read.
    * On a frame that feeds two actions it would spare the recomputation the
    * untraced program does. */
  def boundary(df: DataFrame): DataFrame =
    if (!tracing) df
    else {
      val ck = df.localCheckpoint()
      ck.queryExecution.logical.foreach {
        case r: LogicalRDD => benchRdds += r.rdd.id
        case _ =>
      }
      boundaries += ck
      ck
    }

  /** Add `v` to a layer-specific metric (traced iterations only). */
  def note(metric: String, v: Double): Unit = if (tracing) notes(metric) += v

  /** Untimed end of a traced iteration: release the benchmark's own
    * checkpoints. */
  def endIteration(): Unit = {
    boundaries.foreach(_.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ =>
    })
    boundaries.clear()
  }

  /** MB of RDD blocks in storage, not counting the benchmark's own; with
    * `files`, only of RDDs created from those source files (the file of
    * an RDD's call site, e.g. `localCheckpoint at LlmQueries.scala:73`). */
  def storageMb(files: Set[String] = Set.empty): Double =
    spark.sparkContext.getRDDStorageInfo
      .filter(r => !benchRdds(r.id) &&
        (files.isEmpty || files(r.callSite.split(" at ").last.split(":").head)))
      .map(r => r.memSize + r.diskSize).sum / MB

  // ------------------------------------------------------------ listeners

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).find(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toInt)
      .foreach { s =>
        jobs.add(s)
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      val s = stageSpan.get(e.stageId)
      if (s != null) tasks.add(TaskRec(s, m.executorRunTime, m.executorCpuTime / 1e6,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  /** Catalyst phase times, and the rows the query's file scans produced
    * (their SQL metric), stamped with the end of planning — when it ran. */
  private def recordPhases(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases
    ps.foreach { case (name, p) =>
      if (name != "parsing") phases.add(PhaseRec(p.startTimeMs, p.endTimeMs - p.startTimeMs))
    }
    if (ps.nonEmpty) scans.add(ScanRec(ps.values.map(_.endTimeMs).max,
      collect(qe.executedPlan) { case s: DataSourceScanExec =>
        s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum))
  }

  // ---------------------------------------------------------- aggregation

  /** Per-layer metrics, as means per traced iteration. `core` counters are
    * engine-wide (Catalyst and scheduling serve every layer); `core.wall_ms`
    * is the time not covered by any other layer's span. */
  def layerMetrics(): Map[String, Double] = {
    drain()
    val n = math.max(1, tracedIters.size).toDouble
    val self = selfNs()
    val out = mutable.LinkedHashMap[String, Double]()
    val taskList = tasks.asScala.toSeq
    val jobList = jobs.asScala.toSeq
    def innermost(tMs: Long): Option[Span] =
      spans.filter(s => s.startMs <= tMs && tMs <= s.endMs).maxByOption(_.startNs)
    val phaseLayer = phases.asScala.toSeq.flatMap(p => innermost(p.startMs).map(s => (s.layer, p.ms)))
    val inTraced = (tMs: Long) => innermost(tMs).nonEmpty
    for (layer <- Layers) {
      val inL: Int => Boolean = id => layer == "core" || spans(id).layer == layer
      val ts = taskList.filter(t => inL(t.span))
      out(s"$layer.wall_ms") = spans.filter(_.layer == layer).map(s => self(s.id)).sum / 1e6 / n
      out(s"$layer.plan_ms") =
        phaseLayer.filter(p => layer == "core" || p._1 == layer).map(_._2).sum / n
      out(s"$layer.jobs") = jobList.count(inL) / n
      out(s"$layer.tasks") = ts.size / n
      out(s"$layer.cpu_ms") = ts.map(_.cpuMs).sum / n
      out(s"$layer.gc_ms") = ts.map(_.gcMs).sum / n
      out(s"$layer.shuffle_mb") = ts.map(_.shuffleBytes).sum / MB / n
      out(s"$layer.spill_mb") = ts.map(_.spillBytes).sum / MB / n
    }
    // The readers' output is lazy and mostly read by later layers' jobs, so
    // the sources counters below cover every scan of a traced iteration.
    out("sources.input_mb") = taskList.map(_.inputBytes).sum / MB / n
    out("sources.rows_out") =
      scans.asScala.toSeq.filter(r => inTraced(r.atMs)).map(_.rows).sum / n
    out("analytics.rows_in") =
      taskList.filter(t => spans(t.span).layer == "analytics").map(_.recordsIn).sum / n
    val sig = taskList.filter(t => spans(t.span).layer == "signals").map(_.runMs.toDouble).sorted
    out("signals.max_task_ms") = sig.lastOption.getOrElse(0.0)
    out("signals.task_skew") =
      if (sig.isEmpty) 0.0 else sig.last / math.max(1.0, sig(sig.size / 2))
    for (k <- NoteMetrics) out(k) = notes(k) / n
    out.toMap
  }

  /** Each span's duration minus its children's (children never overlap). */
  private def selfNs(): Array[Long] = {
    val self = spans.map(s => s.endNs - s.startNs).toArray
    spans.foreach(s => if (s.parent >= 0) self(s.parent) -= s.endNs - s.startNs)
    self
  }

  /** Every span as one JSON line. */
  def spanLines(): Seq[String] = {
    val self = selfNs()
    spans.toSeq.map(s => Json.obj(Seq(
      "span" -> s.id, "parent" -> s.parent, "iteration" -> s.iter, "layer" -> s.layer,
      "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "self_ms" -> self(s.id) / 1e6)))
  }
}

object Telemetry {
  val Layers = Seq("core", "sources", "signals", "analytics", "os", "sinks", "llm",
    "relational", "operators", "plans")
  /** Layer-specific metrics that the workloads count themselves. */
  val NoteMetrics = Seq("sinks.written_mb", "sinks.files")
  private val TagPrefix = "perfbench-span-"
  private val MB = 1024.0 * 1024.0
  private def tag(id: Int) = s"$TagPrefix$id"

  final case class Span(id: Int, layer: String, name: String, parent: Int, iter: Int,
      startNs: Long, startMs: Long) {
    var endNs = 0L
    var endMs = 0L
  }
  final case class TaskRec(span: Int, runMs: Long, cpuMs: Double, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long, inputBytes: Long, recordsIn: Long)
  final case class PhaseRec(startMs: Long, ms: Long)
  /** Rows a query's file scans produced, and when it ran. */
  final case class ScanRec(atMs: Long, rows: Long)
}
