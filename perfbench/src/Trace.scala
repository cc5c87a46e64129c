package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `layer` is the module the call went into
  * (`sources`, `expressions`, `operators`, `streaming`, `populate`) or
  * `op`/`query` for the benchmark's own op boundary and the unchanged op
  * body. Times are wall-clock milliseconds (the clock Spark stamps job
  * events with) plus nanoTime for the durations themselves.
  */
final class Span(val id: Int, val name: String, val layer: String,
                 val parent: Int, val op: Int, val pass: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  /** Counts the benchmark records at the boundary itself. */
  val counts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class StageRec(stageId: Int, span: Int) {
  val taskRunMs = ArrayBuffer.empty[Long]
  var shuffleWrite, spillBytes, outputBytes = 0L
  var peakExecBytes = 0L
}

final case class JobRec(span: Int, startMs: Long) {
  @volatile var endMs: Long = -1L
}

final case class ProgressRec(span: Int, durations: Map[String, Long],
                             inputRows: Long)

/** Spans kept in memory, plus the Spark and streaming listeners that
  * attribute jobs, stages, tasks and micro-batch progress to them. Jobs
  * carry the active span through the `perfbench.span` local property, which
  * Spark copies into the threads a job spawns (broadcasts, AQE stages, the
  * stream execution thread); streaming progress is attributed through the
  * run id the query reports when it starts.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var active: Int = -1
  var op: Int = -1
  var pass: Int = -1

  val jobs = TrieMap.empty[Int, JobRec]
  val stages = TrieMap.empty[Int, StageRec]
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[ProgressRec]()
  private val executionPlans = TrieMap.empty[Long, String]
  private val executionSpans = TrieMap.empty[Long, Int]
  private val runSpans = TrieMap.empty[java.util.UUID, Int]

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = open(name, layer)
    try body finally close(s)
  }

  def open(name: String, layer: String): Span = {
    val s = new Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
      op, pass, System.currentTimeMillis(), System.nanoTime())
    spans += s
    enter(s :: stack)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
    enter(stack.tail)
  }

  private def enter(st: List[Span]): Unit = {
    stack = st
    active = st.headOption.map(_.id).getOrElse(-1)
    sc.setLocalProperty("perfbench.span", st.headOption.map(_.id.toString).orNull)
  }

  /** Blocks until every event posted so far reached the listeners. */
  def sync(): Unit = org.apache.spark.perfbenchsync.ListenerSync.waitUntilEmpty(sc)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = JobRec(span, e.time)
      e.stageIds.foreach(id => stages.getOrElseUpdate(id, StageRec(id, span)))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => executionSpans.getOrElseUpdate(id.toLong, span))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        executionPlans(x.executionId) = x.physicalPlanDescription
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (st <- stages.get(e.stageId); m <- Option(e.taskMetrics)) st.synchronized {
        st.taskRunMs += m.executorRunTime
        st.outputBytes += m.outputMetrics.bytesWritten
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled
        st.peakExecBytes = math.max(st.peakExecBytes, m.peakExecutionMemory)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runSpans(e.runId) = active
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      progress.add(ProgressRec(runSpans.getOrElse(p.runId, -1), d, p.numInputRows))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Per finished SQL execution, the bytes of the files its file scans
    * selected (each scan node's `filesSize` metric). */
  private val scanFileBytes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  private val executionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      scanFileBytes.add(Tracer.fileScanBytes(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)
  spark.listenerManager.register(executionListener)

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(executionListener)
  }

  /** A `sources` probe scanning `table`. Its span records in `file_bytes`
    * the bytes of the files the probe's executions scanned. */
  def scan(table: String)(body: => Unit): Unit = {
    sync()
    scanFileBytes.clear()
    val s = open(s"sources.scan:$table", "sources")
    try body finally close(s)
    sync()
    var bytes = 0L
    while (!scanFileBytes.isEmpty) bytes += scanFileBytes.poll()
    s.counts("file_bytes") = bytes.toDouble
  }

  // ---- analysis ---------------------------------------------------------

  private var childIndex: (Int, Map[Int, Seq[Span]]) = (-1, Map.empty)
  private def children: Map[Int, Seq[Span]] = {
    if (childIndex._1 != spans.size) childIndex = (spans.size, spans.toSeq.groupBy(_.parent))
    childIndex._2
  }

  /** The span and every span below it. */
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = subtree(s).map(_.id).toSet
    jobs.values.filter(j => ids.contains(j.span)).toSeq
  }

  def stagesUnder(s: Span): Seq[StageRec] = {
    val ids = subtree(s).map(_.id).toSet
    stages.values.filter(st => ids.contains(st.span) && st.taskRunMs.nonEmpty).toSeq
  }

  /** Wall time of the span not covered by any of its jobs: planning,
    * file listing, driver-side collects and commit. */
  def driverGapSeconds(s: Span): Double = {
    val iv = jobsUnder(s).map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    val covered = iv.foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
      val lo = math.max(a, hi)
      (acc + math.max(0L, b - lo), math.max(hi, b))
    }._1
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  /** Parquet tables the span's SQL executions scanned, by file name. */
  def inputTables(s: Span): Seq[String] = {
    val ids = subtree(s).map(_.id).toSet
    val file = """file:[^\]\s,]*/([^/\]\s,]+)\.parquet""".r
    executionSpans.filter { case (_, sp) => ids.contains(sp) }.keys.toSeq
      .flatMap(executionPlans.get)
      .flatMap(plan => file.findAllMatchIn(plan).map(_.group(1)))
      .distinct.sorted
  }

  def progressUnder(s: Span): Seq[ProgressRec] = {
    val ids = subtree(s).map(_.id).toSet
    scala.jdk.CollectionConverters.CollectionHasAsScala(progress).asScala
      .filter(p => ids.contains(p.span)).toSeq
  }

  /** The structural counts of one op body: host-independent except the
    * driver gap and the busiest-task share. */
  def structure(s: Span): Map[String, Any] = {
    val st = stagesUnder(s).sortBy(_.stageId)
    Map(
      "jobs" -> jobsUnder(s).size,
      "stages" -> st.size,
      "tasks_per_stage" -> st.map(_.taskRunMs.size),
      "busiest_task_share" -> st.map(busiestShare),
      "shuffle_bytes" -> st.map(_.shuffleWrite).sum,
      "spill_bytes" -> st.map(_.spillBytes).sum,
      "output_bytes" -> st.map(_.outputBytes).sum,
      "peak_exec_mb" -> (if (st.isEmpty) 0.0 else st.map(_.peakExecBytes).max / 1048576.0),
      "driver_gap_s" -> driverGapSeconds(s))
  }

  def busiestShare(st: StageRec): Double = {
    val total = st.taskRunMs.sum
    if (total <= 0) 1.0 / st.taskRunMs.size else st.taskRunMs.max.toDouble / total
  }

  def spanRecord(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
    "op" -> s.op, "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
    "seconds" -> s.seconds, "self_s" -> selfSeconds(s), "counts" -> s.counts)
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Sum of the `filesSize` ("size of files read") metric over the file
    * scans of a physical plan, through adaptive stages and subqueries. */
  def fileScanBytes(plan: SparkPlan): Long =
    collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
}
