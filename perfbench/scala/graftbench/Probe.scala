package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** One traced call: `name` is `<layer>.<call>`, `op` the operation it
  * belongs to, `parent` the enclosing span (-1 for an operation's root).
  * Times are epoch nanoseconds, the clock the Spark listener's job times
  * are converted to.
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
    start: Long, end: Long)

/** In-memory span recorder. Disabled, `span` only runs its body: the
  * untraced run pays nothing but the call. Enabled, each span also tags
  * the Spark jobs its body submits with the local property
  * [[Tracer.SpanProp]], which [[JobListener]] reads to attribute counters.
  */
final class Tracer(val enabled: Boolean, spark: => SparkSession) {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Nanoseconds spent in the tracer's own probes (plan walks, metric
    * reads): the directly measured part of the tracing overhead.
    */
  var overheadNs = 0L

  def nowEpochNs: Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)

  def span[T](op: String, name: String)(body: => T): T = {
    if (!enabled) return body
    val sc = spark.sparkContext
    val parent = stack.headOption
    val s = Span(spans.size, parent.map(_.id).getOrElse(-1), op, name, nowEpochNs, 0L)
    spans += s
    stack.push(s)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      stack.pop()
      spans(s.id) = s.copy(end = nowEpochNs)
      sc.setLocalProperty(Tracer.SpanProp, parent.map(_.id.toString).orNull)
    }
  }

  /** Times a probe into the overhead counter; runs only when enabled. */
  def probe[T](default: T)(body: => T): T = {
    if (!enabled) return default
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  val StreamIdProp = "sql.streaming.queryId"
}

/** Per-job counters. Task metrics reach the job through the stage that
  * ran them; `span` is the submitting span (property), `stream` the
  * streaming query id for jobs a stream's micro-batch launched.
  */
final class JobRec(val id: Int, val span: Int, val stream: String, val startMs: Long) {
  var endMs = 0L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "span" -> span, "stream" -> stream, "start_ms" -> startMs,
    "end_ms" -> endMs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "run_ms" -> runMs, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "shuffle_write" -> shuffleWrite,
    "shuffle_read" -> shuffleRead, "spill" -> spill,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes)
}

/** Spark listener that records every job with its task metrics. Runs on
  * the listener bus; read `jobs` only after the bus has drained (after
  * `SparkContext.stop`).
  */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = new JobRec(e.jobId, prop(Tracer.SpanProp).map(_.toInt).getOrElse(-1),
      prop(Tracer.StreamIdProp).orNull, e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      if (!e.taskInfo.successful) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
}

/** Reads of a query's planning record from outside the program. */
object PlanProbe extends AdaptiveSparkPlanHelper {
  /** `InMemoryTableScan` nodes in a physical plan, through adaptive
    * query stages and subqueries: reads served by a cached frame.
    */
  def cacheScans(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.size

  def cacheScans(df: DataFrame): Int = cacheScans(df.queryExecution.executedPlan)

  /** Catalyst phase durations (analysis, optimization, planning) in
    * seconds, from the query's own `QueryPlanningTracker`.
    */
  def phases(df: DataFrame): Map[String, Double] =
    df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }

  /** Total time (s) spent in optimizer/analyzer rules of the program's own
    * `graft.` package since the last reset, from Catalyst's rule metering.
    * Each dump line reads `<rule> <effective ns> / <total ns> <runs> / <runs>`.
    */
  def graftRuleSeconds(): Double =
    RuleExecutor.dumpTimeSpent().linesIterator.map(_.trim.split("\\s+"))
      .filter(f => f.length >= 4 && f(0).startsWith("graft.") && f(2) == "/")
      .map(f => f(3).toLong / 1e9).sum

  def resetRules(): Unit = RuleExecutor.resetMetrics()

  /** Bytes held by cached RDDs/frames (memory plus disk). */
  def cachedBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}
