package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.core.GraftSession

/** One operation's record: what ran, how long it took (seconds), whether it
  * threw, and where its output was written for the checks.
  */
final case class OpRec(key: String, kind: String, wallS: Double,
    error: Option[String], out: Option[String], extra: Map[String, Any])

/** What a workload has in hand: the session, its own scratch root, the
  * measurement deadline and the tracer. Operations run through [[op]] so
  * that timing, tracing and failure capture are the same everywhere.
  */
final class Ctx(sessionRef: => SparkSession, val root: String, val seed: Long,
    val deadlineNs: Long, val tracer: Tracer) {
  def spark: SparkSession = sessionRef
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Oracle SQL per output, with the input directory it must run on. */
  val oracles = mutable.LinkedHashMap.empty[String, (String, String)]
  var maxCachedBytes = 0L

  def inTime: Boolean = System.nanoTime() < deadlineNs

  /** Time one operation. `body` returns the frame to materialize (or None
    * when the call materializes itself) plus per-op facts; materializing
    * is part of the timed region, writing the collected rows for the
    * checks is not. `check` reads the state a call left behind (for calls
    * that return nothing), after the timed region. A throw is recorded as a
    * failed operation.
    */
  def op(key: String, kind: String, check: Option[() => DataFrame] = None)(
      body: => Option[DataFrame]): Unit = {
    val extra = mutable.LinkedHashMap.empty[String, Any]
    var rows: Array[Row] = null
    var df: DataFrame = null
    // clean slate, untimed: earlier operations' garbage must not be
    // collected on this one's clock
    System.gc()
    val t0 = System.nanoTime()
    val err = try {
      tracer.span(key, s"bench.$kind") {
        df = body.orNull
        if (df != null) rows = tracer.span(key, "queries.exec")(df.collect())
      }
      None
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    if (df != null && err.isEmpty) tracer.probe(()) {
      extra("phases") = PlanProbe.phases(df)
      extra("cache_scans") = PlanProbe.cacheScans(df)
    }
    tracer.probe(()) { maxCachedBytes = math.max(maxCachedBytes, PlanProbe.cachedBytes(spark)) }
    var error = err
    val out =
      if (rows != null) Some(writeRows(key, df, rows))
      else if (err.isEmpty) check.flatMap { c =>
        try Some(writeFrame(key, c()))
        catch { case e: Throwable if scala.util.control.NonFatal(e) =>
          error = Some(s"check read failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        }
      } else None
    ops += OpRec(key, kind, wall, error, out, extra.toMap)
  }

  /** Writes collected rows as one parquet file set under out/, the layout
    * the DuckDB checks read.
    */
  def writeRows(key: String, df: DataFrame, rows: Array[Row]): String = {
    val rel = s"out/${key.replaceAll("[^A-Za-z0-9_.-]", "_")}"
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$root/$rel")
    rel
  }

  def writeFrame(key: String, df: DataFrame): String =
    writeRows(key, df, df.collect())
}

/** Benchmark runner: `graftbench.Main <workload> <root> <seed> <seconds> <trace>`.
  * Reads inputs from `<root>/inputs`, writes `<root>/result.json`.
  */
object Main {
  val Cores = 4
  val Setups = 3

  def session(root: String): SparkSession =
    GraftSession.local("graftbench", Cores, Map(
      "graft.index.root" -> s"$root/index",
      "spark.sql.warehouse.dir" -> s"file:$root/warehouse"))

  /** Untimed warm-up: class loading, codegen and the graft extensions,
    * on a frame that touches none of the workload's inputs or memos.
    */
  def warmUp(spark: SparkSession): Unit =
    spark.range(0, 200000, 1, Cores)
      .selectExpr("graft_hash60(cast(id % 977 as string)) % 1000003 AS h", "id % 13 AS k")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("h")).collect()

  def main(args: Array[String]): Unit = {
    val Array(workload, root, seedS, secondsS, traceS) = args
    val trace = traceS == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // Set-up, repeated: the first from JVM start (class loading included),
    // the others stop the context and build a fresh session in the same JVM.
    var spark = session(root)
    warmUp(spark)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStartMs) / 1e3)
    for (_ <- 2 to Setups) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(root)
      warmUp(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }

    Workloads.warmUp(workload, spark, root)
    val listener = new JobListener
    val tracer = new Tracer(trace, spark)
    val streamMetrics =
      if (trace) Some(graft.streaming.StreamMetrics.attach(spark)) else None
    val streamNames = mutable.HashMap.empty[String, String]
    if (trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          streamNames.synchronized { streamNames(e.id.toString) = e.name }
        override def onQueryProgress(e: QueryProgressEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
      PlanProbe.resetRules()
    }
    val deadline = System.nanoTime() + secondsS.toLong * 1000000000L
    val ctx = new Ctx(spark, root, seedS.toLong, deadline, tracer)
    val t0 = System.nanoTime()
    workload match {
      case "lake_queries" => Workloads.lakeQueries(ctx)
      case "corpus_curation" => Workloads.corpusCuration(ctx)
      case "corpus_refresh" => Workloads.corpusRefresh(ctx)
      case "catalogue_ingest" => Workloads.catalogueIngest(ctx)
      case "event_stream" => Workloads.eventStream(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val workloadS = (System.nanoTime() - t0) / 1e9
    val graftRules = tracer.probe(0.0)(PlanProbe.graftRuleSeconds())
    val batches = streamMetrics.map(_.batches).getOrElse(Nil)
    spark.stop() // drains the listener bus: every job record is final
    val rssMb = peakRssMb()

    val rec = Map(
      "workload" -> workload,
      "setup_s" -> setups.toSeq,
      "workload_s" -> workloadS,
      "peak_rss_mb" -> rssMb,
      "ops" -> ctx.ops.map(o => Map(
        "key" -> o.key, "kind" -> o.kind, "wall_s" -> o.wallS,
        "error" -> o.error, "out" -> o.out) ++ o.extra),
      "oracles" -> ctx.oracles.map { case (k, (sql, dir)) => k -> Map("sql" -> sql, "dir" -> dir) },
      "layer" -> Map(
        "graft_rules_s" -> graftRules,
        "max_cached_bytes" -> ctx.maxCachedBytes,
        "overhead_s" -> tracer.overheadNs / 1e9),
      "spans" -> tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)),
      "jobs" -> listener.jobs.values.map { j =>
        j.toMap + ("stream_name" -> streamNames.synchronized(streamNames.get(j.stream)))
      },
      "stream_batches" -> batches.map(b => Map(
        "query" -> b.query, "batch" -> b.batchId, "input_rows" -> b.inputRows,
        "duration_ms" -> b.durationMs, "state_rows" -> b.stateRowsTotal,
        "state_rows_removed" -> b.stateRowsRemoved, "state_bytes" -> b.stateBytes)))
    Files.writeString(Paths.get(s"$root/result.json"), Json.encode(rec))
  }

  /** Driver peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}
