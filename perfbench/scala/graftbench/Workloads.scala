package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.SparkEntry
import graft.core.Tables
import graft.operators.{TextDedup, VectorSearch}
import graft.pipeline.{ExportJob, FetchJob, FixtureBinaries, FixtureExtractor, Pipeline, ScrapeFeeder, UrlFetcher}
import graft.queries.EventStreaming
import graft.streaming.{EventStreams, PipelineStreams}

/** Answers each catalogue URL with a PDF of the page count the URL names
  * (`...pdf?pages=N`); the bytes embed the URL, like the program's stub.
  */
class PagesFetcher extends UrlFetcher {
  override def fetch(url: String): Option[Array[Byte]] = {
    val pages = "pages=(\\d+)".r.findFirstMatchIn(url).map(_.group(1).toInt).getOrElse(1)
    Some(FixtureBinaries.minimalPdf(pages) ++ s"\n%src: $url\n".getBytes("UTF-8"))
  }
}

object Workloads {

  /** lake_queries membership: registry queries from each of the q, s, w, e,
    * f, j, z and pr families, covering their operator shapes (multi-way
    * joins, semi-joins, set ops, windows, as-of joins, sketches, profiles).
    * Fixed, so every seed times the same queries; the seed orders them.
    * Left out: the q-family queries that round a double whose exact decimal
    * value can end in a half cent (q1-q3, q5-q10); Spark and DuckDB round
    * such ties differently, so on generated data they disagree with their
    * oracles on some seeds.
    */
  val LakeQueries: Seq[String] = Seq(
    "q4_order_priority_check", "s1_repeat_customers_intersect", "w3_customer_order_gaps",
    "e2_user_sessions", "e4_props_extract", "f5_unit_normalize", "j3_asof_exec",
    "z3_price_quantiles", "pr4_fk_integrity", "s9_status_priority_cube",
    "j1_asof_attribution", "s5_distinct_counts", "w1_latest_order_per_customer",
    "f3_order_month_matrix", "z1_sketch_distinct", "e1_hourly_rollup")

  /** The queries of the untimed warm-up pass: one per operator shape. */
  private val WarmQueries = LakeQueries.take(8)

  /** corpus_curation: the memo chain d3 -> d4 -> d9 -> t14 in that order
    * (d3 fills the signature memo the others read) and the driver-loop
    * queries d9 and d14. The index-backed n-family queries run in
    * corpus_refresh, whose cold pass is the same reading.
    */
  val CorpusQueries: Seq[String] = Seq(
    "d3_simhash", "d4_simhash_pairs", "d9_dup_clusters", "t14_corpus_curation",
    "d14_incremental_verdicts")

  /** corpus_refresh: every memo- or index-backed query, run before and
    * after the corpus files change in place (a memo keyed on the corpus
    * directory must miss the second time), plus d2, which holds no memo.
    */
  val RefreshQueries: Seq[String] = Seq(
    "d3_simhash", "d4_simhash_pairs", "d9_dup_clusters", "t14_corpus_curation",
    "n7_ivf_index_topk", "n13_ivfpq_index_topk", "n16_ivfpq_append_topk",
    "n17_ivfpq_upsert_topk", "d2_minhash_lsh")

  private def rel(ctx: Ctx, p: String): String = p.stripPrefix(ctx.root + "/")

  def registryQuery(ctx: Ctx, name: String, dir: String, oracleDir: String,
      pass: Int = 1): Unit = {
    val key = if (pass == 1) name else s"$name@pass$pass"
    ctx.op(key, "query") {
      Some(ctx.tracer.span(key, "queries.build")(SparkEntry.queries(name)(ctx.spark, dir)))
    }
    SparkEntry.oracleSql.get(name).foreach(sql => ctx.oracles(key) = (sql, rel(ctx, oracleDir)))
  }

  /** Untimed, before the measured region: lake_queries runs part of its
    * list once over a tiny lake of its own (sf0.001), so JIT compilation of
    * the common operators is not charged to whichever query the seed puts
    * first. No other input and no memo key is touched.
    */
  def warmUp(workload: String, spark: SparkSession, root: String): Unit =
    if (workload == "lake_queries") WarmQueries.foreach { q =>
      try SparkEntry.queries(q)(spark, s"$root/inputs/lake_warm").collect()
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        System.err.println(s"[warm-up] $q failed: $e")
      }
    }

  def lakeQueries(ctx: Ctx): Unit = {
    val dir = s"${ctx.root}/inputs/lake"
    new scala.util.Random(ctx.seed).shuffle(LakeQueries).foreach { q =>
      if (ctx.inTime) registryQuery(ctx, q, dir, dir)
    }
  }

  /** Makes `live` hold exactly the files of `target`: changed and new files
    * are copied beside their destination under a hidden name and renamed
    * over it, files absent from `target` are deleted. The directory stays
    * the same, so anything keyed on the path sees the same key.
    */
  def syncInPlace(target: Path, live: Path): Unit = {
    val want = Files.walk(target).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => target.relativize(p) -> p).toMap
    Files.walk(live).iterator().asScala.filter(Files.isRegularFile(_)).toList.foreach { p =>
      if (!want.contains(live.relativize(p))) Files.delete(p)
    }
    want.foreach { case (r, src) =>
      val dst = live.resolve(r)
      if (!Files.exists(dst) || Files.mismatch(src, dst) != -1L) {
        Files.createDirectories(dst.getParent)
        val tmp = dst.resolveSibling(s".${dst.getFileName}.tmp")
        Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }

  private def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))

  def corpusCuration(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = s"${ctx.root}/corpus"
    val v1 = s"${ctx.root}/inputs/corpus_v1"
    val zone = s"${ctx.root}/export_zone"
    val t = ctx.tracer
    CorpusQueries.foreach(q => if (ctx.inTime) registryQuery(ctx, q, dir, v1))

    // direct calls into graft.operators and graft.functions
    val docs = Tables(spark, dir).documents
    ctx.op("op_minhash_pairs", "operator") {
      Some(t.span("op_minhash_pairs", "operators.minhash_pairs")(TextDedup.minhashPairs(docs, 0.5)))
    }
    ctx.op("op_near_dup_verdicts", "operator") {
      Some(t.span("op_near_dup_verdicts", "operators.near_dup_verdicts")(TextDedup.nearDupVerdicts(docs)))
    }
    ctx.op("op_incremental_verdicts", "operator") {
      Some(t.span("op_incremental_verdicts", "operators.incremental_verdicts") {
        val split = docs.agg(max("doc_id")).first().getLong(0) / 2
        val (va, la) = TextDedup.incrementalVerdicts(docs.filter(col("doc_id") <= split),
          TextDedup.emptyNearDupLedger(spark))
        val (vb, _) = TextDedup.incrementalVerdicts(docs.filter(col("doc_id") > split), la)
        va.unionByName(vb)
      })
    }
    val vecs = vectors(spark, dir)
    val probes = vecs.filter(col("id") < 50)
    ctx.op("op_cosine_topk", "operator") {
      Some(t.span("op_cosine_topk", "operators.cosine_topk")(VectorSearch.cosineTopK(probes, vecs, 10)))
    }
    ctx.op("op_quantized_rescore_topk", "operator") {
      Some(t.span("op_quantized_rescore_topk", "operators.quantized_rescore_topk")(
        VectorSearch.quantizedRescoreTopK(probes, vecs, 10, 40)))
    }
    ctx.op("fn_projection", "function") {
      Some(t.span("fn_projection", "functions.projection")(docs.select(col("doc_id"),
        graft.functions.TextHash.hash60(col("text")).as("h60"),
        size(call_function("graft_minhash_bands", col("text"))).as("n_bands"),
        size(graft.functions.TextHash.charShingles("text", 5)).as("n_shingles"))))
    }

    // export zone: built from the corpus, then brought to the refreshed
    // corpus by row-level upsert and targeted delete of the seeded change set
    ctx.op("export_build", "export") {
      t.span("export_build", "pipeline.export_build")(
        ExportJob.writeTrainingShardsIncremental(spark, dir, zone))
      None
    }
    val upserts = spark.read.parquet(s"${ctx.root}/inputs/refresh/upserts.parquet")
    val deletes = scala.io.Source.fromFile(s"${ctx.root}/inputs/refresh/deletes.json")
      .mkString.replaceAll("[\\[\\]\\s]", "").split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    ctx.op("export_upsert", "export") {
      t.span("export_upsert", "pipeline.export_upsert")(ExportJob.upsertShards(spark, zone, upserts))
      None
    }
    ctx.op("export_delete", "export",
        check = Some(() => ExportJob.readZone(spark, zone).select("doc_id", "text", "lang", "source"))) {
      t.span("export_delete", "pipeline.export_delete")(ExportJob.deleteFromShards(spark, zone, deletes))
      None
    }
  }

  def corpusRefresh(ctx: Ctx): Unit = {
    val dir = s"${ctx.root}/corpus"
    val v1 = s"${ctx.root}/inputs/corpus_v1"
    val v2 = s"${ctx.root}/inputs/corpus_v2"
    RefreshQueries.foreach(q => if (ctx.inTime) registryQuery(ctx, q, dir, v1))
    syncInPlace(Paths.get(v2), Paths.get(dir))
    RefreshQueries.foreach(q => if (ctx.inTime) registryQuery(ctx, q, dir, v2, pass = 2))
  }

  def catalogueIngest(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val zones = Pipeline.Zones(s"${ctx.root}/zones")
    val extractor = new FixtureExtractor(s"${ctx.root}/inputs/fixture")
    val fetcher = new PagesFetcher
    val days = Files.list(Paths.get(s"${ctx.root}/inputs/days")).iterator().asScala
      .map(_.getFileName.toString).toSeq.sortBy(_.drop(1).toInt)
    val landing = Paths.get(s"${ctx.root}/landing")
    Files.createDirectories(landing)
    days.foreach { d =>
      if (ctx.inTime) {
        val linksFile = landing.resolve(s"$d.json")
        Files.copy(Paths.get(s"${ctx.root}/inputs/days/$d/links.json"), linksFile)
        ctx.op(d, "day") {
          t.span(d, "pipeline.fetch") {
            val links = ScrapeFeeder.readLinks(spark, linksFile.toString)
            FetchJob.writeRaw(FetchJob.fetchAll(ScrapeFeeder.fetchPlan(links), fetcher), zones.root)
          }
          t.span(d, "streaming.run_dag")(PipelineStreams.runDag(spark, zones, extractor))
          None
        }
        // Athena-style reads of the lake: a partition-pruned read of one
        // partition the day wrote, and a province-wide read across days
        val (p0, s0) = ScrapeFeeder.catalogueLinks(ScrapeFeeder.readLinks(spark, linksFile.toString))
          .select("province", "date_slug").distinct().collect()
          .map(r => (r.getString(0), r.getString(1))).min
        val partKey = s"read:$d:$p0:$s0"
        ctx.op(partKey, "read") {
          Some(t.span(partKey, "queries.lake_read")(spark.read.parquet(zones.clean)
            .where(col("province") === p0 && col("date_range") === s0)
            .agg(count(lit(1)).as("n"), round(sum("current_price"), 2).as("price_sum"))))
        }
        val provKey = s"read:$d:$p0:*"
        ctx.op(provKey, "read") {
          Some(t.span(provKey, "queries.lake_read")(spark.read.parquet(zones.clean)
            .where(col("province") === p0)
            .groupBy("date_range").agg(count(lit(1)).as("n"))))
        }
      }
    }
  }

  def eventStream(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val srcRoot = s"${ctx.root}/stream"
    val src = Paths.get(s"$srcRoot/events.parquet")
    Files.createDirectories(src)
    val files = Files.list(Paths.get(s"${ctx.root}/inputs/event_files")).iterator().asScala
      .toSeq.sortBy(_.getFileName.toString)
    def land(f: Path): Unit = {
      val tmp = src.resolve(s".${f.getFileName}.tmp")
      Files.copy(f, tmp)
      Files.move(tmp, src.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
    }
    land(files.head)
    def events = EventStreams.readEvents(spark, srcRoot)
    def start(name: String, df: DataFrame, mode: OutputMode): StreamingQuery =
      df.writeStream.queryName(name).outputMode(mode).format("memory")
        .option("checkpointLocation", s"${ctx.root}/ckpt/$name").start()
    var queries: Seq[StreamingQuery] = Nil
    ctx.op("stream_start", "stream_start") {
      queries = t.span("stream_start", "streaming.start")(Seq(
        start("bench_hourly", EventStreams.hourlyRollup(events), OutputMode.Complete()),
        start("bench_sessions", EventStreams.userSessions(
          events.select("event_id", "user_id", "ts").as[EventStreams.Ev]).toDF(),
          OutputMode.Update()),
        start("bench_keyed_join", EventStreams.keyedRangeJoin(events, events, 1800000000L),
          OutputMode.Append()),
        start("bench_dedup", events.withWatermark("ts", "2 hours")
          .dropDuplicatesWithinWatermark("event_id").select("event_id"), OutputMode.Append())))
      queries.foreach(q => t.span("stream_start", s"streaming.${q.name}")(q.processAllAvailable()))
      None
    }
    files.tail.foreach { f =>
      if (ctx.inTime) {
        val key = s"batch_${f.getFileName.toString.stripSuffix(".parquet")}"
        ctx.op(key, "batch") {
          land(f)
          queries.foreach(q => t.span(key, s"streaming.${q.name}")(q.processAllAvailable()))
          None
        }
      }
    }
    queries.foreach(_.stop())
    val results = Seq(
      "stream_hourly" -> (() => spark.table("bench_hourly")) ->
        graft.queries.Events.hourlyRollupSql,
      "stream_sessions" -> (() => EventStreaming.collapseSessions(spark.table("bench_sessions"))) ->
        graft.queries.Events.userSessionsSql,
      "stream_keyed_join" -> (() => spark.table("bench_keyed_join")) ->
        EventStreaming.keyedRangeCorrelationSql,
      "stream_dedup" -> (() => spark.table("bench_dedup")) ->
        "SELECT DISTINCT event_id FROM events")
    results.foreach { case ((name, df), sql) =>
      ctx.op(name, "stream_result", check = Some(df)) { None }
      ctx.oracles(name) = (sql, rel(ctx, srcRoot))
    }
  }
}
