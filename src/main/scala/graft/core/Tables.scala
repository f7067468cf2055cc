package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver's synthetic star schema (TESTDATA.md).
  *
  * Each accessor is a fresh parquet scan — Catalyst prunes columns and pushes
  * predicates into the scan, so "load the table" costs only what the query
  * actually reads. At 100 TB these would be catalog tables; the query code is
  * identical either way.
  */
object Tables {
  /** Round-robin spread of a NARROW projection across every core, for use
    * directly before CPU-heavy per-row work (per-shingle hashing, token
    * explodes). A small parquet file scans as ONE input split, so without
    * this the expensive projection runs single-threaded until the first
    * shuffle — measured 30x under-parallelization on the dedup family.
    * Scale note: this is the splits < cores remedy (small files, or heavy
    * pushdown filters collapsing the scan); the shuffled payload is only
    * the columns the stage consumes, and when the input already arrives in
    * thousands of splits the exchange is a cheap no-op rebalance — or can
    * be dropped entirely.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Where table `name` of the corpus at `dir` lives (a file or a
    * directory of part files).
    */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"
}

final case class Tables(spark: SparkSession, dir: String) {
  // Set once at construction (not inside an accessor) so query plans never
  // depend on accessor call order: the events parquet carries
  // TIMESTAMP(NANOS), readable in Spark 4 only via this legacy conf.
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  // Naive (isAdjustedToUTC=false) parquet timestamps must read as the same
  // session-tz TIMESTAMP as UTC-adjusted ones — not TIMESTAMP_NTZ — or the
  // writer's flag would silently change event-time semantics (and diverge
  // from how the DuckDB oracle reads the identical files). Set here, not
  // only in GraftSession, because harness-owned sessions (Verify/Bench)
  // build their own builder and still route every read through Tables.
  spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  def table(name: String): DataFrame = spark.read.parquet(Tables.path(dir, name))

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  /** The events table's `ts` arrives in whatever parquet encoding the
    * producer chose — TIMESTAMP(NANOS) (read as Long via the constructor-set
    * legacy conf), naive TIMESTAMP(MICROS) (TIMESTAMP_NTZ when the writer
    * embedded a Spark schema, which overrides the inference conf above), or
    * UTC-adjusted TIMESTAMP(MICROS). Normalize all three to session-tz
    * TimestampType so downstream time logic is uniform; with the session tz
    * pinned to UTC the NTZ→LTZ cast is instant-preserving.
    */
  def events: DataFrame = {
    val raw = table("events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}
