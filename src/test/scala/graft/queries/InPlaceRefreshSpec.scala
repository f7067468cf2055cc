package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkTestBase}
import graft.core.ArtifactCache

/** The lake is rewritten in place (each day's cleaner merges into the same
  * partition directories), so a derived artifact must follow the CONTENT
  * of its input files, not their directory. One session runs each query,
  * the files under the same corpus dir change from outside Spark, and the
  * same session's next answer must equal a fresh session's.
  */
class InPlaceRefreshSpec extends SparkTestBase {

  private lazy val SfDir = testData("0.001")

  private def q(s: SparkSession, name: String, dir: String): Seq[Seq[Any]] =
    SparkEntry.queries(name)(s, dir).collect().map(_.toSeq).toSeq

  private def write(df: DataFrame, path: String, parts: Int): Unit =
    df.repartition(parts).write.mode("overwrite").parquet(path)

  private def files(dir: Path): Seq[Path] =
    Using.resource(Files.walk(dir))(_.iterator().asScala.filter(Files.isRegularFile(_)).toList)

  /** Makes `live` hold exactly the files of `src`, without Spark: the
    * table directory stays where it is, only its files change.
    */
  private def replaceFiles(src: String, live: String): Unit = {
    val (s, l) = (Paths.get(src), Paths.get(live))
    files(l).foreach(Files.delete)
    files(s).foreach(f => Files.copy(f, l.resolve(s.relativize(f))))
  }

  private def docs = spark.read.parquet(s"$SfDir/documents.parquet")

  /** A corpus dir holding half the fixture's documents, plus a staged copy
    * of all of them to swap in.
    */
  private def halfCorpus(name: String): (String, String) = {
    val root = scratch(name)
    write(docs.orderBy("doc_id").limit(250), s"$root/live/documents.parquet", 2)
    write(docs, s"$root/full/documents.parquet", 2)
    (s"$root/live", s"$root/full")
  }

  test("corpus swap: d3, d4, d9 and t14 answer for the files now under the dir") {
    val (live, full) = halfCorpus("refresh_swap")
    assert(q(spark, "d3_simhash", live).size == 250)
    Seq("d4_simhash_pairs", "d9_dup_clusters", "t14_corpus_curation")
      .foreach(n => q(spark, n, live))
    replaceFiles(s"$full/documents.parquet", s"$live/documents.parquet")
    assert(q(spark, "d3_simhash", live).size == 500,
      "d3 must read the swapped-in corpus, not the signatures of the old one")
    val fresh = spark.newSession()
    Seq("d4_simhash_pairs", "d9_dup_clusters", "t14_corpus_curation").foreach { n =>
      assert(q(spark, n, live) == q(fresh, n, full),
        s"$n after the swap must equal a fresh session's answer")
    }
  }

  test("embeddings change: n13 rebuilds its persisted index") {
    val root = scratch("refresh_embeddings")
    val live = s"$root/live"
    val emb = s"$live/embeddings.parquet"
    write(spark.read.parquet(s"$SfDir/embeddings.parquet"), emb, 2)
    def n13(s: SparkSession): Seq[Seq[Any]] = {
      s.conf.set("graft.index.root", s"$root/index")
      try q(s, "n13_ivfpq_index_topk", live)
      finally s.conf.unset("graft.index.root")
    }
    val before = n13(spark)
    // one part file replaced by its rows with every vector negated
    val part = files(Paths.get(emb)).filter(_.getFileName.toString.startsWith("part-"))
      .minBy(_.toString)
    write(spark.read.parquet(part.toString)
      .withColumn("embedding", expr("transform(embedding, x -> -x)")), s"$root/neg", 1)
    Files.delete(part)
    Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
    files(Paths.get(s"$root/neg")).filter(_.getFileName.toString.contains("part-"))
      .foreach(f => Files.move(f, Paths.get(emb).resolve(f.getFileName),
        StandardCopyOption.REPLACE_EXISTING))
    val after = n13(spark)
    assert(after != before, "the changed part must change n13's answer")
    assert(after == n13(spark.newSession()),
      "n13 after the change must equal a fresh session's answer")
  }

  test("counters: d4 after d3 hits the signatures; after a swap it misses") {
    val (live, full) = halfCorpus("refresh_counters")
    def sigs = ArtifactCache.counts.getOrElse("dedup.sigs", ArtifactCache.Counts(0, 0))
    q(spark, "d3_simhash", live)
    val c0 = sigs
    q(spark, "d4_simhash_pairs", live)
    val c1 = sigs
    assert((c1.hits - c0.hits, c1.misses - c0.misses) == ((1L, 0L)),
      "with the files unchanged, d4 must reuse d3's signatures")
    replaceFiles(s"$full/documents.parquet", s"$live/documents.parquet")
    q(spark, "d4_simhash_pairs", live)
    val c2 = sigs
    assert((c2.hits - c1.hits, c2.misses - c1.misses) == ((0L, 1L)),
      "after the swap the signatures must be recomputed, not served")
  }
}
