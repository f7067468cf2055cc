package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Dataset, SparkSession}

import FsUtil.filesSig

/** The process's one cache of derived artifacts: simhash signatures, pair
  * sets and cluster labels (Dedup), quantizers, codebooks, probe plans and
  * persisted-index builds (Similarity). Every such artifact lives in the
  * single [[BoundedMemo]] below, under one key scheme and one clear hook.
  *
  * An entry's identity is (session, artifact kind, parameters). Its
  * validity is content, not location — the lake is rewritten in place, so a
  * path says nothing about what the files under it hold:
  *
  *   - the [[FsUtil.filesSig]] of its input files, taken BEFORE the value
  *     was computed, must still equal the inputs' signature now (a write
  *     racing the compute therefore reads as stale on the next call, never
  *     as fresh);
  *   - for kinds that write an on-disk index, the signature of the
  *     artifact directory must still equal the one recorded right after
  *     the write. A rebuild under another schedule, a maintenance append or
  *     upsert, a deleted file — any write to the directory — fails this
  *     check, so no entry needs to know which other entries share its
  *     directory.
  *
  * A failed check is a miss: the stale value is released FIRST (cached
  * frames unpersisted — otherwise Spark's CacheManager, which matches
  * plans by path, would serve the recompute's `.cache()` from the stale
  * blocks), then recomputed and stored. Staleness is checked on every
  * lookup with two metadata listings and no Spark job.
  *
  * Session lifetime, LRU capacity, the release hook and the best-effort
  * race (two first callers may both compute; the first insert wins) are
  * [[BoundedMemo]]'s. Per-kind hit and miss counters are monotonic over
  * the process; readers take differences.
  */
object ArtifactCache {

  /** Entries held across every session, kind and parameter set. One corpus
    * run through every registry query holds about twenty; beyond a few
    * corpora the LRU entry's consumers have moved on, and a recompute on
    * re-visit is the right trade against pinned frames.
    */
  val Capacity = 64

  private final case class Key(spark: SparkSession, kind: String, params: Seq[Any])

  private final case class Entry(inSig: String, outSig: Option[String], value: Any)

  final case class Counts(hits: Long, misses: Long)

  private def release(e: Entry): Unit = e.value match {
    case ds: Dataset[_] => Try(ds.unpersist(false))
    case _ => ()
  }

  private val memo = new BoundedMemo[Key, Entry](Capacity,
    isDead = _.spark.sparkContext.isStopped,
    onEvict = release)

  private final class Counter { val hits, misses = new LongAdder }
  private val counters = new ConcurrentHashMap[String, Counter]()
  private def counter(kind: String): Counter =
    counters.computeIfAbsent(kind, _ => new Counter)

  /** The cached value of `kind` for `params`, or `compute`'s, stored.
    *
    * @param inputs     files the value is derived from (recursive)
    * @param artifactDir the directory `compute` writes, for index-building
    *                   kinds; its post-write signature joins the check
    */
  def getOrCompute[V](spark: SparkSession, kind: String, params: Seq[Any],
      inputs: Seq[String], artifactDir: Option[String] = None)(compute: => V): V = {
    val key = Key(spark, kind, params)
    val inSig = filesSig(spark, inputs)
    def outSig = artifactDir.map(d => filesSig(spark, Seq(d)))
    memo.get(key) match {
      case Some(e) if e.inSig == inSig && e.outSig == outSig =>
        counter(kind).hits.increment()
        e.value.asInstanceOf[V]
      case stale =>
        counter(kind).misses.increment()
        if (stale.isDefined) memo.remove(key).foreach(release) // before compute
        val v = compute // before outSig: it lists what compute wrote
        val mine = Entry(inSig, outSig, v)
        memo.putIfAbsent(key, mine) match {
          case None => v
          case Some(prior) if prior.inSig == inSig =>
            release(mine) // raced: first insert wins
            prior.value.asInstanceOf[V]
          case Some(_) =>
            memo.put(key, mine) // releases the displaced stale prior
            v
        }
    }
  }

  /** Always runs `compute` and returns its value; stores it unless a valid
    * entry is already held — the hand-off of a query whose reported cost
    * must stay its true cost (d9) to later consumers of its result (t14).
    * Not a lookup, so it moves no counter.
    */
  def putIfAbsent[V](spark: SparkSession, kind: String, params: Seq[Any],
      inputs: Seq[String])(compute: => V): V = {
    val key = Key(spark, kind, params)
    val mine = Entry(filesSig(spark, inputs), None, compute)
    memo.putIfAbsent(key, mine) match {
      case Some(prior) if prior.inSig != mine.inSig => memo.put(key, mine)
      case _ => ()
    }
    mine.value.asInstanceOf[V]
  }

  /** Release every entry (cold-timing hook: ScaleStress clears before each
    * measured rep so a curve measures end-to-end cost, not whichever query
    * ran first and warmed the cache for the rest).
    */
  def clear(): Unit = memo.clear()

  /** Hits and misses per kind since the process started. */
  def counts: Map[String, Counts] =
    counters.asScala.map { case (k, c) => k -> Counts(c.hits.sum, c.misses.sum) }.toMap
}
