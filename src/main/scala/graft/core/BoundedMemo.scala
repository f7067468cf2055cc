package graft.core

import scala.util.Try

/** A small bounded LRU memo — the store behind [[ArtifactCache]], the
  * process's one cache of derived artifacts (Dedup's signature/pair/
  * cluster frames, Similarity's quantizers, codebooks, probe plans and
  * index builds). Bounding it was the r15 verdict's memo-hygiene item: in
  * a long-lived multi-tenant session unbounded entries accumulate and,
  * for the DataFrame entries, pin lineage and cached blocks for corpora
  * nobody will ask about again. Whether an entry is still VALID (its
  * input files unchanged) is [[ArtifactCache]]'s concern, not this
  * class's.
  *
  * Semantics, deliberately inherited from the TrieMaps they replace:
  *
  *   - `getOrElseUpdate` computes OUTSIDE the lock (the compute runs
  *     Spark jobs — a lock held across one would serialize every other
  *     memo user). Two first callers racing on one key may both compute;
  *     the first insert wins, the loser's value is released via
  *     [[onEvict]] and the winner returned — output stays correct, the
  *     reuse guarantee is best-effort.
  *   - Eviction is LRU once `capacity` keys are held; evicted values go
  *     through [[onEvict]] (unpersist for DataFrame values, no-op for
  *     plain metadata). An evicted entry is never wrong — the next caller
  *     recomputes.
  *   - [[isDead]] keys (a stopped session's) are purged on every
  *     mutating access, so a closed session's frames are released on the
  *     next memo touch by anyone, without a listener registration per
  *     session. [[onEvict]] failures are swallowed (`Try`) — releasing a
  *     stopped session's cache may throw, and eviction is best-effort
  *     resource release, never worth failing the caller's query.
  *   - `remove` hands the value BACK to the caller (no [[onEvict]]):
  *     the one remover ([[ArtifactCache]], dropping a stale entry before
  *     its recompute) owns the release decision.
  */
final class BoundedMemo[K, V](capacity: Int,
    isDead: K => Boolean = (_: Any) => false,
    onEvict: V => Unit = (_: Any) => ()) {
  require(capacity > 0, s"capacity must be positive, got $capacity")

  // access-ordered: get/put refresh recency, iteration starts at the LRU end
  private[this] val m = new java.util.LinkedHashMap[K, V](16, 0.75f, true)

  /** Dead keys, then LRU overflow — callers hold the monitor. */
  private def evictLocked(): Seq[V] = {
    val out = Seq.newBuilder[V]
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (isDead(e.getKey)) { out += e.getValue; it.remove() }
    }
    while (m.size() > capacity) {
      val lru = m.entrySet().iterator()
      out += lru.next().getValue
      lru.remove()
    }
    out.result()
  }

  private def release(vs: Seq[V]): Unit = vs.foreach(v => Try(onEvict(v)))

  def get(k: K): Option[V] = synchronized(Option(m.get(k)))

  def getOrElseUpdate(k: K, compute: => V): V = {
    val (purged, hit) = synchronized((evictLocked(), Option(m.get(k))))
    release(purged)
    hit.getOrElse {
      val v = compute
      val (winner, evicted) = synchronized {
        Option(m.get(k)) match {
          case Some(prior) => (prior, Seq(v)) // raced: first insert wins
          case None => m.put(k, v); (v, evictLocked())
        }
      }
      release(evicted)
      winner
    }
  }

  def put(k: K, v: V): Unit =
    release(synchronized {
      // a displaced prior value is a release event like any eviction —
      // without this, put-over-put silently dropped the old value past
      // the onEvict hook (e.g. an unpersist hook would leak the frame)
      // reference identity, not ==: re-putting the SAME object must not
      // release the value that is still live in the map
      val prior = Option(m.put(k, v))
        .filterNot(_.asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef]).toSeq
      prior ++ evictLocked()
    })

  def putIfAbsent(k: K, v: V): Option[V] = {
    val (prior, evicted) = synchronized {
      Option(m.get(k)) match {
        case some @ Some(_) => (some, Nil)
        case None => m.put(k, v); (None, evictLocked())
      }
    }
    release(evicted)
    prior
  }

  def remove(k: K): Option[V] = synchronized(Option(m.remove(k)))

  def keys: Seq[K] = synchronized {
    val out = Seq.newBuilder[K]
    m.keySet().forEach(k => out += k)
    out.result()
  }

  def size: Int = synchronized(m.size())

  /** Release every entry through [[onEvict]] and empty the memo. */
  def clear(): Unit = {
    val vs = synchronized {
      val out = Seq.newBuilder[V]
      m.values().forEach(v => out += v)
      m.clear()
      out.result()
    }
    release(vs)
  }
}
