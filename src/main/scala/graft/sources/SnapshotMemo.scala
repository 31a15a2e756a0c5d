package graft.sources

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Session-scoped memo of a value derived from a corpus snapshot: the one
  * implementation behind every plan-build result graft computes once per
  * snapshot instead of once per call — the parquet schemas of [[Tables]]
  * and the eager counts of [[graft.operators.AdaptiveCount]].
  *
  * An entry sits under (session identity hash, `K`) and records the
  * evidence its value was derived from: a weak reference to the session
  * and an `E` (a file snapshot, a plan digest). Keys may be hashes; a hit
  * is served only after the session and the evidence are confirmed by
  * equality, so a key collision, or an `identityHashCode` reused after a
  * stopped session is GC'd, recomputes instead of serving another
  * corpus's value. A mismatch recomputes (counted in [[misses]]) and
  * replaces the entry. The session reference is weak so the memo never
  * pins a stopped session's object graph, and the table is cleared
  * wholesale at [[SnapshotMemo.MaxEntries]]: the memo is an optimization,
  * so dropping entries is always safe. */
private[graft] final class SnapshotMemo[K, E, V] {
  import SnapshotMemo.Entry

  private[graft] val cache = new ConcurrentHashMap[(Int, K), Entry[E, V]]()

  /** Recomputations (absent, stale or foreign entries). */
  private[graft] val misses = new AtomicLong(0)

  /** The result `probe` builds from the value recorded for `key` in
    * `session`, served only when the evidence `probe` reports for it
    * equals the recorded evidence. Otherwise `fresh` runs, and its
    * evidence and value replace the entry. */
  def apply[R](session: SparkSession, key: K)(probe: V => Option[(R, E)])(
      fresh: => (R, E, V)): R = {
    val slot = (System.identityHashCode(session), key)
    Option(cache.get(slot))
      .filter(_.session.get() eq session)
      .flatMap(e => probe(e.value).filter(_._2 == e.evidence))
      .map(_._1)
      .getOrElse {
        misses.incrementAndGet()
        val (r, evidence, value) = fresh
        if (cache.size() >= SnapshotMemo.MaxEntries) cache.clear()
        cache.put(slot, Entry(new WeakReference[AnyRef](session), evidence, value))
        r
      }
  }
}

private[graft] object SnapshotMemo {
  final case class Entry[E, V](session: WeakReference[AnyRef], evidence: E, value: V)

  /** Backstop against unbounded growth in a session that churns
    * thousands of distinct corpora. */
  val MaxEntries = 1024
}
