package graft.operators

/** The one BOUNDED process-lifetime memo: LRU by ACCESS order with a hard
  * entry bound, self-registered in [[CacheRegistry]] so `CacheAuditSpec`
  * both enumerates it and asserts the bound live. It holds per-data-dir
  * serving state (stored-index paths, planning sketches), the
  * per-(session, dir) checkpointed frames of the graph packs, and
  * [[graft.Tables]]' resolved plans. A raw map memo keyed by data dir
  * grows without limit in a long-lived multi-corpus service; this class
  * is the uniform fix.
  *
  * Eviction: most values are scratch PATHS (the artifact stays on disk
  * under [[graft.Scratch]]'s shutdown-hook root), so eviction costs a
  * rebuild on next access, never correctness. `onEvict` covers values
  * that pin resources: a memo of localCheckpoint()ed frames passes
  * [[Checkpoints.release]] so an evicted frame's blocks are unpersisted.
  * A caller still holding an evicted checkpoint races a non-recoverable
  * recompute, but at the default bound eviction fires only after 64
  * DISTINCT keys, far past any suite or service working set. `onEvict` is
  * NonFatal-guarded: a VM error must propagate, while a stopped-session
  * unpersist failure must not wedge the map at capacity.
  *
  * Values that are session-bound (resolved plans, checkpoints) are keyed
  * by the session INSTANCE, so a restarted session misses instead of
  * serving dropped blocks.
  *
  * Concurrency: builds run OUTSIDE the lock (index builds and
  * checkpoints are multi-second Spark jobs; holding the map lock across
  * one would serialize unrelated keys), with a double-check on re-lock
  * keeping one winner per key. A losing concurrent build's value is
  * handed to `onEvict`. */
final class BoundedMemo[K, V](name: String, maxEntries: Int = 64,
                              onEvict: V => Unit = (_: V) => ()) {
  private def safeEvict(v: V): Unit =
    try onEvict(v) catch { case scala.util.control.NonFatal(_) => () }

  private val memo =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        if (this.size() > maxEntries) { safeEvict(e.getValue); true } else false
    }

  CacheRegistry.register(name, maxEntries, () => memo.synchronized(memo.size()))

  /** The memoized value for `k`, building it with `build(k)` on a miss.
    * The lock is held only for map reads/writes, never across `build`
    * (the cross-latch handshake in CacheAuditSpec pins this). */
  def computeIfAbsent(k: K, build: K => V): V = {
    val hit = memo.synchronized(memo.get(k))
    if (hit != null) hit
    else {
      val built = build(k)
      memo.synchronized {
        val winner = memo.get(k)
        if (winner != null) { safeEvict(built); winner }
        else { memo.put(k, built); built }
      }
    }
  }

  private[graft] def size: Int = memo.synchronized(memo.size())
}
