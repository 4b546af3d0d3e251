package graft.store

import scala.collection.mutable

/** In-memory TTL cache mirroring the reference `InMemoryCache`
  * (`ML Feature Store Pipeline.py:86-111`): get checks expiry, set stamps a
  * deadline, delete evicts. Thread-safe: every method holds the instance
  * lock, as the reference held a lock around a dict. This caches
  * *collected* driver-side results (small per-version slices), never
  * distributed data — the distributed analogue is `DataFrame.persist`,
  * used separately by callers that re-scan.
  *
  * `onEvict` runs whenever an entry leaves the cache (TTL expiry on get,
  * replacement by a put of a different object, delete, clear) — the
  * release hook the store's persist-backed over-cap cache needs to
  * `unpersist` evicted DataFrames.
  */
final class TtlCache[K, V](ttlSeconds: Long,
    clock: () => Long = () => System.currentTimeMillis(),
    onEvict: V => Unit = (_: V) => ())
    extends CacheBackend[K, V] {
  private val entries = mutable.HashMap[K, (Long, V)]()
  private var hitCount = 0L
  private var missCount = 0L

  def get(key: K): Option[V] = synchronized {
    entries.get(key) match {
      case Some((deadline, v)) if clock() < deadline =>
        hitCount += 1; Some(v)
      case Some((_, v)) =>
        entries.remove(key); onEvict(v); missCount += 1; None
      case None =>
        missCount += 1; None
    }
  }

  /** A value already under `key` is evicted, unless `value` is that same
    * object: two racing misses of one key each put their own value, and
    * the loser's must still be released.
    */
  def put(key: K, value: V): Unit = synchronized {
    entries.put(key, (clock() + ttlSeconds * 1000L, value)).foreach {
      case (_, old) =>
        if (old.asInstanceOf[AnyRef] ne value.asInstanceOf[AnyRef]) onEvict(old)
    }
  }

  def delete(key: K): Unit = synchronized {
    entries.remove(key).foreach { case (_, v) => onEvict(v) }
  }

  def clear(): Unit = synchronized {
    entries.values.foreach { case (_, v) => onEvict(v) }
    entries.clear()
  }

  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def size: Int = synchronized(entries.size)
}
