package graft.store

import scala.collection.mutable

/** In-memory TTL cache mirroring the reference `InMemoryCache`
  * (`ML Feature Store Pipeline.py:86-111`): get checks expiry, set stamps a
  * deadline, delete evicts. Thread-safe: every method holds the instance
  * lock, as the reference held a lock around a dict. This caches
  * *collected* driver-side results (small per-version slices), never
  * distributed data — the distributed analogue is `DataFrame.persist`,
  * used separately by callers that re-scan.
  */
final class TtlCache[K, V](ttlSeconds: Long,
    clock: () => Long = () => System.currentTimeMillis())
    extends CacheBackend[K, V] {
  private val entries = mutable.HashMap[K, (Long, V)]()
  private var hitCount = 0L
  private var missCount = 0L

  def get(key: K): Option[V] = synchronized {
    entries.get(key) match {
      case Some((deadline, v)) if clock() < deadline =>
        hitCount += 1; Some(v)
      case Some(_) =>
        entries.remove(key); missCount += 1; None
      case None =>
        missCount += 1; None
    }
  }

  def put(key: K, value: V): Unit = synchronized {
    entries.put(key, (clock() + ttlSeconds * 1000L, value))
  }

  def delete(key: K): Unit = synchronized {
    entries.remove(key)
  }

  def clear(): Unit = synchronized(entries.clear())

  def hits: Long = synchronized(hitCount)
  def misses: Long = synchronized(missCount)
  def size: Int = synchronized(entries.size)
}
