package graft.store

/** Pluggable cache-backend seam, mirroring the reference's `CacheBackend`
  * ABC ("In production, this could be Redis, Memcached, etc." —
  * `ML Feature Store Pipeline.py:70-84`, `README.md:142`). The store
  * depends only on this trait; [[TtlCache]] is the bundled in-memory
  * implementation, and an external-cache adapter plugs in by implementing
  * its six members. Values are whatever the store serves (collected
  * driver-side slices), never distributed data.
  */
trait CacheBackend[K, V] {
  def get(key: K): Option[V]
  def put(key: K, value: V): Unit
  def delete(key: K): Unit
  def clear(): Unit

  /** Served-from-cache count (for the monitoring dashboard). */
  def hits: Long

  /** Miss count (expired entries count as misses, as in the reference). */
  def misses: Long
}
