package graft.store

/** Pluggable cache-backend seam, mirroring the reference's `CacheBackend`
  * ABC ("In production, this could be Redis, Memcached, etc." —
  * `ML Feature Store Pipeline.py:70-84`, `README.md:142`). The store
  * depends only on this trait; [[TtlCache]] is the bundled in-memory
  * implementation, and an external-cache adapter plugs in by implementing
  * its six members. Values are whatever the store serves (collected
  * driver-side slices), never distributed data.
  *
  * The store may make two `get`s for one lookup: a user slice that is not
  * cached under its own key is looked up again under its version's whole
  * slice, when that store instance filled the whole slice and the
  * version's directory is unchanged since. A lookup answered from that
  * whole slice (a derived lookup) is one miss plus one hit on the
  * backend, followed by one `put`; a lookup that falls through to parquet
  * is one miss, or two when the second `get` was made. Cleanup `delete`s
  * the doomed versions' keys; erasure calls `clear`.
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
