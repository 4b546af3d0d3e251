package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Session-independent entry points for the graft codegen kernels.
  *
  * The kernels register through [[graft.GraftExtensions]]
  * (`spark.sql.extensions=graft.GraftExtensions`), but library operators
  * must not REQUIRE that: a caller composing [[graft.ops.Prep.hashBucket]]
  * or the 48-bit token hash [[md5hash48]] on a vanilla session worked before
  * the kernels landed and must keep working. These helpers check the
  * ACTIVE session's function registry at Column-construction time (plan
  * building runs on the driver, where the active session is the one the
  * DataFrame came from) and fall back to the bit-identical builtin
  * spelling when the kernel is unregistered — same values, just the
  * hex-string round-trip the kernel exists to avoid. Sessions running
  * the extensions (every registered query, the bench, the driver) always
  * take the kernel path.
  */
object Kernels {

  /** Whether the ACTIVE session registers the named graft kernel —
    * operators with a composable fallback plan branch on this (e.g.
    * [[graft.ops.Screening.permutationTestBh]]'s `graft_perm_sums`
    * aggregate vs its ×B explode spelling).
    */
  private[graft] def registered(name: String): Boolean =
    SparkSession.getActiveSession.exists { s =>
      try s.catalog.functionExists(name)
      catch { case _: Throwable => false }
    }

  /** 48-bit md5 prefix of a STRING column as an unsigned long —
    * [[Md5Hash48]] when registered, else the builtin
    * `conv(substring(md5(c), 1, 12), 16, 10)` spelling (bit-identity
    * pinned by VectorExprsSpec).
    */
  def md5hash48(c: Column): Column =
    if (registered("graft_md5_48")) call_function("graft_md5_48", c)
    else conv(substring(md5(c), 1, 12), 16, 10).cast("long")
}
