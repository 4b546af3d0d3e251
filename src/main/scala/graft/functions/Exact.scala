package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic numeric aggregation helpers.
  *
  * Summing doubles is order-dependent, and shuffle order varies run-to-run
  * and engine-to-engine — a hash-compared oracle would flap. All driver
  * test data money columns carry ≤2 decimal digits, so we aggregate through
  * exact DECIMAL and cast the final value back to DOUBLE: bit-identical
  * results on Spark and DuckDB regardless of partitioning or plan shape.
  * At 100 TB this costs nothing extra — decimal sum is still a single-pass
  * partial/final hash aggregate.
  */
object Exact {
  private val Money: DecimalType = DecimalType(18, 2)

  /** Exact sum of a ≤2-dp double column, returned as DOUBLE. */
  def sumMoney(c: Column): Column = sum(c.cast(Money)).cast(DoubleType)

  /** Exact average of a ≤2-dp double column, returned as DOUBLE (null on
    * empty input, like AVG).
    */
  def avgMoney(c: Column): Column =
    (sum(c.cast(Money)).cast(DoubleType) / count(c)).cast(DoubleType)

  /** DuckDB SQL spelling of [[sumMoney]] — keep in sync. */
  def sumMoneySql(expr: String): String =
    s"CAST(SUM(CAST($expr AS DECIMAL(18,2))) AS DOUBLE)"
}
