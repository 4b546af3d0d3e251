package graft.queries

import graft.extract.UserEventExtractor
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the reference-parity surface (SURVEY.md §2).
  *
  * Conventions for DuckDB hash-parity:
  *  - timestamps leave the query as epoch-micros BIGINTs (`unix_micros` ↔
  *    `epoch_us`), sidestepping tz-awareness differences between engines;
  *  - double sums/avgs go through exact DECIMAL(18,2) (see
  *    [[graft.functions.Exact]]);
  *  - every result has a total ORDER BY so row order is deterministic.
  */
object ParityQueries {

  /** Flagship: user behavioral aggregates (reference `UserEventExtractor`,
    * `ML Feature Store Pipeline.py:164-183`).
    */
  def userEventFeatures(spark: SparkSession, dir: String): DataFrame = {
    val feats = new UserEventExtractor().extract(Tables.events(spark, dir))
    feats
      .withColumn("last_event_time_us", unix_micros(col("last_event_time")))
      .withColumn("first_event_time_us", unix_micros(col("first_event_time")))
      .drop("last_event_time", "first_event_time")
      .orderBy(col("user_id"))
  }

  val registry: Map[String, Query] = Map(
    "flagship_user_features" -> Query(userEventFeatures, Some(
      """SELECT user_id,
        |  count(event_type) AS total_events,
        |  CAST(sum(CASE WHEN value > 0 THEN 1 ELSE 0 END) AS BIGINT) AS total_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
        |  COALESCE(CAST(SUM(CAST(CASE WHEN value > 0 THEN value END AS DECIMAL(18,2))) AS DOUBLE)
        |           / count(CASE WHEN value > 0 THEN value END), 0.0) AS avg_amount,
        |  count(DISTINCT event_type) AS unique_event_types,
        |  CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 86400000000) AS BIGINT) + 1 AS days_active,
        |  CAST(sum(CASE WHEN value > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1.0 / count(event_type) AS purchase_rate,
        |  count(event_type) * 1.0 / (CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 86400000000) AS BIGINT) + 1) AS avg_events_per_day,
        |  epoch_us(max(ts)) AS last_event_time_us,
        |  epoch_us(min(ts)) AS first_event_time_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)))
}
