package graft.queries

import graft.functions.Exact
import graft.ops.AsofJoin
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checked relational operator inventory (SURVEY.md §2.2, §2.4–2.8):
  * filters/projections, semi/anti/broadcast joins, window functions, top-k,
  * set operations, JSON field extraction, rollup, and the relation digest.
  *
  * Scale notes inline per query; common rules:
  *  - dimension sides of joins are explicitly `broadcast()` when small;
  *  - windows partition by a key (never a global single-partition window on
  *    big relations);
  *  - every result is totally ordered for the hash compare.
  */
object RelationalQueries {

  // ---- filters / projections ------------------------------------------------

  /** P1+P4+P5: predicate + column-pruned projection. The filter and the
    * 3-column read schema both reach the parquet scan.
    */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" && col("value") > 50)
      .select("event_id", "user_id", "value")
      .orderBy("event_id")

  /** P2: IN-list membership (literal set → `isin`; at scale a broadcast
    * semi-join against an ids relation — see [[semiJoinPurchasers]]).
    */
  def filterInUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id").isin(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L, 55L, 89L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), Exact.sumMoney(col("value")).as("total_value"))
      .orderBy("user_id")

  /** P3: point lookup → latest event of one user (serving-path shape:
    * filter + top-1; plans as TakeOrderedAndProject, no full sort).
    */
  def pointLookup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("user_id") === 1L)
      .orderBy(col("ts_us").desc, col("event_id").desc)
      .limit(1)
      .select("event_id", "user_id", "event_type", "value", "ts_us")

  // ---- joins ------------------------------------------------------------------

  /** J1: left-semi join — customers that have purchase events. The distinct
    * purchaser set is small → broadcast; no shuffle of the customer side.
    */
  def semiJoinPurchasers(spark: SparkSession, dir: String): DataFrame = {
    val purchasers = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("c_custkey"))
    Tables.customer(spark, dir)
      .join(broadcast(purchasers), Seq("c_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** J2: left-anti join — customers with no events at all (the cleanup /
    * retention shape: compute the delete set without materializing it).
    */
  def antiJoinInactive(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(spark, dir).select(col("user_id").as("c_custkey"))
    Tables.customer(spark, dir)
      .join(broadcast(active), Seq("c_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy("c_mktsegment")
  }

  /** J3/J5: two-join star aggregation (orders ⋈ customer ⋈ nation →
    * revenue per nation). nation (25 rows) and customer (SF-proportional
    * dim) broadcast; the fact table never shuffles before aggregation, and
    * the group-by is partial→final on n_name.
    */
  def joinNationRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.sumMoney(col("o_totalprice")).as("revenue"))
      .orderBy("n_name")
  }

  /** J4: point-in-time (as-of) join — for each purchase event, the user's
    * most recent click at or before it ([[graft.ops.AsofJoin]]: one
    * key-partitioned window pass over a tagged union, a single shuffle —
    * never a range-join explosion). The click side is pre-aggregated to one
    * row per (user, timestamp) so carried values are deterministic. DuckDB
    * mirrors with its native ASOF LEFT JOIN.
    */
  def asofLatestClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_us").as("click_ts_us"))
      .agg(max(col("event_id")).as("click_event_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    AsofJoin.asofBackward(purchases, clicks, Seq("user_id"),
        "ts_us", "click_ts_us",
        Seq("click_ts_us", "click_event_id", "click_value"))
      .orderBy("event_id")
  }

  /** J4 through the NATIVE as-of operator (custom LogicalPlan → strategy →
    * sorted-merge exec; [[graft.plans.AsofJoinNode]]) — same semantics and
    * same DuckDB oracle as [[asofLatestClick]], exercising the custom
    * physical path under the correctness gate.
    */
  def asofNativeLatestClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_us").as("click_ts_us"))
      .agg(max(col("event_id")).as("click_event_id"),
        max_by(col("value"), col("event_id")).as("click_value"))
    AsofJoin.asofBackwardNative(purchases, clicks, Seq("user_id"),
        "ts_us", "click_ts_us",
        Seq("click_ts_us", "click_event_id", "click_value"))
      .orderBy("event_id")
  }

  /** Forward as-of through the native operator (time-negation over the
    * sorted-merge exec): for each purchase, the user's EARLIEST click at or
    * after it. DuckDB mirrors with `ASOF LEFT JOIN ... ON l.t <= r.t`.
    */
  def asofForwardNextClick(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts_us", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_us").as("click_ts_us"))
      .agg(max(col("event_id")).as("click_event_id"))
    AsofJoin.asofForwardNative(purchases, clicks, Seq("user_id"),
        "ts_us", "click_ts_us",
        Seq("click_ts_us", "click_event_id"))
      .orderBy("event_id")
  }

  // ---- windows ----------------------------------------------------------------

  private def latestFirstWindow =
    Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)

  /** W1/A19: latest row per key via row_number over a key-partitioned
    * window (the "resolve latest version" shape). One shuffle on the key.
    */
  def windowLatestEvent(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(latestFirstWindow))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")

  /** W1: top-N retention per key (reference keeps newest N versions). */
  def windowTopNPerUser(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(latestFirstWindow).cast("long"))
      .filter(col("rn") <= 3)
      .select("user_id", "rn", "event_id", "value")
      .orderBy(col("user_id"), col("rn"))

  /** W2: running total per key (frame spec rowsBetween). DECIMAL running
    * sum keeps per-frame accumulation exact and engine-independent.
    */
  def windowRunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .filter(col("user_id") < 10)
      .withColumn("running_value",
        sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
      .select("user_id", "event_id", "running_value")
      .orderBy("user_id", "event_id")
  }

  // ---- sorts / limits / top-k ---------------------------------------------------

  /** O1: global top-k — plans as TakeOrderedAndProject (per-partition heap +
    * driver merge of k rows), not a total sort.
    */
  def topkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  // ---- set operations -----------------------------------------------------------

  /** §2.7: EXCEPT — users with events but no purchases. */
  def setExceptNonPurchasers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.select("user_id").distinct()
      .except(ev.filter(col("event_type") === "purchase" && col("value") > 450)
        .select("user_id").distinct())
      .orderBy("user_id")
  }

  /** §2.7: UNION ALL + distinct-union semantics — click users ∪ error
    * users (dedup via the set-union contract, one shuffle).
    */
  def setUnionClickError(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_type") === "click").select("user_id")
      .union(ev.filter(col("event_type") === "error").select("user_id"))
      .distinct()
      .orderBy("user_id")
  }

  /** §2.7: INTERSECT — users with both click and error events. */
  def setIntersectClickError(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_type") === "click").select("user_id")
      .intersect(ev.filter(col("event_type") === "error").select("user_id"))
      .orderBy("user_id")
  }

  // ---- scalar functions / json ----------------------------------------------------

  /** Time-dimension rollup: date_trunc to the hour × day-of-week — the
    * dashboard/time-bucketing family. Day-of-week normalized to Sunday=0 on
    * both engines.
    */
  def timeBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("hour_bucket_us",
        unix_micros(date_trunc("HOUR", col("ts"))))
      .withColumn("dow", (dayofweek(col("ts")) - 1).cast("long"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("hour_bucket_us")).as("n_hours"),
        Exact.sumMoney(col("value")).as("total_value"))
      .orderBy("dow")

  /** F2: JSON field extraction from the props column. Uses a regex pull of
    * the numeric field so both engines share one code path (`get_json_object`
    * works too; regexp keeps the oracle extension-free), then aggregates by
    * the extracted key bucket.
    */
  def jsonExtractProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
      .withColumn("k_bucket", col("k") % 10)
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("total_value"))
      .orderBy("k_bucket")

  /** A20 (oracle-expressible digest): per-row md5 over a canonical string of
    * the integer/string columns, reduced order-independently (count + min +
    * max). The store's production fingerprint is xxhash64-based
    * ([[graft.store.FeatureStore.fingerprint]]); this query pins the md5
    * row-hash machinery against DuckDB.
    */
  def fingerprintDigest(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("row_md5",
        md5(concat_ws("|", col("event_id"), col("user_id"), col("event_type"))))
      .agg(count(lit(1)).as("n_rows"),
        min(col("row_md5")).as("min_md5"),
        max(col("row_md5")).as("max_md5"))

  // ---- multi-level aggregation ------------------------------------------------------

  /** A21 extension: ROLLUP over (event_type, day). Subtotal rows carry
    * nulls; ordering pins nulls first on both engines.
    */
  def rollupTypeDay(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  /** A21 extension: CUBE over (event_type, mktsegment of the user) — all
    * four grouping-set combinations in one pass (Expand + single shuffle).
    */
  def cubeTypeSegment(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    ev.join(broadcast(cust), Seq("user_id"))
      .cube(col("event_type"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), Exact.sumMoney(col("value")).as("total_value"))
      .orderBy(col("event_type").asc_nulls_first,
        col("c_mktsegment").asc_nulls_first)
  }

  /** Pivot: per-user event-type counts as columns. Pivot compiles to
    * conditional aggregation (one shuffle); the pivoted column set is
    * declared, not discovered, so the plan stays static at scale.
    */
  def pivotEventCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  /** W2 analytics: lag delta — per-event value change vs the user's
    * previous event (the feature-drift shape).
    */
  def windowLagDelta(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("user_id") < 20)
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("value_delta",
        round(col("value") - coalesce(col("prev_value"), lit(0.0)), 6))
      .select("user_id", "event_id", "value", "value_delta")
      .orderBy("user_id", "event_id")
  }

  /** W2 analytics: ntile quartiles of order value within each priority. */
  def windowNtile(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("n"),
        Exact.sumMoney(col("o_totalprice")).as("bucket_value"))
      .orderBy("o_orderpriority", "quartile")
  }

  /** A8: exact distinct counts (the scalable alternate is
    * `approx_count_distinct` — see [[ScaleQueries]]).
    */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).agg(
      countDistinct(col("event_type")).as("n_event_types"),
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("user_id"), col("event_type")).as("n_user_type_pairs"))

  val registry: Map[String, Query] = Map(
    "filter_project" -> Query(filterProject, Some(
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' AND value > 50
        |ORDER BY event_id""".stripMargin)),
    "filter_in_users" -> Query(filterInUsers, Some(
      s"""SELECT user_id, count(*) AS n_events,
         |  ${Exact.sumMoneySql("value")} AS total_value
         |FROM events WHERE user_id IN (1,2,3,5,8,13,21,34,55,89)
         |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    "point_lookup" -> Query(pointLookup, Some(
      """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
        |FROM events WHERE user_id = 1
        |ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin)),
    "semi_join_purchasers" -> Query(semiJoinPurchasers, Some(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT user_id FROM events WHERE event_type = 'purchase')
        |ORDER BY c_custkey""".stripMargin)),
    "anti_join_inactive" -> Query(antiJoinInactive, Some(
      """SELECT c_mktsegment, count(*) AS n_inactive FROM customer
        |WHERE c_custkey NOT IN (SELECT user_id FROM events)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    "asof_latest_click" -> Query(asofLatestClick, Some(
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS click_ts_us,
        |             max(event_id) AS click_event_id,
        |             arg_max(value, event_id) AS click_value
        |      FROM events WHERE event_type = 'click'
        |      GROUP BY user_id, epoch_us(ts))
        |SELECT p.event_id, p.user_id, p.ts_us, p.value,
        |       c.click_ts_us, c.click_event_id, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.click_ts_us
        |ORDER BY p.event_id""".stripMargin)),
    "asof_native_latest_click" -> Query(asofNativeLatestClick, Some(
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS click_ts_us,
        |             max(event_id) AS click_event_id,
        |             arg_max(value, event_id) AS click_value
        |      FROM events WHERE event_type = 'click'
        |      GROUP BY user_id, epoch_us(ts))
        |SELECT p.event_id, p.user_id, p.ts_us, p.value,
        |       c.click_ts_us, c.click_event_id, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.click_ts_us
        |ORDER BY p.event_id""".stripMargin)),
    "asof_forward_next_click" -> Query(asofForwardNextClick, Some(
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS click_ts_us,
        |             max(event_id) AS click_event_id
        |      FROM events WHERE event_type = 'click'
        |      GROUP BY user_id, epoch_us(ts))
        |SELECT p.event_id, p.user_id, p.ts_us, p.value,
        |       c.click_ts_us, c.click_event_id
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us <= c.click_ts_us
        |ORDER BY p.event_id""".stripMargin)),
    "join_nation_revenue" -> Query(joinNationRevenue, Some(
      s"""SELECT n_name, count(*) AS n_orders,
         |  ${Exact.sumMoneySql("o_totalprice")} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin)),
    "window_latest_event" -> Query(windowLatestEvent, Some(
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    "window_topn_per_user" -> Query(windowTopNPerUser, Some(
      """SELECT user_id, rn, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin)),
    "window_running_total" -> Query(windowRunningTotal, Some(
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_value
        |FROM events WHERE user_id < 10 ORDER BY user_id, event_id""".stripMargin)),
    "topk_orders" -> Query(topkOrders, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),
    "set_except_non_purchasers" -> Query(setExceptNonPurchasers, Some(
      """SELECT DISTINCT user_id FROM events
        |EXCEPT
        |SELECT DISTINCT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 450
        |ORDER BY user_id""".stripMargin)),
    "set_intersect_click_error" -> Query(setIntersectClickError, Some(
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'error'
        |ORDER BY user_id""".stripMargin)),
    "set_union_click_error" -> Query(setUnionClickError, Some(
      """SELECT DISTINCT user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id FROM events WHERE event_type = 'error')
        |ORDER BY user_id""".stripMargin)),
    "time_buckets" -> Query(timeBuckets, Some(
      s"""SELECT dayofweek(ts)::BIGINT AS dow, count(*) AS n,
         |  count(DISTINCT epoch_us(date_trunc('hour', ts))) AS n_hours,
         |  ${Exact.sumMoneySql("value")} AS total_value
         |FROM events GROUP BY dow ORDER BY dow""".stripMargin)),
    "json_extract_props" -> Query(jsonExtractProps, Some(
      s"""SELECT CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) % 10 AS k_bucket,
         |  count(*) AS n, ${Exact.sumMoneySql("value")} AS total_value
         |FROM events GROUP BY k_bucket ORDER BY k_bucket""".stripMargin)),
    "fingerprint_digest" -> Query(fingerprintDigest, Some(
      """SELECT count(*) AS n_rows,
        |  min(md5(concat_ws('|', event_id, user_id, event_type))) AS min_md5,
        |  max(md5(concat_ws('|', event_id, user_id, event_type))) AS max_md5
        |FROM events""".stripMargin)),
    "rollup_type_day" -> Query(rollupTypeDay, Some(
      s"""SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
         |  ${Exact.sumMoneySql("value")} AS total_value
         |FROM events GROUP BY ROLLUP(event_type, day)
         |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin)),
    "cube_type_segment" -> Query(cubeTypeSegment, Some(
      s"""SELECT event_type, c_mktsegment, count(*) AS n,
         |  ${Exact.sumMoneySql("value")} AS total_value
         |FROM events JOIN customer ON user_id = c_custkey
         |GROUP BY CUBE(event_type, c_mktsegment)
         |ORDER BY event_type ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""".stripMargin)),
    "pivot_event_counts" -> Query(pivotEventCounts, Some(
      """SELECT user_id,
        |  count(*) FILTER (event_type = 'click') AS "click",
        |  count(*) FILTER (event_type = 'view') AS "view",
        |  count(*) FILTER (event_type = 'purchase') AS "purchase",
        |  count(*) FILTER (event_type = 'error') AS "error"
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    "window_lag_delta" -> Query(windowLagDelta, Some(
      """SELECT user_id, event_id, value,
        |  round(value - coalesce(
        |    lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |    0), 6) AS value_delta
        |FROM events WHERE user_id < 20 ORDER BY user_id, event_id""".stripMargin)),
    "window_ntile" -> Query(windowNtile, Some(
      s"""SELECT o_orderpriority, quartile, count(*) AS n,
         |  ${Exact.sumMoneySql("o_totalprice")} AS bucket_value
         |FROM (SELECT o_orderpriority, o_totalprice, ntile(4)
         |        OVER (PARTITION BY o_orderpriority
         |              ORDER BY o_totalprice DESC, o_orderkey) AS quartile
         |      FROM orders)
         |GROUP BY o_orderpriority, quartile
         |ORDER BY o_orderpriority, quartile""".stripMargin)),
    "distinct_counts" -> Query(distinctCounts, Some(
      """SELECT count(DISTINCT event_type) AS n_event_types,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT (user_id, event_type)) AS n_user_type_pairs
        |FROM events""".stripMargin)))
}
