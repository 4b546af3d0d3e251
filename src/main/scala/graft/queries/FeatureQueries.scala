package graft.queries

import graft.ops.{Diff, EventOps, PointInTime, Prep}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Oracle-checked feature-engineering family — the two serving shapes a
  * feature store exists for (the reference stores versioned feature rows
  * precisely to answer these, `ML Feature Store Pipeline.py:286-309`):
  * point-in-time-correct training-matrix assembly
  * ([[graft.ops.PointInTime]]) and trailing event-time window features
  * ([[graft.ops.Prep.rollingTimeFeatures]]).
  *
  * Both oracles run on native DuckDB machinery (chained `ASOF LEFT JOIN`,
  * `RANGE` frames over epoch microseconds), so the semantics — inclusive
  * as-of, peers-in-frame — are pinned against an independent
  * implementation, not a transliteration.
  */
object FeatureQueries {

  private val RollWindowMicros = 2L * 86400L * 1000000L // trailing 2 days
  private val ItemCfK = 5 // CF neighbors kept per item

  /** Training matrix for purchase labels: each purchase event joined, as of
    * its timestamp, with (a) the user's latest click value and (b) the
    * user's running view count — two independently-built feature groups
    * folded onto the label spine through the NATIVE sorted-merge as-of
    * operator. Feature groups are pre-aggregated unique per (user, ts)
    * ([[graft.ops.AsofJoin]]'s contract; ties inside a timestamp resolve
    * by max event_id, mirrored in the oracle's `arg_max`).
    */
  def pitTrainingMatrix(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val labels = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value").as("label_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), unix_micros(col("ts")).as("c_ts_us"))
      .agg(max_by(col("value"), col("event_id")).as("last_click_value"))
    val views = ev.filter(col("event_type") === "view")
      .withColumn("__vs", count(lit(1)).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), unix_micros(col("ts")).as("v_ts_us"))
      .agg(max(col("__vs")).as("views_asof"))
    PointInTime.trainingMatrix(labels, "user_id", "ts_us",
        Seq(
          PointInTime.FeatureGroup(clicks, "user_id", "c_ts_us",
            Seq("last_click_value")),
          PointInTime.FeatureGroup(views, "user_id", "v_ts_us",
            Seq("views_asof"))),
        native = true)
      .withColumn("views_asof", coalesce(col("views_asof"), lit(0L)))
      .select("user_id", "event_id", "ts_us", "label_value",
        "last_click_value", "views_asof")
      .orderBy("user_id", "event_id")
  }

  /** Trailing-2-day rolling value sum + event count per user, for every
    * event row — RANGE frame over epoch micros, DECIMAL-exact sums.
    */
  def rollingWindow(spark: SparkSession, dir: String): DataFrame =
    Prep.rollingTimeFeatures(Tables.events(spark, dir), "user_id", "ts",
        "value", RollWindowMicros)
      .select("user_id", "event_id", "roll_value", "roll_events")
      .orderBy("user_id", "event_id")

  private val TestHorizonUs = 7L * 86400L * 1000000L // trailing 7 days
  private val EmbargoUs = 1L * 86400L * 1000000L // 1-day purge gap

  /** Ordered view → click → purchase funnel per user: earliest completion
    * time of each step strictly after the previous one
    * ([[graft.ops.EventOps.funnel]]).
    */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame =
    EventOps.funnel(Tables.events(spark, dir), "user_id", "ts_us",
        Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))
      .orderBy("user_id")

  /** Step-to-step conversion timing of the view → click → purchase funnel
    * ([[funnelSteps]] deltas): per-step completion counts and DISCRETE
    * (type-1) p50/p90 of the time between consecutive completions — the
    * funnel health numbers next to the completion rates. Discrete, not
    * interpolated: the quantile is an actual observed delta, selected by
    * the integer predicate `q·cum ≥ p·n` over the per-value grid — engines
    * interpolate with different IEEE op orders, and at epoch-micros
    * magnitude that last ulp survives any display rounding (measured:
    * Spark …74.5 vs DuckDB …74.49994). Counts and quantiles stay BIGINT
    * end to end.
    */
  def funnelTiming(spark: SparkSession, dir: String): DataFrame = {
    val f = funnelSteps(spark, dir)
    // discrete p50/p90 of one delta column via the per-value grid:
    // smallest v with 2·cum ≥ n / 10·cum ≥ 9·n (cum integer ⇒ ≡ ceil)
    def qdisc(delta: org.apache.spark.sql.Column, prefix: String)
        : DataFrame = {
      val perV = f.select(delta.as("v")).filter(col("v").isNotNull)
        .groupBy("v").agg(count(lit(1)).as("c"))
      val cum = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
      perV
        .withColumn("cum", sum(col("c")).over(cum))
        .withColumn("n", sum(col("c")).over(all))
        .agg(min(when(col("cum") * 2 >= col("n"), col("v")))
            .as(s"${prefix}_p50"),
          min(when(col("cum") * 10 >= col("n") * 9, col("v")))
            .as(s"${prefix}_p90"))
    }
    f.agg(count(col("t_view")).as("n_view"),
        count(col("t_click")).as("n_click"),
        count(col("t_purchase")).as("n_purchase"))
      .crossJoin(qdisc(col("t_click") - col("t_view"), "vc"))
      .crossJoin(qdisc(col("t_purchase") - col("t_click"), "cp"))
  }

  /** SCD2 validity intervals of each user's event_type attribute —
    * consecutive same-type runs collapse to one `[valid_from, valid_to)`
    * interval ([[graft.ops.EventOps.scd2]]).
    */
  def scd2Intervals(spark: SparkSession, dir: String): DataFrame =
    EventOps.scd2(Tables.events(spark, dir), "user_id", "ts_us", "event_id",
        "event_type")
      .select("user_id", "event_type", "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from")

  /** Temporal train/embargo/test split of the event stream (trailing 7 days
    * test, 1-day embargo purged before it): per-split counts and bounds
    * ([[graft.ops.EventOps.timeSplitEmbargo]]).
    */
  def timeSplit(spark: SparkSession, dir: String): DataFrame =
    EventOps.timeSplitEmbargo(Tables.events(spark, dir), "ts_us",
        TestHorizonUs, EmbargoUs)
      .groupBy("split")
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("min_us"), max(col("ts_us")).as("max_us"))
      .orderBy("split")

  private val DiffHorizonUs = 7L * 86400L * 1000000L // old = all but last 7d
  private val SeqMaxTokens = 50

  /** Snapshot diff of per-(user, event_type) feature rows between pipeline
    * v1 (events up to max_ts − 7 d, signups not yet tracked) and the v2
    * backfill (7 more days of data, tracks signups, drops the deprecated
    * `error` type): status counts + checksums
    * ([[graft.ops.Diff.snapshotDiff]]). The construction exercises all
    * four statuses — signup cells are `added`, error cells `removed`,
    * cells with recent events `changed`, dormant cells `unchanged`.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mx = ev.agg(max(unix_micros(col("ts"))).as("__mx"))
    def perCell(d: DataFrame): DataFrame = d.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast(DecimalType(18, 6))).as("val_sum"))
    val v1 = perCell(ev.crossJoin(broadcast(mx))
      .filter(unix_micros(col("ts")) <= col("__mx") - DiffHorizonUs &&
        col("event_type") =!= "signup"))
    val v2 = perCell(ev.filter(col("event_type") =!= "error"))
    Diff.snapshotDiff(v1, v2, Seq("user_id", "event_type"),
        Seq("n_events", "val_sum"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("user_id")).as("user_checksum"))
      .orderBy("status")
  }

  private val RefreshHorizonUs = 2L * 86400L * 1000000L

  /** Incremental aggregate refresh ([[graft.ops.Diff.refreshAggregate]]):
    * per-user counts/sums materialized over history (events older than 2
    * days), then refreshed with ONLY the trailing-2-day delta. The oracle
    * is the FULL recompute over everything — the view-maintenance
    * correctness statement.
    */
  def aggRefresh(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val mx = ev.agg(max(col("ts_us")).as("__mx"))
    val tagged = ev.crossJoin(broadcast(mx))
    val isOld = col("ts_us") <= col("__mx") - RefreshHorizonUs
    val partials = Seq(count(lit(1)).as("n_events"),
      sum(round(col("value"), 6).cast(DecimalType(18, 6))).as("val_sum"))
    val merges = Seq(sum(col("n_events")).as("n_events"),
      sum(col("val_sum")).as("val_sum"))
    val state = tagged.filter(isOld).groupBy(col("user_id"))
      .agg(partials.head, partials.tail: _*)
    Diff.refreshAggregate(state, tagged.filter(!isOld), Seq("user_id"),
        partials, merges)
      .select(col("user_id"), col("n_events"),
        col("val_sum").cast("double").as("total_value"))
      .orderBy("user_id")
  }

  /** CDC changelog collapsed to final state ([[graft.ops.Diff.cdcApply]]):
    * the events stream read as an op log keyed by (user, event_type) —
    * every 7th event id is a tombstone — with last-writer-wins on
    * (ts, event_id). One key shuffle; no joins.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val log = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"),
        when(pmod(col("event_id"), lit(7L)) === 0, "D").otherwise("U")
          .as("op"),
        col("value"))
    Diff.cdcApply(log, Seq("user_id", "event_type"),
        Seq("ts_us", "event_id"), "op")
      .select(col("user_id"), col("event_type"), col("ts_us"),
        col("event_id"), col("value").as("last_value"))
      .orderBy("user_id", "event_type")
  }

  /** MERGE INTO semantics ([[graft.ops.Diff.mergeUpsert]]): per-customer
    * order spend overlaid on a base snapshot that is missing every 5th
    * customer — exercising all three branches (updated / inserted /
    * carried). One full-outer key join.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.customer(spark, dir)
      .filter(pmod(col("c_custkey"), lit(5L)) =!= 0)
      .select(col("c_custkey").as("custkey"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("segment"))
    val updates = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(graft.functions.Exact.sumMoney(col("o_totalprice")).as("acctbal"))
      .withColumn("segment", lit("REFRESH"))
    Diff.mergeUpsert(base, updates, Seq("custkey"), Seq("acctbal", "segment"))
      .orderBy("custkey")
  }

  /** Each user's event-type sequence (first 20 users), ordered by
    * (ts, event_id), capped at 50 tokens — the behavioral-sequence
    * assembly shape ([[graft.ops.EventOps.assembleSequence]]).
    */
  def eventSequence(spark: SparkSession, dir: String): DataFrame =
    EventOps.assembleSequence(
        Tables.events(spark, dir).filter(col("user_id") < 20)
          .withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "ts_us", "event_id", "event_type", SeqMaxTokens)
      .orderBy("user_id")

  private val DauWindowDays = 7

  /** Forward-filled event values for the first 10 users (error events
    * report no value — the synthesized sparsity — and inherit the user's
    * last observation; [[graft.ops.Prep.forwardFill]]).
    */
  def forwardFill(spark: SparkSession, dir: String): DataFrame = {
    val masked = Tables.events(spark, dir)
      .filter(col("user_id") < 10)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("value_m",
        when(col("event_type") === "error", lit(null)).otherwise(col("value")))
    Prep.forwardFill(masked, "user_id", Seq("ts_us", "event_id"), "value_m")
      .select("user_id", "event_id", "value_m", "value_m_ffill")
      .orderBy("user_id", "event_id")
  }

  /** Exact trailing-7-day rolling active users per observed epoch day
    * ([[graft.ops.EventOps.rollingActiveKeys]] — the DAU/WAU engagement
    * family via the contribution explode).
    */
  def rollingDau(spark: SparkSession, dir: String): DataFrame =
    EventOps.rollingActiveKeys(
        Tables.events(spark, dir).withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "ts_us", DauWindowDays)
      .orderBy("day")

  /** Fixed-iteration damped PageRank over the customer→supplier purchase
    * graph ([[graft.ops.Graph.pageRank]]; node ids carry a type prefix so
    * the two key spaces can't collide).
    */
  def pageRankSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    // rank stays at its native 9 dp: the iteration state is already a
    // 9dp DECIMAL, and a further round(double, 6) can land on an exact
    // decimal tie (…4500) where the engines' double-rounding paths differ
    graft.ops.Graph.pageRank(edges, "src", "dst", iterations = 3)
      .orderBy("node")
  }

  private val KcoreK = 4
  private val KcoreRounds = 3
  private val WalkLength = 3
  private val LpaRounds = 3

  /** Theil–Sen robust daily-volume trend
    * ([[graft.ops.EventOps.theilSenTrend]] over the event stream).
    */
  def theilSen(spark: SparkSession, dir: String): DataFrame =
    EventOps.theilSenTrend(
      Tables.events(spark, dir)
        .withColumn("ts_us", unix_micros(col("ts"))), "ts_us")

  /** Per-customer OLS spend trend ([[graft.ops.EventOps.olsTrend]]):
    * slope/intercept/R² of order cents on order day — the per-entity
    * least-squares companion of `feat_theilsen_trend`.
    */
  def olsTrendQ(spark: SparkSession, dir: String): DataFrame =
    EventOps.olsTrend(Tables.orders(spark, dir), "o_custkey",
        // o_orderdate is parquet NTZ; the session tz is pinned UTC, so
        // the cast matches DuckDB's naive-as-UTC epoch_us exactly
        floor(unix_micros(col("o_orderdate").cast("timestamp"))
          / lit(86400000000L)).cast("long"),
        (col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long"))
      .orderBy("o_custkey")

  /** Per-user Fano-factor burstiness over daily activity
    * ([[graft.ops.EventOps.fanoBurstiness]]).
    */
  def fano(spark: SparkSession, dir: String): DataFrame =
    EventOps.fanoBurstiness(
        Tables.events(spark, dir)
          .withColumn("ts_us", unix_micros(col("ts"))),
        "user_id", "ts_us")
      .orderBy("key")

  /** CUSUM level-shift alarm over daily event volume
    * ([[graft.ops.EventOps.cusumChangepoints]]).
    */
  def cusum(spark: SparkSession, dir: String): DataFrame =
    EventOps.cusumChangepoints(
        Tables.events(spark, dir)
          .withColumn("ts_us", unix_micros(col("ts"))), "ts_us")
      .orderBy("day")

  private val BinsegLevels = 2

  /** Binary-segmentation changepoints over the daily value series
    * ([[graft.ops.EventOps.binsegChangepoints]], 2 levels → up to 3
    * splits): the recursive mean-shift partitioning of the spend
    * history, each split an exact-integer gain argmax.
    */
  def binseg(spark: SparkSession, dir: String): DataFrame =
    EventOps.binsegChangepoints(Tables.events(spark, dir), "ts", "value",
        BinsegLevels)
      .orderBy("level", "lo_day")

  /** ACF + PACF of the zero-filled daily event-value series, lags 1..7
    * ([[graft.ops.EventOps.acfPacf]]) — the Box–Jenkins order/seasonality
    * read on the stream [[cusum]] monitors.
    */
  def acfPacf(spark: SparkSession, dir: String): DataFrame =
    EventOps.acfPacf(Tables.events(spark, dir), "ts", "value", maxLag = 7)

  /** Gini + top-decile concentration of per-user event spend
    * ([[graft.ops.EventOps.spendConcentration]]) — the whale-dependence
    * audit behind the RFM segmentation.
    */
  def spendGini(spark: SparkSession, dir: String): DataFrame =
    EventOps.spendConcentration(Tables.events(spark, dir), "user_id",
      "value")

  /** MASE of the EWMA forecaster against the lag-7 seasonal-naive
    * benchmark on daily spend ([[graft.ops.EventOps.forecastAccuracy]]).
    */
  def forecastMase(spark: SparkSession, dir: String): DataFrame =
    EventOps.forecastAccuracy(Tables.events(spark, dir), "ts", "value")

  /** Pairwise banded DTW between per-event-type daily count series
    * ([[graft.ops.EventOps.seriesDtwPairs]], week-wide warp corridor) —
    * which streams move together modulo bounded time shifts.
    */
  def dtwPairs(spark: SparkSession, dir: String): DataFrame =
    EventOps.seriesDtwPairs(Tables.events(spark, dir), "ts", "event_type",
      band = 7)

  /** One-step EWMA (α = 1/2) daily spend forecast
    * ([[graft.ops.EventOps.ewmaForecast]]) — the exponential-smoothing
    * partner to [[seasonalNaive]]'s lag-7 baseline.
    */
  def ewmaForecastQ(spark: SparkSession, dir: String): DataFrame =
    EventOps.ewmaForecast(Tables.events(spark, dir), "ts", "value")

  /** Split-conformal interval + held-out coverage for the lag-7 naive
    * daily-value forecast ([[graft.ops.EventOps.conformalForecast]]).
    */
  def conformalNaive(spark: SparkSession, dir: String): DataFrame =
    EventOps.conformalForecast(Tables.events(spark, dir), "ts", "value")

  /** Synchronous bounded-round label-propagation communities over the
    * purchase graph ([[graft.ops.Graph.lpaCommunities]], same edges as
    * `feat_pagerank`).
    */
  def lpaCommunities(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    graft.ops.Graph.lpaCommunities(edges, "src", "dst", LpaRounds)
      .orderBy("node")
  }

  /** Personalized PageRank from the every-100th-customer seed set on
    * the purchase graph ([[graft.ops.Graph.personalizedPageRank]]) —
    * the "related to these customers" serving walk.
    */
  def personalizedPr(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 100 === 0)
      .select(concat(lit("c"), col("c_custkey")).as("node"))
    graft.ops.Graph.personalizedPageRank(edges, "src", "dst", seeds, 3)
      .orderBy("node")
  }

  private val KtrussK = 3
  private val KtrussRounds = 3
  private val KtrussCoThresh = 2

  /** Bounded-round 3-truss of the part co-order graph
    * ([[graft.ops.Graph.ktruss]]): parts co-ordered in ≥2 baskets form
    * edges; surviving edges sit in ≥1 triangle of the surviving
    * subgraph after 3 peel rounds.
    */
  def ktrussParts(spark: SparkSession, dir: String): DataFrame = {
    val present = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("b"), col("l_partkey").as("i"))
      .distinct()
    val pairs = present.as("l")
      .join(present.as("r"), col("l.b") === col("r.b") &&
        col("l.i") < col("r.i"))
      .groupBy(col("l.i").as("pa"), col("r.i").as("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= KtrussCoThresh)
    graft.ops.Graph.ktruss(pairs, "pa", "pb", KtrussK, KtrussRounds)
      .orderBy("u", "v")
  }

  /** Adjusted Rand Index between the LPA communities and the
    * customer/supplier NATION partition
    * ([[graft.ops.Graph.ariPartitions]]) — "do discovered communities
    * align with geography?", chance-corrected.
    */
  def ariNations(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    val labels = graft.ops.Graph.lpaCommunities(edges, "src", "dst",
        LpaRounds)
      .select(col("node"), col("community").as("a"))
    val nations = Tables.customer(spark, dir)
      .select(concat(lit("c"), col("c_custkey")).as("node"),
        concat(lit("n"), col("c_nationkey")).as("b"))
      .union(Tables.supplier(spark, dir)
        .select(concat(lit("s"), col("s_suppkey")).as("node"),
          concat(lit("n"), col("s_nationkey")).as("b")))
    graft.ops.Graph.ariPartitions(labels, nations).orderBy("n")
  }

  /** Newman modularity of the LPA partition on the purchase graph
    * ([[graft.ops.Graph.modularity]]) — per-community internal-edge /
    * degree masses with the global Q repeated.
    */
  def lpaModularity(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    val labels = graft.ops.Graph.lpaCommunities(edges, "src", "dst",
      LpaRounds)
    graft.ops.Graph.modularity(edges, "src", "dst", labels)
      .orderBy("community")
  }

  /** Bounded-round HITS hubs & authorities over the purchase graph
    * ([[graft.ops.Graph.hits]], same edges as `feat_pagerank` — the
    * bipartite reading: hubs = broad buyers, authorities = widely-bought
    * suppliers). Scores stay at their native 9 dp (the pageRank rule).
    */
  def hitsSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    graft.ops.Graph.hits(edges, "src", "dst", iterations = 3)
      .orderBy("node")
  }

  /** Deterministic hash-chosen random walks over the purchase graph
    * ([[graft.ops.Graph.randomWalks]]) — the DeepWalk corpus step,
    * bit-reproducible on any engine.
    */
  def randomWalks(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    // the symmetrized purchase graph has an out-edge at every node, so
    // the dead-end carry branch is provably never taken
    graft.ops.Graph.randomWalks(edges, "src", "dst", WalkLength,
        carryDeadEnds = false)
      .orderBy("start")
  }

  /** Seasonal-naive forecast audit over daily event counts
    * ([[graft.ops.EventOps.seasonalNaive]]).
    */
  def seasonalNaive(spark: SparkSession, dir: String): DataFrame =
    EventOps.seasonalNaive(Tables.events(spark, dir), "ts")
      .orderBy("day")

  /** Additive Holt–Winters over the last 70 days of daily event counts
    * ([[graft.ops.EventOps.holtWinters]], weekly season, α=0.3 β=0.1
    * γ=0.2 as exact rationals) — the trend+seasonality forecaster the
    * [[seasonalNaive]] baseline exists to be beaten by; nano-integer
    * state, bit-identical to the oracle's recursive-CTE replay.
    */
  def holtWintersQ(spark: SparkSession, dir: String): DataFrame =
    EventOps.holtWinters(Tables.events(spark, dir), "ts")

  /** Multiplicative Holt–Winters over the same grid
    * ([[graft.ops.EventOps.holtWintersMult]]): seasonal RATIOS in
    * DECIMAL(38,0) nano state — the widened recursion the additive
    * variant's BIGINT guard points at — for series whose weekly swing
    * scales with the level.
    */
  def holtWintersMultQ(spark: SparkSession, dir: String): DataFrame =
    EventOps.holtWintersMult(Tables.events(spark, dir), "ts")

  /** Per-node in/out degree profile of the purchase graph
    * ([[graft.ops.Graph.degreeStats]]) — the 1-hop structural feature set
    * and the skew input to the graph operators' join planning.
    */
  def degreeStats(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    graft.ops.Graph.degreeStats(edges, "src", "dst").orderBy("node")
  }

  /** Bounded 4-core peel of the customer–supplier purchase graph
    * ([[graft.ops.Graph.kcorePeel]], same edges as `feat_pagerank`):
    * 3 peeling rounds, survivors with residual degree + in-core flag.
    */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("src"),
        concat(lit("s"), col("l_suppkey")).as("dst"))
    graft.ops.Graph.kcorePeel(edges, "src", "dst", KcoreK, KcoreRounds)
      .orderBy("node")
  }

  /** First-order event-type transition matrix per user history
    * ([[graft.ops.EventOps.transitionMatrix]]).
    */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
    EventOps.transitionMatrix(ev, "user_id", "ts_us", "event_id",
        "event_type")
      .orderBy("state", "next_state")
  }

  private val PmiGapSec = 6L * 3600L // same session gap as prep_sessionize
  private val WilsonZ = 1.96
  private val WilsonTopK = 50

  /** Within-session event-type co-occurrence PMI
    * ([[graft.ops.EventOps.cooccurrencePmi]] over
    * [[graft.ops.Prep.sessionize]] 6-hour sessions) — the item2vec /
    * SGNS-matrix prep shape on the behavioral stream.
    */
  def sessionPmi(spark: SparkSession, dir: String): DataFrame =
    EventOps.cooccurrencePmi(
        Prep.sessionize(Tables.events(spark, dir), "user_id", "ts",
          "event_id", PmiGapSec),
        Seq("user_id", "session_idx"), "event_type")
      .orderBy("item_a", "item_b")

  /** Per-user purchase-rate ranking by Wilson lower bound
    * ([[graft.ops.Screening.wilsonLowerBound]]) — the small-sample-safe
    * ratio ranking (a 1-for-1 user cannot outrank a 90-for-100 user).
    */
  def wilsonRank(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.wilsonLowerBound(Tables.events(spark, dir),
        Seq("user_id"), col("event_type") === "purchase", WilsonZ)
      .orderBy(col("wilson_lb").desc, col("user_id"))
      .limit(WilsonTopK)

  /** Item-to-item CF neighbors over order baskets
    * ([[graft.ops.EventOps.itemCfNeighbors]]): parts that ship together in
    * the same order, cosine-normalized so popular parts can't dominate,
    * top-[[ItemCfK]] neighbors per part.
    */
  def itemCf(spark: SparkSession, dir: String): DataFrame =
    EventOps.itemCfNeighbors(Tables.lineitem(spark, dir),
        "l_orderkey", "l_partkey", ItemCfK)
      .orderBy("item", "rank")

  /** Per-user temporal seasonality profile
    * ([[graft.ops.EventOps.seasonalityProfile]]): peak UTC activity hour,
    * concentration, weekend lean — integer calendar arithmetic only.
    */
  def seasonality(spark: SparkSession, dir: String): DataFrame =
    EventOps.seasonalityProfile(Tables.events(spark, dir), "user_id", "ts")
      .orderBy("user_id")

  /** Per-user behavioral entropy over event types
    * ([[graft.ops.EventOps.behaviorEntropy]]) — the variety feature.
    */
  def userEntropy(spark: SparkSession, dir: String): DataFrame =
    EventOps.behaviorEntropy(Tables.events(spark, dir), "user_id",
        "event_type")
      .orderBy("user_id")

  private val SurvivalHorizonUs = 2L * 86400L * 1000000L

  /** Right-censored time-to-purchase labels
    * ([[graft.ops.EventOps.survivalLabels]]): at-risk = users active at or
    * before the anchor (max ts − 2 d); duration to first purchase inside
    * the horizon, censored at the horizon otherwise.
    */
  def survivalLabels(spark: SparkSession, dir: String): DataFrame =
    EventOps.survivalLabels(Tables.events(spark, dir), "user_id", "ts",
        col("event_type") === "purchase", SurvivalHorizonUs)
      .orderBy("user_id")

  private val AnomalyWindowUs = 2L * 86400L * 1000000L
  private val AnomalyMinEvents = 5

  /** Trailing-window per-user z-score anomaly flags
    * ([[graft.ops.EventOps.rollingAnomaly]]): each event against its own
    * user's trailing-2-day history (self and exact-ts peers excluded).
    */
  def rollingAnomaly(spark: SparkSession, dir: String): DataFrame =
    EventOps.rollingAnomaly(
        Tables.events(spark, dir).filter(col("user_id") < 20),
        "user_id", "ts", "value", AnomalyWindowUs, AnomalyMinEvents)
      .select("user_id", "event_id", "ts_us", "value", "n_window",
        "var_window", "z", "is_anomaly")
      .orderBy("user_id", "event_id")

  /** Per-user RFM quintile scores over the events stream
    * ([[graft.ops.EventOps.rfm]]) — recency anchored at the stream max
    * timestamp, ntile buckets with 5 = best.
    */
  def rfmScores(spark: SparkSession, dir: String): DataFrame =
    EventOps.rfm(Tables.events(spark, dir), "user_id", "ts", "value")
      .orderBy("user_id")

  // unrolled peel rounds — each round re-derives degrees from the
  // previous round's edge set and keeps both endpoints alive
  // unrolled LPA rounds: per-(node, label) counts, argmin by
  // (−count, label) via min-struct — ties to the smallest label, the
  // plan's exact convention
  private val lpaCtes: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""l$r AS (SELECT node,
         |    struct_extract(min(struct_pack(nc := -cnt, l := community)),
         |      'l') AS community
         |  FROM (SELECT s.v AS node, l.community, count(*) AS cnt
         |        FROM l${r - 1} l JOIN sym s ON l.node = s.u
         |        GROUP BY 1, 2)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS (SELECT DISTINCT 'c' || o_custkey AS u,
       |             's' || l_suppkey AS v
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |sym AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
       |l0 AS (SELECT u AS node, u AS community
       |       FROM (SELECT DISTINCT u FROM sym)),
       |$rounds""".stripMargin
  }

  private val lpaSql: String =
    s"""WITH $lpaCtes
       |SELECT node, community FROM l$LpaRounds ORDER BY node""".stripMargin

  private val kcoreSql: String = {
    val peels = (1 to KcoreRounds).map { i =>
      s"""a$i AS (SELECT u FROM u${i - 1} GROUP BY u
         |        HAVING count(*) >= $KcoreK),
         |u$i AS (SELECT p.u, p.v FROM u${i - 1} p
         |        JOIN a$i x ON p.u = x.u JOIN a$i y ON p.v = y.u)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT 'c' || o_custkey AS u,
       |             's' || l_suppkey AS v
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |u0 AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
       |$peels
       |SELECT u AS node, count(*) AS degree,
       |  count(*) >= $KcoreK AS in_core
       |FROM u$KcoreRounds GROUP BY u ORDER BY node""".stripMargin
  }

  // unrolled walk steps over the INDEXED adjacency (the Graph.randomWalks
  // formulation): step r picks neighbor md5(start|r) mod deg(cur) in
  // sorted-neighbor order — the 48-bit '0x'||substr(md5) BIGINT is the
  // hashBucket idiom. Every node of the symmetric purchase graph has an
  // out-edge, so no dead-end branch is needed in the replay
  private val walkSql: String = {
    val steps = (1 to WalkLength).map { r =>
      s"""s$r AS (SELECT w.start, a.v, w.path || '>' || a.v AS path
         |  FROM w${r - 1} w
         |  JOIN deg d ON w.cur = d.u
         |  JOIN adj a ON a.u = w.cur AND a.i =
         |    ('0x' || substr(md5(w.start || '|$r'), 1, 12))::BIGINT % d.deg),
         |w$r AS (SELECT start, v AS cur, path FROM s$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (SELECT DISTINCT 'c' || o_custkey AS u,
       |             's' || l_suppkey AS v
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |sym AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
       |adj AS (SELECT u, v, row_number()
       |          OVER (PARTITION BY u ORDER BY v) - 1 AS i FROM sym),
       |deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY 1),
       |w0 AS (SELECT u AS start, u AS cur, u AS path
       |       FROM (SELECT DISTINCT u FROM sym)),
       |$steps
       |SELECT start, path, cur AS end_node,
       |  CAST($WalkLength AS BIGINT) AS steps
       |FROM w$WalkLength ORDER BY start""".stripMargin
  }

  // unrolled power-iteration CTEs r0→r3: every iteration's state is a
  // DECIMAL(18,9) relation (9dp-rounded contributions, exact sums), which
  // is what makes the replay engine-exact; the dangling mass d$i is an
  // exact DECIMAL sum over the anti-joined rank relation, mirroring the
  // 1-row broadcast aggregate in Graph.pageRank; (1.0 - 0.85) is spelled
  // as a subtraction so both engines evaluate the same IEEE double, not a
  // 0.15 literal (a different nearest-double)
  /** Unrolled-pageRank CTE chain ([[graft.ops.Graph.pageRank]] replay)
    * over whatever relation the caller's `eCte` binds as `e(src, dst)`
    * (must be DISTINCT directed edges) — shared by `feat_pagerank` and
    * `text_textrank` so the replay cannot fork. Ends in CTE
    * `r$iters(node, r)`.
    */
  private[queries] def pageRankUnrolledCtes(eCte: String,
      iters: Int = 3): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst,
         |  sum(CAST(round(CAST(r.r AS DOUBLE) / outd.deg, 9)
         |        AS DECIMAL(18,9))) AS m
         |  FROM r${i - 1} r JOIN e ON r.node = e.src
         |  JOIN outd ON outd.src = e.src GROUP BY 1),
         |d$i AS (SELECT coalesce(sum(r.r), CAST(0 AS DECIMAL(18,9))) AS dm
         |  FROM r${i - 1} r LEFT JOIN outd ON outd.src = r.node
         |  WHERE outd.src IS NULL),
         |r$i AS (SELECT nodes.node,
         |  CAST(round((1.0 - 0.85) / nn.n +
         |         0.85 * (coalesce(CAST(c$i.m AS DOUBLE), 0.0)
         |           + CAST(d$i.dm AS DOUBLE) / nn.n), 9)
         |       AS DECIMAL(18,9)) AS r
         |  FROM nodes LEFT JOIN c$i ON c$i.dst = nodes.node, nn, d$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""$eCte,
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |outd AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(round(1.0 / nn.n, 9) AS DECIMAL(18,9)) AS r
       |       FROM nodes, nn),
       |$rounds""".stripMargin
  }

  private val pageRankSql: String = {
    val e = """e AS (SELECT DISTINCT 'c' || o_custkey AS src,
              |             's' || l_suppkey AS dst
              |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"""
      .stripMargin
    s"""WITH ${pageRankUnrolledCtes(e)}
       |SELECT node, CAST(r AS DOUBLE) AS rank
       |FROM r3 ORDER BY node""".stripMargin
  }

  // unrolled PPR CTEs: pageRank's replay with ALL teleport mass (restart
  // + dangling) returning to the seed set — in NANO-LONG integers with
  // explicit half-up division throughout (round(x/d) = (2x+d) // 2d),
  // because a non-seed update is exactly 0.85·in and 85k ≡ 50 (mod 100)
  // sits ON a decimal-round tie ~5% of the time (measured at sf0.1)
  private val pprSql: String = {
    val sflag = "(CASE WHEN fl.seed THEN ns.sn ELSE 0 END)"
    val iters = (1 to 3).map { i =>
      s"""c$i AS (SELECT e.dst,
         |  CAST(sum((2 * r.rn + outd.deg) // (2 * outd.deg)) AS BIGINT)
         |    AS inn
         |  FROM r${i - 1} r JOIN e ON r.node = e.src
         |  JOIN outd ON outd.src = e.src GROUP BY 1),
         |d$i AS (SELECT CAST(coalesce(sum(r.rn), 0) AS BIGINT) AS dmn
         |  FROM r${i - 1} r LEFT JOIN outd ON outd.src = r.node
         |  WHERE outd.src IS NULL),
         |r$i AS (SELECT fl.node, fl.seed,
         |  CAST((15 * $sflag + 85 * (coalesce(c$i.inn, 0) +
         |      (CASE WHEN fl.seed THEN
         |         (2 * d$i.dmn * ns.sn + 1000000000) // 2000000000
         |       ELSE 0 END)) + 50) // 100 AS BIGINT) AS rn
         |  FROM fl LEFT JOIN c$i ON c$i.dst = fl.node, ns, d$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT 'c' || o_custkey AS src,
       |             's' || l_suppkey AS dst
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |outd AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |sd AS (SELECT DISTINCT 'c' || c_custkey AS node FROM customer
       |       WHERE c_custkey % 100 = 0),
       |sn AS (SELECT nodes.node FROM nodes JOIN sd USING (node)),
       |ns AS (SELECT count(*) AS ns,
       |       (2000000000 + count(*)) // (2 * count(*)) AS sn FROM sn),
       |fl AS (SELECT nodes.node, sn.node IS NOT NULL AS seed
       |       FROM nodes LEFT JOIN sn ON nodes.node = sn.node),
       |r0 AS (SELECT fl.node, fl.seed,
       |       CAST($sflag AS BIGINT) AS rn FROM fl, ns),
       |$iters
       |SELECT node, CAST(rn AS DOUBLE) / 1000000000.0 AS rank
       |FROM r3 ORDER BY node""".stripMargin
  }

  // unrolled HITS CTEs: each half-step is (exact DECIMAL sum over the
  // edge relation) → (nano-unit integer square via HUGEINT, mirroring the
  // DECIMAL(38,0) widen-before-multiply in Graph.hits) → sqrt + one
  // division → 9-dp round; h0 = 1 on every node, a-step first
  private val hitsSql: String = {
    val iters = (1 to 3).map { i =>
      val h = if (i == 1) "h0" else s"h${i - 1}"
      s"""ar$i AS (SELECT nodes.node,
         |  coalesce(m.m, CAST(0 AS DECIMAL(18,9))) AS a
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst, sum(h.h) AS m FROM $h h
         |    JOIN e ON h.node = e.src GROUP BY 1) m
         |  ON m.dst = nodes.node),
         |an$i AS (SELECT node, CAST(a * 1000000000 AS BIGINT) AS xn
         |  FROM ar$i),
         |ass$i AS (SELECT sum(CAST(xn AS HUGEINT) * xn) AS ss FROM an$i),
         |a$i AS (SELECT node,
         |  CASE WHEN ass$i.ss = 0 THEN CAST(0 AS DECIMAL(18,9))
         |  ELSE CAST(round(CAST(xn AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)),
         |         9) AS DECIMAL(18,9)) END AS a
         |  FROM an$i, ass$i),
         |hr$i AS (SELECT nodes.node,
         |  coalesce(m.m, CAST(0 AS DECIMAL(18,9))) AS h
         |  FROM nodes LEFT JOIN (
         |    SELECT e.src, sum(a.a) AS m FROM a$i a
         |    JOIN e ON a.node = e.dst GROUP BY 1) m
         |  ON m.src = nodes.node),
         |hn$i AS (SELECT node, CAST(h * 1000000000 AS BIGINT) AS xn
         |  FROM hr$i),
         |hss$i AS (SELECT sum(CAST(xn AS HUGEINT) * xn) AS ss FROM hn$i),
         |h$i AS (SELECT node,
         |  CASE WHEN hss$i.ss = 0 THEN CAST(0 AS DECIMAL(18,9))
         |  ELSE CAST(round(CAST(xn AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)),
         |         9) AS DECIMAL(18,9)) END AS h
         |  FROM hn$i, hss$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT DISTINCT 'c' || o_custkey AS src,
       |             's' || l_suppkey AS dst
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT node, CAST(1 AS DECIMAL(18,9)) AS h FROM nodes),
       |$iters
       |SELECT h3.node, CAST(h3.h AS DOUBLE) AS hub,
       |  CAST(a3.a AS DOUBLE) AS authority
       |FROM h3 JOIN a3 ON h3.node = a3.node ORDER BY h3.node""".stripMargin
  }

  private val DecayHalfLife = 7
  private val DecayHorizon = 30
  private val AttribWindowUs = 3600L * 1000000L // 1 h before each purchase

  /** Click-attribution counts per purchase: every click in the hour before
    * a purchase (same user) attributes to it, via the bucketed range join
    * ([[graft.ops.RangeJoin.bucketed]], bucket = window width → ≤2 buckets
    * per interval). Purchases with no attributable clicks keep a zero row.
    */
  def attributionWindow(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (unix_micros(col("ts")) - AttribWindowUs).as("lo"),
        unix_micros(col("ts")).as("hi"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        round(col("value"), 2).cast(DecimalType(18, 2)).as("v"))
    val attributed = graft.ops.RangeJoin.bucketed(clicks, purchases,
        Seq("user_id"), "t", "lo", "hi", AttribWindowUs)
      .groupBy("user_id", "purchase_id")
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("v")).cast("double").as("click_value"))
    purchases.select("user_id", "purchase_id")
      .join(attributed, Seq("user_id", "purchase_id"), "left_outer")
      .select(col("user_id"), col("purchase_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("click_value"), lit(0.0)).as("click_value"))
      .orderBy("user_id", "purchase_id")
  }

  /** Per-user half-life-decayed purchase value relative to the corpus max
    * day ([[graft.ops.EventOps.decayedValueSum]]) — the recency-weighted
    * engagement feature, weights from the shared literal table.
    */
  def decayValue(spark: SparkSession, dir: String): DataFrame =
    EventOps.decayedValueSum(
        Tables.events(spark, dir).filter(col("event_type") === "purchase"),
        "user_id", "ts", "value", DecayHalfLife, DecayHorizon)
      .orderBy("user_id")

  /** Per-user activity-gap QA report over epoch days
    * ([[graft.ops.EventOps.activityGaps]]) — the silent-pipeline-hole
    * check run before trusting rolling features.
    */
  def activityGaps(spark: SparkSession, dir: String): DataFrame =
    EventOps.activityGaps(Tables.events(spark, dir), "user_id", "ts")
      .orderBy("user_id")

  private val CvFolds = 3
  private val CvHorizonDays = 7
  private val LateThresholdUs = 86400000000L // 1 day

  /** Rolling-origin CV membership for every event
    * ([[graft.ops.EventOps.rollingOriginSplit]]): 3 expanding-window
    * folds, 7-day test horizons anchored at the corpus max day.
    */
  def rollingOrigin(spark: SparkSession, dir: String): DataFrame =
    EventOps.rollingOriginSplit(Tables.events(spark, dir), "ts",
        CvFolds, CvHorizonDays)
      .select("user_id", "event_id", "fold", "role")
      .orderBy("user_id", "event_id", "fold")

  /** Per-user event-time lateness profile in event_id arrival order
    * ([[graft.ops.EventOps.latenessProfile]]) — the watermark-picking
    * measurement; late = lagging the running max by > 1 day.
    */
  def lateness(spark: SparkSession, dir: String): DataFrame =
    EventOps.latenessProfile(Tables.events(spark, dir), "user_id", "ts",
        "event_id", LateThresholdUs)
      .orderBy("user_id")

  private val CohortBucketDays = 7
  private val ChurnHorizonUs = 7L * 86400L * 1000000L // 7-day label window

  /** Weekly cohort retention matrix over the event stream
    * ([[graft.ops.EventOps.cohortRetention]]) — users cohorted by
    * first-activity week, each cell = share still active N weeks later.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame =
    EventOps.cohortRetention(Tables.events(spark, dir), "user_id", "ts",
        CohortBucketDays)
      .orderBy("cohort_period", "period_offset")

  /** Churn labels with a 7-day label window
    * ([[graft.ops.EventOps.churnLabels]]) — users observed before the
    * window, labeled by absence of activity inside it.
    */
  def churnLabels(spark: SparkSession, dir: String): DataFrame =
    EventOps.churnLabels(Tables.events(spark, dir), "user_id", "ts",
        ChurnHorizonUs)
      .orderBy("user_id")

  /** Directed event-type association rules within 6-hour sessions
    * ([[graft.ops.EventOps.associationRules]]) — support / confidence /
    * lift over the same session machinery as [[sessionPmi]].
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    EventOps.associationRules(
        Prep.sessionize(Tables.events(spark, dir), "user_id", "ts",
          "event_id", PmiGapSec),
        Seq("user_id", "session_idx"), "event_type")
      .orderBy("antecedent", "consequent")

  /** "A then B" sequential-pattern support within 6-hour sessions
    * ([[graft.ops.EventOps.sequencePatterns]]) — first-occurrence
    * precedence counts over the same session machinery as [[sessionPmi]].
    */
  def seqPatterns(spark: SparkSession, dir: String): DataFrame =
    EventOps.sequencePatterns(
        Prep.sessionize(Tables.events(spark, dir), "user_id", "ts",
          "event_id", PmiGapSec),
        Seq("user_id", "session_idx"), "event_type", "ts", "event_id")
      .orderBy("antecedent", "consequent")

  /** Linear multi-touch attribution credit per click
    * ([[graft.ops.EventOps.linearAttribution]]): each purchase splits one
    * unit of credit equally across the user's clicks in the preceding
    * hour; first/last-touch counts tie-break on (ts, event_id).
    */
  def attributionCredit(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (unix_micros(col("ts")) - AttribWindowUs).as("lo"),
        unix_micros(col("ts")).as("hi"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("t"))
    EventOps.linearAttribution(clicks, purchases, Seq("user_id"),
        "t", "click_id", "lo", "hi", "purchase_id", AttribWindowUs)
      .orderBy("user_id", "click_id")
  }

  val registry: Map[String, Query] = Map(
    // distinct (basket, item) first; pair join bounded by basket size;
    // sim = one fixed IEEE sequence (sqrt·sqrt, ×, ÷) rounded 9 dp
    "feat_item_cf" -> Query(itemCf, Some(
      s"""WITH present AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
         |                 FROM lineitem),
         |ic AS (SELECT i, count(*) AS n FROM present GROUP BY 1),
         |p AS (SELECT l.i AS a, r.i AS b2, count(*) AS n_ab
         |      FROM present l JOIN present r
         |        ON l.b = r.b AND l.i < r.i GROUP BY 1, 2),
         |o AS (SELECT a AS item, b2 AS neighbor, n_ab FROM p
         |      UNION ALL
         |      SELECT b2 AS item, a AS neighbor, n_ab FROM p),
         |s AS (SELECT o.item, o.neighbor, CAST(o.n_ab AS BIGINT) AS n_ab,
         |        ia.n AS n_i, ib.n AS n_j,
         |        round(CAST(o.n_ab AS DOUBLE) / (sqrt(ia.n) * sqrt(ib.n)),
         |          9) AS sim
         |      FROM o JOIN ic ia ON o.item = ia.i
         |             JOIN ic ib ON o.neighbor = ib.i),
         |r AS (SELECT *, row_number() OVER (PARTITION BY item
         |        ORDER BY sim DESC, neighbor) AS rank FROM s)
         |SELECT item, neighbor, n_ab, n_i, n_j, sim,
         |  CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= $ItemCfK ORDER BY item, rank""".stripMargin)),
    // integer calendar arithmetic only: hour from epoch-µs remainder,
    // the PMI/WOE ln discipline: one division, round(p*ln p, 9), exact
    // DECIMAL sum, negated (+0.0 canonicalizes a single-type key's -0.0)
    "feat_user_entropy" -> Query(userEntropy, Some(
      """WITH c AS (SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, c,
        |    sum(c) OVER (PARTITION BY user_id) AS n_events
        |  FROM c),
        |e AS (SELECT user_id, n_events, count(*) AS n_types,
        |    sum(CAST(round((CAST(c AS DOUBLE) / n_events)
        |      * ln(CAST(c AS DOUBLE) / n_events), 9) AS DECIMAL(28,9)))
        |      AS s
        |  FROM t GROUP BY user_id, n_events)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events, n_types,
        |  -CAST(s AS DOUBLE) + 0.0 AS entropy_nats
        |FROM e ORDER BY user_id""".stripMargin)),
    // integer epoch-micros only; keys first active after the anchor are
    // excluded (never at risk)
    "feat_survival_labels" -> Query(survivalLabels, Some(
      s"""WITH a AS (SELECT max(epoch_us(ts)) - $SurvivalHorizonUs
         |             AS anchor FROM events),
         |r AS (SELECT user_id, count(*) AS n_prior, max(anchor) AS anc
         |      FROM events, a WHERE epoch_us(ts) <= anchor
         |      GROUP BY user_id),
         |f AS (SELECT user_id, min(epoch_us(ts)) AS t_event
         |      FROM events, a
         |      WHERE event_type = 'purchase' AND epoch_us(ts) > anchor
         |        AND epoch_us(ts) <= anchor + $SurvivalHorizonUs
         |      GROUP BY user_id)
         |SELECT r.user_id, r.n_prior,
         |  CASE WHEN f.t_event IS NOT NULL THEN f.t_event - r.anc
         |       ELSE $SurvivalHorizonUs END AS duration_us,
         |  CAST(CASE WHEN f.t_event IS NOT NULL THEN 1 ELSE 0 END
         |    AS BIGINT) AS event
         |FROM r LEFT JOIN f USING (user_id)
         |ORDER BY user_id""".stripMargin)),
    // the identical RANGE frame (self and exact-ts peers excluded) and
    // DECIMAL-exact trailing sums; z is one fixed IEEE sequence
    "feat_rolling_anomaly" -> Query(rollingAnomaly, Some(
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
         |  FROM events WHERE user_id < 20),
         |q AS (SELECT user_id, event_id, ts_us, value,
         |    CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 1000000
         |      AS BIGINT) AS v6
         |  FROM e),
         |w AS (SELECT user_id, event_id, ts_us, value,
         |    count(v6) OVER win AS n_window,
         |    CAST(sum(v6) OVER win AS HUGEINT) AS s6,
         |    CAST(sum(CAST(v6 AS HUGEINT) * v6) OVER win AS HUGEINT) AS s2
         |  FROM q
         |  WINDOW win AS (PARTITION BY user_id ORDER BY ts_us
         |    RANGE BETWEEN $AnomalyWindowUs PRECEDING AND 1 PRECEDING)),
         |v AS (SELECT user_id, event_id, ts_us, value, n_window,
         |    n_window * s2 - s6 * s6 AS varnum,
         |    CAST(s6 AS DOUBLE)
         |      / (CAST(n_window AS DOUBLE) * 1000000.0) AS m,
         |    CAST(n_window * s2 - s6 * s6 AS DOUBLE)
         |      / (CAST(n_window AS DOUBLE) * n_window * 1000000000000.0)
         |      AS var_raw
         |  FROM w)
         |SELECT user_id, event_id, ts_us, value, n_window,
         |  var_raw AS var_window,
         |  CASE WHEN n_window >= $AnomalyMinEvents AND varnum > 0
         |    THEN round((value - m) / sqrt(var_raw), 6) END AS z,
         |  CASE WHEN n_window >= $AnomalyMinEvents AND varnum > 0
         |    THEN abs(round((value - m) / sqrt(var_raw), 6)) > 2.0 END
         |    AS is_anomaly
         |FROM v ORDER BY user_id, event_id""".stripMargin)),
    // same ntile orders with key tie-breaks; monetary sums round(value,6)
    // through DECIMAL(18,6) exactly as the Spark side
    "feat_rfm" -> Query(rfmScores, Some(
      """WITH a AS (SELECT max(epoch_us(ts)) AS anchor FROM events),
        |k AS (SELECT user_id,
        |    CAST((anchor - max(epoch_us(ts))) // 86400000000 AS BIGINT)
        |      AS recency_days,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS monetary
        |  FROM events, a GROUP BY user_id, anchor),
        |s AS (SELECT user_id, recency_days, frequency, monetary,
        |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id)
        |      AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS BIGINT)
        |      AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary, user_id) AS BIGINT)
        |      AS m_score
        |  FROM k)
        |SELECT user_id, frequency, monetary, recency_days, r_score, f_score,
        |  m_score, r_score * 100 + f_score * 10 + m_score AS rfm_code
        |FROM s ORDER BY user_id""".stripMargin)),
    // dow = (epoch_day + 4) mod 7 with 0 = Sunday — no calendar functions
    "feat_seasonality" -> Query(seasonality, Some(
      """WITH b AS (SELECT user_id,
        |    (((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
        |      // 3600000000 AS hour,
        |    ((((epoch_us(ts) // 86400000000) + 4) % 7) + 7) % 7 AS dow
        |  FROM events),
        |pk AS (SELECT user_id, count(*) AS n_events,
        |    CAST(sum(CASE WHEN dow IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_weekend
        |  FROM b GROUP BY 1),
        |hc AS (SELECT user_id, hour, count(*) AS c FROM b GROUP BY 1, 2),
        |pkh AS (SELECT user_id, hour AS peak_hour, c AS peak_n,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY c DESC, hour) AS rn
        |  FROM hc),
        |nh AS (SELECT user_id, count(*) AS n_hours FROM hc GROUP BY 1)
        |SELECT pk.user_id, pk.n_events, nh.n_hours, pkh.peak_hour,
        |  pkh.peak_n,
        |  round(CAST(pkh.peak_n AS DOUBLE) / pk.n_events, 9) AS peak_share,
        |  round(CAST(pk.n_weekend AS DOUBLE) / pk.n_events, 9)
        |    AS weekend_share
        |FROM pk JOIN nh ON pk.user_id = nh.user_id
        |        JOIN pkh ON pk.user_id = pkh.user_id AND pkh.rn = 1
        |ORDER BY pk.user_id""".stripMargin)),
    // sessionize CTEs shared with feat_session_pmi; both directed rules
    // from each undirected pair; integer counts until one division each
    "feat_assoc_rules" -> Query(assocRules, Some(
      s"""WITH l AS (SELECT user_id, event_id, ts, event_type,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS prev_ts
         |  FROM events),
         |s AS (SELECT user_id, event_id, ts, event_type,
         |    CASE WHEN prev_ts IS NULL
         |           OR epoch_us(ts) - epoch_us(prev_ts)
         |              > ${PmiGapSec * 1000000L}
         |      THEN 1 ELSE 0 END AS is_new
         |  FROM l),
         |x AS (SELECT user_id, event_type,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM s),
         |pres AS (SELECT DISTINCT user_id, session_idx, event_type FROM x),
         |tot AS (SELECT count(DISTINCT (user_id, session_idx)) AS n_sessions
         |  FROM pres),
         |ic AS (SELECT event_type, count(*) AS n_item FROM pres GROUP BY 1),
         |pr AS (SELECT l.event_type AS item_a, r.event_type AS item_b,
         |    count(*) AS n_ab
         |  FROM pres l JOIN pres r
         |    ON l.user_id = r.user_id AND l.session_idx = r.session_idx
         |   AND l.event_type < r.event_type
         |  GROUP BY 1, 2),
         |dr AS (SELECT item_a AS antecedent, item_b AS consequent, n_ab
         |    FROM pr
         |  UNION ALL
         |  SELECT item_b, item_a, n_ab FROM pr)
         |SELECT antecedent, consequent, n_ab, a.n_item AS n_ant,
         |  b.n_item AS n_cons, n_sessions,
         |  round(CAST(n_ab AS DOUBLE) / n_sessions, 9) AS support,
         |  round(CAST(n_ab AS DOUBLE) / a.n_item, 9) AS confidence,
         |  round(CAST(n_ab * n_sessions AS DOUBLE) / (a.n_item * b.n_item),
         |    9) AS lift
         |FROM dr
         |JOIN ic a ON a.event_type = dr.antecedent
         |JOIN ic b ON b.event_type = dr.consequent, tot
         |ORDER BY antecedent, consequent""".stripMargin)),
    // sessionize CTEs shared with feat_session_pmi; firsts via rn=1 on
    // (ts, event_id) ≡ the min-struct; strict (ts, id) precedence compare
    "feat_seq_patterns" -> Query(seqPatterns, Some(
      s"""WITH l AS (SELECT user_id, event_id, ts, event_type,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS prev_ts
         |  FROM events),
         |s AS (SELECT user_id, event_id, ts, event_type,
         |    CASE WHEN prev_ts IS NULL
         |           OR epoch_us(ts) - epoch_us(prev_ts)
         |              > ${PmiGapSec * 1000000L}
         |      THEN 1 ELSE 0 END AS is_new
         |  FROM l),
         |x AS (SELECT user_id, event_id, ts, event_type,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM s),
         |fr AS (SELECT user_id, session_idx, event_type AS item, ts,
         |    event_id,
         |    row_number() OVER (PARTITION BY user_id, session_idx, event_type
         |      ORDER BY ts, event_id) AS rn
         |  FROM x),
         |f AS (SELECT user_id, session_idx, item, ts, event_id FROM fr
         |  WHERE rn = 1),
         |tot AS (SELECT count(DISTINCT (user_id, session_idx)) AS n_sessions
         |  FROM f),
         |ic AS (SELECT item, count(*) AS n_item FROM f GROUP BY 1),
         |pr AS (SELECT a.item AS antecedent, b.item AS consequent,
         |    count(*) AS n_seq
         |  FROM f a JOIN f b
         |    ON a.user_id = b.user_id AND a.session_idx = b.session_idx
         |   AND a.item <> b.item
         |   AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
         |  GROUP BY 1, 2)
         |SELECT antecedent, consequent, n_seq, ic.n_item AS n_ant,
         |  n_sessions,
         |  round(CAST(n_seq AS DOUBLE) / n_sessions, 9) AS support,
         |  round(CAST(n_seq AS DOUBLE) / ic.n_item, 9) AS confidence
         |FROM pr JOIN ic ON ic.item = pr.antecedent, tot
         |ORDER BY antecedent, consequent""".stripMargin)),
    // cohort = each user's min activity week; cohort_size = the cell at
    // offset 0 (every user is active in its own first week by definition)
    "feat_cohort_retention" -> Query(cohortRetention, Some(
      s"""WITH kp AS (SELECT DISTINCT user_id,
         |    (epoch_us(ts) // 86400000000) // $CohortBucketDays AS p
         |  FROM events),
         |c AS (SELECT user_id, min(p) AS c FROM kp GROUP BY 1),
         |cells AS (SELECT c.c AS cohort_period, kp.p - c.c AS period_offset,
         |    count(*) AS n_active
         |  FROM kp JOIN c USING (user_id) GROUP BY 1, 2),
         |sized AS (SELECT cohort_period, period_offset, n_active,
         |    max(CASE WHEN period_offset = 0 THEN n_active END)
         |      OVER (PARTITION BY cohort_period) AS cohort_size
         |  FROM cells)
         |SELECT cohort_period, period_offset, n_active, cohort_size,
         |  round(CAST(n_active AS DOUBLE) / cohort_size, 9) AS retention
         |FROM sized ORDER BY cohort_period, period_offset""".stripMargin)),
    // observed-before-cut users only; churned = no activity in the window
    "feat_churn_labels" -> Query(churnLabels, Some(
      s"""WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |e AS (SELECT user_id, epoch_us(ts) AS ts_us,
         |    epoch_us(ts) <= mx - $ChurnHorizonUs AS obs
         |  FROM events, m),
         |g AS (SELECT user_id,
         |    CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_events_obs,
         |    max(CASE WHEN obs THEN ts_us END) AS last_seen_us,
         |    max(CASE WHEN NOT obs THEN 1 ELSE 0 END) AS act
         |  FROM e GROUP BY 1)
         |SELECT user_id, n_events_obs, last_seen_us, act = 0 AS churned
         |FROM g WHERE n_events_obs > 0 ORDER BY user_id""".stripMargin)),
    // candidates via the BETWEEN predicate (≡ the bucketed equi-join);
    // credit = round(1/n, 9) DECIMAL so per-click sums are exact
    "feat_attribution_credit" -> Query(attributionCredit, Some(
      s"""WITH p AS (SELECT user_id, event_id AS purchase_id,
         |    epoch_us(ts) - $AttribWindowUs AS lo, epoch_us(ts) AS hi
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS t
         |  FROM events WHERE event_type = 'click'),
         |cand AS (SELECT p.user_id, purchase_id, click_id, t
         |  FROM p JOIN c ON p.user_id = c.user_id
         |    AND c.t >= p.lo AND c.t <= p.hi),
         |w AS (SELECT user_id, purchase_id, click_id,
         |    count(*) OVER (PARTITION BY user_id, purchase_id) AS n,
         |    row_number() OVER (PARTITION BY user_id, purchase_id
         |      ORDER BY t, click_id) AS rn
         |  FROM cand)
         |SELECT user_id, click_id, count(*) AS n_assists,
         |  CAST(sum(CAST(round(CAST(1 AS DOUBLE) / n, 9) AS DECIMAL(18,9)))
         |    AS DOUBLE) AS linear_credit,
         |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_first_touch,
         |  CAST(sum(CASE WHEN rn = n THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_last_touch
         |FROM w GROUP BY 1, 2 ORDER BY user_id, click_id""".stripMargin)),
    "feat_rolling_origin" -> Query(rollingOrigin, Some(
      s"""WITH a AS (SELECT max(epoch_us(ts) // 86400000000) AS maxday
         |           FROM events),
         |e AS (SELECT user_id, event_id,
         |    epoch_us(ts) // 86400000000 AS day FROM events),
         |f AS (SELECT unnest(generate_series(1, $CvFolds)) AS fold),
         |x AS (SELECT user_id, event_id, CAST(fold AS BIGINT) AS fold,
         |    CASE WHEN day <= maxday - ($CvFolds - fold + 1) * $CvHorizonDays
         |        THEN 'train'
         |      WHEN day <= maxday - ($CvFolds - fold + 1) * $CvHorizonDays
         |          + $CvHorizonDays THEN 'test' END AS role
         |  FROM e CROSS JOIN a CROSS JOIN f)
         |SELECT user_id, event_id, fold, role FROM x
         |WHERE role IS NOT NULL
         |ORDER BY user_id, event_id, fold""".stripMargin)),
    "feat_lateness" -> Query(lateness, Some(
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
         |           FROM events),
         |l AS (SELECT user_id,
         |    greatest(coalesce(max(ts_us) OVER (PARTITION BY user_id
         |        ORDER BY event_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |      - ts_us, 0), 0) AS late
         |  FROM e)
         |SELECT user_id, count(*) AS n_events,
         |  CAST(sum(CASE WHEN late > $LateThresholdUs THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_late,
         |  CAST(max(late) AS BIGINT) AS max_lateness_us,
         |  round(CAST(sum(late) AS DOUBLE) / count(*), 9)
         |    AS mean_lateness_us
         |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin)),
    "feat_activity_gaps" -> Query(activityGaps, Some(
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (SELECT user_id, day,
        |    day - lag(day) OVER (PARTITION BY user_id ORDER BY day) - 1
        |      AS gap
        |  FROM d)
        |SELECT user_id, count(*) AS n_days,
        |  CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days,
        |  CAST(max(day) - min(day) + 1 - count(*) AS BIGINT)
        |    AS missing_days,
        |  CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_days
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // the bucketed equi-join ≡ the declarative BETWEEN join
    "feat_attribution_window" -> Query(attributionWindow, Some(
      s"""WITH p AS (SELECT user_id, event_id AS purchase_id,
         |    epoch_us(ts) - $AttribWindowUs AS lo, epoch_us(ts) AS hi
         |  FROM events WHERE event_type = 'purchase'),
         |c AS (SELECT user_id, epoch_us(ts) AS t,
         |    CAST(round(value, 2) AS DECIMAL(18,2)) AS v
         |  FROM events WHERE event_type = 'click'),
         |a AS (SELECT p.user_id, p.purchase_id, count(*) AS n_clicks,
         |    CAST(sum(v) AS DOUBLE) AS click_value
         |  FROM p JOIN c ON p.user_id = c.user_id
         |    AND c.t >= p.lo AND c.t <= p.hi
         |  GROUP BY 1, 2)
         |SELECT p.user_id, p.purchase_id,
         |  coalesce(a.n_clicks, 0) AS n_clicks,
         |  coalesce(a.click_value, 0.0) AS click_value
         |FROM p LEFT JOIN a USING (user_id, purchase_id)
         |ORDER BY user_id, purchase_id""".stripMargin)),
    // weight CASE chain shares EventOps.decayWeight's DECIMAL literals;
    // contributions are exact DECIMAL(18,2)·DECIMAL(10,9) products
    "feat_decay_value" -> Query(decayValue, Some({
      val arms = (0 to DecayHorizon).map { d =>
        val w = EventOps.decayWeight(d, DecayHalfLife)
        s"WHEN delta = $d THEN CAST($w AS DECIMAL(10,9))"
      }.mkString(" ")
      s"""WITH e AS (SELECT user_id,
         |    epoch_us(ts) // 86400000000 AS day,
         |    CAST(round(value, 2) AS DECIMAL(18,2)) AS v
         |  FROM events WHERE event_type = 'purchase'),
         |a AS (SELECT max(day) AS anchor FROM e),
         |w AS (SELECT user_id, v, anchor - day AS delta,
         |    CASE $arms ELSE CAST(0 AS DECIMAL(10,9)) END AS wt
         |  FROM e CROSS JOIN a)
         |SELECT user_id, count(*) AS n_events,
         |  CAST(sum(CASE WHEN delta <= $DecayHorizon THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_in_horizon,
         |  CAST(sum(wt) AS DOUBLE) AS decay_weight,
         |  CAST(sum(v * wt) AS DOUBLE) AS decay_value
         |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin
    })),
    // sessionize CTEs shared with prep_sessionize (full stream, no user
    // filter); presence-distinct per session, integer products exact in
    // BIGINT, one division + ln rounded 9 dp
    "feat_session_pmi" -> Query(sessionPmi, Some(
      s"""WITH l AS (SELECT user_id, event_id, ts, event_type,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         |      AS prev_ts
         |  FROM events),
         |s AS (SELECT user_id, event_id, ts, event_type,
         |    CASE WHEN prev_ts IS NULL
         |           OR epoch_us(ts) - epoch_us(prev_ts)
         |              > ${PmiGapSec * 1000000L}
         |      THEN 1 ELSE 0 END AS is_new
         |  FROM l),
         |x AS (SELECT user_id, event_type,
         |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM s),
         |pres AS (SELECT DISTINCT user_id, session_idx, event_type FROM x),
         |tot AS (SELECT count(DISTINCT (user_id, session_idx)) AS n_sessions
         |  FROM pres),
         |ic AS (SELECT event_type, count(*) AS n_item FROM pres GROUP BY 1),
         |pr AS (SELECT l.event_type AS item_a, r.event_type AS item_b,
         |    count(*) AS n_ab
         |  FROM pres l JOIN pres r
         |    ON l.user_id = r.user_id AND l.session_idx = r.session_idx
         |   AND l.event_type < r.event_type
         |  GROUP BY 1, 2)
         |SELECT item_a, item_b, n_ab, a.n_item AS n_a, b.n_item AS n_b,
         |  n_sessions,
         |  round(ln(CAST(n_ab * n_sessions AS DOUBLE) / (a.n_item * b.n_item)),
         |    9) AS pmi
         |FROM pr
         |JOIN ic a ON a.event_type = pr.item_a
         |JOIN ic b ON b.event_type = pr.item_b, tot
         |ORDER BY item_a, item_b""".stripMargin)),
    // the bound is the identical IEEE op sequence as the Spark expression:
    // p = s/n, (p + zz/(2n) − z·sqrt((p(1−p) + zz/(4n))/n)) / (1 + zz/n)
    "feat_wilson_rank" -> Query(wilsonRank, Some(
      s"""WITH g AS (SELECT user_id, count(*) AS n,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS s
         |  FROM events GROUP BY 1),
         |w AS (SELECT user_id, n, s,
         |    CAST(s AS DOUBLE) / n AS p,
         |    ($WilsonZ * $WilsonZ) AS zz
         |  FROM g)
         |SELECT user_id, n, s,
         |  round((p + zz / (n * 2)
         |      - $WilsonZ * sqrt((p * (1.0 - p) + zz / (n * 4)) / n))
         |    / (1.0 + zz / n), 9) AS wilson_lb
         |FROM w ORDER BY wilson_lb DESC, user_id LIMIT $WilsonTopK""".stripMargin)),
    "feat_pagerank" -> Query(pageRankSuppliers, Some(pageRankSql)),
    "feat_ppr" -> Query(personalizedPr, Some(pprSql)),
    "feat_lpa_communities" -> Query(lpaCommunities, Some(lpaSql)),
    // the SAME per-round peel unrolled by one Scala loop: degree-ordered
    // orientation (row-value compare), wedge close via EXISTS, 3-way
    // triangle credit explode, support filter
    "feat_ktruss" -> Query(ktrussParts, Some({
      val k = KtrussK; val rounds = KtrussRounds
      val roundCtes = (1 to rounds).map { r =>
        s"""deg$r AS MATERIALIZED (SELECT n, count(*) AS d FROM (
           |    SELECT u AS n FROM e${r - 1}
           |    UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1),
           |o$r AS MATERIALIZED (SELECT
           |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END
           |      AS s,
           |    CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END
           |      AS t
           |  FROM e${r - 1} e JOIN deg$r du ON du.n = e.u
           |                   JOIN deg$r dv ON dv.n = e.v),
           |tri$r AS MATERIALIZED (SELECT o1.s, o1.t AS w1, o2.t AS w2
           |  FROM o$r o1 JOIN o$r o2 ON o1.s = o2.s AND o1.t < o2.t
           |  WHERE EXISTS (SELECT 1 FROM e${r - 1} x
           |                WHERE x.u = o1.t AND x.v = o2.t)),
           |cr$r AS MATERIALIZED (SELECT u, v, count(*) AS support FROM (
           |    SELECT least(s, w1) AS u, greatest(s, w1) AS v FROM tri$r
           |    UNION ALL SELECT least(s, w2), greatest(s, w2) FROM tri$r
           |    UNION ALL SELECT w1, w2 FROM tri$r) GROUP BY 1, 2),
           |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
           |  LEFT JOIN cr$r c USING (u, v)
           |  WHERE coalesce(c.support, 0) >= ${k - 2})""".stripMargin
      }.mkString(",\n")
      s"""WITH present AS MATERIALIZED (SELECT DISTINCT l_orderkey AS b,
         |    l_partkey AS i
         |  FROM lineitem),
         |pairs AS MATERIALIZED (SELECT l.i AS pa, r.i AS pb, count(*) AS n_ab
         |  FROM present l JOIN present r
         |    ON l.b = r.b AND l.i < r.i GROUP BY 1, 2),
         |e0 AS MATERIALIZED (SELECT DISTINCT
         |    least(CAST(pa AS VARCHAR), CAST(pb AS VARCHAR)) AS u,
         |    greatest(CAST(pa AS VARCHAR), CAST(pb AS VARCHAR)) AS v
         |  FROM pairs WHERE n_ab >= $KtrussCoThresh
         |    AND CAST(pa AS VARCHAR) <> CAST(pb AS VARCHAR)),
         |$roundCtes
         |SELECT e.u, e.v, coalesce(c.support, 0) AS support
         |FROM e$rounds e LEFT JOIN cr$rounds c USING (u, v)
         |ORDER BY u, v""".stripMargin
    })),
    // pair counts C(x,2) exact in HUGEINT (x(x-1) even => // 2 exact);
    // labels replayed by the SAME unrolled-LPA CTEs; one division
    "feat_ari_nations" -> Query(ariNations, Some(
      s"""WITH $lpaCtes,
         |lab AS (SELECT node, community AS a FROM l$LpaRounds),
         |nat AS (SELECT 'c' || c_custkey AS node,
         |               'n' || c_nationkey AS b FROM customer
         |        UNION ALL
         |        SELECT 's' || s_suppkey, 'n' || s_nationkey
         |        FROM supplier),
         |j AS (SELECT a, b, count(*) AS o FROM lab JOIN nat USING (node)
         |      GROUP BY 1, 2),
         |cells AS (SELECT count(*) AS n_cells, CAST(sum(o) AS BIGINT) AS n,
         |    CAST(sum(CAST(o AS HUGEINT) * (o - 1) // 2) AS HUGEINT)
         |      AS sum_comb FROM j),
         |sa AS (SELECT CAST(sum(CAST(ra AS HUGEINT) * (ra - 1) // 2)
         |    AS HUGEINT) AS sum_a
         |  FROM (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM j
         |        GROUP BY 1)),
         |sb AS (SELECT CAST(sum(CAST(cb AS HUGEINT) * (cb - 1) // 2)
         |    AS HUGEINT) AS sum_b
         |  FROM (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM j
         |        GROUP BY 1)),
         |t AS (SELECT *, CAST(n AS HUGEINT) * (n - 1) // 2 AS tot
         |  FROM cells, sa, sb)
         |SELECT n, n_cells, CAST(sum_comb AS BIGINT) AS sum_comb,
         |  CAST(sum_a AS BIGINT) AS sum_a, CAST(sum_b AS BIGINT) AS sum_b,
         |  CASE WHEN (sum_a + sum_b) * tot - 2 * sum_a * sum_b <> 0 THEN
         |    CAST(2 * sum_comb * tot - 2 * sum_a * sum_b AS DOUBLE) /
         |      CAST((sum_a + sum_b) * tot - 2 * sum_a * sum_b AS DOUBLE)
         |  END AS ari
         |FROM t ORDER BY n""".stripMargin)),
    // Q all-integer as (4m·Σe_c − Σdeg_c²)/(4m²) down to one division;
    // labels replayed by the SAME unrolled-LPA CTEs; c-nodes sort
    // before s-nodes so e0 is already the canonical undirected set
    "feat_modularity" -> Query(lpaModularity, Some(
      s"""WITH $lpaCtes,
         |lab AS (SELECT node, community FROM l$LpaRounds),
         |em AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
         |deg AS (SELECT node, count(*) AS d
         |  FROM (SELECT u AS node FROM e0
         |        UNION ALL SELECT v FROM e0) GROUP BY 1),
         |dc AS (SELECT community, count(*) AS n_nodes,
         |    CAST(sum(d) AS BIGINT) AS degree_sum
         |  FROM deg JOIN lab USING (node) GROUP BY 1),
         |ec AS (SELECT lu.community, count(*) AS internal
         |  FROM e0 JOIN lab lu ON e0.u = lu.node
         |          JOIN lab lv ON e0.v = lv.node
         |  WHERE lu.community = lv.community GROUP BY 1),
         |tot AS (SELECT CAST(sum(CAST(degree_sum AS HUGEINT) * degree_sum)
         |    AS HUGEINT) AS sum_deg2 FROM dc),
         |ti AS (SELECT CAST(coalesce(sum(internal), 0) AS HUGEINT)
         |    AS sum_int FROM ec)
         |SELECT dc.community, CAST(n_nodes AS BIGINT) AS n_nodes,
         |  degree_sum, coalesce(internal, 0)::BIGINT AS internal_edges,
         |  CAST(4 * CAST(m AS HUGEINT) * sum_int - sum_deg2 AS DOUBLE) /
         |    CAST(4 * CAST(m AS HUGEINT) * m AS DOUBLE) AS modularity
         |FROM dc LEFT JOIN ec USING (community), em, tot, ti
         |ORDER BY community""".stripMargin)),
    "feat_hits" -> Query(hitsSuppliers, Some(hitsSql)),
    // F = (n·Σc² − (Σc)²)/(n·Σc): one rational of integer sums, one
    // division rounded 9 dp; HUGEINT carries the squares
    "feat_fano_burstiness" -> Query(fano, Some(
      """WITH g AS (SELECT user_id AS key,
        |    epoch_us(ts) // 86400000000 AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT key, count(*) AS n_days,
        |    CAST(sum(c) AS BIGINT) AS n_events,
        |    sum(c::HUGEINT * c) AS ss
        |  FROM g GROUP BY 1)
        |SELECT key, n_days, n_events,
        |  round(CAST(n_events AS DOUBLE) / n_days, 9) AS mean_per_day,
        |  round(CAST(n_days::HUGEINT * ss - n_events::HUGEINT * n_events
        |      AS DOUBLE) / CAST(n_days::HUGEINT * n_events AS DOUBLE), 9)
        |    AS fano
        |FROM a ORDER BY key""".stripMargin)),
    // CUSUM prefix closed form: s⁺ = prefix − min(prefix, 0 incl.),
    // s⁻ symmetric; 9-dp contributions in exact DECIMAL prefix sums,
    // μ/σ/k/h fixed IEEE steps from integer count sums
    // two unrolled binseg levels: per-segment prefix sums, the exact
    // Otsu-form gain from BIGINT products (< 2^53, casts exact), argmax
    // struct with earliest-day tie-break; one-day segments don't re-split
    "feat_binseg_changepoints" -> Query(binseg, Some({
      def level(t: Int, seg: String) =
        s"""pf$t AS (SELECT s.lo, s.hi, g.idx, g.d,
           |    CAST(sum(g.x) OVER (PARTITION BY s.lo, s.hi ORDER BY g.idx)
           |      AS BIGINT) AS s0,
           |    count(*) OVER (PARTITION BY s.lo, s.hi ORDER BY g.idx)
           |      AS w0,
           |    CAST(sum(g.x) OVER (PARTITION BY s.lo, s.hi) AS BIGINT)
           |      AS st,
           |    count(*) OVER (PARTITION BY s.lo, s.hi) AS nt
           |  FROM grid g JOIN $seg s ON g.idx BETWEEN s.lo AND s.hi),
           |cand$t AS (SELECT lo, hi, idx, d,
           |    round(CAST(s0 * nt - st * w0 AS DOUBLE)
           |      * CAST(s0 * nt - st * w0 AS DOUBLE)
           |      / CAST(w0 * (nt - w0) AS DOUBLE), 6) AS gain,
           |    s0, w0, st, nt
           |  FROM pf$t WHERE idx < hi),
           |best$t AS MATERIALIZED (SELECT lo, hi,
           |    max(struct_pack(gain := gain, mi := -idx, d := d,
           |      s0 := s0, w0 := w0, st := st, nt := nt)) AS b
           |  FROM cand$t GROUP BY 1, 2),
           |r$t AS (SELECT $t AS level, lo, hi, -(b.mi) AS split,
           |    b.d AS split_day, b.gain AS gain, b.s0 AS sl, b.w0 AS nl,
           |    b.st - b.s0 AS sr, b.nt - b.w0 AS nr
           |  FROM best$t)""".stripMargin
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS x
         |  FROM events WHERE value IS NOT NULL GROUP BY 1),
         |grid AS (SELECT gs.d - (SELECT min(d) FROM daily) AS idx, gs.d,
         |    coalesce(daily.x, 0) AS x
         |  FROM (SELECT unnest(generate_series(mn, mx)) AS d
         |        FROM (SELECT min(d) AS mn, max(d) AS mx FROM daily)) gs
         |  LEFT JOIN daily USING (d)),
         |seg1 AS (SELECT 0::BIGINT AS lo,
         |    (SELECT max(idx) FROM grid) AS hi),
         |${level(1, "seg1")},
         |seg2 AS (SELECT lo, split AS hi FROM r1
         |  UNION ALL SELECT split + 1, hi FROM r1),
         |seg2f AS (SELECT * FROM seg2 WHERE hi > lo),
         |${level(2, "seg2f")}
         |SELECT level, lo + (SELECT min(d) FROM daily) AS lo_day,
         |  hi + (SELECT min(d) FROM daily) AS hi_day, split_day,
         |  nl AS n_left, nr AS n_right, CAST(sl AS BIGINT)
         |    AS sum_left_cents, CAST(sr AS BIGINT) AS sum_right_cents,
         |  gain
         |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
         |ORDER BY level, lo_day""".stripMargin
    })),
    "feat_cusum_alarm" -> Query(cusum, Some(
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    count(*) AS c
        |  FROM events GROUP BY 1),
        |st AS (SELECT count(*) AS n, CAST(sum(c) AS BIGINT) AS s,
        |         sum(c::HUGEINT * c) AS ss FROM daily),
        |mu AS (SELECT n, round(CAST(s AS DOUBLE) / n, 9) AS mu,
        |         round(sqrt(CAST(n::HUGEINT * ss - s::HUGEINT * s
        |           AS DOUBLE) / (n * n)), 9) AS sigma
        |       FROM st),
        |pk AS (SELECT mu, sigma, round(sigma / 2.0, 9) AS k,
        |         round(sigma * 4.0, 9) AS h FROM mu),
        |ct AS (SELECT d, c,
        |        CAST(CAST(round(CAST(c AS DOUBLE) - mu - k, 9)
        |          AS DECIMAL(28,9)) * 1000000000 AS BIGINT) AS up,
        |        CAST(CAST(round(CAST(c AS DOUBLE) - mu + k, 9)
        |          AS DECIMAL(28,9)) * 1000000000 AS BIGINT) AS dn,
        |        CAST(CAST(round(h, 9) AS DECIMAL(28,9)) * 1000000000
        |          AS BIGINT) AS hn
        |      FROM daily, pk),
        |pre AS (SELECT *, sum(up) OVER (ORDER BY d) AS pu,
        |          sum(dn) OVER (ORDER BY d) AS pd FROM ct),
        |mm AS (SELECT *, least(min(pu) OVER (ORDER BY d), 0) AS mpu,
        |         greatest(max(pd) OVER (ORDER BY d), 0) AS mpd FROM pre)
        |SELECT d AS day, c AS n_events,
        |  CAST(pu - mpu AS DOUBLE) / 1e9 AS cusum_pos,
        |  CAST(mpd - pd AS DOUBLE) / 1e9 AS cusum_neg,
        |  (pu - mpu > hn OR mpd - pd > hn) AS alarm
        |FROM mm ORDER BY day""".stripMargin)),
    // sufficient statistics in HUGEINT (the Spark twin is DECIMAL(38,0));
    // slope is ONE division of two exact integer->double casts, intercept
    // and r2 are the same fixed-order double chains as the Spark plan —
    // no display rounding anywhere
    "feat_trend_ols" -> Query(olsTrendQ, Some(
      """WITH xy AS (SELECT o_custkey AS k,
        |    epoch_us(o_orderdate) // 86400000000 AS x,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        |  FROM orders),
        |s AS (SELECT k, CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        |  FROM xy GROUP BY k),
        |c AS (SELECT k, n,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS cyy,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        |  FROM s)
        |SELECT k AS o_custkey, CAST(n AS BIGINT) AS n_points,
        |  CASE WHEN cxx > 0 THEN cxy / cxx END AS slope,
        |  CASE WHEN cxx > 0
        |    THEN (syd - (cxy / cxx) * sxd) / CAST(n AS DOUBLE) END
        |    AS intercept,
        |  CASE WHEN cxx > 0 AND cyy > 0
        |    THEN (cxy / cxx) * (cxy / cyy) END AS r2
        |FROM c ORDER BY o_custkey""".stripMargin)),
    // pairwise integer-count slopes (one IEEE division each), LOWER
    // median by (slope, da, db) order statistic — no summation anywhere;
    // residual median reuses the UNROUNDED slope, rounding only at output
    "feat_theilsen_trend" -> Query(theilSen, Some(
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    count(*) AS c
        |  FROM events GROUP BY 1),
        |p AS (SELECT a.d AS da, b.d AS db,
        |        CAST(b.c - a.c AS DOUBLE) / (b.d - a.d) AS s
        |      FROM daily a JOIN daily b ON a.d < b.d),
        |np AS (SELECT count(*) AS n_pairs FROM p),
        |sl AS (SELECT np.n_pairs, q.s AS slope
        |       FROM (SELECT s, row_number() OVER (ORDER BY s, da, db)
        |               AS rn FROM p) q, np
        |       WHERE q.rn = (np.n_pairs + 1) // 2),
        |nd AS (SELECT count(*) AS n_days FROM daily),
        |r AS (SELECT sl.n_pairs, sl.slope, d,
        |        CAST(c AS DOUBLE) - sl.slope * d AS rr
        |      FROM daily, sl),
        |f AS (SELECT *, row_number() OVER (ORDER BY rr, d) AS rn FROM r)
        |SELECT nd.n_days, f.n_pairs, round(f.slope, 9) AS slope,
        |  round(f.rr, 9) AS intercept
        |FROM f, nd WHERE f.rn = (nd.n_days + 1) // 2""".stripMargin)),
    "feat_kcore" -> Query(kcore, Some(kcoreSql)),
    "feat_random_walks" -> Query(randomWalks, Some(walkSql)),
    "feat_degree_stats" -> Query(degreeStats, Some(
      """WITH e AS (SELECT DISTINCT 'c' || o_custkey AS src,
        |             's' || l_suppkey AS dst
        |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |o AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1),
        |i AS (SELECT dst AS node, count(*) AS in_deg FROM e GROUP BY 1)
        |SELECT coalesce(o.node, i.node) AS node,
        |  coalesce(out_deg, 0) AS out_deg, coalesce(in_deg, 0) AS in_deg
        |FROM o FULL JOIN i ON o.node = i.node
        |ORDER BY node""".stripMargin)),
    // EWMA nano errors vs naive lag-7 errors on the shared grid; MASE =
    // one division of two exact sums
    // zero-filled day grid, lag-7 naive |error| in exact cents; q = the
    // ceil((n_cal+1)*0.8)-th smallest calibration error (order statistic
    // by (err, d) -- engine-stable); coverage = one division of two
    // exact integers; a rank beyond n_cal yields the NULL-q row (infinite
    // interval, coverage 1); an EMPTY TEST HALF yields zero rows -- both
    // engines agree on both degeneracies (EventOpsSpec)
    "feat_conformal_naive" -> Query(conformalNaive, Some(
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
        |grid AS (SELECT gs.d, coalesce(daily.x, 0) AS x,
        |    gs.d - bounds.d0 AS idx
        |  FROM bounds, UNNEST(generate_series(bounds.d0, bounds.d1)) gs(d)
        |  LEFT JOIN daily ON daily.d = gs.d),
        |err AS (SELECT g.d, abs(g.x - l.x) AS aerr,
        |    (('0x' || substr(md5(g.d::VARCHAR), 1, 12))::BIGINT % 2) = 0
        |      AS cal
        |  FROM grid g JOIN grid l ON g.idx = l.idx + 7),
        |calset AS (SELECT aerr, d,
        |    row_number() OVER (ORDER BY aerr, d) AS rk
        |  FROM err WHERE cal),
        |nc AS (SELECT count(*) AS n_cal FROM calset),
        |kth AS (SELECT calset.aerr AS q_cents FROM calset, nc
        |  WHERE calset.rk = ((nc.n_cal + 1) * 4 + 4) // 5),
        |q AS (SELECT nc.n_cal, kth.q_cents FROM nc LEFT JOIN kth ON true)
        |SELECT q.n_cal, count(*) AS n_test, q.q_cents,
        |  CAST(sum(CASE WHEN q.q_cents IS NULL OR e.aerr <= q.q_cents
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
        |  CAST(sum(CASE WHEN q.q_cents IS NULL OR e.aerr <= q.q_cents
        |      THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
        |FROM err e, q WHERE NOT e.cal
        |GROUP BY q.n_cal, q.q_cents""".stripMargin)),
    "feat_forecast_mase" -> Query(forecastMase, Some(
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS x
         |  FROM events WHERE value IS NOT NULL GROUP BY 1),
         |grid AS (SELECT gs.d - (SELECT min(d) FROM daily) AS idx, gs.d,
         |    coalesce(daily.x, 0) AS x
         |  FROM (SELECT unnest(generate_series(mn, mx)) AS d
         |        FROM (SELECT min(d) AS mn, max(d) AS mx FROM daily)) gs
         |  LEFT JOIN daily USING (d)),
         |pw(e, p) AS (VALUES ${graft.ops.EventOps.pow2ValuesSql}),
         |pairs AS (SELECT t.idx, t.x AS actual,
         |    CASE WHEN a.idx = 0 THEN t.idx - 1
         |         ELSE t.idx - a.idx END AS e,
         |    a.x AS xa
         |  FROM grid t JOIN grid a
         |    ON t.idx >= 1 AND ((a.idx = 0 AND t.idx - 1 <= 62)
         |      OR (a.idx >= 1 AND a.idx <= t.idx - 1
         |          AND t.idx - a.idx <= 62))),
         |n AS (SELECT idx, actual,
         |    CAST(sum((CAST(xa AS HUGEINT) * 1000000000) // p) AS HUGEINT)
         |      AS nano
         |  FROM pairs JOIN pw USING (e) GROUP BY 1, 2),
         |lg AS (SELECT n.idx, n.actual, n.nano, g7.x AS lag7
         |  FROM n JOIN grid g7 ON g7.idx = n.idx - 7 WHERE n.idx >= 7),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
         |    CAST(sum(abs(CAST(actual AS HUGEINT) * 1000000000 - nano))
         |      AS HUGEINT) AS se,
         |    CAST(sum(abs(CAST(actual - lag7 AS HUGEINT) * 1000000000))
         |      AS HUGEINT) AS sn
         |  FROM lg)
         |SELECT n_days,
         |  CASE WHEN n_days > 0 THEN CAST(sn AS DOUBLE) /
         |    (CAST(n_days AS DOUBLE) * 1000000000.0) END AS mae_naive_cents,
         |  CASE WHEN n_days > 0 THEN CAST(se AS DOUBLE) /
         |    (CAST(n_days AS DOUBLE) * 1000000000.0) END AS mae_ewma_cents,
         |  CASE WHEN CAST(sn AS DOUBLE) > 0 THEN
         |    CAST(se AS DOUBLE) / CAST(sn AS DOUBLE) END AS mase
         |FROM a""".stripMargin)),
    // the SAME integer DP as the kernel, replayed as an anti-diagonal
    // wavefront recursive CTE: each step emits diag k+1 (min over the
    // three predecessors + |Δ| cost) and re-emits diag k as the next
    // step's k−1; the Sakoe–Chiba corridor is the |i−j| bound
    "feat_dtw_pairs" -> Query(dtwPairs, Some({
      val band = 7
      s"""WITH RECURSIVE
         |daily AS (SELECT event_type AS t,
         |    epoch_us(ts) // 86400000000 AS d, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
         |grid AS (SELECT ty.t, gs.d, coalesce(daily.c, 0) AS c
         |  FROM (SELECT DISTINCT t FROM daily) ty
         |  CROSS JOIN (SELECT unnest(generate_series(d0, d1)) AS d
         |              FROM bounds) gs
         |  LEFT JOIN daily ON daily.t = ty.t AND daily.d = gs.d),
         |ser AS (SELECT t, d - (SELECT d0 FROM bounds) + 1 AS idx,
         |    CAST(c AS BIGINT) AS v FROM grid),
         |tl AS (SELECT CAST(max(idx) AS BIGINT) AS tn FROM ser),
         |pr AS (SELECT a.t AS ta, b.t AS tb
         |  FROM (SELECT DISTINCT t FROM ser) a
         |  JOIN (SELECT DISTINCT t FROM ser) b ON a.t < b.t),
         |dp AS (
         |  SELECT ta, tb, 2 AS k, 1 AS i, 1 AS j, TRUE AS front,
         |      CAST(abs(sa.v - sb.v) AS BIGINT) AS v
         |    FROM pr
         |    JOIN ser sa ON sa.t = ta AND sa.idx = 1
         |    JOIN ser sb ON sb.t = tb AND sb.idx = 1
         |  UNION ALL
         |  SELECT ta, tb, tk, ti, tj, is_new AS front,
         |      min(pv) + CASE WHEN is_new THEN
         |        (SELECT CAST(abs(sa.v - sb.v) AS BIGINT)
         |         FROM ser sa, ser sb
         |         WHERE sa.t = ta AND sb.t = tb
         |           AND sa.idx = ti AND sb.idx = tj) ELSE 0 END AS v
         |  FROM (
         |    SELECT ta, tb,
         |        k + CASE WHEN mv = 0 THEN 0 WHEN mv = 3 THEN 2
         |            ELSE 1 END AS tk,
         |        i + CASE WHEN mv IN (1, 3) THEN 1 ELSE 0 END AS ti,
         |        j + CASE WHEN mv IN (2, 3) THEN 1 ELSE 0 END AS tj,
         |        mv <> 0 AS is_new, v AS pv
         |    FROM dp, (VALUES (0), (1), (2), (3)) m(mv)
         |    WHERE (mv IN (0, 1, 2) AND front) OR (mv = 3 AND NOT front)
         |  )
         |  WHERE ti <= (SELECT tn FROM tl) AND tj <= (SELECT tn FROM tl)
         |    AND abs(ti - tj) <= $band
         |  GROUP BY ta, tb, tk, ti, tj, is_new
         |)
         |SELECT ta AS type_a, tb AS type_b, (SELECT tn FROM tl) AS len,
         |  max(v) AS dtw
         |FROM dp
         |WHERE i = (SELECT tn FROM tl) AND j = (SELECT tn FROM tl)
         |  AND k = 2 * (SELECT tn FROM tl)
         |GROUP BY ta, tb ORDER BY type_a, type_b""".stripMargin
    })),
    // α=1/2 ⇒ every closed-form weight an exact power of two; per-term
    // truncating nano division; power table from the SAME loop
    // (EventOps.pow2ValuesSql) as the Spark broadcast relation
    "feat_ewma_forecast" -> Query(ewmaForecastQ, Some(
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS x
         |  FROM events WHERE value IS NOT NULL GROUP BY 1),
         |grid AS (SELECT gs.d - (SELECT min(d) FROM daily) AS idx, gs.d,
         |    coalesce(daily.x, 0) AS x
         |  FROM (SELECT unnest(generate_series(mn, mx)) AS d
         |        FROM (SELECT min(d) AS mn, max(d) AS mx FROM daily)) gs
         |  LEFT JOIN daily USING (d)),
         |pw(e, p) AS (VALUES ${graft.ops.EventOps.pow2ValuesSql}),
         |pairs AS (SELECT t.d, t.x AS actual,
         |    CASE WHEN a.idx = 0 THEN t.idx - 1
         |         ELSE t.idx - a.idx END AS e,
         |    a.x AS xa
         |  FROM grid t JOIN grid a
         |    ON t.idx >= 1 AND ((a.idx = 0 AND t.idx - 1 <= 62)
         |      OR (a.idx >= 1 AND a.idx <= t.idx - 1
         |          AND t.idx - a.idx <= 62))),
         |n AS (SELECT d, actual,
         |    CAST(sum((CAST(xa AS HUGEINT) * 1000000000) // p) AS HUGEINT)
         |      AS nano
         |  FROM pairs JOIN pw USING (e) GROUP BY 1, 2)
         |SELECT d AS day, actual AS actual_cents,
         |  CAST(nano AS DOUBLE) / 1000000000.0 AS forecast_cents,
         |  CAST(abs(CAST(actual AS HUGEINT) * 1000000000 - nano) AS DOUBLE)
         |    / 1000000000.0 AS abs_err_cents
         |FROM n ORDER BY day""".stripMargin)),
    // tie-group rank sums collapse to v·c·(2C−c−n), all-integer to one
    // division; boundary rank r* = (9n) div 10 integer floor division
    "feat_spend_gini" -> Query(spendGini, Some(
      """WITH pk AS (SELECT user_id,
        |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL GROUP BY 1),
        |g AS (SELECT v, count(*) AS c, v * count(*) AS s FROM pk
        |  GROUP BY 1),
        |w AS (SELECT v, c, s,
        |    CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cc,
        |    CAST(sum(s) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cs,
        |    CAST(sum(c) OVER () AS BIGINT) AS n,
        |    CAST(sum(s) OVER () AS BIGINT) AS st FROM g),
        |a AS (SELECT max(n) AS n, max(st) AS st,
        |    CAST(sum(CAST(v AS HUGEINT) * c * (2 * cc - c - n))
        |      AS HUGEINT) AS num,
        |    sum(CASE WHEN cc - c < (9 * n) // 10 AND (9 * n) // 10 <= cc
        |      THEN cs - v * (cc - (9 * n) // 10) END) AS cum_at
        |  FROM w)
        |SELECT n AS n_keys, CAST(st AS DOUBLE) / 100.0 AS total_spend,
        |  CASE WHEN n > 0 AND st > 0 THEN CAST(num AS DOUBLE) /
        |    CAST(CAST(n AS HUGEINT) * st AS DOUBLE) END AS gini,
        |  CASE WHEN st > 0 THEN
        |    CAST(st - coalesce(cum_at, 0) AS DOUBLE) / CAST(st AS DOUBLE)
        |  END AS top_decile_share
        |FROM a""".stripMargin)),
    // n-scaled integer deviations (e = n·x − Σx, exact cents) → ACF is
    // one division per lag; PACF CTE chain emitted by the SAME
    // Durbin–Levinson loops as the Spark plan (EventOps.durbinLevinsonSql)
    "feat_acf_pacf" -> Query(acfPacf, Some({
      val maxLag = 7
      val rdefs = (1 to maxLag).map(k =>
        s"""max(CASE WHEN lag = $k THEN
           |    CASE WHEN den > 0 THEN CAST(num AS DOUBLE) /
           |      CAST(den AS DOUBLE) END END) AS r$k""".stripMargin)
        .mkString(",\n")
      val outs = (1 to maxLag).map(k =>
        s"SELECT CAST($k AS BIGINT) AS lag, r$k AS acf, p_${k}_$k AS pacf" +
          s" FROM dl$maxLag").mkString("\nUNION ALL\n")
      s"""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS d,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS HUGEINT) AS x
         |  FROM events WHERE value IS NOT NULL GROUP BY 1),
         |grid AS (SELECT gs.d, coalesce(daily.x, 0) AS x
         |  FROM (SELECT unnest(generate_series(mn, mx)) AS d
         |        FROM (SELECT min(d) AS mn, max(d) AS mx FROM daily)) gs
         |  LEFT JOIN daily USING (d)),
         |st AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x) AS HUGEINT) AS s FROM grid),
         |dev AS (SELECT d, n * x - s AS e FROM grid, st),
         |dn AS (SELECT CAST(sum(e * e) AS HUGEINT) AS den FROM dev),
         |nums AS (SELECT b.d - a.d AS lag,
         |    CAST(sum(a.e * b.e) AS HUGEINT) AS num
         |  FROM dev a JOIN dev b
         |    ON b.d > a.d AND b.d <= a.d + $maxLag GROUP BY 1),
         |r AS (SELECT
         |$rdefs
         |  FROM nums, dn),
         |${graft.ops.EventOps.durbinLevinsonSql("r", maxLag)}
         |$outs
         |ORDER BY lag""".stripMargin
    })),
    // integer counts; the lag is a self-join of the per-day grid on d-7
    "feat_seasonal_naive" -> Query(seasonalNaive, Some(
      """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    count(*) AS actual
        |  FROM events GROUP BY 1)
        |SELECT a.day, a.actual, f.actual AS forecast,
        |  CASE WHEN f.actual IS NOT NULL
        |    THEN abs(a.actual - f.actual) END AS abs_err
        |FROM d a LEFT JOIN d f ON a.day = f.day + 7
        |ORDER BY a.day""".stripMargin)),
    // the nano-integer Holt-Winters recursion as a recursive CTE over
    // the zero-filled 70-day grid: the seasonal state rides as a LIST
    // rotated one slot per day; every update is an integer linear
    // combination + ONE pmod-floor division by the small rational
    // denominator, so the replay is bit-identical (no rounding surface)
    "feat_holt_winters" -> Query(holtWintersQ, Some({
      val (m, gd) = (7, 70)
      def fdiv(x: String, d: Int) =
        s"(($x) - ((($x) % $d + $d) % $d)) // $d"
      s"""WITH RECURSIVE daily AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS y
         |  FROM events GROUP BY 1),
         |mx AS (SELECT max(day) AS maxd FROM daily),
         |grid AS MATERIALIZED (SELECT gs.day AS day,
         |    coalesce(daily.y, 0) AS y,
         |    row_number() OVER (ORDER BY gs.day) AS i
         |  FROM (SELECT unnest(generate_series(maxd - ${gd - 1}, maxd))
         |      AS day FROM mx) gs
         |  LEFT JOIN daily ON daily.day = gs.day),
         |l0 AS (SELECT CAST(${fdiv("sum(y) * 1000000000", m)} AS BIGINT)
         |    AS l FROM grid WHERE i <= $m),
         |sini AS (SELECT list(CAST(y * 1000000000 - l0.l AS BIGINT)
         |    ORDER BY i) AS s
         |  FROM grid, l0 WHERE i <= $m),
         |hw AS (
         |  SELECT $m AS t, l0.l AS l, CAST(0 AS BIGINT) AS b, sini.s AS s,
         |    CAST(NULL AS BIGINT) AS day, CAST(NULL AS BIGINT) AS actual,
         |    CAST(NULL AS BIGINT) AS fc, CAST(NULL AS BIGINT) AS snew
         |  FROM l0, sini
         |  UNION ALL
         |  SELECT t, l1,
         |    CAST(${fdiv("1 * (l1 - l) + 9 * b", 10)} AS BIGINT),
         |    s[2:] || [CAST(${fdiv("2 * (yn - l1) + 8 * sh", 10)}
         |      AS BIGINT)],
         |    day, y, l + b + sh,
         |    CAST(${fdiv("2 * (yn - l1) + 8 * sh", 10)} AS BIGINT)
         |  FROM (
         |    SELECT q.*, CAST(${fdiv("3 * (yn - sh) + 7 * (l + b)", 10)}
         |        AS BIGINT) AS l1
         |    FROM (SELECT g.i AS t, g.day, g.y, g.y * 1000000000 AS yn,
         |        hw.l, hw.b, hw.s, hw.s[1] AS sh
         |      FROM hw JOIN grid g ON g.i = hw.t + 1) q) q2)
         |SELECT day, actual, fc AS forecast_nano, l AS level_nano,
         |  b AS trend_nano, snew AS season_nano
         |FROM hw WHERE day IS NOT NULL ORDER BY day""".stripMargin
    })),
    // the multiplicative recursion in HUGEINT (the Spark twin is
    // DECIMAL(38,0)): grid anchored at the first observed day, model on
    // the +1-shifted series (the ratio form is undefined on zeros),
    // seasonal RATIOS in nano units, each ratio one pmod-floor division
    // of y′·10¹⁸ by greatest(state, 1), same rotating-list seasonal
    // state as the additive replay; the output forecast subtracts the
    // shift back
    "feat_holt_winters_mult" -> Query(holtWintersMultQ, Some({
      val (m, gd) = (7, 70)
      def fdiv(x: String, d: String) =
        s"(($x) - ((($x) % ($d) + ($d)) % ($d))) // ($d)"
      val rat = fdiv("ye", "greatest(l1, 1)")
      val dlev = fdiv("ye", "greatest(sh, 1)")
      s"""WITH RECURSIVE daily AS (
         |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS y
         |  FROM events GROUP BY 1),
         |mx AS (SELECT max(day) AS maxd, min(day) AS mind FROM daily),
         |grid AS MATERIALIZED (SELECT gs.day AS day,
         |    coalesce(daily.y, 0) AS y,
         |    row_number() OVER (ORDER BY gs.day) AS i
         |  FROM (SELECT unnest(generate_series(
         |        greatest(maxd - ${gd - 1}, mind), maxd))
         |      AS day FROM mx) gs
         |  LEFT JOIN daily ON daily.day = gs.day),
         |l0 AS (SELECT CAST(${fdiv(
              "sum(CAST(y + 1 AS HUGEINT)) * 1000000000",
              m.toString)} AS HUGEINT) AS l
         |  FROM grid WHERE i <= $m),
         |sini AS (SELECT list(CAST(${fdiv(
              "CAST(y + 1 AS HUGEINT) * 1000000000 * 1000000000",
              "greatest(l0.l, 1)")} AS HUGEINT) ORDER BY i) AS s
         |  FROM grid, l0 WHERE i <= $m),
         |hw AS (
         |  SELECT $m AS t, l0.l AS l, CAST(0 AS HUGEINT) AS b, sini.s AS s,
         |    CAST(NULL AS BIGINT) AS day, CAST(NULL AS BIGINT) AS actual,
         |    CAST(NULL AS HUGEINT) AS fc, CAST(NULL AS HUGEINT) AS snew
         |  FROM l0, sini
         |  UNION ALL
         |  SELECT t, l1,
         |    CAST(${fdiv("1 * (l1 - l) + 9 * b", "10")} AS HUGEINT),
         |    s[2:] || [CAST(${fdiv(s"2 * ($rat) + 8 * sh", "10")}
         |      AS HUGEINT)],
         |    day, y, ${fdiv("(l + b) * sh", "1000000000")},
         |    CAST(${fdiv(s"2 * ($rat) + 8 * sh", "10")} AS HUGEINT)
         |  FROM (
         |    SELECT q.*, CAST(${fdiv(s"3 * ($dlev) + 7 * (l + b)", "10")}
         |        AS HUGEINT) AS l1
         |    FROM (SELECT g.i AS t, g.day, g.y,
         |        CAST(g.y + 1 AS HUGEINT) * 1000000000 * 1000000000 AS ye,
         |        hw.l, hw.b, hw.s, hw.s[1] AS sh
         |      FROM hw JOIN grid g ON g.i = hw.t + 1) q) q2)
         |SELECT day, actual,
         |  CAST(fc - 1000000000 AS BIGINT) AS forecast_nano,
         |  CAST(l AS BIGINT) AS level_nano, CAST(b AS BIGINT) AS trend_nano,
         |  CAST(snew AS BIGINT) AS season_ratio_nano
         |FROM hw WHERE day IS NOT NULL ORDER BY day""".stripMargin
    })),
    "feat_markov_transitions" -> Query(markovTransitions, Some(
      """WITH p AS (SELECT event_type AS next_state,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS state
        |  FROM events),
        |c AS (SELECT state, next_state, count(*) AS n_transitions
        |      FROM p WHERE state IS NOT NULL GROUP BY 1, 2)
        |SELECT state, next_state, n_transitions,
        |  round(n_transitions * 1.0 /
        |    sum(n_transitions) OVER (PARTITION BY state), 6) AS p
        |FROM c ORDER BY state, next_state""".stripMargin)),
    // raw parquet doubles pass through both engines untouched (no
    // arithmetic), so the fill is bit-identical; leading nulls stay null
    "feat_forward_fill" -> Query(forwardFill, Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value_m
        |  FROM events WHERE user_id < 10)
        |SELECT user_id, event_id, value_m,
        |  last_value(value_m IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
        |    AS value_m_ffill
        |FROM e ORDER BY user_id, event_id""".stripMargin)),
    // integer epoch days; each (user, day) activity contributes to the 7
    // window-end days it falls inside — rolling distinct as a plain
    // group-by
    "feat_rolling_dau" -> Query(rollingDau, Some(
      s"""WITH ud AS (SELECT DISTINCT user_id,
         |  epoch_us(ts) // 86400000000 AS d FROM events),
         |days AS (SELECT DISTINCT d AS day FROM ud),
         |c AS (SELECT DISTINCT user_id, u.day
         |      FROM ud, UNNEST(generate_series(d, d + ${DauWindowDays - 1}))
         |        AS u(day))
         |SELECT c.day, count(DISTINCT user_id) AS active
         |FROM c JOIN days USING (day)
         |GROUP BY 1 ORDER BY day""".stripMargin)),
    // the view-maintenance correctness statement: incremental refresh must
    // equal the FULL recompute — the oracle IS the full recompute
    "feat_agg_refresh" -> Query(aggRefresh, Some(
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // same LWW window as the Spark side; a winning tombstone (op='D')
    // removes the key entirely
    "feat_cdc_apply" -> Query(cdcApply, Some(
      """WITH l AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
        |    event_id,
        |    CASE WHEN event_id % 7 = 0 THEN 'D' ELSE 'U' END AS op, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, ts_us, event_id, value AS last_value
        |FROM l WHERE rn = 1 AND op <> 'D'
        |ORDER BY user_id, event_type""".stripMargin)),
    "feat_merge_upsert" -> Query(mergeUpsert, Some(
      s"""WITH b AS (SELECT c_custkey AS custkey, c_acctbal AS acctbal,
         |        c_mktsegment AS segment
         |      FROM customer WHERE c_custkey % 5 <> 0),
         |u AS (SELECT o_custkey AS custkey,
         |        ${graft.functions.Exact.sumMoneySql("o_totalprice")}
         |          AS acctbal,
         |        'REFRESH' AS segment
         |      FROM orders GROUP BY o_custkey)
         |SELECT coalesce(b.custkey, u.custkey) AS custkey,
         |  CASE WHEN u.custkey IS NOT NULL THEN u.acctbal
         |       ELSE b.acctbal END AS acctbal,
         |  CASE WHEN u.custkey IS NOT NULL THEN u.segment
         |       ELSE b.segment END AS segment,
         |  CASE WHEN b.custkey IS NULL THEN 'inserted'
         |       WHEN u.custkey IS NULL THEN 'carried'
         |       ELSE 'updated' END AS merge_status
         |FROM b FULL JOIN u ON b.custkey = u.custkey
         |ORDER BY custkey""".stripMargin)),
    "feat_snapshot_diff" -> Query(snapshotDiff, Some(
      s"""WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |o AS (SELECT user_id, event_type, count(*) AS n_events,
         |        sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS val_sum
         |      FROM events, m WHERE epoch_us(ts) <= mx - $DiffHorizonUs
         |        AND event_type <> 'signup'
         |      GROUP BY 1, 2),
         |n AS (SELECT user_id, event_type, count(*) AS n_events,
         |        sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS val_sum
         |      FROM events WHERE event_type <> 'error' GROUP BY 1, 2),
         |d AS (SELECT coalesce(o.user_id, n.user_id) AS user_id,
         |        CASE WHEN o.user_id IS NULL THEN 'added'
         |             WHEN n.user_id IS NULL THEN 'removed'
         |             WHEN o.n_events IS DISTINCT FROM n.n_events
         |               OR o.val_sum IS DISTINCT FROM n.val_sum
         |               THEN 'changed'
         |             ELSE 'unchanged' END AS status
         |      FROM o FULL JOIN n
         |        ON o.user_id = n.user_id AND o.event_type = n.event_type)
         |SELECT status, count(*) AS n_cells,
         |  CAST(sum(user_id) AS BIGINT) AS user_checksum
         |FROM d GROUP BY 1 ORDER BY status""".stripMargin)),
    // string_agg ignores the NULLed-out tokens past the cap; (ts, event_id)
    // is unique, so the struct sort and the ORDER BY agree
    "feat_event_sequence" -> Query(eventSequence, Some(
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
         |  row_number() OVER (PARTITION BY user_id
         |    ORDER BY epoch_us(ts), event_id) AS rn
         |  FROM events WHERE user_id < 20)
         |SELECT user_id, count(*) AS n_events,
         |  string_agg(CASE WHEN rn <= $SeqMaxTokens THEN event_type END,
         |    ' ' ORDER BY rn) AS sequence
         |FROM e GROUP BY 1 ORDER BY user_id""".stripMargin)),
    // chained native ASOF LEFT JOINs — inclusive (l.ts >= f.ts), one per
    // feature group, exactly the trainingMatrix fold
    "pit_training_matrix" -> Query(pitTrainingMatrix, Some(
      """WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |             value AS label_value
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, epoch_us(ts) AS c_ts_us,
        |        arg_max(value, event_id) AS last_click_value
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |vr AS (SELECT user_id, epoch_us(ts) AS v_ts_us,
        |         count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS vs
        |       FROM events WHERE event_type = 'view'),
        |v AS (SELECT user_id, v_ts_us, max(vs) AS views_asof
        |      FROM vr GROUP BY 1, 2)
        |SELECT l.user_id, l.event_id, l.ts_us, l.label_value,
        |  c.last_click_value, coalesce(v.views_asof, 0) AS views_asof
        |FROM l
        |ASOF LEFT JOIN c ON l.user_id = c.user_id AND l.ts_us >= c.c_ts_us
        |ASOF LEFT JOIN v ON l.user_id = v.user_id AND l.ts_us >= v.v_ts_us
        |ORDER BY l.user_id, l.event_id""".stripMargin)),
    // each step joins back to the previous step's min — strictly-after
    // semantics, exactly EventOps.funnel's fold
    "feat_funnel_steps" -> Query(funnelSteps, Some(
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t_view
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
        |      GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
        |      GROUP BY 1)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |ORDER BY v.user_id""".stripMargin)),
    // the funnel CTEs verbatim, then DISCRETE (type-1) quantiles via the
    // integer grid predicate (q·cum ≥ p·n) — interpolation op order
    // differs between engines at micros magnitude
    "feat_funnel_timing" -> Query(funnelTiming, Some(
      """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t_view
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
        |      GROUP BY 1),
        |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
        |      GROUP BY 1),
        |f AS (SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
        |      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)),
        |vcg AS (SELECT v, count(*) AS c FROM
        |    (SELECT t_click - t_view AS v FROM f WHERE t_click IS NOT NULL)
        |  GROUP BY 1),
        |vcc AS (SELECT v,
        |    sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER () AS n FROM vcg),
        |vcq AS (SELECT CAST(min(CASE WHEN cum * 2 >= n THEN v END)
        |      AS BIGINT) AS vc_p50,
        |    CAST(min(CASE WHEN cum * 10 >= n * 9 THEN v END)
        |      AS BIGINT) AS vc_p90 FROM vcc),
        |cpg AS (SELECT v, count(*) AS c FROM
        |    (SELECT t_purchase - t_click AS v FROM f
        |     WHERE t_purchase IS NOT NULL)
        |  GROUP BY 1),
        |cpc AS (SELECT v,
        |    sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER () AS n FROM cpg),
        |cpq AS (SELECT CAST(min(CASE WHEN cum * 2 >= n THEN v END)
        |      AS BIGINT) AS cp_p50,
        |    CAST(min(CASE WHEN cum * 10 >= n * 9 THEN v END)
        |      AS BIGINT) AS cp_p90 FROM cpc)
        |SELECT count(t_view) AS n_view, count(t_click) AS n_click,
        |  count(t_purchase) AS n_purchase,
        |  vc_p50, vc_p90, cp_p50, cp_p90
        |FROM f, vcq, cpq
        |GROUP BY vc_p50, vc_p90, cp_p50, cp_p90""".stripMargin)),
    "feat_scd2_intervals" -> Query(scd2Intervals, Some(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |             event_type FROM events),
        |l AS (SELECT user_id, event_id, ts_us, event_type,
        |        lag(event_type) OVER w AS prev, row_number() OVER w AS rn
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |c AS (SELECT user_id, event_id, ts_us, event_type FROM l
        |      WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type, ts_us AS valid_from,
        |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    AS valid_to,
        |  lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
        |    IS NULL AS is_current
        |FROM c ORDER BY user_id, valid_from""".stripMargin)),
    "feat_time_split" -> Query(timeSplit, Some(
      s"""WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |s AS (SELECT epoch_us(ts) AS ts_us,
         |        CASE WHEN epoch_us(ts) > mx - $TestHorizonUs THEN 'test'
         |             WHEN epoch_us(ts) > mx - $TestHorizonUs - $EmbargoUs
         |               THEN 'embargo'
         |             ELSE 'train' END AS split
         |      FROM events, m)
         |SELECT split, count(*) AS n_events, min(ts_us) AS min_us,
         |  max(ts_us) AS max_us
         |FROM s GROUP BY 1 ORDER BY split""".stripMargin)),
    "feat_rolling_window" -> Query(rollingWindow, Some(
      s"""SELECT user_id, event_id,
         |  CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) OVER w
         |       AS DOUBLE) AS roll_value,
         |  count(*) OVER w AS roll_events
         |FROM events
         |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
         |  RANGE BETWEEN $RollWindowMicros PRECEDING AND CURRENT ROW)
         |ORDER BY user_id, event_id""".stripMargin)))
}
