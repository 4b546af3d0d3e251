package graft.queries

import graft.ops.Skew
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Scale-posture operators (SURVEY.md §7.2.7): the flagged alternates a
  * 100 TB deployment swaps in where exact operators stop scaling, plus the
  * skew-mitigation path.
  *
  * `skew_salted_agg` is oracle-checked against the PLAIN group-by SQL —
  * the whole point of salting is that the two-phase result is identical.
  * The approx queries (HLL distinct, approximate quantiles) have no DuckDB
  * twin by construction → registered without oracle SQL (rows-only check);
  * their exact counterparts are oracle-checked elsewhere
  * (`distinct_counts`, `quality_quantiles_lineitem`).
  */
object ScaleQueries {

  private val Money = DecimalType(18, 2)

  /** Salted two-phase per-user aggregate over the hot-keyed events table —
    * result must equal the plain GROUP BY (see [[graft.ops.Skew]]).
    */
  def skewSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(Tables.events(spark, dir), Seq("user_id"),
        saltBuckets = 16,
        partials = Seq(count(lit(1)).as("n_events"),
          sum(col("value").cast(Money)).as("pv")),
        merges = Seq(sum(col("n_events")).as("n_events"),
          sum(col("pv")).cast(DoubleType).as("total_value")))
      .orderBy("user_id")

  private val JoinSaltBuckets = 8

  /** Salted broadcast-replicated join ([[graft.ops.Skew.saltedJoin]]):
    * lineitem (probe, skew-prone) against the small part dimension
    * replicated per salt — result must equal the PLAIN equi-join, which is
    * what the oracle checks. The per-brand rollup keeps the checked
    * relation small while every joined row contributes to the sums.
    */
  def skewSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val probe = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("partkey"), col("l_extendedprice"))
    val build = Tables.part(spark, dir)
      .select(col("p_partkey").as("partkey"), col("p_brand"))
    Skew.saltedJoin(probe, build, Seq("partkey"), JoinSaltBuckets)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        graft.functions.Exact.sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy("p_brand")
  }

  /** HLL distinct counts — the streaming/100 TB alternate to exact
    * `count(DISTINCT …)` (`distinct_counts`) — as a BANDED IN-RELATION
    * ASSERTION: the registered relation carries the exact distincts plus
    * a within-band flag (|approx − exact| ≤ max(15%·exact, 1) — the
    * default-rsd 0.05 HLL++ at 3σ), and the DuckDB oracle states the
    * invariant (`true`), so any band violation hash-fails the driver
    * gate instead of hiding in a rows-only row. Estimates themselves are
    * pinned in SketchesSpec.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    def band(approx: Column, exact: Column) =
      abs(approx - exact).cast("double") <=
        greatest(exact.cast("double") * 0.15, lit(1.0))
    Tables.events(spark, dir).agg(
        approx_count_distinct(col("user_id")).as("__au"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("event_type")).as("__at"),
        countDistinct(col("event_type")).as("exact_event_types"))
      .select(col("exact_users"),
        band(col("__au"), col("exact_users")).as("users_within_band"),
        col("exact_event_types"),
        band(col("__at"), col("exact_event_types"))
          .as("types_within_band"))
  }

  /** Greenwald-Khanna approximate quantiles — the single-pass mergeable
    * alternate to exact `percentile` (`quality_quantiles_lineitem`) — as
    * a BANDED IN-RELATION ASSERTION of GK's deterministic rank
    * guarantee: the returned value's exact rank interval
    * [count(< v)+1, count(≤ v)] must intersect
    * ⌈q·n⌉ ± (n/accuracy + 1) — the +1 absorbs Spark's 0-based rank
    * convention (measured: at q=0.25, n=6000 the engine returns the
    * rank-1499 element for ceil-target 1500 with ε·n=0.6). The flag is
    * computed from one exact counting pass against the broadcast
    * estimates; the oracle states the invariant, so a guarantee
    * violation hash-fails the gate.
    */
  def approxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val acc = 10000
    val li = Tables.lineitem(spark, dir)
    val v = col("l_extendedprice")
    val est = li.agg(
      percentile_approx(v, lit(0.25), lit(acc)).as("a25"),
      percentile_approx(v, lit(0.5), lit(acc)).as("a50"),
      percentile_approx(v, lit(0.75), lit(acc)).as("a75"))
    def ranks(a: String) = Seq(
      sum(when(v < col(a), 1L).otherwise(0L)).as(s"__lt$a"),
      sum(when(v <= col(a), 1L).otherwise(0L)).as(s"__le$a"))
    val counted = li.crossJoin(broadcast(est))
      .agg(count(lit(1)).as("n"),
        (ranks("a25") ++ ranks("a50") ++ ranks("a75")): _*)
    def flag(q: Double, a: String) = {
      val n = col("n").cast("double")
      val eps = n / acc + 1
      val target = ceil(n * q)
      (col(s"__lt$a") + 1 <= target + eps) &&
        (col(s"__le$a") >= target - eps)
    }
    counted.select(col("n"),
      flag(0.25, "a25").as("p25_within_band"),
      flag(0.5, "a50").as("p50_within_band"),
      flag(0.75, "a75").as("p75_within_band"))
  }

  /** Deterministic hash-bucket sampling — the reproducible, engine-portable
    * alternative to `TABLESAMPLE`/`rand()` sampling: a row is in the p%
    * sample iff md5(key) mod 100 < p. The same rows are sampled on any
    * engine, any partitioning, any run — which is what makes sampled
    * dev/CI pipelines debuggable at 100 TB.
    */
  def sampleHashBucket(spark: SparkSession, dir: String): DataFrame = {
    val bucket = graft.ops.Prep.hashBucket(col("event_id"), 100)
    Tables.events(spark, dir)
      .filter(bucket < 10)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_sampled"),
        graft.functions.Exact.sumMoney(col("value")).as("sampled_value"))
      .orderBy("event_type")
  }

  private val ZBits = 4 // 16 bins per dimension, 8-bit Morton codes

  /** Morton z-values over (l_quantity, l_extendedprice) — the clustering
    * key [[graft.sources.Layout.writeZordered]] range-partitions a 100 TB
    * table by so parquet min/max pruning works on BOTH dimensions. The
    * z-value itself is a deterministic integer (exact-DECIMAL binning +
    * bit interleave), so the driver hash-checks the full curve order.
    */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Layout.zorderValue(Tables.lineitem(spark, dir),
        Seq("l_quantity", "l_extendedprice"), ZBits)
      .select("l_orderkey", "l_linenumber", "z_value")
      .orderBy("z_value", "l_orderkey", "l_linenumber")

  /** 2-D Hilbert indexes over the same (l_quantity, l_extendedprice)
    * plane as `layout_zorder` ([[graft.sources.Layout.hilbertValue]]) —
    * the better-locality clustering key: consecutive curve positions are
    * always ADJACENT cells, so equal curve-range files cover tighter
    * boxes than Morton's quadrant jumps. Integer end to end; the driver
    * hash-checks the full curve order.
    */
  def layoutHilbert(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Layout.hilbertValue(Tables.lineitem(spark, dir),
        Seq("l_quantity", "l_extendedprice"), ZBits)
      .select("l_orderkey", "l_linenumber", "h_value")
      .orderBy("h_value", "l_orderkey", "l_linenumber")

  /** The `layout_pruning_stats` audit on the HILBERT layout — same
    * 16-bucket proxy, directly comparable row-for-row against the Morton
    * numbers (the measured basis for choosing the curve at a 100 TB
    * OPTIMIZE).
    */
  def layoutHilbertPruning(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.sources.Layout.hilbertValue(Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_extendedprice"), ZBits)
    val q = col("l_quantity").cast(Money)
    val p = col("l_extendedprice").cast(Money)
    val g = h.agg(min(q).as("gq0"), max(q).as("gq1"),
      min(p).as("gp0"), max(p).as("gp1"))
    h.withColumn("bucket", expr("h_value >> 4"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(q).as("q0"), max(q).as("q1"),
        min(p).as("p0"), max(p).as("p1"))
      .crossJoin(broadcast(g))
      .select(col("bucket"), col("n"),
        round((col("q1") - col("q0")).cast("double") /
          (col("gq1") - col("gq0")).cast("double"), 9).as("quantity_frac"),
        round((col("p1") - col("p0")).cast("double") /
          (col("gp1") - col("gp0")).cast("double"), 9).as("price_frac"))
      .orderBy("bucket")
  }

  /** Clustering-effectiveness audit of the z-order layout: bucket the
    * curve into 16 ranges (the deterministic proxy for a 16-file
    * range-partitioned write) and report each bucket's NORMALIZED min/max
    * width per dimension — the fraction of the global range a reader must
    * scan when pruning on that dimension. Unclustered data reads ~1.0 per
    * bucket; a working 2-D z-layout reads ~2^-2 per doubling of files on
    * BOTH dims at once. This measures, in data, the min/max-pruning value
    * [[graft.sources.Layout.writeZordered]] claims.
    */
  def layoutPruningStats(spark: SparkSession, dir: String): DataFrame = {
    val z = graft.sources.Layout.zorderValue(Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_extendedprice"), ZBits)
    val q = col("l_quantity").cast(Money)
    val p = col("l_extendedprice").cast(Money)
    val g = z.agg(min(q).as("gq0"), max(q).as("gq1"),
      min(p).as("gp0"), max(p).as("gp1"))
    z.withColumn("bucket", expr("z_value >> 4"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(q).as("q0"), max(q).as("q1"),
        min(p).as("p0"), max(p).as("p1"))
      .crossJoin(broadcast(g))
      .select(col("bucket"), col("n"),
        round((col("q1") - col("q0")).cast("double") /
          (col("gq1") - col("gq0")).cast("double"), 9).as("quantity_frac"),
        round((col("p1") - col("p0")).cast("double") /
          (col("gp1") - col("gp0")).cast("double"), 9).as("price_frac"))
      .orderBy("bucket")
  }

  /** Rolling 7-day distinct users from persisted per-day HLL sketches
    * ([[graft.ops.Sketches.hllDailySketches]] →
    * [[graft.ops.Sketches.hllRollingDistinct]]) — the mergeable-sketch
    * alternate to exact `feat_rolling_dau`, as a BANDED IN-RELATION
    * ASSERTION: each day's estimate joins the exact rolling distinct
    * ([[graft.ops.EventOps.rollingActiveKeys]], the `feat_rolling_dau`
    * op) and emits (day, exact, within-band) with the DataSketches-HLL
    * band (lgK 12 → rsd ≈ 1.6%; 15% is 9σ headroom). The oracle states
    * the invariant, so a band violation hash-fails the gate;
    * SketchesSpec pins the raw estimates.
    */
  def hllRolling(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val est = graft.ops.Sketches.hllRollingDistinct(
      graft.ops.Sketches.hllDailySketches(ev, "user_id", "ts_us"),
      windowDays = 7)
    val exact = graft.ops.EventOps.rollingActiveKeys(
      ev, "user_id", "ts_us", windowDays = 7)
    est.join(exact, Seq("day"))
      .select(col("day"), col("active").as("exact_active"),
        (abs(col("approx_active") - col("active")).cast("double") <=
          greatest(col("active").cast("double") * 0.15, lit(1.0)))
          .as("within_band"))
      .orderBy("day")
  }

  private val CmWidth = 64
  private val CmDepth = 3

  /** Count-min frequency estimates for every user over the event stream
    * ([[graft.ops.Sketches.countMinBuild]]/`countMinEstimate`, width 64 ×
    * depth 3 — width deliberately far below the user count so bucket
    * collisions actually happen) joined with the exact counts: overcount
    * = est − exact ≥ 0 is the sketch's one-sided error, measured
    * per value.
    */
  def countMin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sketch = graft.ops.Sketches.countMinBuild(ev, col("user_id"),
      CmWidth, CmDepth)
    val est = graft.ops.Sketches.countMinEstimate(sketch, ev,
      col("user_id"), CmWidth, CmDepth)
    val exact = ev.groupBy(col("user_id").cast("string").as("value"))
      .agg(count(lit(1)).as("exact_cnt"))
    est.join(exact, Seq("value"))
      .select(col("value"), col("est"), col("exact_cnt"),
        (col("est") - col("exact_cnt")).as("overcount"))
      .orderBy("value")
  }

  private val BloomBits = 4096
  private val BloomHashes = 3
  private val BloomPrice = 470000 // ~45% of customers have such an order

  /** Bloom membership audit ([[graft.ops.Sketches.bloomBuild]]/
    * `bloomContains`): insert the customers holding a >470k order (~45%
    * of customers at every SF), probe EVERY customer, and report per-key
    * bits-set / maybe-present against the true membership — false
    * positives are the sketch's one-sided error, false negatives are
    * impossible (spec-pinned). At sf0.01 the 4096-bit filter sits ~40%
    * full, so the false-positive band is real and measured; at sf0.1 it
    * saturates (nearly every probe reads present) — the sizing lesson
    * itself, recorded rather than hidden.
    */
  def bloom(spark: SparkSession, dir: String): DataFrame = {
    val ords = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > BloomPrice)
    val filt = graft.ops.Sketches.bloomBuild(ords, col("o_custkey"),
      BloomBits, BloomHashes)
    val probed = graft.ops.Sketches.bloomContains(filt,
      Tables.customer(spark, dir), col("c_custkey"), BloomBits, BloomHashes)
    val actual = ords.select(col("o_custkey").cast("string").as("value"))
      .distinct().withColumn("__act", lit(true))
    probed.join(actual, Seq("value"), "left_outer")
      .select(col("value"), col("n_bits_set"), col("maybe_present"),
        coalesce(col("__act"), lit(false)).as("actually_present"))
      .withColumn("false_positive",
        col("maybe_present") && !col("actually_present"))
      .orderBy("value")
  }

  private val QsKnots = 32
  private val QsPercents = Seq(5, 25, 50, 75, 95)

  /** Persisted-per-batch mergeable quantile sketch
    * ([[graft.ops.Sketches.quantileSketchBuild]], K = 32 knots per
    * day-batch over events.value) answering 5 percentiles from the MERGED
    * knots, with the ε = 1/K rank guarantee audited against the exact
    * ranks: `valid_ge` (true rank of the answer reaches the target) and
    * `within_eps` (strictly-below rank < target + N/K) must both hold —
    * the deterministic integer-arithmetic construction makes the whole
    * pipeline, guarantee audit included, hash-checkable against DuckDB.
    */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val day = floor(col("ts_us") / lit(86400000000L))
    val sketch = graft.ops.Sketches.quantileSketchBuild(ev, col("value"),
      day, QsKnots)
    val ans = graft.ops.Sketches.quantileSketchQuantiles(sketch, QsPercents)
    val v2 = col("value").cast(Money)
    ev.select(v2.as("__ev")).filter(col("__ev").isNotNull)
      .crossJoin(broadcast(ans))
      .groupBy("q", "n_total", "target_rank", "est_value")
      .agg(sum(when(col("__ev") <= col("est_value"), 1L).otherwise(0L))
          .as("exact_rank"),
        sum(when(col("__ev") < col("est_value"), 1L).otherwise(0L))
          .as("exact_below"))
      .select(col("q"), col("n_total"), col("target_rank"),
        col("est_value").cast(DoubleType).as("est_value"),
        col("exact_rank"), col("exact_below"),
        (col("exact_rank") >= col("target_rank")).as("valid_ge"),
        ((col("exact_below") - col("target_rank")) * QsKnots < col("n_total"))
          .as("within_eps"))
      .orderBy("q")
  }

  private val PsiSketchBuckets = 10

  /** PSI drift monitor answered from PERSISTED quantile-sketch knots
    * ([[graft.ops.Drift.psiBucketsFromSketch]]): the same even/odd-event
    * split as `quality_drift_psi`, but the baseline decile edges come
    * from the merged per-day knot relation instead of an exact
    * percentile pass over baseline history — the standing-monitor shape
    * at 100 TB, and (unlike a percentile_approx swap) fully
    * hash-checkable: sketch, edges, buckets and PSI tail all replay.
    */
  def psiSketch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val day = floor(col("ts_us") / lit(86400000000L))
    graft.ops.Drift.psiBucketsFromSketch(
        e.filter(col("event_id") % 2 === 0),
        e.filter(col("event_id") % 2 === 1),
        "value", day, QsKnots, PsiSketchBuckets)
      .orderBy("bucket")
  }

  /** Winsor pass with fences from the merged per-day knot relation
    * ([[graft.ops.Prep.winsorizeFromSketch]], 5/95) — the standing-pass
    * form of `prep_winsorize`; same aggregate contract.
    */
  def winsorizeSketch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).filter(col("value").isNotNull)
    val day = floor(col("ts_us") / lit(86400000000L))
    graft.ops.Prep.winsorizeFromSketch(e, "value", day, QsKnots, 5, 95)
      .agg(
        sum(when(col("clipped_lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("clipped_hi"), 1L).otherwise(0L)).as("n_hi"),
        count(lit(1)).as("n_rows"),
        sum(col("winsorized")).cast("double").as("total"),
        min(col("winsorized")).cast("double").as("lo_edge"),
        max(col("winsorized")).cast("double").as("hi_edge"))
  }

  private val QbSketchBuckets = 10

  /** Decile bucketing with edges from merged knots
    * ([[graft.ops.Prep.quantileBucketFromSketch]]) — the standing-pass
    * form of `prep_quantile_bucket`'s edge derivation.
    */
  def qbucketSketch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).filter(col("value").isNotNull)
    val day = floor(col("ts_us") / lit(86400000000L))
    graft.ops.Prep.quantileBucketFromSketch(e, "value", day, QsKnots,
        QbSketchBuckets)
      .orderBy("bucket")
  }

  /** PSI with the baseline side answered ENTIRELY from knots
    * ([[graft.ops.Drift.psiAgainstSketch]]): edges and baseline bucket
    * masses both from the merged per-day sketch of the even events —
    * zero baseline re-reads per evaluation (`scale_psi_sketch` still
    * re-counts baseline rows per bucket; this is the final form).
    */
  def psiHistory(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val day = floor(col("ts_us") / lit(86400000000L))
    val sketch = graft.ops.Sketches.quantileSketchBuild(
      e.filter(col("event_id") % 2 === 0), col("value"), day, QsKnots)
    graft.ops.Drift.psiAgainstSketch(sketch,
        e.filter(col("event_id") % 2 === 1), "value", PsiSketchBuckets)
      .orderBy("bucket")
  }

  // shared knot-for-knot sketch replay: the keep rule, delta/merge
  // windows and target ranks are ALL integer arithmetic on the shared
  // DECIMAL(18,2) value grid; `extraWhere` restricts the sketched
  // relation, `pcts` are the answered percents (CTE `a` = answers)
  private def qsketchCtes(extraWhere: String, percents: Seq[Int]): String = {
    val pcts = percents.mkString("[", ", ", "]")
    s"""e AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
       |    epoch_us(ts) // 86400000000 AS batch
       |  FROM events WHERE value IS NOT NULL AND ($extraWhere)),
       |g AS (SELECT batch, v, count(*) AS c FROM e GROUP BY 1, 2),
       |cg AS (SELECT batch, v, c,
       |    sum(c) OVER (PARTITION BY batch ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(c) OVER (PARTITION BY batch) AS n
       |  FROM g),
       |k AS (SELECT batch, v, c, cum FROM cg
       |  WHERE (cum * $QsKnots) // n > ((cum - c) * $QsKnots) // n),
       |d AS (SELECT batch, v, cum,
       |    cum - coalesce(lag(cum) OVER (PARTITION BY batch ORDER BY v), 0)
       |      AS delta
       |  FROM k),
       |r AS (SELECT v, max(est_rank) AS est_rank FROM (
       |    SELECT v, sum(delta) OVER (ORDER BY v
       |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS est_rank
       |    FROM d) GROUP BY v),
       |nt AS (SELECT sum(n_b) AS n_total FROM (
       |    SELECT max(cum) AS n_b FROM k GROUP BY batch)),
       |t AS (SELECT CAST(q AS BIGINT) AS q, n_total,
       |    (q * n_total + 99) // 100 AS target_rank
       |  FROM nt, (SELECT unnest($pcts) AS q)),
       |a AS (SELECT q, n_total, target_rank, min(v) AS est_value
       |  FROM r, t WHERE est_rank >= target_rank GROUP BY 1, 2, 3)"""
      .stripMargin
  }

  val registry: Map[String, Query] = Map(
    // banded assertions: the oracle STATES the approximation invariant
    // (exact values + `true` flags); the Spark relation computes the
    // flags from est vs exact, so a band violation hash-fails the gate
    "scale_approx_distinct" -> Query(approxDistinct, Some(
      """SELECT count(DISTINCT user_id) AS exact_users,
        |  true AS users_within_band,
        |  count(DISTINCT event_type) AS exact_event_types,
        |  true AS types_within_band
        |FROM events""".stripMargin)),
    "scale_approx_quantiles" -> Query(approxQuantiles, Some(
      """SELECT count(*) AS n, true AS p25_within_band,
        |  true AS p50_within_band, true AS p75_within_band
        |FROM lineitem""".stripMargin)),
    "scale_hll_rolling" -> Query(hllRolling, Some(
      """WITH ud AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS d FROM events),
        |days AS (SELECT DISTINCT d AS day FROM ud),
        |c AS (SELECT DISTINCT user_id, u.day
        |      FROM ud, UNNEST(generate_series(d, d + 6)) AS u(day))
        |SELECT c.day, count(DISTINCT user_id) AS exact_active,
        |  true AS within_band
        |FROM c JOIN days USING (day)
        |GROUP BY 1 ORDER BY day""".stripMargin)),
    // sketch-derived decile edges + the quality_drift_psi tail — the
    // monitor replays end to end (edges, buckets, probabilities)
    // baseline masses from the knots' own rank estimates (bcum deltas +
    // the N − top-edge remainder), current counted exactly, shared tail
    "scale_psi_history" -> Query(psiHistory, Some({
      val pcts = (1 until PsiSketchBuckets).map(_ * (100 / PsiSketchBuckets))
      s"""WITH ${qsketchCtes("event_id % 2 = 0", pcts)},
         |el AS (SELECT list_sort(list(est_value)) AS breaks FROM a),
         |ed AS (SELECT CAST(i AS BIGINT) AS i, breaks[i] AS edge
         |  FROM el, UNNEST(generate_series(1, len(breaks))) u(i)),
         |bcum AS (SELECT ed.i, coalesce(max(r.est_rank), 0) AS cum
         |  FROM ed LEFT JOIN r ON r.v <= ed.edge GROUP BY 1),
         |bprev AS (SELECT i, cum,
         |    coalesce(lag(cum) OVER (ORDER BY i), 0) AS prev FROM bcum),
         |bb AS (SELECT i AS bucket, cum - prev AS n_base FROM bprev
         |  UNION ALL
         |  SELECT CAST($PsiSketchBuckets AS BIGINT),
         |    (SELECT n_total FROM nt) - (SELECT max(cum) FROM bcum)),
         |cur AS (SELECT CAST(value AS DECIMAL(18,2)) AS v FROM events
         |  WHERE event_id % 2 = 1),
         |c1 AS (SELECT 1 + len(list_filter(breaks, b -> v > b)) AS bucket,
         |    count(*) AS n_cur FROM cur, el GROUP BY 1),
         |j AS (SELECT coalesce(bb.bucket, c1.bucket) AS bucket,
         |    coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
         |  FROM bb FULL OUTER JOIN c1 ON bb.bucket = c1.bucket),
         |tt AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
         |  round(greatest(n_base * 1.0 / tb, 1e-6), 9) AS p_base,
         |  round(greatest(n_cur * 1.0 / tc, 1e-6), 9) AS p_cur,
         |  round((greatest(n_cur * 1.0 / tc, 1e-6)
         |      - greatest(n_base * 1.0 / tb, 1e-6))
         |    * ln(greatest(n_cur * 1.0 / tc, 1e-6)
         |      / greatest(n_base * 1.0 / tb, 1e-6)), 9) AS contribution
         |FROM j, tt ORDER BY bucket""".stripMargin
    })),
    // 5/95 fences from the shared sketch replay + the winsor clip tail
    "scale_winsorize_sketch" -> Query(winsorizeSketch, Some({
      s"""WITH ${qsketchCtes("TRUE", Seq(5, 95))},
         |el AS (SELECT min(CASE WHEN q = 5 THEN est_value END) AS lo,
         |    min(CASE WHEN q = 95 THEN est_value END) AS hi FROM a),
         |base AS (SELECT CAST(value AS DECIMAL(18,2)) AS v FROM events
         |  WHERE value IS NOT NULL),
         |w AS (SELECT (v < lo) AS cl, (v > hi) AS ch,
         |    CASE WHEN v < lo THEN lo WHEN v > hi THEN hi ELSE v END AS wv
         |  FROM base, el)
         |SELECT CAST(sum(CASE WHEN cl THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_lo,
         |  CAST(sum(CASE WHEN ch THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
         |  count(*) AS n_rows, CAST(sum(wv) AS DOUBLE) AS total,
         |  CAST(min(wv) AS DOUBLE) AS lo_edge,
         |  CAST(max(wv) AS DOUBLE) AS hi_edge
         |FROM w ORDER BY n_rows""".stripMargin
    })),
    // decile edges from the shared sketch replay + per-bucket stats
    "scale_qbucket_sketch" -> Query(qbucketSketch, Some({
      val pcts = (1 until QbSketchBuckets).map(_ * (100 / QbSketchBuckets))
      s"""WITH ${qsketchCtes("TRUE", pcts)},
         |el AS (SELECT list_sort(list(est_value)) AS breaks FROM a),
         |base AS (SELECT CAST(value AS DECIMAL(18,2)) AS v FROM events
         |  WHERE value IS NOT NULL),
         |b1 AS (SELECT 1 + len(list_filter(breaks, b -> v > b)) AS bucket,
         |    v FROM base, el)
         |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
         |  CAST(min(v) AS DOUBLE) AS lo, CAST(max(v) AS DOUBLE) AS hi
         |FROM b1 GROUP BY 1 ORDER BY bucket""".stripMargin
    })),
    "scale_psi_sketch" -> Query(psiSketch, Some({
      val pcts = (1 until PsiSketchBuckets).map(_ * (100 / PsiSketchBuckets))
      s"""WITH ${qsketchCtes("event_id % 2 = 0", pcts)},
         |el AS (SELECT list_sort(list(est_value)) AS breaks FROM a),
         |base AS (SELECT CAST(value AS DECIMAL(18,2)) AS v FROM events
         |  WHERE event_id % 2 = 0),
         |cur AS (SELECT CAST(value AS DECIMAL(18,2)) AS v FROM events
         |  WHERE event_id % 2 = 1),
         |b1 AS (SELECT 1 + len(list_filter(breaks, b -> v > b)) AS bucket,
         |    count(*) AS n_base FROM base, el GROUP BY 1),
         |c1 AS (SELECT 1 + len(list_filter(breaks, b -> v > b)) AS bucket,
         |    count(*) AS n_cur FROM cur, el GROUP BY 1),
         |j AS (SELECT coalesce(b1.bucket, c1.bucket) AS bucket,
         |    coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
         |  FROM b1 FULL OUTER JOIN c1 ON b1.bucket = c1.bucket),
         |tt AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |  CAST(n_base AS BIGINT) AS n_base, CAST(n_cur AS BIGINT) AS n_cur,
         |  round(greatest(n_base * 1.0 / tb, 1e-6), 9) AS p_base,
         |  round(greatest(n_cur * 1.0 / tc, 1e-6), 9) AS p_cur,
         |  round((greatest(n_cur * 1.0 / tc, 1e-6)
         |      - greatest(n_base * 1.0 / tb, 1e-6))
         |    * ln(greatest(n_cur * 1.0 / tc, 1e-6)
         |      / greatest(n_base * 1.0 / tb, 1e-6)), 9) AS contribution
         |FROM j, tt ORDER BY bucket""".stripMargin
    })),
    // the guarantee-audit query over the same shared replay
    "scale_quantile_sketch" -> Query(quantileSketch, Some({
      s"""WITH ${qsketchCtes("TRUE", QsPercents)},
         |x AS (SELECT a.q, a.n_total, a.target_rank, a.est_value,
         |    sum(CASE WHEN e.v <= a.est_value THEN 1 ELSE 0 END)
         |      AS exact_rank,
         |    sum(CASE WHEN e.v < a.est_value THEN 1 ELSE 0 END)
         |      AS exact_below
         |  FROM e, a GROUP BY 1, 2, 3, 4)
         |SELECT q, CAST(n_total AS BIGINT) AS n_total,
         |  CAST(target_rank AS BIGINT) AS target_rank,
         |  CAST(est_value AS DOUBLE) AS est_value,
         |  CAST(exact_rank AS BIGINT) AS exact_rank,
         |  CAST(exact_below AS BIGINT) AS exact_below,
         |  exact_rank >= target_rank AS valid_ge,
         |  (exact_below - target_rank) * $QsKnots < n_total AS within_eps
         |FROM x ORDER BY q""".stripMargin
    })),
    // bit-for-bit filter replay on the shared md5 hash idiom; probe bits
    // deliberately NOT deduped per value (two seeds landing on one set
    // bit still count as hashes bits set — Bloom semantics)
    "scale_bloom" -> Query(bloom, Some({
      val seeds = (0 until BloomHashes).mkString("[", ", ", "]")
      def bit(v: String) =
        s"('0x' || substr(md5(CAST(s.seed AS VARCHAR) || '|' || $v), 1, 12))::BIGINT % $BloomBits"
      s"""WITH ins AS (SELECT CAST(o_custkey AS VARCHAR) AS v FROM orders
         |            WHERE o_totalprice > $BloomPrice),
         |bb AS (SELECT DISTINCT ${bit("v")} AS bit
         |       FROM ins, (SELECT unnest($seeds) AS seed) s),
         |pv AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS value
         |       FROM customer),
         |pb AS (SELECT value, ${bit("value")} AS bit
         |       FROM pv, (SELECT unnest($seeds) AS seed) s),
         |pr AS (SELECT value,
         |         CAST(sum(CASE WHEN bb.bit IS NOT NULL THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_bits_set
         |       FROM pb LEFT JOIN bb USING (bit) GROUP BY 1),
         |act AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS value
         |        FROM orders WHERE o_totalprice > $BloomPrice)
         |SELECT pr.value, pr.n_bits_set,
         |  pr.n_bits_set = $BloomHashes AS maybe_present,
         |  act.value IS NOT NULL AS actually_present,
         |  (pr.n_bits_set = $BloomHashes AND act.value IS NULL)
         |    AS false_positive
         |FROM pr LEFT JOIN act USING (value) ORDER BY value""".stripMargin
    })),
    // cell-for-cell sketch replay on the shared md5 hash idiom; est =
    // min over the depth seeds' buckets, always ≥ exact (one-sided)
    "scale_countmin" -> Query(countMin, Some({
      val seeds = (0 until CmDepth).mkString("[", ", ", "]")
      def bucket(v: String) =
        s"('0x' || substr(md5(CAST(s.seed AS VARCHAR) || '|' || $v), 1, 12))::BIGINT % $CmWidth"
      s"""WITH v AS (SELECT CAST(user_id AS VARCHAR) AS value FROM events),
         |cells AS (SELECT s.seed, ${bucket("value")} AS bucket
         |          FROM v, (SELECT unnest($seeds) AS seed) s),
         |sk AS (SELECT seed, bucket, count(*) AS cnt
         |       FROM cells GROUP BY 1, 2),
         |pv AS (SELECT DISTINCT value FROM v),
         |pc AS (SELECT value, s.seed, ${bucket("value")} AS bucket
         |       FROM pv, (SELECT unnest($seeds) AS seed) s),
         |est AS (SELECT value, min(coalesce(sk.cnt, 0)) AS est
         |        FROM pc LEFT JOIN sk USING (seed, bucket) GROUP BY 1),
         |ex AS (SELECT CAST(user_id AS VARCHAR) AS value,
         |         count(*) AS exact_cnt
         |       FROM events GROUP BY 1)
         |SELECT e.value, e.est, x.exact_cnt,
         |  e.est - x.exact_cnt AS overcount
         |FROM est e JOIN ex x USING (value) ORDER BY value""".stripMargin
    })),
    "skew_salted_agg" -> Query(skewSaltedAgg, Some(
      """SELECT user_id, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // the whole point of salting: identical to the PLAIN equi-join
    "skew_salted_join" -> Query(skewSaltedJoin, Some(
      s"""SELECT p_brand, count(*) AS n_items,
         |  ${graft.functions.Exact.sumMoneySql("l_extendedprice")} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    "sample_hash_bucket" -> Query(sampleHashBucket, Some(
      """SELECT event_type, count(*) AS n_sampled,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sampled_value
        |FROM events
        |WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 12))::BIGINT % 100 < 10
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // same z construction as layout_zorder, then per-16-bucket min/max
    // widths as exact DECIMAL differences over one global broadcast
    "layout_pruning_stats" -> Query(layoutPruningStats, Some({
      val bins = 1 << ZBits
      def bin(d: String, mn: String, mx: String) =
        s"""CASE WHEN CAST($mx - $mn AS DOUBLE) > 0
           |    THEN CAST(least(floor(CAST($d - $mn AS DOUBLE) * $bins
           |           / CAST($mx - $mn AS DOUBLE)), ${bins - 1}) AS BIGINT)
           |    ELSE 0 END""".stripMargin
      s"""WITH x AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS d0,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS d1
         |  FROM lineitem),
         |s AS (SELECT min(d0) AS mn0, max(d0) AS mx0,
         |             min(d1) AS mn1, max(d1) AS mx1 FROM x),
         |b AS (SELECT d0, d1,
         |    ${bin("d0", "mn0", "mx0")} AS b0,
         |    ${bin("d1", "mn1", "mx1")} AS b1
         |  FROM x, s),
         |zz AS (SELECT d0, d1,
         |    CAST(${graft.sources.Layout.interleaveBitsSql(Seq("b0", "b1"),
              ZBits)} AS BIGINT) AS z
         |  FROM b),
         |gk AS (SELECT min(d0) AS gq0, max(d0) AS gq1,
         |              min(d1) AS gp0, max(d1) AS gp1 FROM zz),
         |pb AS (SELECT z >> 4 AS bucket, count(*) AS n,
         |    min(d0) AS q0, max(d0) AS q1, min(d1) AS p0, max(d1) AS p1
         |  FROM zz GROUP BY 1)
         |SELECT bucket, n,
         |  round(CAST(q1 - q0 AS DOUBLE) / CAST(gq1 - gq0 AS DOUBLE), 9)
         |    AS quantity_frac,
         |  round(CAST(p1 - p0 AS DOUBLE) / CAST(gp1 - gp0 AS DOUBLE), 9)
         |    AS price_frac
         |FROM pb, gk ORDER BY bucket""".stripMargin
    })),
    // Hilbert replay: same binning CTEs as layout_zorder, then the
    // xy2d walk as a CTE chain emitted by the SAME level loop as the
    // Spark plan (Layout.hilbertStepsSql) — the two cannot drift
    "layout_hilbert" -> Query(layoutHilbert, Some({
      val bins = 1 << ZBits
      def bin(d: String, mn: String, mx: String) =
        s"""CASE WHEN CAST($mx - $mn AS DOUBLE) > 0
           |    THEN CAST(least(floor(CAST($d - $mn AS DOUBLE) * $bins
           |           / CAST($mx - $mn AS DOUBLE)), ${bins - 1}) AS BIGINT)
           |    ELSE 0 END""".stripMargin
      s"""WITH x AS (SELECT l_orderkey, l_linenumber,
         |    CAST(l_quantity AS DECIMAL(18,2)) AS d0,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS d1
         |  FROM lineitem),
         |s AS (SELECT min(d0) AS mn0, max(d0) AS mx0,
         |             min(d1) AS mn1, max(d1) AS mx1 FROM x),
         |b AS (SELECT l_orderkey, l_linenumber,
         |    ${bin("d0", "mn0", "mx0")} AS b0,
         |    ${bin("d1", "mn1", "mx1")} AS b1
         |  FROM x, s),
         |${graft.sources.Layout.hilbertStepsSql("b",
              Seq("l_orderkey", "l_linenumber"), ZBits)}
         |SELECT l_orderkey, l_linenumber, hd AS h_value
         |FROM hil$ZBits
         |ORDER BY h_value, l_orderkey, l_linenumber""".stripMargin
    })),
    "layout_hilbert_pruning" -> Query(layoutHilbertPruning, Some({
      val bins = 1 << ZBits
      def bin(d: String, mn: String, mx: String) =
        s"""CASE WHEN CAST($mx - $mn AS DOUBLE) > 0
           |    THEN CAST(least(floor(CAST($d - $mn AS DOUBLE) * $bins
           |           / CAST($mx - $mn AS DOUBLE)), ${bins - 1}) AS BIGINT)
           |    ELSE 0 END""".stripMargin
      s"""WITH x AS (SELECT CAST(l_quantity AS DECIMAL(18,2)) AS d0,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS d1
         |  FROM lineitem),
         |s AS (SELECT min(d0) AS mn0, max(d0) AS mx0,
         |             min(d1) AS mn1, max(d1) AS mx1 FROM x),
         |b AS (SELECT d0, d1,
         |    ${bin("d0", "mn0", "mx0")} AS b0,
         |    ${bin("d1", "mn1", "mx1")} AS b1
         |  FROM x, s),
         |${graft.sources.Layout.hilbertStepsSql("b",
              Seq("d0", "d1"), ZBits)},
         |gk AS (SELECT min(d0) AS gq0, max(d0) AS gq1,
         |              min(d1) AS gp0, max(d1) AS gp1 FROM hil$ZBits),
         |pb AS (SELECT hd >> 4 AS bucket, count(*) AS n,
         |    min(d0) AS q0, max(d0) AS q1, min(d1) AS p0, max(d1) AS p1
         |  FROM hil$ZBits GROUP BY 1)
         |SELECT bucket, n,
         |  round(CAST(q1 - q0 AS DOUBLE) / CAST(gq1 - gq0 AS DOUBLE), 9)
         |    AS quantity_frac,
         |  round(CAST(p1 - p0 AS DOUBLE) / CAST(gp1 - gp0 AS DOUBLE), 9)
         |    AS price_frac
         |FROM pb, gk ORDER BY bucket""".stripMargin
    })),
    // same exact-DECIMAL binning as prep_histogram_price per dimension,
    // then the interleave generated by the SAME index loop as the Spark
    // expression (Layout.interleaveBitsSql) — the two cannot drift
    "layout_zorder" -> Query(layoutZorder, Some({
      val bins = 1 << ZBits
      def bin(d: String, mn: String, mx: String) =
        s"""CASE WHEN CAST($mx - $mn AS DOUBLE) > 0
           |    THEN CAST(least(floor(CAST($d - $mn AS DOUBLE) * $bins
           |           / CAST($mx - $mn AS DOUBLE)), ${bins - 1}) AS BIGINT)
           |    ELSE 0 END""".stripMargin
      s"""WITH x AS (SELECT l_orderkey, l_linenumber,
         |    CAST(l_quantity AS DECIMAL(18,2)) AS d0,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS d1
         |  FROM lineitem),
         |s AS (SELECT min(d0) AS mn0, max(d0) AS mx0,
         |             min(d1) AS mn1, max(d1) AS mx1 FROM x),
         |b AS (SELECT l_orderkey, l_linenumber,
         |    ${bin("d0", "mn0", "mx0")} AS b0,
         |    ${bin("d1", "mn1", "mx1")} AS b1
         |  FROM x, s)
         |SELECT l_orderkey, l_linenumber,
         |  CAST(${graft.sources.Layout.interleaveBitsSql(Seq("b0", "b1"), ZBits)}
         |    AS BIGINT) AS z_value
         |FROM b ORDER BY z_value, l_orderkey, l_linenumber""".stripMargin
    })))
}
