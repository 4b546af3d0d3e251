package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the data-quality operator family
  * (SURVEY.md §2 A14–A17: null-cell ratio, duplicate-row ratio, exact
  * quantiles, IQR outliers). These mirror what
  * [[graft.quality.DataQualityValidator]] computes, expressed as single
  * declarative plans so the driver can hash-compare them against DuckDB.
  */
object QualityQueries {

  /** events core columns (ts as epoch-µs for engine parity). */
  private def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value", "props", "ts_us")

  /** A14 + A15: global null-cell ratio and duplicate-row ratio over events.
    * Two 1-row aggregates cross-joined — at scale each is one distributed
    * pass (the distinct is a shuffle on all columns); the join is trivial.
    */
  def nullDupRatio(spark: SparkSession, dir: String): DataFrame = {
    val base = ev(spark, dir)
    val cols = base.columns.toSeq
    val nullCells = cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L)))
      .reduce(_ + _)
    val counts = base.agg(
      count(lit(1)).as("n_rows"), nullCells.as("null_cells"))
    val distincts = base.distinct().agg(count(lit(1)).as("n_distinct"))
    counts.crossJoin(distincts).select(
      col("n_rows"), col("null_cells"),
      (col("null_cells").cast("double") / (col("n_rows") * cols.length))
        .as("null_ratio"),
      (col("n_rows") - col("n_distinct")).as("dup_rows"),
      ((col("n_rows") - col("n_distinct")).cast("double") / col("n_rows"))
        .as("dup_ratio"))
  }

  /** A16 + A17 + P7: exact quartiles of events.value and the IQR outlier
    * count. The 1-row quantile aggregate is cross-joined back (broadcast)
    * and carried through the group-by — quantiles compute once, the outlier
    * scan is a second single pass.
    */
  def outlierIqr(spark: SparkSession, dir: String): DataFrame = {
    val base = ev(spark, dir)
    val q = base.agg(
      percentile(col("value"), lit(0.25)).as("q1"),
      percentile(col("value"), lit(0.75)).as("q3"))
    base.crossJoin(q)
      .groupBy(col("q1"), col("q3"))
      .agg(
        sum(when(
          col("value") < col("q1") - (col("q3") - col("q1")) * 1.5 ||
          col("value") > col("q3") + (col("q3") - col("q1")) * 1.5,
          1L).otherwise(0L)).as("n_outliers"),
        count(col("value")).as("n_values"))
      .select(round(col("q1"), 6).as("q1"), round(col("q3"), 6).as("q3"),
        col("n_outliers"), col("n_values"))
  }

  /** A16: exact linear-interpolation quantiles over lineitem columns
    * (`percentile`, matching DuckDB `quantile_cont` and pandas
    * `Series.quantile`). The scalable alternate is `percentile_approx` —
    * exposed in [[graft.quality.DataQualityValidator]] docs, kept exact here
    * for oracle parity.
    */
  def quantilesLineitem(spark: SparkSession, dir: String): DataFrame = {
    // one percentile agg per COLUMN (array of percentages), not per
    // quantile: each exact-percentile agg buffers the column's value-count
    // map independently, so 6 scalar calls = 6 buffers but 2 array calls = 2
    val ps = array(lit(0.25), lit(0.5), lit(0.75))
    // per-column pre-grouped frequency form (bit-exact — the percentile
    // builds the identical counts map): update calls drop from row-count
    // to distinct-count per column (l_quantity: ~50), and each single-
    // column scan prunes to one parquet column. The two 1-row aggregates
    // cross back into the one output row.
    val li = Tables.lineitem(spark, dir)
    def colQ(c: String, as: String) =
      li.groupBy(col(c).as("__v")).agg(count(col(c)).as("__c"))
        .agg(percentile(col("__v"), ps, col("__c")).as(as))
    colQ("l_quantity", "qq").crossJoin(colQ("l_extendedprice", "pq"))
      .select(
        round(element_at(col("qq"), 1), 6).as("qty_q1"),
        round(element_at(col("qq"), 2), 6).as("qty_q2"),
        round(element_at(col("qq"), 3), 6).as("qty_q3"),
        round(element_at(col("pq"), 1), 6).as("price_q1"),
        round(element_at(col("pq"), 2), 6).as("price_q2"),
        round(element_at(col("pq"), 3), 6).as("price_q3"))
  }

  /** A15 on documents.text — the exact-dedup ratio of the corpus. */
  def dupRatioDocuments(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("text")).as("n_distinct_texts"),
      ((count(lit(1)) - countDistinct(col("text"))).cast("double") / count(lit(1)))
        .as("dup_ratio"))

  /** Feature-drift PSI between two snapshots ([[graft.ops.Drift]]): the
    * value distribution of even- vs odd-id events over baseline-decile
    * buckets. In-plan breakpoints, no driver collect.
    */
  def driftPsi(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    graft.ops.Drift.psiBuckets(
        e.filter(col("event_id") % 2 === 0),
        e.filter(col("event_id") % 2 === 1),
        "value", buckets = 10)
      .orderBy("bucket")
  }

  private val SkewTopK = 5

  /** Join-key skew diagnostics — the planning report you run BEFORE a
    * 100 TB join to decide whether a key needs salting
    * ([[graft.ops.Skew]]): the `SkewTopK` heaviest keys with their row
    * share, plus the global skew factor (max key count / mean key count).
    * One group-by on the key, a 1-row global aggregate broadcast back, and
    * a per-partition top-k heap — the report costs one shuffle of key
    * counts, never of the data.
    */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val g = counts.agg(sum(col("n")).as("__total"),
      count(lit(1)).as("__keys"), max(col("n")).as("__max"))
    counts.crossJoin(broadcast(g))
      .select(col("user_id"), col("n"),
        round(col("n").cast("double") / col("__total"), 6).as("share"),
        round(col("__max").cast("double") * col("__keys") / col("__total"), 6)
          .as("skew_factor"))
      .orderBy(col("n").desc, col("user_id"))
      .limit(SkewTopK)
  }

  private val SplitTestUs = 7L * 86400L * 1000000L
  private val SplitEmbargoUs = 1L * 86400L * 1000000L

  // the shared PSI oracle tail — must mirror Drift.psiBuckets' exact
  // construction (deciles of the BASE side, codegen'd bucket chain, 1e-6
  // probability floor, round-9 contributions)
  private def psiOracle(baseSel: String, curSel: String): String =
    s"""WITH base AS ($baseSel),
       |cur AS ($curSel),
       |bk AS (SELECT quantile_cont(value,
       |         [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS breaks
       |       FROM base),
       |b1 AS (SELECT 1 + len(list_filter(breaks, b -> value > b)) AS bucket,
       |         count(*) AS n_base FROM base, bk GROUP BY 1),
       |c1 AS (SELECT 1 + len(list_filter(breaks, b -> value > b)) AS bucket,
       |         count(*) AS n_cur FROM cur, bk GROUP BY 1),
       |j AS (SELECT coalesce(b1.bucket, c1.bucket) AS bucket,
       |        coalesce(n_base, 0) AS n_base, coalesce(n_cur, 0) AS n_cur
       |      FROM b1 FULL OUTER JOIN c1 ON b1.bucket = c1.bucket),
       |t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j)
       |SELECT bucket, n_base, n_cur,
       |  round(greatest(n_base * 1.0 / tb, 1e-6), 9) AS p_base,
       |  round(greatest(n_cur * 1.0 / tc, 1e-6), 9) AS p_cur,
       |  round((greatest(n_cur * 1.0 / tc, 1e-6) - greatest(n_base * 1.0 / tb, 1e-6))
       |    * ln(greatest(n_cur * 1.0 / tc, 1e-6) / greatest(n_base * 1.0 / tb, 1e-6)), 9)
       |    AS contribution
       |FROM j, t ORDER BY bucket""".stripMargin

  /** PSI of the event-value distribution between the temporal train and
    * test splits ([[graft.ops.EventOps.timeSplitEmbargo]] ∘
    * [[graft.ops.Drift.psiBuckets]]) — the pre-training check that the
    * evaluation period hasn't drifted away from the training period, the
    * same trap the embargo guards against in time.
    */
  def splitDrift(spark: SparkSession, dir: String): DataFrame = {
    val split = graft.ops.EventOps.timeSplitEmbargo(
      ev(spark, dir), "ts_us", SplitTestUs, SplitEmbargoUs)
    graft.ops.Drift.psiBuckets(
        split.filter(col("split") === "train"),
        split.filter(col("split") === "test"),
        "value", buckets = 10)
      .orderBy("bucket")
  }

  /** Per-event-type robust outlier profile via median/MAD
    * ([[graft.quality.DataQualityValidator.madOutliers]]) — the
    * heavy-tail-safe sibling of [[outlierIqr]].
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.quality.DataQualityValidator.madOutliers(
        Tables.events(spark, dir), "event_type", "value")
      .orderBy("event_type")

  private val OtsuBins = 32

  /** Otsu's unsupervised two-class threshold over the event values
    * ([[graft.ops.Screening.otsuThreshold]]): the between-class-variance
    * argmax over a 32-bin exact-integer histogram — "where does low
    * spend end?" with no labels and no quantile sketch.
    */
  def otsuThreshold(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.otsuThreshold(
      Tables.events(spark, dir).filter(col("value").isNotNull),
      "value", OtsuBins)

  /** 1-Wasserstein distance between the train and test value
    * distributions of the temporal split ([[graft.ops.Drift.wasserstein1]]
    * over the same [[graft.ops.EventOps.timeSplitEmbargo]] split as
    * [[splitDrift]]) — drift with units, complementing PSI and KS.
    */
  def splitW1(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.wasserstein1(
        graft.ops.EventOps.timeSplitEmbargo(
          ev(spark, dir).filter(col("value").isNotNull),
          "ts_us", SplitTestUs, SplitEmbargoUs),
        "value", "split", "train", "test")
      .orderBy("n_a")

  /** Total-variation distance between the train and test event-type
    * distributions of the temporal split ([[graft.ops.Drift.tvDistance]])
    * — the categorical-column drift check beside [[splitW1]]'s numeric
    * one.
    */
  def splitTv(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.tvDistance(
        graft.ops.EventOps.timeSplitEmbargo(ev(spark, dir), "ts_us",
          SplitTestUs, SplitEmbargoUs),
        "event_type", "split", "train", "test")
      .orderBy("category")

  private val PermResamples = 200
  private val PermSeed = "permA"

  /** Per-event-type randomization test of the train/test mean value
    * difference with Benjamini–Hochberg FDR control across the slices
    * ([[graft.ops.Screening.permutationTestBh]], B = 200, α = 5%).
    */
  def permBh(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.permutationTestBh(
      graft.ops.EventOps.timeSplitEmbargo(ev(spark, dir), "ts_us",
        SplitTestUs, SplitEmbargoUs),
      "event_id", "value", "event_type", "split", "train", "test",
      PermResamples, PermSeed)

  /** Online/offline serving-consistency audit — the canonical
    * feature-store skew check (the train/serve agreement every feature
    * store must prove; the reference serves from the same store it
    * trains on, `ML Feature Store Pipeline.py:363-446`, and THIS is the
    * invariant that makes that safe): for an md5-sampled key set, the
    * ONLINE serving-path values (latest click by (ts, event_id) window;
    * total view count) must equal the OFFLINE training-matrix row
    * as-of global "now" ([[graft.ops.PointInTime.trainingMatrix]] over
    * the `pit_training_matrix` feature groups, through the NATIVE
    * sorted-merge as-of exec). The two sides are built by DIFFERENT
    * machinery — a window/groupBy serve path vs the as-of fold — so a
    * tie-semantics or boundary regression in either shows up as a
    * `*_match = false` row here. Null-safe compares; users with no
    * clicks match on NULL ≡ NULL, view counts on 0 ≡ 0.
    *
    * Shape at scale: the sampled spine is hash-bounded; "now" is a
    * broadcast 1-row aggregate; both sides shuffle once on user_id.
    */
  def servingSkew(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.{PointInTime, Prep}
    import org.apache.spark.sql.expressions.Window
    val e = ev(spark, dir)
    val users = e.select(col("user_id")).distinct()
      .filter(Prep.hashBucket(col("user_id"), 4) === 0)
    val nowRel = e.agg(max(col("ts_us")).as("ts_us"))
    val labels = users.crossJoin(broadcast(nowRel))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max_by(col("value"), col("event_id")).as("offline_click"))
      .select(col("user_id"), col("ts_us").as("c_ts_us"),
        col("offline_click"))
    val views = e.filter(col("event_type") === "view")
      .withColumn("__vs", count(lit(1)).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("ts_us"))
      .agg(max(col("__vs")).as("views_asof"))
      .select(col("user_id"), col("ts_us").as("v_ts_us"),
        col("views_asof"))
    val offline = PointInTime.trainingMatrix(labels, "user_id", "ts_us",
        Seq(
          PointInTime.FeatureGroup(clicks, "user_id", "c_ts_us",
            Seq("offline_click")),
          PointInTime.FeatureGroup(views, "user_id", "v_ts_us",
            Seq("views_asof"))),
        native = true)
      .select(col("user_id"), col("offline_click"),
        coalesce(col("views_asof"), lit(0L)).as("offline_views"))
    val onlineClick = e.filter(col("event_type") === "click")
      .withColumn("__rn", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("value").as("online_click"))
    val onlineViews = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(count(lit(1)).as("online_views"))
    users
      .join(onlineClick, Seq("user_id"), "left")
      .join(onlineViews, Seq("user_id"), "left")
      .join(offline, Seq("user_id"))
      .select(col("user_id"), col("online_click"), col("offline_click"),
        (col("online_click") <=> col("offline_click")).as("click_match"),
        coalesce(col("online_views"), lit(0L)).as("online_views"),
        col("offline_views"),
        (coalesce(col("online_views"), lit(0L)) <=> col("offline_views"))
          .as("views_match"))
      .orderBy("user_id")
  }

  /** Covariate balance (SMD) of the md5 arm split over three per-user
    * pre-metrics ([[graft.ops.Screening.covariateBalance]]) — the
    * randomization health check: all |SMD| should sit well under 0.1.
    */
  def covBalance(spark: SparkSession, dir: String): DataFrame = {
    val perUser = ev(spark, dir)
      .groupBy(col("user_id"))
      .agg(coalesce(sum((col("value")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long")), lit(0L)).as("spend_cents"),
        count(lit(1)).as("n_events"),
        countDistinct(floor(col("ts_us") / lit(86400000000L)))
          .as("n_days"))
    val long = perUser.select(col("user_id"),
      explode(array(
        struct(lit("spend_cents").as("c"), col("spend_cents").as("x")),
        struct(lit("n_events").as("c"), col("n_events").as("x")),
        struct(lit("n_days").as("c"), col("n_days").as("x")))).as("e"))
    graft.ops.Screening.covariateBalance(long, col("user_id"),
        col("e.c"), col("e.x"))
      .orderBy("covariate")
  }

  /** Empirical-Bayes shrinkage of per-supplier return rates
    * ([[graft.ops.Screening.ebShrinkage]]) — small suppliers shrink
    * toward the corpus prior, heavy ones keep their raw rate.
    */
  def ebReturnRates(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.ebShrinkage(
        Tables.lineitem(spark, dir), Seq("l_suppkey"),
        col("l_returnflag") === "R")
      .orderBy("l_suppkey")

  /** CUPED adjustment of per-user post-window spend by pre-window
    * spend ([[graft.ops.Screening.cuped]]) — the A/A placebo read:
    * adj_diff should shrink toward 0 versus raw_diff by corr² of the
    * two windows.
    */
  def cupedValue(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val mx = e.agg(max(col("ts_us")).as("__mx"))
    val withFlag = e.crossJoin(broadcast(mx))
      .withColumn("__post", col("ts_us") > col("__mx") - SplitTestUs)
    graft.ops.Screening.cuped(withFlag, col("user_id"),
      when(!col("__post"), col("value")),
      when(col("__post"), col("value")))
  }

  /** Difference-in-differences of event value: md5-armed users,
    * pre/post split at the last-7-days boundary
    * ([[graft.ops.Screening.diffInDiff]]) — under a null treatment the
    * estimator should sit near 0, which is exactly the A/A-style
    * placebo read.
    */
  def didValue(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val mx = e.agg(max(col("ts_us")).as("__mx"))
    graft.ops.Screening.diffInDiff(
      e.crossJoin(broadcast(mx)),
      col("user_id"), col("ts_us") > col("__mx") - SplitTestUs, "value")
  }

  /** Bhattacharyya/Hellinger drift between the same train/test
    * event-type distributions [[splitTv]] reads in L1
    * ([[graft.ops.Drift.hellingerDistance]]) — the bounded true-metric
    * member of the drift family.
    */
  def splitHellinger(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Drift.hellingerDistance(
        graft.ops.EventOps.timeSplitEmbargo(ev(spark, dir), "ts_us",
          SplitTestUs, SplitEmbargoUs),
        "event_type", "split", "train", "test")
      .orderBy("n_a")

  private val BootResamples = 200
  private val BootKeepPct = 80
  private val BootLoPermille = 25
  private val BootHiPermille = 975

  /** Deterministic 95% bootstrap CI for the mean purchase value
    * ([[graft.ops.Screening.bootstrapCi]]) — 200 md5-membership
    * subsample resamples, discrete permille quantiles of the resample
    * means.
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.bootstrapCi(
        ev(spark, dir).filter(col("event_type") === "purchase"),
        "event_id", "value", BootResamples, BootKeepPct,
        BootLoPermille, BootHiPermille)
      .orderBy("n")

  /** Benford's-law first-digit audit of lineitem extended price
    * ([[graft.quality.DataQualityValidator.benfordProfile]]) — observed vs
    * expected digit shares with per-digit χ² contributions, the forensic
    * fabricated-feed check.
    */
  def benford(spark: SparkSession, dir: String): DataFrame =
    graft.quality.DataQualityValidator.benfordProfile(
        Tables.lineitem(spark, dir), "l_extendedprice")
      .orderBy("digit")

  /** χ² + mutual information between event_type and the value quartile
    * bucket ([[graft.ops.Screening.contingencyStats]]) — the feature-
    * relevance screen: is the value distribution independent of the event
    * type? Bucketing follows [[graft.ops.Prep.quantileBucket]]'s exact
    * interpolated-edge discipline so the contingency table is
    * engine-identical.
    */
  def featureRelevance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = Tables.events(spark, dir)
      .select(col("event_type"), col("value"))
      .filter(col("value").isNotNull)
    val edges = base.agg(percentile(col("value"),
      array(lit(0.25), lit(0.5), lit(0.75))).as("__edges"))
    val xd = col("value").cast(DecimalType(18, 2))
    def edge(i: Int) = round(element_at(col("__edges"), i), 6)
      .cast(DecimalType(18, 6))
    val bucket = when(xd <= edge(1), 0).when(xd <= edge(2), 1)
      .when(xd <= edge(3), 2).otherwise(3)
    val bucketed = base.crossJoin(broadcast(edges))
      .select(col("event_type"), bucket.cast("long").as("vbucket"))
    graft.ops.Screening.contingencyStats(bucketed, "event_type", "vbucket")
      .orderBy("n")
  }

  /** Two-sample KS distance between purchase and click value
    * distributions ([[graft.ops.Screening.ksTwoSample]]) — the
    * distribution-shift screen on a label-conditioned feature.
    */
  def ksValue(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.ksTwoSample(Tables.events(spark, dir), "value",
        "event_type", "purchase", "click")
      .orderBy("n_a")

  /** Mann–Whitney U rank-sum test between purchase and click values
    * ([[graft.ops.Screening.mannWhitneyU]]) — the nonparametric partner
    * to [[ksValue]] on the same label-conditioned metric: KS reads the
    * largest CDF gap, U reads the stochastic-dominance direction.
    */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.mannWhitneyU(Tables.events(spark, dir), "value",
        "event_type", "purchase", "click")
      .orderBy("n_a")

  /** Welch's t-test between purchase and click values
    * ([[graft.ops.Screening.welchTTest]]) — the mean-difference read on
    * the same metric [[mannWhitney]] ranks and [[ksValue]] CDF-gaps.
    */
  def welch(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.welchTTest(Tables.events(spark, dir), "value",
        "event_type", "purchase", "click")
      .orderBy("n_a")

  /** Cramér's V + Theil's U(lang|source) over documents
    * ([[graft.ops.Screening.associationStrength]]) — the normalized
    * "is language confounded with source?" corpus-mixture audit.
    */
  def assocStrength(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.associationStrength(
        Tables.documents(spark, dir), "lang", "source")
      .orderBy("n")

  /** HBOS top-100 anomaly ranking over three lineitem features
    * ([[graft.quality.DataQualityValidator.hbosTopK]]) — the
    * histogram-product unsupervised outlier screen.
    */
  def hbosTopK(spark: SparkSession, dir: String): DataFrame =
    graft.quality.DataQualityValidator.hbosTopK(
      Tables.lineitem(spark, dir),
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      Seq("l_orderkey", "l_linenumber"), bins = 16, k = 100)

  /** Cohen's κ between the stopword-profile language prediction and the
    * labeled `lang` column ([[graft.ops.Screening.cohenKappa]]) — the
    * label-quality / annotator-agreement check, chance-corrected.
    */
  def labelKappa(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pred = graft.ops.TextAnalysis.langId(docs, "doc_id", "text",
      TextQueries.Profiles)
    graft.ops.Screening.cohenKappa(
        pred.join(docs.select("doc_id", "lang"), Seq("doc_id")),
        "lang", "predicted_lang")
      .orderBy("n")
  }

  private val ProfileCols =
    Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")

  /** Single-pass dataset-card profile of the lineitem money columns
    * ([[graft.quality.Profiler.profile]]): rows, nulls, exact cardinality,
    * range and exact-DECIMAL mean per column.
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame =
    graft.quality.Profiler.profile(Tables.lineitem(spark, dir), ProfileCols)
      .orderBy("col_name")

  /** Pairwise Pearson correlation matrix of the lineitem money columns in
    * one pass ([[graft.ops.Screening.pearsonMatrix]]) — the redundancy
    * screen run before feature selection.
    */
  def corrMatrix(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.pearsonMatrix(Tables.lineitem(spark, dir),
        ProfileCols)
      .orderBy("col_a", "col_b")

  private val EntropyCols =
    Seq("l_linestatus", "l_quantity", "l_returnflag", "l_tax")

  /** Per-column Shannon entropy + Gini impurity of a mixed-type lineitem
    * column set ([[graft.quality.Profiler.entropyProfile]]) — the
    * information-content row of the dataset card.
    */
  def entropyProfile(spark: SparkSession, dir: String): DataFrame =
    graft.quality.Profiler.entropyProfile(Tables.lineitem(spark, dir),
        EntropyCols)
      .orderBy("col_name")

  /** Per-column profile drift across the temporal midpoint of lineitem
    * ([[graft.quality.Profiler.profileDrift]]): the two ship-date halves
    * profiled with the same one-scan exact profiler, joined per column —
    * null-rate / cardinality / mean / range movement in one report. The
    * midpoint anchor is an integer epoch-day from one tiny aggregate
    * (broadcast back, no collect).
    */
  def profileDrift(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // l_shipdate arrives TIMESTAMP_NTZ; session TZ is UTC, so the cast is
    // a pure reinterpretation and epoch-µs match DuckDB's epoch_us
    val day = floor(unix_micros(col("l_shipdate").cast("timestamp")) /
      lit(86400000000L)).cast("long")
    val mid = li.agg(floor((min(day) + max(day) + 1) / lit(2))
      .cast("long").as("__mid"))
    val tagged = li.withColumn("__day", day).crossJoin(broadcast(mid))
    graft.quality.Profiler.profileDrift(
        tagged.filter(col("__day") < col("__mid")),
        tagged.filter(col("__day") >= col("__mid")), ProfileCols)
      .orderBy("col_name")
  }

  /** Exact orders ⋈ lineitem join-size prediction from per-key counts
    * ([[graft.ops.Screening.joinSizeEstimate]]) — the pre-shuffle
    * planning diagnostic (join_rows + the salt-this-join max key).
    */
  def joinSize(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.joinSizeEstimate(
        Tables.orders(spark, dir), Tables.lineitem(spark, dir),
        "o_orderkey", "l_orderkey")
      .orderBy("n_left")

  /** Referential-integrity audit of three star-schema edges
    * ([[graft.ops.Screening.fkAudit]]): two intact FK edges plus a
    * deliberately holed parent (every 5th customer dropped) so the orphan
    * path is exercised with real counts.
    */
  def fkOrphans(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val ord = Tables.orders(spark, dir)
    val holed = Tables.customer(spark, dir)
      .filter(pmod(col("c_custkey"), lit(5L)) =!= 0)
    graft.ops.Screening
      .fkAudit(li, "l_orderkey", ord, "o_orderkey", "lineitem->orders")
      .unionByName(graft.ops.Screening.fkAudit(li, "l_partkey",
        Tables.part(spark, dir), "p_partkey", "lineitem->part"))
      .unionByName(graft.ops.Screening.fkAudit(ord, "o_custkey", holed,
        "c_custkey", "orders->customer_holed"))
      .orderBy("edge")
  }

  /** Exact per-group weighted median ([[graft.ops.Screening
    * .weightedMedian]]): extended price weighted by integer quantity per
    * return flag — all-integer cross-multiply decision, no interpolation.
    */
  def weightedMedianPrice(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.weightedMedian(Tables.lineitem(spark, dir),
        "l_extendedprice", "l_quantity", Seq("l_returnflag"))
      .orderBy("l_returnflag")

  /** Dataset card for the documents corpus
    * ([[graft.quality.Profiler.datasetCard]]): size, token mass,
    * vocabulary, duplicate/empty shares, per-language composition as one
    * tall (metric, value) relation.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    graft.quality.Profiler.datasetCard(Tables.documents(spark, dir),
        "doc_id", "text", "lang")
      .orderBy("metric")

  private val KAnonK = 10
  private val KAnonL = 3

  /** k-anonymity / l-diversity audit
    * ([[graft.ops.Screening.kAnonymity]]) over the customer table:
    * quasi-identifiers (nation, market segment), sensitive attribute =
    * the 1000-wide account-balance band; classes smaller than
    * [[KAnonK]] or with fewer than [[KAnonL]] distinct bands flag.
    */
  def kAnonymityQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.kAnonymity(
        Tables.customer(spark, dir)
          .withColumn("acct_band", floor(col("c_acctbal") / 1000.0)),
        Seq("c_nationkey", "c_mktsegment"), "acct_band", KAnonK, KAnonL)
      .orderBy("c_nationkey", "c_mktsegment")

  private val DpEpsilon = 0.5
  private val DpSeed = "dp9"

  /** ε-DP Laplace release of per-nation customer counts
    * ([[graft.ops.Screening.dpNoisyCounts]]) — customer is one row per
    * individual, so the counting query has true sensitivity 1.
    */
  def dpRelease(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.dpNoisyCounts(Tables.customer(spark, dir),
        Seq("c_nationkey"), DpEpsilon, DpSeed)
      .orderBy("c_nationkey")

  private val DriftJaccard = 0.7
  private val DriftCos = 0.5

  /** Document-level text ⋈ embedding consistency audit — the data-bug
    * detector for a multimodal feature store: near-identical TEXT pairs
    * ([[graft.ops.Dedup.minhashLshPairs]] candidates, exact Jaccard
    * ≥ 0.7) whose embeddings sit FAR apart (cosine < 0.5) flag a broken
    * embedding pipeline, a doc/vector id misalignment, or a stale
    * re-embed — exactly the failure mode no per-table profile can see.
    *
    * Shape at scale: candidate work is the banded-minhash bound
    * (Σ bucket² per band, never corpus²); each surviving pair costs two
    * id-keyed LEFT joins against the embeddings table and one dot
    * product. A candidate doc whose embedding ROW is missing is itself
    * one of the id-misalignment failure modes this audit exists to
    * catch, so such pairs are emitted with NULL cos and is_missing/
    * is_drift TRUE rather than silently inner-joined away. Returns
    * (id_a, id_b, jaccard, cos, is_missing, is_drift) for every
    * verified text-near pair.
    */
  def textEmbedDrift(spark: SparkSession, dir: String): DataFrame =
    textEmbedDriftFrom(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))

  /** [[textEmbedDrift]] over explicit relations — the seam QualitySpec
    * uses to pin the missing-embedding (left-join) path, which the
    * full-coverage test corpus never exercises.
    */
  private[graft] def textEmbedDriftFrom(docs: DataFrame,
      emb: DataFrame): DataFrame = {
    val cands = graft.ops.Dedup.minhashLshPairs(
      docs, "doc_id", "text", DriftJaccard,
      DedupQueries.NumHashes, DedupQueries.Bands)
    // per-vector norms computed on the embeddings side of the joins —
    // one dot kernel per verified pair instead of three
    // ([[graft.ops.Similarity.cosinePre]])
    cands
      .join(emb.select(col("vec_id").as("id_a"),
        col("embedding").as("__va"),
        graft.ops.Similarity.norm(col("embedding").cast("array<double>"))
          .as("__na")), Seq("id_a"), "left")
      .join(emb.select(col("vec_id").as("id_b"),
        col("embedding").as("__vb"),
        graft.ops.Similarity.norm(col("embedding").cast("array<double>"))
          .as("__nb")), Seq("id_b"), "left")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        when(col("__va").isNotNull && col("__vb").isNotNull,
          round(graft.ops.Similarity.cosinePre(col("__va"), col("__vb"),
            col("__na"), col("__nb")), 6))
          .as("cos"),
        (col("__va").isNull || col("__vb").isNull).as("is_missing"))
      .withColumn("is_drift",
        col("is_missing") || col("cos") < DriftCos)
      .orderBy("id_a", "id_b")
  }

  private val EmbedNearCos = 0.35
  private val TextFarJaccard = 0.3

  /** The REVERSE direction of [[textEmbedDrift]]: embedding-NEAR pairs
    * ([[graft.ops.Similarity.lshNearDupPairs]] banded candidates, exact
    * cosine ≥ 0.35 — the house near-dup gate) whose TEXTS share almost
    * nothing (exact token Jaccard < 0.3) — semantically-close vectors
    * over unrelated text flag embedding-model collapse, duplicate
    * vectors pasted onto the wrong rows, or coordinated templating.
    * Together the two directions complete the text ⋈ embedding
    * consistency audit.
    *
    * Candidate work = the hyperplane-band Σ bucket² bound; each pair
    * pays two id-keyed token-set joins + one merge-intersect
    * (`graft_sorted_intersect`, codegen'd). Pairs whose docs have no
    * tokens score Jaccard 0 (maximally text-far). Returns
    * (id_a, id_b, cos, jaccard, is_drift).
    */
  def embedTextDrift(spark: SparkSession, dir: String): DataFrame =
    embedTextDriftFrom(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))

  /** [[embedTextDrift]] over explicit relations — the spec and
    * round-16 scale-measurement (SURVEY §6.1) seam, mirroring
    * [[textEmbedDriftFrom]].
    */
  private[graft] def embedTextDriftFrom(docs: DataFrame,
      emb: DataFrame): DataFrame = {
    val cands = graft.ops.Similarity.lshNearDupPairs(
      emb, "vec_id", "embedding",
      EmbedNearCos, SimilarityQueries.bandPlanes)
    val sets = graft.ops.Dedup.verifySets(docs, "doc_id", "text")
      .localCheckpoint(false)
    val nc = when(col("__ta").isNotNull && col("__tb").isNotNull,
      call_function("graft_sorted_intersect", col("__ta"), col("__tb")))
      .otherwise(0L)
    val den = coalesce(col("__na"), lit(0L)) +
      coalesce(col("__nb"), lit(0L)) - col("__nc")
    cands
      .join(sets.select(col("id").as("id_a"), col("toks_v").as("__ta"),
        col("n_tokens").as("__na")), Seq("id_a"), "left")
      .join(sets.select(col("id").as("id_b"), col("toks_v").as("__tb"),
        col("n_tokens").as("__nb")), Seq("id_b"), "left")
      .withColumn("__nc", nc)
      .select(col("id_a"), col("id_b"), col("cos"),
        when(den > 0, col("__nc").cast("double") / den).otherwise(0.0)
          .as("jaccard"))
      .withColumn("is_drift", col("jaccard") < TextFarJaccard)
      .orderBy("id_a", "id_b")
  }

  val registry: Map[String, Query] = Map(
    // the sim_lsh_neardup_pairs edge CTE + exact token-set Jaccard per
    // candidate; tokenless docs coalesce to Jaccard 0 (maximally far)
    "quality_embed_text_drift" -> Query(embedTextDrift, Some(
      s"""WITH ${SimilarityQueries.nearDupEdgesCte},
         |tok AS (
         |  SELECT DISTINCT doc_id AS id, t AS token
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |        FROM documents)
         |  WHERE t <> ''),
         |th AS (SELECT id,
         |    ('0x' || substr(md5(token), 1, 12))::BIGINT AS th FROM tok),
         |sz AS (SELECT id, count(*) AS n_tokens FROM th GROUP BY id),
         |inter AS (
         |  SELECT e.id_a, e.id_b, count(*) AS n_common
         |  FROM ndedges e
         |  JOIN th a ON a.id = e.id_a
         |  JOIN th b ON b.id = e.id_b AND b.th = a.th
         |  GROUP BY 1, 2),
         |jp AS (SELECT e.id_a, e.id_b, e.cos,
         |    coalesce(i.n_common, 0) AS nc,
         |    coalesce(sa.n_tokens, 0) + coalesce(sb.n_tokens, 0)
         |      - coalesce(i.n_common, 0) AS den
         |  FROM ndedges e
         |  LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
         |  LEFT JOIN sz sa ON sa.id = e.id_a
         |  LEFT JOIN sz sb ON sb.id = e.id_b)
         |SELECT id_a, id_b, cos,
         |  CASE WHEN den > 0 THEN nc * 1.0 / den ELSE 0.0 END AS jaccard,
         |  (CASE WHEN den > 0 THEN nc * 1.0 / den ELSE 0.0 END)
         |    < $TextFarJaccard AS is_drift
         |FROM jp ORDER BY id_a, id_b""".stripMargin)),
    // the dedup_minhash_lsh candidate/verify chain (shared CTE pieces)
    // at the 0.7 gate, then the exact per-pair cosine on the embeddings
    // join — jaccard is the unrounded int ratio, cosine the 6-dp round
    "quality_text_embed_drift" -> Query(textEmbedDrift, Some(
      s"""WITH ${DedupQueries.tokCte},
         |${DedupQueries.thCte},
         |${DedupQueries.hshCte},
         |sig AS (SELECT id, ${DedupQueries.sigSelect} FROM hsh GROUP BY id),
         |band AS (${DedupQueries.bandUnion}),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND ${DedupQueries.sliceEq}
         |      AND a.id < b.id),
         |sz AS (SELECT id, count(*) AS n_tokens FROM th GROUP BY id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS n_common
         |  FROM cand c
         |  JOIN th a ON a.id = c.id_a
         |  JOIN th b ON b.id = c.id_b AND b.th = a.th
         |  GROUP BY 1, 2),
         |jp AS (SELECT id_a, id_b,
         |    n_common * 1.0 / (sa.n_tokens + sb.n_tokens - n_common)
         |      AS jaccard
         |  FROM inter
         |  JOIN sz sa ON id_a = sa.id
         |  JOIN sz sb ON id_b = sb.id
         |  WHERE n_common * 1.0 / (sa.n_tokens + sb.n_tokens - n_common)
         |    >= $DriftJaccard)
         |SELECT jp.id_a, jp.id_b, jp.jaccard,
         |  CASE WHEN ea.vec_id IS NOT NULL AND eb.vec_id IS NOT NULL THEN
         |    ${SimilarityQueries.cosineSql("ea.embedding", "eb.embedding")}
         |  END AS cos,
         |  (ea.vec_id IS NULL OR eb.vec_id IS NULL) AS is_missing,
         |  (ea.vec_id IS NULL OR eb.vec_id IS NULL)
         |    OR ${SimilarityQueries.cosineSql("ea.embedding",
                "eb.embedding")} < $DriftCos AS is_drift
         |FROM jp
         |LEFT JOIN embeddings ea ON ea.vec_id = jp.id_a
         |LEFT JOIN embeddings eb ON eb.vec_id = jp.id_b
         |ORDER BY jp.id_a, jp.id_b""".stripMargin)),
    // exact-integer histogram + prefix sums; the objective's BIGINT
    // products stay below 2^53 so the double casts are exact and the
    // argmax is engine-identical; ties break to the smaller bin
    "quality_otsu_threshold" -> Query(otsuThreshold, Some(
      s"""WITH base AS (SELECT (CAST(value AS DECIMAL(18,2)) * 100)::BIGINT
         |    AS v FROM events WHERE value IS NOT NULL),
         |mm AS (SELECT min(v) AS mn, max(v) AS mx,
         |    count(*) AS n, CAST(sum(v) AS BIGINT) AS s FROM base),
         |hist AS (SELECT least(${OtsuBins - 1},
         |      ((v - mn) * $OtsuBins) // (mx - mn + 1)) AS b,
         |    count(*) AS nb, CAST(sum(v) AS BIGINT) AS sb, max(v) AS hi
         |  FROM base, mm GROUP BY 1),
         |pf AS (SELECT b,
         |    CAST(sum(nb) OVER (ORDER BY b) AS BIGINT) AS w0,
         |    CAST(sum(sb) OVER (ORDER BY b) AS BIGINT) AS s0,
         |    max(hi) OVER (ORDER BY b) AS edge
         |  FROM hist),
         |cand AS (SELECT b, edge, w0, mm.n AS n,
         |    CAST(s0 * mm.n - mm.s * w0 AS DOUBLE)
         |      * CAST(s0 * mm.n - mm.s * w0 AS DOUBLE)
         |      / CAST(w0 * (mm.n - w0) AS DOUBLE) AS obj
         |  FROM pf, mm WHERE w0 > 0 AND w0 < mm.n),
         |best AS (SELECT max(struct_pack(obj := obj, mb := -b,
         |    edge := edge, w0 := w0, n := n)) AS t FROM cand)
         |SELECT CAST(-(t.mb) AS INTEGER) AS threshold_bin,
         |  CAST(t.edge AS DOUBLE) / 100.0 AS threshold_value,
         |  t.w0 AS n_below, t.n - t.w0 AS n_above,
         |  round(t.obj, 6) AS between_var_num
         |FROM best""".stripMargin)),
    // seeded Laplace replay: u from 52 md5 bits is an exact binary
    // rational (power-of-two scaling only), one ln on it, /0.5 is ×2 —
    // the 9-dp rounds land on irrational values, engine-safe
    "quality_dp_release" -> Query(dpRelease, Some(
      s"""WITH g AS (SELECT c_nationkey, count(*) AS true_count
         |           FROM customer GROUP BY 1),
         |n AS (SELECT c_nationkey, true_count,
         |    (CAST(('0x' || substr(md5('$DpSeed' || '|' ||
         |        CAST(c_nationkey AS VARCHAR)), 1, 13))::BIGINT AS DOUBLE)
         |      + 0.5) / 4503599627370496.0 AS u
         |  FROM g),
         |x AS (SELECT c_nationkey, true_count,
         |    round(-sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
         |      / $DpEpsilon, 9) AS noise
         |  FROM n)
         |SELECT c_nationkey, true_count, noise,
         |  round(CAST(true_count AS DOUBLE) + noise, 9) AS noisy_count
         |FROM x ORDER BY c_nationkey""".stripMargin)),
    // one group-by: class sizes, distinct sensitive bands, flags
    "quality_k_anonymity" -> Query(kAnonymityQ, Some(
      s"""SELECT c_nationkey, c_mktsegment,
         |  count(*) AS class_size,
         |  count(DISTINCT floor(c_acctbal / 1000.0)) AS l_diversity,
         |  count(*) < $KAnonK AS violates_k,
         |  count(DISTINCT floor(c_acctbal / 1000.0)) < $KAnonL
         |    AS violates_l
         |FROM customer GROUP BY 1, 2
         |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),
    // counts and count ratios, integer until one division each; language
    // shares key as lang_share:<code>
    "quality_dataset_card" -> Query(datasetCard, Some(
      """WITH d AS (SELECT doc_id, lang, text,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (SELECT count(*) AS n,
        |    CAST(sum(len(toks)) AS BIGINT) AS tok,
        |    CAST(sum(CASE WHEN len(toks) = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS emp,
        |    count(DISTINCT md5(text)) AS uniq
        |  FROM d),
        |v AS (SELECT count(DISTINCT w) AS v
        |      FROM (SELECT unnest(toks) AS w FROM d)),
        |s AS (
        |  SELECT 'n_docs' AS metric, CAST(n AS DOUBLE) AS value
        |    FROM b
        |  UNION ALL SELECT 'n_tokens', CAST(tok AS DOUBLE) FROM b
        |  UNION ALL SELECT 'vocab_size', CAST(v AS DOUBLE) FROM v
        |  UNION ALL SELECT 'mean_tokens_per_doc',
        |    round(CAST(tok AS DOUBLE) / n, 6) FROM b
        |  UNION ALL SELECT 'empty_doc_share',
        |    round(CAST(emp AS DOUBLE) / n, 6) FROM b
        |  UNION ALL SELECT 'exact_dup_share',
        |    round(CAST(n - uniq AS DOUBLE) / n, 6) FROM b
        |  UNION ALL
        |  SELECT 'lang_share:' || CAST(lang AS VARCHAR),
        |    round(CAST(count(*) AS DOUBLE) / max(b.n), 6)
        |  FROM d, b GROUP BY lang)
        |SELECT metric, value FROM s ORDER BY metric""".stripMargin)),
    // NULL child keys count as orphan rows, never as keys
    "quality_fk_orphans" -> Query(fkOrphans, Some({
      def edgeSql(edge: String, childTbl: String, ck: String,
          parentSql: String, pk: String) =
        s"""SELECT '$edge' AS edge, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_orphan_rows,
           |  CAST(count(DISTINCT CASE WHEN p.$pk IS NULL THEN c.$ck END)
           |    AS BIGINT) AS n_orphan_keys,
           |  round(CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END)
           |    AS DOUBLE) / count(*), 9) AS orphan_rate
           |FROM $childTbl c LEFT JOIN ($parentSql) p ON c.$ck = p.$pk"""
          .stripMargin
      edgeSql("lineitem->orders", "lineitem", "l_orderkey",
        "SELECT o_orderkey FROM orders", "o_orderkey") +
        "\nUNION ALL\n" +
        edgeSql("lineitem->part", "lineitem", "l_partkey",
          "SELECT p_partkey FROM part", "p_partkey") +
        "\nUNION ALL\n" +
        edgeSql("orders->customer_holed", "orders", "o_custkey",
          "SELECT c_custkey FROM customer WHERE c_custkey % 5 <> 0",
          "c_custkey") +
        "\nORDER BY edge"
    })),
    // lower weighted median: min value with 2·cumweight ≥ total, all
    // integer arithmetic over the distinct-value grid
    "quality_weighted_median" -> Query(weightedMedianPrice, Some(
      """WITH g AS (SELECT l_returnflag,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS v,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tw
        |  FROM g)
        |SELECT l_returnflag, CAST(tw AS BIGINT) AS total_weight,
        |  CAST(min(v) AS DOUBLE) AS w_median
        |FROM c WHERE cw * 2 >= tw
        |GROUP BY l_returnflag, tw ORDER BY l_returnflag""".stripMargin)),
    // first digit from INTEGER-cents string formatting (never
    // floor(log10)); expected shares are the library's 9-dp DECIMAL
    // literals; χ² = DECIMAL diff → one fixed IEEE sequence
    "quality_benford" -> Query(benford, Some({
      val arms = (1 to 9).map { d =>
        val p = graft.quality.DataQualityValidator.benfordShare(d)
        s"WHEN $d THEN CAST($p AS DECIMAL(10,9))"
      }.mkString(" ")
      s"""WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2))
         |      * 100 AS BIGINT) AS cents FROM lineitem),
         |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT)
         |      AS digit, count(*) AS n_obs
         |  FROM c WHERE cents > 0 GROUP BY 1),
         |t AS (SELECT sum(n_obs) AS n FROM d),
         |e AS (SELECT digit, n_obs, n,
         |    CASE digit $arms END AS exp_share
         |  FROM d, t),
         |x AS (SELECT digit, n_obs, n, exp_share,
         |    n_obs - n * exp_share AS diff, n * exp_share AS exp_n
         |  FROM e)
         |SELECT digit, n_obs,
         |  round(CAST(n_obs AS DOUBLE) / n, 9) AS obs_share,
         |  CAST(exp_share AS DOUBLE) AS exp_share,
         |  round(CAST(diff AS DOUBLE) * CAST(diff AS DOUBLE)
         |    / CAST(exp_n AS DOUBLE), 9) AS chi2
         |FROM x ORDER BY digit""".stripMargin
    })),
    // Σ ca·cb over shared keys ≡ |A ⋈ B| without executing the join
    "quality_join_size" -> Query(joinSize, Some(
      """WITH la AS (SELECT o_orderkey AS k, count(*) AS ca FROM orders
        |            GROUP BY 1),
        |ra AS (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem
        |       GROUP BY 1),
        |j AS (SELECT count(*) AS n_keys_both,
        |    CAST(sum(ca * cb) AS BIGINT) AS join_rows,
        |    CAST(max(ca * cb) AS BIGINT) AS max_key_rows
        |  FROM la JOIN ra USING (k)),
        |lt AS (SELECT CAST(sum(ca) AS BIGINT) AS n_left,
        |    count(*) AS n_keys_left FROM la),
        |rt AS (SELECT CAST(sum(cb) AS BIGINT) AS n_right,
        |    count(*) AS n_keys_right FROM ra)
        |SELECT n_left, n_right, n_keys_left, n_keys_right, n_keys_both,
        |  join_rows, max_key_rows
        |FROM lt CROSS JOIN rt CROSS JOIN j ORDER BY n_left""".stripMargin)),
    // entropy contributions −(c/n)·log2(c/n) rounded 9dp + DECIMAL-summed;
    // gini integer until one division; values hashed as strings
    "quality_entropy_profile" -> Query(entropyProfile, Some({
      val branches = EntropyCols.map { c =>
        s"""SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS v
           |FROM lineitem WHERE $c IS NOT NULL""".stripMargin
      }
      s"""WITH s AS (${branches.mkString("\n", "\nUNION ALL\n", "\n")}),
         |cnt AS (SELECT col_name, v, count(*) AS c FROM s GROUP BY 1, 2),
         |t AS (SELECT col_name, v, c, sum(c) OVER (PARTITION BY col_name)
         |        AS n FROM cnt)
         |SELECT col_name, CAST(max(n) AS BIGINT) AS n,
         |  count(*) AS n_distinct,
         |  CAST(sum(CAST(round(-(CAST(c AS DOUBLE) / n)
         |      * log2(CAST(c AS DOUBLE) / n), 9) AS DECIMAL(28,9)))
         |    AS DOUBLE) AS entropy_bits,
         |  round(CAST(max(n) * max(n) - sum(c * c) AS DOUBLE)
         |    / (max(n) * max(n)), 9) AS gini
         |FROM t GROUP BY col_name ORDER BY col_name""".stripMargin
    })),
    // same wide-aggregate + fixed IEEE sequence as pearsonMatrix: exact
    // DECIMAL sums, (n·Σxy − ΣxΣy)/(√dx·√dy) over doubles cast from them
    "quality_corr_matrix" -> Query(corrMatrix, Some({
      val cols = ProfileCols
      val pairs = for {
        i <- cols.indices; j <- (i + 1) until cols.size
      } yield (cols(i), cols(j))
      val sums = cols.flatMap { c =>
        Seq(s"sum($c) AS s_$c",
          s"sum(CAST($c * $c AS DECIMAL(38,4))) AS ss_$c")
      } ++ pairs.map { case (a, b) =>
        s"sum(CAST($a * $b AS DECIMAL(38,4))) AS sp_${a}__$b"
      }
      def dbl(x: String) = s"CAST($x AS DOUBLE)"
      val branches = pairs.map { case (a, b) =>
        val num = s"${dbl("n")} * ${dbl(s"sp_${a}__$b")} - " +
          s"${dbl(s"s_$a")} * ${dbl(s"s_$b")}"
        val dx = s"${dbl("n")} * ${dbl(s"ss_$a")} - " +
          s"${dbl(s"s_$a")} * ${dbl(s"s_$a")}"
        val dy = s"${dbl("n")} * ${dbl(s"ss_$b")} - " +
          s"${dbl(s"s_$b")} * ${dbl(s"s_$b")}"
        s"""SELECT '$a' AS col_a, '$b' AS col_b, CAST(n AS BIGINT) AS n,
           |  CASE WHEN ($dx) > 0 AND ($dy) > 0
           |    THEN round(($num) / (sqrt($dx) * sqrt($dy)), 9) END AS corr
           |FROM w""".stripMargin
      }
      s"""WITH c AS (SELECT
         |  ${cols.map(c => s"CAST($c AS DECIMAL(18,2)) AS $c").mkString(", ")}
         |  FROM lineitem
         |  WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
         |w AS (SELECT count(*) AS n, ${sums.mkString(", ")} FROM c)
         |${branches.mkString("\n", "\nUNION ALL\n", "\n")}
         |ORDER BY col_a, col_b""".stripMargin
    })),
    // one UNION ALL branch per profiled column; means through exact
    // DECIMAL (the avgMoney spelling)
    // each side re-derives the same exact-profile statistics the
    // quality_table_profile oracle uses; deltas are the identical
    // fixed-sequence subtractions rounded 9 dp
    "quality_profile_drift" -> Query(profileDrift, Some({
      def sideSql(c: String, rel: String) =
        s"""(SELECT count(*) AS n, count($c) AS np,
           |  count(DISTINCT $c) AS nd,
           |  CAST(min(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
           |  CAST(max(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS max_v,
           |  CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / count($c)
           |    AS mean_v
           |FROM $rel)""".stripMargin
      val branches = ProfileCols.map { c =>
        s"""SELECT '$c' AS col_name, sa.n AS a_rows, sb.n AS b_rows,
           |  CASE WHEN sa.n > 0
           |    THEN round(CAST(sa.n - sa.np AS DOUBLE) / sa.n, 9) END
           |    AS a_null_rate,
           |  CASE WHEN sb.n > 0
           |    THEN round(CAST(sb.n - sb.np AS DOUBLE) / sb.n, 9) END
           |    AS b_null_rate,
           |  sa.nd AS a_distinct, sb.nd AS b_distinct,
           |  CASE WHEN sa.nd > 0
           |    THEN round(CAST(sb.nd AS DOUBLE) / sa.nd, 9) END
           |    AS distinct_ratio,
           |  sa.mean_v AS a_mean, sb.mean_v AS b_mean,
           |  round(sb.mean_v - sa.mean_v, 9) AS mean_delta,
           |  round(sb.min_v - sa.min_v, 9) AS min_delta,
           |  round(sb.max_v - sa.max_v, 9) AS max_delta
           |FROM ${sideSql(c, "a")} sa CROSS JOIN ${sideSql(c, "b")} sb"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH d AS (SELECT *, epoch_us(l_shipdate) // 86400000000 AS day
         |  FROM lineitem),
         |m AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM d),
         |a AS (SELECT d.* FROM d, m WHERE day < mid),
         |b AS (SELECT d.* FROM d, m WHERE day >= mid)
         |$branches
         |ORDER BY col_name""".stripMargin
    })),
    "quality_table_profile" -> Query(tableProfile, Some({
      val branches = ProfileCols.map { c =>
        s"""SELECT '$c' AS col_name, n_rows,
           |  n_rows - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS min_v,
           |  CAST(max(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS max_v,
           |  CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) / count($c)
           |    AS mean_v
           |FROM lineitem, t GROUP BY n_rows""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT count(*) AS n_rows FROM lineitem)
         |$branches
         |ORDER BY col_name""".stripMargin
    })),
    // e = ra·cb/n appears verbatim (the same IEEE op sequence as the Spark
    // expression); contributions round to 9 dp and sum in exact DECIMAL
    "quality_feature_relevance" -> Query(featureRelevance, Some({
      val e = "CAST(ra * cb AS DOUBLE) / n"
      s"""WITH base AS (SELECT event_type, value,
         |    CAST(value AS DECIMAL(18,2)) AS xd
         |  FROM events WHERE value IS NOT NULL),
         |e AS (SELECT
         |  CAST(round(quantile_cont(value, 0.25), 6) AS DECIMAL(18,6)) AS e1,
         |  CAST(round(quantile_cont(value, 0.50), 6) AS DECIMAL(18,6)) AS e2,
         |  CAST(round(quantile_cont(value, 0.75), 6) AS DECIMAL(18,6)) AS e3
         |  FROM base),
         |x AS (SELECT event_type AS a,
         |    CASE WHEN xd <= e1 THEN 0 WHEN xd <= e2 THEN 1
         |         WHEN xd <= e3 THEN 2 ELSE 3 END AS b
         |  FROM base, e),
         |cont AS (SELECT a, b, count(*) AS o FROM x GROUP BY 1, 2),
         |m AS (SELECT a, b, o,
         |    CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS ra,
         |    CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS cb,
         |    CAST(sum(o) OVER () AS BIGINT) AS n FROM cont),
         |d AS (SELECT count(DISTINCT a) AS n_a, count(DISTINCT b) AS n_b
         |  FROM cont)
         |SELECT n, (n_a - 1) * (n_b - 1) AS dof,
         |  CAST(sum(CAST(round((o - $e) * (o - $e) / ($e), 9)
         |    AS DECIMAL(28,9))) AS DOUBLE) AS chi2,
         |  CAST(sum(CAST(round(CAST(o AS DOUBLE) / n
         |      * ln(CAST(o * n AS DOUBLE) / (ra * cb)), 9)
         |    AS DECIMAL(28,9))) AS DOUBLE) AS mi_nats
         |FROM m, d GROUP BY n, n_a, n_b ORDER BY n""".stripMargin
    })),
    // D stays the integer cross-multiply max|cumA·nB − cumB·nA| until the
    // one final division
    // membership = the shared md5 idiom on (id, resample); means are exact
    // DECIMAL sums + one division; CI = discrete permille grid quantiles
    "quality_bootstrap_ci" -> Query(bootstrapCi, Some(
      s"""WITH base AS (SELECT CAST(event_id AS VARCHAR) AS id,
         |    CAST(value AS DECIMAL(18,2)) AS v
         |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
         |fl AS (SELECT count(*) AS n,
         |    round(CAST(sum(v) AS DOUBLE) / count(*), 9) AS mean FROM base),
         |r AS (SELECT b, v FROM base,
         |    UNNEST(generate_series(1, $BootResamples)) u(b)
         |  WHERE ('0x' || substr(md5(id || ':' || b), 1, 12))::BIGINT
         |    % 100 < $BootKeepPct),
         |means AS (SELECT b,
         |    round(CAST(sum(v) AS DOUBLE) / count(*), 9) AS m
         |  FROM r GROUP BY 1),
         |pm AS (SELECT m, count(*) AS c FROM means GROUP BY 1),
         |cc AS (SELECT m,
         |    sum(c) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(c) OVER () AS nb FROM pm),
         |ci AS (SELECT CAST(max(nb) AS BIGINT) AS n_resamples,
         |    min(CASE WHEN cum * 1000 >= nb * $BootLoPermille THEN m END)
         |      AS ci_lo,
         |    min(CASE WHEN cum * 1000 >= nb * $BootHiPermille THEN m END)
         |      AS ci_hi FROM cc)
         |SELECT n, mean, n_resamples, ci_lo, ci_hi FROM fl, ci""".stripMargin)),
    // per-category integer cross-products; tv = window-summed integers,
    // one division per displayed ratio
    "quality_drift_tv" -> Query(splitTv, Some(
      s"""WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |s AS (SELECT event_type AS category,
         |    CASE WHEN epoch_us(ts) > mx - $SplitTestUs THEN 'test'
         |         WHEN epoch_us(ts) > mx - ${SplitTestUs + SplitEmbargoUs}
         |           THEN 'embargo'
         |         ELSE 'train' END AS split
         |  FROM events, m),
         |perc AS (SELECT category,
         |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ca,
         |    sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cb
         |  FROM s WHERE split IN ('train', 'test') GROUP BY 1),
         |c AS (SELECT category, ca, cb,
         |    CAST(sum(ca) OVER () AS BIGINT) AS na,
         |    CAST(sum(cb) OVER () AS BIGINT) AS nb
         |  FROM perc),
         |d AS (SELECT category, ca, cb, na, nb,
         |    abs(ca * nb - cb * na) AS dn FROM c)
         |SELECT category, na AS n_a, nb AS n_b,
         |  round(CAST(ca AS DOUBLE) / na, 9) AS p_a,
         |  round(CAST(cb AS DOUBLE) / nb, 9) AS p_b,
         |  round(CAST(dn AS DOUBLE) / (na * nb), 9) AS abs_diff,
         |  round(CAST(sum(dn) OVER () AS DOUBLE) / (na * nb * 2), 9) AS tv
         |FROM d ORDER BY category""".stripMargin)),
    // exact integer moments per (covariate, arm); SMD rides its sqrt to
    // the 9-dp round; arm via the hashBucket hex-parse mirror
    "quality_cov_balance" -> Query(covBalance, Some(
      """WITH pu AS (SELECT CAST(user_id AS VARCHAR) AS uu,
        |    CAST(coalesce(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100
        |      AS BIGINT)), 0) AS BIGINT) AS spend_cents,
        |    count(*) AS n_events,
        |    count(DISTINCT epoch_us(ts) // 86400000000) AS n_days
        |  FROM events GROUP BY 1),
        |lg AS (SELECT uu, 'spend_cents' AS cov, spend_cents AS x FROM pu
        |  UNION ALL SELECT uu, 'n_events', n_events FROM pu
        |  UNION ALL SELECT uu, 'n_days', n_days FROM pu),
        |ar AS (SELECT cov, x,
        |    ('0x' || substr(md5(uu), 1, 12))::BIGINT % 2 AS arm FROM lg),
        |m AS (SELECT cov, arm, count(*) AS n,
        |    CAST(sum(x) AS HUGEINT) AS s,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s2
        |  FROM ar GROUP BY 1, 2),
        |o AS (SELECT cov,
        |    CAST(coalesce(max(CASE WHEN arm = 0 THEN n END), 0) AS BIGINT)
        |      AS n0,
        |    CAST(coalesce(max(CASE WHEN arm = 1 THEN n END), 0) AS BIGINT)
        |      AS n1,
        |    max(CASE WHEN arm = 0 THEN s END) AS sa0,
        |    max(CASE WHEN arm = 1 THEN s END) AS sa1,
        |    max(CASE WHEN arm = 0 THEN s2 END) AS ss0,
        |    max(CASE WHEN arm = 1 THEN s2 END) AS ss1
        |  FROM m GROUP BY 1),
        |f AS (SELECT cov, n0, n1,
        |    CASE WHEN n0 > 0 THEN CAST(sa0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |      END AS mean0,
        |    CASE WHEN n1 > 0 THEN CAST(sa1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |      END AS mean1,
        |    (CAST(n0 * ss0 - sa0 * sa0 AS DOUBLE) /
        |       CAST(CAST(n0 AS HUGEINT) * (n0 - 1) AS DOUBLE)
        |     + CAST(n1 * ss1 - sa1 * sa1 AS DOUBLE) /
        |       CAST(CAST(n1 AS HUGEINT) * (n1 - 1) AS DOUBLE)) / 2.0
        |      AS pooled
        |  FROM o)
        |SELECT cov AS covariate, n0, n1, mean0, mean1,
        |  CASE WHEN n0 >= 2 AND n1 >= 2 AND pooled > 0 THEN
        |    round((mean1 - mean0) / sqrt(pooled), 9) END AS smd,
        |  CASE WHEN n0 >= 2 AND n1 >= 2 AND pooled > 0 THEN
        |    abs(round((mean1 - mean0) / sqrt(pooled), 9)) < 0.1
        |  END AS balanced_0p1
        |FROM f ORDER BY covariate""".stripMargin)),
    // truncating nano rates, exact DECIMAL prior moments, fixed-sequence
    // alpha/beta and posterior means, all unrounded
    "quality_eb_rates" -> Query(ebReturnRates, Some(
      """WITH k AS (SELECT l_suppkey, count(*) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1),
        |kp AS (SELECT *, (x * 1000000000) // n AS pn FROM k),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS nk,
        |    CAST(sum(pn) AS HUGEINT) AS sp,
        |    CAST(sum(CAST(pn AS HUGEINT) * pn) AS HUGEINT) AS spp
        |  FROM kp),
        |pr AS (SELECT
        |    CAST(sp AS DOUBLE) / (CAST(nk AS DOUBLE) * 1000000000.0)
        |      AS mh,
        |    CAST(nk * spp - sp * sp AS DOUBLE) /
        |      (CAST(nk AS DOUBLE) * CAST(nk AS DOUBLE) * 1.0e18) AS vh
        |  FROM m),
        |ab AS (SELECT
        |    CASE WHEN vh > 0 AND mh * (1.0 - mh) / vh - 1.0 > 0
        |      THEN mh * (mh * (1.0 - mh) / vh - 1.0) END AS alpha,
        |    CASE WHEN vh > 0 AND mh * (1.0 - mh) / vh - 1.0 > 0
        |      THEN (1.0 - mh) * (mh * (1.0 - mh) / vh - 1.0) END AS beta
        |  FROM pr)
        |SELECT l_suppkey, n, x,
        |  CAST(x AS DOUBLE) / CAST(n AS DOUBLE) AS raw_rate,
        |  alpha, beta,
        |  (CAST(x AS DOUBLE) + alpha) /
        |    (CAST(n AS DOUBLE) + alpha + beta) AS smoothed_rate
        |FROM kp, ab ORDER BY l_suppkey""".stripMargin)),
    // n-scaled exact moments (theta/corr-squared from DECIMAL integers);
    // arm via the hashBucket hex-parse mirror; everything unrounded
    "quality_cuped" -> Query(cupedValue, Some(
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |u AS (SELECT CAST(user_id AS VARCHAR) AS uu,
         |    CAST(coalesce(sum(CASE WHEN epoch_us(ts) <= mx - $SplitTestUs
         |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      END), 0) AS BIGINT) AS x,
         |    CAST(coalesce(sum(CASE WHEN epoch_us(ts) > mx - $SplitTestUs
         |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      END), 0) AS BIGINT) AS y
         |  FROM events, mx GROUP BY 1),
         |au AS (SELECT x, y,
         |    ('0x' || substr(md5(uu), 1, 12))::BIGINT % 2 AS arm FROM u),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1,
         |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN x END), 0)
         |      AS HUGEINT) AS sx0,
         |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN x END), 0)
         |      AS HUGEINT) AS sx1,
         |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN y END), 0)
         |      AS HUGEINT) AS sy0,
         |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN y END), 0)
         |      AS HUGEINT) AS sy1,
         |    CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
         |  FROM au),
         |f AS (SELECT *, n * sxy - sx * sy AS a, n * sxx - sx * sx AS b,
         |    n * syy - sy * sy AS c,
         |    CAST(n * sxy - sx * sy AS DOUBLE) /
         |      CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
         |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
         |  FROM m)
         |SELECT CAST(n AS BIGINT) AS n_units, n0 AS n_arm0, n1 AS n_arm1,
         |  CASE WHEN CAST(b AS DOUBLE) > 0 THEN theta END AS theta,
         |  CASE WHEN n0 > 0 THEN CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)
         |    / 100.0 END AS mean_y0,
         |  CASE WHEN n1 > 0 THEN CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         |    / 100.0 END AS mean_y1,
         |  CASE WHEN CAST(b AS DOUBLE) > 0 AND n0 > 0 AND n1 > 0 THEN
         |    (CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) - theta *
         |      (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) - xbar)) / 100.0
         |  END AS adj_mean_y0,
         |  CASE WHEN CAST(b AS DOUBLE) > 0 AND n0 > 0 AND n1 > 0 THEN
         |    (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) - theta *
         |      (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) - xbar)) / 100.0
         |  END AS adj_mean_y1,
         |  CASE WHEN n0 > 0 AND n1 > 0 THEN
         |    (CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         |     - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100.0
         |  END AS raw_diff,
         |  CASE WHEN CAST(b AS DOUBLE) > 0 AND n0 > 0 AND n1 > 0 THEN
         |    ((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE) - theta *
         |      (CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE) - xbar)) / 100.0)
         |    - ((CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE) - theta *
         |      (CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE) - xbar)) / 100.0)
         |  END AS adj_diff,
         |  CASE WHEN CAST(b AS DOUBLE) > 0 AND CAST(c AS DOUBLE) > 0 THEN
         |    CAST(a AS DOUBLE) * CAST(a AS DOUBLE) /
         |      (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
         |  END AS var_reduction
         |FROM f""".stripMargin)),
    // 4 exact cent cells, one division per mean, DiD = fixed IEEE
    // sequence emitted unrounded; arm = the hashBucket md5 mirror
    "quality_did" -> Query(didValue, Some(
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |c AS (SELECT
         |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
         |      ::BIGINT % 2 AS arm,
         |    epoch_us(ts) > mx - $SplitTestUs AS post,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM events, mx WHERE value IS NOT NULL),
         |g AS (SELECT arm, post, count(*) AS n,
         |    CAST(sum(v) AS BIGINT) AS s FROM c GROUP BY 1, 2),
         |o AS (SELECT
         |  coalesce(max(CASE WHEN arm = 0 AND NOT post THEN n END), 0)
         |    AS n00,
         |  coalesce(max(CASE WHEN arm = 0 AND post THEN n END), 0) AS n01,
         |  coalesce(max(CASE WHEN arm = 1 AND NOT post THEN n END), 0)
         |    AS n10,
         |  coalesce(max(CASE WHEN arm = 1 AND post THEN n END), 0) AS n11,
         |  max(CASE WHEN arm = 0 AND NOT post THEN s END) AS s00,
         |  max(CASE WHEN arm = 0 AND post THEN s END) AS s01,
         |  max(CASE WHEN arm = 1 AND NOT post THEN s END) AS s10,
         |  max(CASE WHEN arm = 1 AND post THEN s END) AS s11
         |  FROM g)
         |SELECT n00 AS n_ctrl_pre, n01 AS n_ctrl_post,
         |  n10 AS n_treat_pre, n11 AS n_treat_post,
         |  CASE WHEN n00 > 0 THEN CAST(s00 AS DOUBLE) /
         |    (CAST(n00 AS DOUBLE) * 100.0) END AS mean_ctrl_pre,
         |  CASE WHEN n01 > 0 THEN CAST(s01 AS DOUBLE) /
         |    (CAST(n01 AS DOUBLE) * 100.0) END AS mean_ctrl_post,
         |  CASE WHEN n10 > 0 THEN CAST(s10 AS DOUBLE) /
         |    (CAST(n10 AS DOUBLE) * 100.0) END AS mean_treat_pre,
         |  CASE WHEN n11 > 0 THEN CAST(s11 AS DOUBLE) /
         |    (CAST(n11 AS DOUBLE) * 100.0) END AS mean_treat_post,
         |  CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN
         |    ((CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE)
         |      - CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE))
         |     - (CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE)
         |      - CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE))) / 100.0
         |  END AS did
         |FROM o""".stripMargin)),
    // online serve path (latest-click window, total view count) vs the
    // offline ASOF training-matrix fold at global now — independent
    // constructions, null-safe compares
    "quality_serving_skew" -> Query(servingSkew, Some(
      """WITH u AS (SELECT DISTINCT user_id FROM events
        |  WHERE ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |    ::BIGINT % 4 = 0),
        |n AS (SELECT max(epoch_us(ts)) AS ts_us FROM events),
        |l AS (SELECT u.user_id, n.ts_us FROM u, n),
        |c AS (SELECT user_id, epoch_us(ts) AS c_ts_us,
        |        arg_max(value, event_id) AS offline_click
        |      FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |vr AS (SELECT user_id, epoch_us(ts) AS v_ts_us,
        |         count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) AS vs
        |       FROM events WHERE event_type = 'view'),
        |v AS (SELECT user_id, v_ts_us, max(vs) AS views_asof
        |      FROM vr GROUP BY 1, 2),
        |off AS (SELECT l.user_id, c.offline_click,
        |    coalesce(v.views_asof, 0) AS offline_views
        |  FROM l
        |  ASOF LEFT JOIN c ON l.user_id = c.user_id
        |    AND l.ts_us >= c.c_ts_us
        |  ASOF LEFT JOIN v ON l.user_id = v.user_id
        |    AND l.ts_us >= v.v_ts_us),
        |onc AS (SELECT user_id, value AS online_click FROM
        |  (SELECT *, row_number() OVER (PARTITION BY user_id
        |     ORDER BY ts DESC, event_id DESC) AS rn
        |   FROM events WHERE event_type = 'click') WHERE rn = 1),
        |onv AS (SELECT user_id, count(*) AS online_views FROM events
        |        WHERE event_type = 'view' GROUP BY 1)
        |SELECT u.user_id, onc.online_click, off.offline_click,
        |  (onc.online_click IS NOT DISTINCT FROM off.offline_click)
        |    AS click_match,
        |  coalesce(onv.online_views, 0) AS online_views,
        |  off.offline_views,
        |  (coalesce(onv.online_views, 0) IS NOT DISTINCT FROM
        |    off.offline_views) AS views_match
        |FROM u LEFT JOIN onc USING (user_id) LEFT JOIN onv USING (user_id)
        |JOIN off USING (user_id)
        |ORDER BY user_id""".stripMargin)),
    // all-integer randomization test: resample bits read from TWO
    // per-row md5 digests (bit (r-1)%128 of digest (r-1)//128 — hash
    // once per row, not per row×resample); HUGEINT cross-product
    // comparisons; shared p denominator B+1 makes BH the integer
    // condition k·m·20 <= rank·(B+1)
    "quality_perm_bh" -> Query(permBh, Some({
      val b = PermResamples
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |s AS (SELECT event_type AS cat, CAST(event_id AS VARCHAR) AS id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         |    CASE WHEN epoch_us(ts) > mx - $SplitTestUs THEN 'test'
         |         WHEN epoch_us(ts) > mx - ${SplitTestUs + SplitEmbargoUs}
         |           THEN 'embargo'
         |         ELSE 'train' END AS split
         |  FROM events, mx WHERE value IS NOT NULL),
         |base AS (SELECT cat, id, v, split = 'train' AS ga FROM s
         |  WHERE split IN ('train', 'test')),
         |obs AS (SELECT cat,
         |    CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS na,
         |    CAST(coalesce(sum(CASE WHEN ga THEN v END), 0) AS BIGINT)
         |      AS sa,
         |    CAST(sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nb,
         |    CAST(coalesce(sum(CASE WHEN NOT ga THEN v END), 0) AS BIGINT)
         |      AS sb
         |  FROM base GROUP BY 1),
         |res AS (SELECT cat, r,
         |    CAST(sum(CASE WHEN fa THEN 1 ELSE 0 END) AS BIGINT) AS nar,
         |    CAST(coalesce(sum(CASE WHEN fa THEN v END), 0) AS BIGINT)
         |      AS sar,
         |    CAST(sum(CASE WHEN NOT fa THEN 1 ELSE 0 END) AS BIGINT)
         |      AS nbr,
         |    CAST(coalesce(sum(CASE WHEN NOT fa THEN v END), 0) AS BIGINT)
         |      AS sbr
         |  FROM (SELECT cat, v, gs.r,
         |      ((strpos('0123456789abcdef', substr(
         |          CASE WHEN (gs.r - 1) // 128 = 0 THEN h0 ELSE h1 END,
         |          ((gs.r - 1) % 128) // 4 + 1, 1)) - 1)
         |        // (CASE ((gs.r - 1) % 128) % 4 WHEN 0 THEN 1
         |            WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END)) % 2 = 0
         |        AS fa
         |    FROM (SELECT cat, v,
         |          md5('$PermSeed' || '|' || id || '|' || '0') AS h0,
         |          md5('$PermSeed' || '|' || id || '|' || '1') AS h1
         |        FROM base) hb,
         |        (SELECT unnest(generate_series(1, $b)) AS r) gs)
         |  GROUP BY 1, 2),
         |x AS (SELECT res.cat, obs.na, obs.nb,
         |    abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na)
         |      AS dobs,
         |    CASE WHEN nar = 0 OR nbr = 0 THEN 1
         |         WHEN abs(CAST(sar AS HUGEINT) * nbr
         |                - CAST(sbr AS HUGEINT) * nar)
         |              * (CAST(na AS HUGEINT) * nb)
         |           >= abs(CAST(sa AS HUGEINT) * nb
         |                - CAST(sb AS HUGEINT) * na)
         |              * (CAST(nar AS HUGEINT) * nbr) THEN 1 ELSE 0 END
         |      AS xx
         |  FROM res JOIN obs USING (cat)),
         |pc AS (SELECT cat, na, nb, dobs,
         |    CAST(sum(xx) AS BIGINT) AS n_exceed FROM x GROUP BY 1, 2, 3, 4),
         |rk AS (SELECT *, count(*) OVER () AS mm,
         |    row_number() OVER (ORDER BY n_exceed, cat) AS bh_rank FROM pc),
         |st AS (SELECT max(CASE WHEN (1 + n_exceed) * mm * 20
         |      <= bh_rank * 1 * ${b + 1} THEN bh_rank END) AS istar FROM rk)
         |SELECT cat AS category, na AS n_a, nb AS n_b,
         |  CASE WHEN na > 0 AND nb > 0 THEN CAST(dobs AS DOUBLE) /
         |    CAST(CAST(na AS HUGEINT) * nb * 100 AS DOUBLE)
         |  END AS abs_mean_diff,
         |  n_exceed,
         |  CAST(1 + n_exceed AS DOUBLE) / ${(b + 1).toDouble} AS p_value,
         |  CAST(bh_rank AS BIGINT) AS bh_rank,
         |  coalesce(bh_rank <= istar, FALSE) AS rejected
         |FROM rk, st ORDER BY category""".stripMargin
    })),
    // √(ca·cb/(na·nb)) can be a RATIONAL perfect square, so contributions
    // quantize by TRUNCATION (floor(√·10⁹) — exact function of the shared
    // double), never a 9-dp round; bc/hellinger emit unrounded
    "quality_drift_hellinger" -> Query(splitHellinger, Some(
      s"""WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |s AS (SELECT event_type AS category,
         |    CASE WHEN epoch_us(ts) > mx - $SplitTestUs THEN 'test'
         |         WHEN epoch_us(ts) > mx - ${SplitTestUs + SplitEmbargoUs}
         |           THEN 'embargo'
         |         ELSE 'train' END AS split
         |  FROM events, m),
         |perc AS (SELECT category,
         |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ca,
         |    sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cb
         |  FROM s WHERE split IN ('train', 'test') GROUP BY 1),
         |c AS (SELECT category, ca, cb,
         |    CAST(sum(ca) OVER () AS BIGINT) AS na,
         |    CAST(sum(cb) OVER () AS BIGINT) AS nb
         |  FROM perc),
         |k AS (SELECT na, nb,
         |    CAST(floor(sqrt(CAST(ca * cb AS DOUBLE)
         |      / CAST(na * nb AS DOUBLE)) * 1000000000.0) AS BIGINT) AS cn
         |  FROM c),
         |a AS (SELECT na AS n_a, nb AS n_b, count(*) AS n_categories,
         |    CAST(sum(cn) AS BIGINT) AS bcn FROM k GROUP BY 1, 2)
         |SELECT n_a, n_b, n_categories,
         |  CAST(bcn AS DOUBLE) / 1000000000.0 AS bc,
         |  sqrt(greatest(1.0 - CAST(bcn AS DOUBLE) / 1000000000.0, 0.0))
         |    AS hellinger
         |FROM a ORDER BY n_a""".stripMargin)),
    // the KS grid + integer cross-products; contributions are exact
    // DECIMAL (|cum_a·n_b − cum_b·n_a| · grid gap); ONE division at the end
    "quality_drift_w1" -> Query(splitW1, Some(
      s"""WITH m AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |s AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
         |    CASE WHEN epoch_us(ts) > mx - $SplitTestUs THEN 'test'
         |         WHEN epoch_us(ts) > mx - ${SplitTestUs + SplitEmbargoUs}
         |           THEN 'embargo'
         |         ELSE 'train' END AS split
         |  FROM events, m WHERE value IS NOT NULL),
         |perv AS (SELECT v,
         |    sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ca,
         |    sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS cb
         |  FROM s WHERE split IN ('train', 'test') GROUP BY 1),
         |c AS (SELECT v,
         |    CAST(sum(ca) OVER w AS BIGINT) AS cuma,
         |    CAST(sum(cb) OVER w AS BIGINT) AS cumb,
         |    CAST(sum(ca) OVER () AS BIGINT) AS na,
         |    CAST(sum(cb) OVER () AS BIGINT) AS nb,
         |    coalesce(lead(v) OVER (ORDER BY v) - v,
         |      CAST(0 AS DECIMAL(18,2))) AS gap
         |  FROM perv WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
         |x AS (SELECT na, nb,
         |    CAST(abs(cuma * nb - cumb * na) * gap AS DECIMAL(38,4)) AS c
         |  FROM c)
         |SELECT na AS n_a, nb AS n_b,
         |  round(CAST(sum(c) AS DOUBLE) / (na * nb), 9) AS w1
         |FROM x GROUP BY na, nb ORDER BY n_a""".stripMargin)),
    "quality_ks_value" -> Query(ksValue, Some(
      """WITH perv AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cb
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |  GROUP BY 1),
        |c AS (SELECT
        |    CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER () AS BIGINT) AS na,
        |    CAST(sum(cb) OVER () AS BIGINT) AS nb FROM perv)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
        |  round(CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE) / (na * nb), 9)
        |    AS d
        |FROM c GROUP BY na, nb ORDER BY n_a""".stripMargin)),
    // doubled-rank integers (2R_a = Σ ca·(2C+t+1)) + tie term in HUGEINT;
    // z spends one sqrt on exact integer ratios → 9-dp round engine-safe
    "quality_mannwhitney" -> Query(mannWhitney, Some(
      """WITH perv AS (SELECT CAST(value AS DECIMAL(18,2)) AS v,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cb
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
        |  GROUP BY 1),
        |c AS (SELECT CAST(ca AS BIGINT) AS ca, CAST(cb AS BIGINT) AS cb,
        |    CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cumb,
        |    CAST(sum(ca) OVER () AS BIGINT) AS na,
        |    CAST(sum(cb) OVER () AS BIGINT) AS nb FROM perv),
        |g AS (SELECT na, nb,
        |    CAST(sum(CAST(ca AS HUGEINT) *
        |      (2 * (cuma + cumb - ca - cb) + (ca + cb) + 1)) AS HUGEINT)
        |      AS ra2,
        |    CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
        |      - (ca + cb)) AS HUGEINT) AS ties
        |  FROM c GROUP BY 1, 2),
        |s AS (SELECT na, nb, ties,
        |    ra2 - CAST(na AS HUGEINT) * (na + 1) AS u2a,
        |    CAST(na AS HUGEINT) * nb *
        |      (CAST(na + nb + 1 AS HUGEINT) * (na + nb) * (na + nb - 1)
        |        - ties) AS sig_num,
        |    CAST(12 AS HUGEINT) * (na + nb) * (na + nb - 1) AS sig_den
        |  FROM g),
        |f AS (SELECT na, nb, u2a, ties,
        |    CASE WHEN sig_num > 0 THEN
        |      round(CAST(u2a - CAST(na AS HUGEINT) * nb AS DOUBLE) /
        |        (2 * sqrt(CAST(sig_num AS DOUBLE) /
        |          CAST(sig_den AS DOUBLE))), 9)
        |    END AS z
        |  FROM s)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(u2a AS DOUBLE) / 2 AS u_a,
        |  CAST(2 * CAST(na AS HUGEINT) * nb - u2a AS DOUBLE) / 2 AS u_b,
        |  CAST(ties AS DOUBLE) AS tie_term, z,
        |  CASE WHEN z IS NOT NULL THEN abs(z) > 1.959963985
        |  END AS significant_5pct
        |FROM f ORDER BY n_a""".stripMargin)),
    // the layout-proven exact-DECIMAL binning per feature; each −ln(c/n)
    // rides its ln to a 9-dp round; per-row sum is the same fixed-order
    // left-assoc double chain as the Spark plan
    "quality_hbos_topk" -> Query(hbosTopK, Some({
      val bins = 16
      def bin(d: String, mn: String, mx: String) =
        s"""CASE WHEN CAST($mx - $mn AS DOUBLE) > 0
           |    THEN CAST(least(floor(CAST($d - $mn AS DOUBLE) * $bins
           |           / CAST($mx - $mn AS DOUBLE)), ${bins - 1}) AS BIGINT)
           |    ELSE 0 END""".stripMargin
      def contrib(c: String) =
        s"round(-ln(CAST($c AS DOUBLE) / n), 9)"
      s"""WITH x AS (SELECT l_orderkey, l_linenumber,
         |    CAST(l_quantity AS DECIMAL(18,2)) AS d0,
         |    CAST(l_extendedprice AS DECIMAL(18,2)) AS d1,
         |    CAST(l_discount AS DECIMAL(18,2)) AS d2
         |  FROM lineitem),
         |s AS (SELECT min(d0) AS mn0, max(d0) AS mx0,
         |    min(d1) AS mn1, max(d1) AS mx1,
         |    min(d2) AS mn2, max(d2) AS mx2,
         |    count(*) AS n FROM x),
         |b AS (SELECT l_orderkey, l_linenumber, n,
         |    ${bin("d0", "mn0", "mx0")} AS b0,
         |    ${bin("d1", "mn1", "mx1")} AS b1,
         |    ${bin("d2", "mn2", "mx2")} AS b2
         |  FROM x, s),
         |h0 AS (SELECT b0, count(*) AS c0 FROM b GROUP BY 1),
         |h1 AS (SELECT b1, count(*) AS c1 FROM b GROUP BY 1),
         |h2 AS (SELECT b2, count(*) AS c2 FROM b GROUP BY 1)
         |SELECT l_orderkey, l_linenumber,
         |  ${contrib("c0")} + ${contrib("c1")} + ${contrib("c2")} AS hbos
         |FROM b JOIN h0 USING (b0) JOIN h1 USING (b1) JOIN h2 USING (b2)
         |ORDER BY hbos DESC, l_orderkey, l_linenumber
         |LIMIT 100""".stripMargin
    })),
    // full-table chi2 from observed cells via Σ o²n/(ra·cb) − n (zero
    // cells enter through the −n identity); V rides its sqrt to a 9-dp
    // round; U = MI/H(A) emitted UNROUNDED (rational ratio of two exact
    // decimals — the Welch-dof argument)
    "quality_assoc_strength" -> Query(assocStrength, Some({
      s"""WITH cont AS (SELECT lang AS a, source AS b, count(*) AS o
         |  FROM documents GROUP BY 1, 2),
         |m AS (SELECT a, b, o,
         |    CAST(sum(o) OVER (PARTITION BY a) AS BIGINT) AS ra,
         |    CAST(sum(o) OVER (PARTITION BY b) AS BIGINT) AS cb,
         |    CAST(sum(o) OVER () AS BIGINT) AS n FROM cont),
         |d AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS r,
         |    CAST(count(DISTINCT b) AS BIGINT) AS c FROM cont),
         |s AS (SELECT n, r, c,
         |    CAST(sum((CAST(o AS HUGEINT) * o * n * 1000000000)
         |        // (CAST(ra AS HUGEINT) * cb))
         |      - CAST(n AS HUGEINT) * 1000000000 AS DOUBLE) / 1000000000.0
         |      AS chi2,
         |    CAST(sum(CAST(round(CAST(o AS DOUBLE) / n
         |        * ln(CAST(o * n AS DOUBLE) / (ra * cb)), 9)
         |      AS DECIMAL(28,9))) AS DOUBLE) AS mi_nats
         |  FROM m, d GROUP BY n, r, c),
         |hh AS (SELECT coalesce(CAST(sum(CAST(round(
         |      -(CAST(ra AS DOUBLE) / n) * ln(CAST(ra AS DOUBLE) / n), 9)
         |    AS DECIMAL(28,9))) AS DOUBLE), 0.0) AS h_a
         |  FROM (SELECT DISTINCT a, ra, n FROM m))
         |SELECT n, r, c, chi2, mi_nats, h_a,
         |  CASE WHEN least(r, c) > 1 THEN
         |    round(sqrt(greatest(chi2, 0.0) / (n * (least(r, c) - 1))), 9)
         |  END AS cramers_v,
         |  CASE WHEN h_a > 0 THEN mi_nats / h_a END AS theils_u
         |FROM s, hh ORDER BY n""".stripMargin
    })),
    // cent-unit exact (n, Σx, Σx²) per group; t = fixed IEEE sequence on
    // exact integers, 9-dp round rides the sqrt; dof emitted UNROUNDED
    // (rational — a 9-dp round could land on a half-ulp tie)
    "quality_welch_ttest" -> Query(welch, Some(
      """WITH x AS (SELECT
        |    CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END AS g,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL),
        |gg AS (SELECT g, count(*) AS n, CAST(sum(c) AS HUGEINT) AS s,
        |    CAST(sum(CAST(c AS HUGEINT) * c) AS HUGEINT) AS s2
        |  FROM x GROUP BY 1),
        |p AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN g = 0 THEN n END), 0) AS BIGINT)
        |      AS na,
        |    CAST(coalesce(sum(CASE WHEN g = 1 THEN n END), 0) AS BIGINT)
        |      AS nb,
        |    CAST(sum(CASE WHEN g = 0 THEN s END) AS HUGEINT) AS sa,
        |    CAST(sum(CASE WHEN g = 1 THEN s END) AS HUGEINT) AS sb,
        |    CAST(sum(CASE WHEN g = 0 THEN s2 END) AS HUGEINT) AS sa2,
        |    CAST(sum(CASE WHEN g = 1 THEN s2 END) AS HUGEINT) AS sb2
        |  FROM gg),
        |d AS (SELECT na, nb, sa, sb,
        |    CAST(na * sa2 - sa * sa AS DOUBLE) /
        |      CAST(CAST(na AS HUGEINT) * na * (na - 1) AS DOUBLE) AS qa,
        |    CAST(nb * sb2 - sb * sb AS DOUBLE) /
        |      CAST(CAST(nb AS HUGEINT) * nb * (nb - 1) AS DOUBLE) AS qb
        |  FROM p),
        |f AS (SELECT na, nb, sa, sb, qa, qb,
        |    CASE WHEN na >= 2 AND nb >= 2 AND qa + qb > 0 THEN
        |      round((CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) -
        |          CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) /
        |        sqrt(qa + qb), 9)
        |    END AS t,
        |    CASE WHEN na >= 2 AND nb >= 2 AND qa + qb > 0 THEN
        |      (qa + qb) * (qa + qb) / (qa * qa / CAST(na - 1 AS DOUBLE) +
        |        qb * qb / CAST(nb - 1 AS DOUBLE))
        |    END AS dof
        |  FROM d)
        |SELECT na AS n_a, nb AS n_b,
        |  CAST(sa AS DOUBLE) / (CAST(na AS DOUBLE) * 100.0) AS mean_a,
        |  CAST(sb AS DOUBLE) / (CAST(nb AS DOUBLE) * 100.0) AS mean_b,
        |  t, dof,
        |  CASE WHEN t IS NOT NULL THEN abs(t) > 1.959963985 END
        |    AS significant_5pct_normal
        |FROM f ORDER BY n_a""".stripMargin)),
    // κ as the all-integer (agree·n − Σ ra·cb)/(n² − Σ ra·cb): one IEEE
    // division total; prediction CTEs shared with text_lang_id
    "quality_label_kappa" -> Query(labelKappa, Some(
      s"""WITH ${TextQueries.toksCte},
         |p AS (SELECT doc_id, lang, ${TextQueries.maxScoreSql} AS __m, toks
         |  FROM d),
         |x AS (SELECT lang AS a, ${TextQueries.predictedSql} AS b FROM p),
         |c AS (SELECT count(*) AS n,
         |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree
         |  FROM x),
         |ra AS (SELECT a AS cl, count(*) AS ra FROM x GROUP BY 1),
         |cb AS (SELECT b AS cl, count(*) AS cb FROM x GROUP BY 1),
         |pe AS (SELECT CAST(sum(coalesce(ra, 0) * coalesce(cb, 0)) AS BIGINT)
         |    AS pe_num
         |  FROM ra FULL OUTER JOIN cb USING (cl))
         |SELECT n, agree, pe_num,
         |  round(CAST(agree * n - pe_num AS DOUBLE) / (n * n - pe_num), 9)
         |    AS kappa
         |FROM c, pe ORDER BY n""".stripMargin)),
    // median/MAD in 6dp DECIMAL, |x − med| exact (2dp values), threshold
    // mad · 4.4478 as an exact DECIMAL product — the outlier comparison
    // can never flip on a last-ulp double
    "quality_mad_outliers" -> Query(madOutliers, Some(
      """WITH m AS (SELECT event_type,
        |  CAST(round(quantile_cont(value, 0.5), 6) AS DECIMAL(18,6)) AS med
        |  FROM events GROUP BY 1),
        |d AS (SELECT e.event_type, m.med,
        |        abs(CAST(CAST(e.value AS DECIMAL(18,2)) AS DECIMAL(18,6))
        |            - m.med) AS adev
        |      FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type,
        |  CAST(round(quantile_cont(CAST(adev AS DOUBLE), 0.5), 6)
        |       AS DECIMAL(18,6)) AS mad
        |  FROM d GROUP BY 1)
        |SELECT d.event_type, count(*) AS n,
        |  CAST(any_value(d.med) AS DOUBLE) AS median,
        |  CAST(any_value(md.mad) AS DOUBLE) AS mad,
        |  CAST(sum(CASE WHEN d.adev > md.mad * 4.4478 THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (event_type)
        |GROUP BY 1 ORDER BY event_type""".stripMargin)),
    // skew factor = max/mean = max·keys/total — one IEEE multiply+divide on
    // exact integers, identical on both engines
    "quality_skew_report" -> Query(skewReport, Some(
      s"""WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
         |g AS (SELECT sum(n) AS total, count(*) AS keys, max(n) AS mx FROM c)
         |SELECT user_id, n,
         |  round(n * 1.0 / total, 6) AS share,
         |  round(mx * 1.0 * keys / total, 6) AS skew_factor
         |FROM c, g ORDER BY n DESC, user_id LIMIT $SkewTopK""".stripMargin)),
    "quality_null_dup_ratio" -> Query(nullDupRatio, Some(
      """SELECT c.n_rows, c.null_cells,
        |  c.null_cells * 1.0 / (c.n_rows * 6) AS null_ratio,
        |  c.n_rows - d.n_distinct AS dup_rows,
        |  (c.n_rows - d.n_distinct) * 1.0 / c.n_rows AS dup_ratio
        |FROM
        |  (SELECT count(*) AS n_rows,
        |     CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
        |        + sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
        |        + sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |        + sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |        + sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
        |        + sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cells
        |   FROM events) c,
        |  (SELECT count(*) AS n_distinct FROM
        |     (SELECT DISTINCT event_id, user_id, event_type, value, props,
        |        epoch_us(ts) FROM events)) d""".stripMargin)),
    "quality_outlier_iqr" -> Query(outlierIqr, Some(
      """WITH q AS (SELECT quantile_cont(value, 0.25) AS q1,
        |                  quantile_cont(value, 0.75) AS q3 FROM events)
        |SELECT round(q.q1, 6) AS q1, round(q.q3, 6) AS q3,
        |  CAST(sum(CASE WHEN e.value < q.q1 - (q.q3 - q.q1) * 1.5
        |                  OR e.value > q.q3 + (q.q3 - q.q1) * 1.5
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  count(e.value) AS n_values
        |FROM events e, q GROUP BY q.q1, q.q3""".stripMargin)),
    "quality_quantiles_lineitem" -> Query(quantilesLineitem, Some(
      """SELECT
        |  round(quantile_cont(l_quantity, 0.25), 6) AS qty_q1,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS qty_q2,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS qty_q3,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS price_q1,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS price_q2,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS price_q3
        |FROM lineitem""".stripMargin)),
    "quality_drift_psi" -> Query(driftPsi, Some(psiOracle(
      "SELECT value FROM events WHERE event_id % 2 = 0",
      "SELECT value FROM events WHERE event_id % 2 = 1"))),
    // train = before the embargo'd horizon, test = the trailing horizon —
    // the identical cutoffs EventOps.timeSplitEmbargo computes
    "quality_split_drift" -> Query(splitDrift, Some(psiOracle(
      s"""SELECT value FROM events, (SELECT max(epoch_us(ts)) AS mx FROM events)
         |      WHERE epoch_us(ts) <= mx - ${SplitTestUs + SplitEmbargoUs}""".stripMargin,
      s"""SELECT value FROM events, (SELECT max(epoch_us(ts)) AS mx FROM events)
         |      WHERE epoch_us(ts) > mx - $SplitTestUs""".stripMargin))),
    "quality_dup_ratio_documents" -> Query(dupRatioDocuments, Some(
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT text) AS n_distinct_texts,
        |  (count(*) - count(DISTINCT text)) * 1.0 / count(*) AS dup_ratio
        |FROM documents""".stripMargin)))
}
