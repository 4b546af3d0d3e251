package graft.queries

import graft.ops.Eval
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Oracle-checked evaluation-metric family ([[graft.ops.Eval]]): ROC AUC,
  * per-class confusion/F1, ranked-retrieval P@k / MRR / NDCG, calibration
  * bins + ECE. The "did the features work" half of the pipeline, run on
  * natural classification/retrieval tasks inside the test tables
  * (customer conversion, language ID, label-match retrieval).
  */
object EvalQueries {

  private val RetrievalQueries = 5 // query vectors: vec_id < 5
  private val RetrievalK = 10
  private val CalibBins = 10

  /** Per-(user, epoch-day) grain: that day's click count as a feature,
    * "any purchase that day" as the label — the natural conversion task
    * the uniform synthetic events actually vary on. */
  private def userDayLabels(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
          .as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("s_clicks"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("__pos"))

  /** ROC AUC of same-day click count as a predictor of a same-day purchase
    * ([[graft.ops.Eval.aucRoc]]). Integer click counts are heavily tied,
    * so this exercises the midrank correction for real.
    */
  def aucClicks(spark: SparkSession, dir: String): DataFrame =
    Eval.aucRoc(userDayLabels(spark, dir), col("s_clicks"), col("__pos") === 1)
      .orderBy("n_pos")

  private val UtilTp = 5L; private val UtilFp = -1L
  private val UtilFn = -2L; private val UtilTn = 0L

  /** Cost-sensitive threshold selection ([[graft.ops.Eval.bestThreshold]])
    * for the click-count predictor: TP +5, FP −1, FN −2, TN 0 — all
    * integer, so the argmax is exact.
    */
  def bestThresholdClicks(spark: SparkSession, dir: String): DataFrame =
    Eval.bestThreshold(userDayLabels(spark, dir), col("s_clicks"),
      col("__pos") === 1, UtilTp, UtilFp, UtilFn, UtilTn)

  /** Gains/lift decile table of the click-count predictor
    * ([[graft.ops.Eval.gainsTable]]) on the (user, day) grain — response
    * rate, cumulative capture and lift per score band.
    */
  def gainsDeciles(spark: SparkSession, dir: String): DataFrame =
    Eval.gainsTable(
        userDayLabels(spark, dir)
          .select(col("user_id"), col("day"), col("s_clicks"), col("__pos")),
        col("s_clicks"), col("__pos") === 1,
        Seq(col("user_id"), col("day")))
      .orderBy("decile")

  /** McNemar's paired test ([[graft.ops.Screening.mcnemar]]) comparing two
    * rule classifiers of the daily-purchase label on the same (user, day)
    * rows: A = "any click that day", B = "two or more views that day".
    */
  def mcnemarClicksViews(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .groupBy(col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
          .as("day"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("s_clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("s_views"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    graft.ops.Screening.mcnemar(g, col("y") === 1,
      col("s_clicks") >= 1, col("s_views") >= 2)
  }

  /** Average precision of the same click-count predictor
    * ([[graft.ops.Eval.averagePrecision]]) — the PR-curve companion to
    * `eval_auc_clicks`, sharing its (user, day) grain.
    */
  def averagePrecisionClicks(spark: SparkSession, dir: String): DataFrame =
    Eval.averagePrecision(userDayLabels(spark, dir), col("s_clicks"),
      col("__pos") === 1)

  /** Per-class precision/recall/F1 of the stopword-profile language
    * predictor against the labeled `lang` column — the multi-class
    * sibling of `quality_label_kappa` ([[graft.ops.Eval.confusionStats]]).
    */
  def confusionLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pred = graft.ops.TextAnalysis.langId(docs, "doc_id", "text",
      TextQueries.Profiles)
    Eval.confusionStats(
        pred.join(docs.select("doc_id", "lang"), Seq("doc_id")),
        "lang", "predicted_lang")
      .orderBy("class")
  }

  /** P@k / MRR / NDCG@k of cosine retrieval against same-label ground
    * truth over the embeddings corpus ([[graft.ops.Eval.retrievalEval]]).
    */
  def retrievalLabels(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Eval.retrievalEval(emb, emb.filter(col("vec_id") < RetrievalQueries),
        "vec_id", "embedding", "label", RetrievalK)
      .orderBy("q_id")
  }

  /** Calibration bins + ECE of min-max-normalized same-day click count as
    * a purchase "probability" ([[graft.ops.Eval.calibrationBins]]) — the
    * post-training sanity check that scores mean what they claim. The
    * probability is the RATIONAL (s−mn)/(mx−mn), so binning and bin means
    * stay in integer arithmetic end to end.
    */
  def calibrationClicks(spark: SparkSession, dir: String): DataFrame = {
    val perDay = userDayLabels(spark, dir)
    val mm = perDay.agg(min("s_clicks").as("__mn"), max("s_clicks").as("__mx"))
    Eval.calibrationBins(perDay.crossJoin(broadcast(mm)),
        col("s_clicks") - col("__mn"), col("__mx") - col("__mn"),
        col("__pos") === 1, CalibBins)
      .orderBy("bin")
  }

  /** Per-weekday-slice AUC of the same click→purchase task
    * ([[graft.ops.Eval.aucRocBy]]) — the sliced-evaluation read that a
    * pooled AUC hides (weekday slices are the natural deterministic
    * integer segments of the user-day grain). Includes the pooled AUC
    * recomputed from the same grid and each slice's gap against it.
    */
  def slicedAuc(spark: SparkSession, dir: String): DataFrame =
    Eval.aucRocBy(userDayLabels(spark, dir), pmod(col("day"), lit(7L)),
        col("s_clicks"), col("__pos") === 1)
      .orderBy("slice")

  /** Split-conformal prediction interval for line-item price under the
    * constant-mean predictor ([[graft.ops.Eval.conformalInterval]]):
    * md5-deterministic 50/25/25 split, discrete conformal rank at
    * α = 0.1, empirical coverage on the held-out test rows.
    */
  def conformalPrice(spark: SparkSession, dir: String): DataFrame =
    Eval.conformalInterval(Tables.lineitem(spark, dir),
      concat_ws("_", col("l_orderkey"), col("l_linenumber")),
      col("l_extendedprice"), 50, 25, 1, 10)

  /** Isotonic recalibration of the click-count probability bins
    * ([[graft.ops.Eval.isotonicCalibration]] over [[calibrationClicks]]'s
    * bins) — the PAV fit via the relational minimax closed form.
    */
  def isotonicClicks(spark: SparkSession, dir: String): DataFrame =
    Eval.isotonicCalibration(calibrationClicks(spark, dir),
        "bin", "n", "n_pos")
      .orderBy("bin")

  /** Murphy decomposition of the binned Brier score over the same
    * calibration bins ([[graft.ops.Eval.brierDecomposition]]) —
    * miscalibration vs discrimination, separated.
    */
  def brierClicks(spark: SparkSession, dir: String): DataFrame =
    Eval.brierDecomposition(calibrationClicks(spark, dir),
      "n", "n_pos", "avg_prob")

  private val RougeSpanTokens = 8
  private val RougeN = 2

  /** ROUGE-2 damage audit of exact-substring span removal
    * ([[graft.ops.Eval.rougeN]] pairing each document's original text
    * with its [[graft.ops.Dedup.spanRemoval]] survivor text) — recall =
    * fraction of the document's bigram mass the dedup transform kept,
    * precision = 1 unless removal fabricated adjacencies (tokens that
    * became neighbors only because the span between them was cut — those
    * candidate bigrams never occur in the reference, which is exactly
    * what ROUGE precision detects).
    */
  def rougeDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cleaned = graft.ops.Dedup.spanRemoval(docs, "doc_id", "text",
        minTokens = RougeSpanTokens)
      .select(col("doc_id"), col("clean_text"))
    Eval.rougeN(docs.join(cleaned, Seq("doc_id")),
        "doc_id", "text", "clean_text", RougeN)
      .orderBy("pair_id")
  }

  /** Hash-assigned A/B experiment audit over the event stream
    * ([[graft.ops.Screening.abExperiment]]): md5 2-arm split of users,
    * SRM χ² vs the intended 50/50, and the 2×2 purchase-conversion χ².
    */
  def abExperiment(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Screening.abExperiment(Tables.events(spark, dir),
      col("user_id"), col("event_type") === "purchase")

  private val SurvHorizonUs = 2L * 86400L * 1000000L

  /** Kaplan–Meier + Nelson–Aalen curve over the purchase
    * time-to-conversion labels ([[graft.ops.Eval.survivalCurve]] fed by
    * [[graft.ops.EventOps.survivalLabels]] — same anchoring as
    * `feat_survival_labels`).
    */
  def survivalCurve(spark: SparkSession, dir: String): DataFrame =
    Eval.survivalCurve(
        graft.ops.EventOps.survivalLabels(Tables.events(spark, dir),
          "user_id", "ts", col("event_type") === "purchase", SurvHorizonUs),
        "duration_us", "event")
      .orderBy("duration_us")

  /** Leave-last-order-out MAP@10 of the item-CF recommender
    * ([[graft.ops.Eval.mapAtK]] over
    * [[graft.ops.EventOps.itemCfNeighbors]] trained on every customer's
    * earlier orders): profile items score candidate neighbors, the
    * held-out (novel) parts of the LAST order are the truth.
    */
  def mapAtKCf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val ranked = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .withColumn("__rn", row_number().over(w))
      .localCheckpoint()
    val train = ranked.filter(col("__rn") > 1)
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey").as("basket"), col("o_custkey").as("user"),
        col("l_partkey").as("item"))
      .localCheckpoint()
    // 20 neighbors per profile item is ample head-room for a top-10
    // rec list and halves the (profile x neighbor) scoring fan-out
    val neighbors = graft.ops.EventOps.itemCfNeighbors(
      train.select("basket", "item"), "basket", "item", topK = 20)
    val profile = train.select("user", "item").distinct().localCheckpoint()
    // score in NANO-UNIT LONGS, not DECIMAL(18,9): sim is a 9-dp-rounded
    // double <= 1, so round(sim*1e9) is its exact nano value (error
    // ~1e-7 << 0.5) and the long sum orders identically to the decimal
    // sum — while the generated aggregate code drops from the fat
    // overflow-checked decimal path to the primitive fast path (the
    // round-12/13 adjudication traced eval_map_at_k's first-pass compile
    // storm to exactly this scoring stage's oversized generated class)
    val scores = profile
      .join(neighbors.select(col("item"), col("neighbor"),
        round(col("sim") * 1e9).cast("long").as("__sim_nano")),
        Seq("item"))
      .groupBy(col("user"), col("neighbor").as("item"))
      .agg(sum(col("__sim_nano")).as("__score"))
      .join(profile, Seq("user", "item"), "left_anti")
    val wr = Window.partitionBy("user")
      .orderBy(col("__score").desc, col("item"))
    val recs = scores
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= 10).select("user", "item", "rank")
    val relevant = ranked.filter(col("__rn") === 1)
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
      .distinct()
      .join(profile, Seq("user", "item"), "left_anti")
    Eval.mapAtK(recs, relevant, 10).orderBy("n_users")
  }

  /** WOE/IV of the click-count feature against the same-day purchase
    * label ([[graft.ops.Eval.woeIv]] on the (user, day) grain).
    */
  def woeClicks(spark: SparkSession, dir: String): DataFrame =
    Eval.woeIv(userDayLabels(spark, dir), col("s_clicks"),
        col("__pos") === 1)
      .orderBy("score")

  private val MarkovFolds = 4

  /** Held-out bits-per-transition of the first-order event-type Markov
    * model ([[graft.ops.EventOps.markovPerplexity]]): users split by
    * the md5 coin, `feat_markov_transitions`' model fit on 3 of 4
    * folds, scored on the held-out users' transitions.
    */
  def markovPerplexityQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.EventOps.markovPerplexity(
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type")),
      "user_id", "ts_us", "event_id", "event_type", MarkovFolds)

  private val AgreePct = 80
  private val KappaCats = 4

  /** Deterministic synthetic annotation panel over the documents: the
    * derivable 4-way category (n_chars length bucket) is the true
    * label, and each of `nRaters` anonymous raters reports it with
    * [[AgreePct]]% probability, otherwise an md5-drawn DIFFERENT
    * category (uniform over the other 3) — the standard noisy-rater
    * model a κ gate is pointed at. One row per (doc, rater, rating).
    */
  private def ratingsPanel(spark: SparkSession, dir: String,
      nRaters: Int): DataFrame = {
    def h(parts: Column*): Column =
      graft.functions.Kernels.md5hash48(concat(parts: _*))
    val d = col("doc_id").cast("string")
    val r = col("rater").cast("string")
    val noisy = pmod(h(d, lit("|"), r, lit("|alt")),
      lit((KappaCats - 1).toLong))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        least(expr("n_chars DIV 150"), lit(3L)).as("__t"))
      .select(col("doc_id"), col("__t"),
        explode(array((0 until nRaters).map(i => lit(i)): _*)).as("rater"))
      .select(col("doc_id"), col("rater"),
        when(pmod(h(d, lit("|"), r, lit("|agree")), lit(100L)) <
            AgreePct, col("__t"))
          .otherwise(when(noisy >= col("__t"), noisy + 1L).otherwise(noisy))
          .as("rating"))
  }

  /** Fleiss' κ of a 3-rater panel over the documents
    * ([[graft.ops.Eval.fleissKappa]]) — chance-corrected agreement of
    * the synthetic noisy annotators; one output row.
    */
  def fleissKappaQ(spark: SparkSession, dir: String): DataFrame =
    Eval.fleissKappa(ratingsPanel(spark, dir, 3), "doc_id", "rating")

  /** Krippendorff's α over the RAGGED version of the same panel — each
    * rater covers only the md5-chosen ~2/3 of documents (the realistic
    * annotation-campaign shape [[fleissKappaQ]]'s fixed-count model
    * refuses); units left with < 2 ratings drop inside
    * [[graft.ops.Eval.krippendorffAlpha]].
    */
  def krippendorffQ(spark: SparkSession, dir: String): DataFrame = {
    def h(parts: Column*): Column =
      graft.functions.Kernels.md5hash48(concat(parts: _*))
    val ragged = ratingsPanel(spark, dir, 3).filter(
      pmod(h(col("doc_id").cast("string"), lit("|"),
        col("rater").cast("string"), lit("|on")), lit(3L)) < 2)
    Eval.krippendorffAlpha(ragged, "doc_id", "rating")
  }

  /** Cohen's κ of raters 0 and 1 on the same panel
    * ([[graft.ops.Eval.cohenKappa]]) — the per-rater-marginal two-rater
    * coefficient beside Fleiss' pooled one.
    */
  def cohenKappaQ(spark: SparkSession, dir: String): DataFrame =
    Eval.cohenKappa(ratingsPanel(spark, dir, 2), "doc_id", "rater",
      "rating")

  private val DriftWindows = 4L
  private val DriftAgreeLate = 40L

  /** The [[ratingsPanel]] two-rater fixture with a CAMPAIGN TIMELINE:
    * window = doc_id mod 4 (docs annotated in batches), and rater 1's
    * agreement rate is PLANTED to collapse from 80% to 40% in windows
    * 2–3 — the mid-campaign rater flip a whole-campaign κ averages
    * away. Same md5 draws as the flat panel, rethresholded per window.
    */
  private def ratingsPanelDrift(spark: SparkSession, dir: String)
      : DataFrame = {
    def h(parts: Column*): Column =
      graft.functions.Kernels.md5hash48(concat(parts: _*))
    val d = col("doc_id").cast("string")
    val r = col("rater").cast("string")
    val noisy = pmod(h(d, lit("|"), r, lit("|alt")),
      lit((KappaCats - 1).toLong))
    val win = pmod(col("doc_id"), lit(DriftWindows))
    val thr = when(col("rater") === 1 && win >= 2, lit(DriftAgreeLate))
      .otherwise(lit(AgreePct.toLong))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        least(expr("n_chars DIV 150"), lit(3L)).as("__t"))
      .select(col("doc_id"), col("__t"),
        explode(array(lit(0), lit(1))).as("rater"))
      .select(col("doc_id"), win.as("window"), col("rater"),
        when(pmod(h(d, lit("|"), r, lit("|agree")), lit(100L)) < thr,
          col("__t"))
          .otherwise(when(noisy >= col("__t"), noisy + 1L)
            .otherwise(noisy))
          .as("rating"))
  }

  /** Per-window Cohen's κ over the drifting campaign
    * ([[graft.ops.Eval.cohenKappaDrift]]) — agreement decay made
    * visible window by window, plus the first-vs-last delta.
    */
  def kappaDriftQ(spark: SparkSession, dir: String): DataFrame =
    Eval.cohenKappaDrift(ratingsPanelDrift(spark, dir), "doc_id",
      "rater", "rating", "window")

  private val PassSamples = 10
  private val PassKs = Seq(1, 5, 10)

  /** Unbiased pass@{1,5,10} over a deterministic sampled-generation
    * fixture ([[graft.ops.Eval.passAtK]]): each document is a "task"
    * with 10 md5-drawn samples whose per-task solve rate scales with
    * document length — the Codex-style eval aggregate every
    * code/reasoning harness reports.
    */
  def passAtKQ(spark: SparkSession, dir: String): DataFrame = {
    def h(parts: Column*): Column =
      graft.functions.Kernels.md5hash48(concat(parts: _*))
    val solveRate = least(lit(90L),
      greatest(lit(5L), expr("n_chars DIV 10")))
    val samples = Tables.documents(spark, dir)
      .select(col("doc_id"), solveRate.as("__r"),
        explode(array((0 until PassSamples).map(i => lit(i)): _*))
          .as("s"))
      .select(col("doc_id"),
        (pmod(h(col("doc_id").cast("string"), lit("|"),
          col("s").cast("string"), lit("|c")), lit(100L)) < col("__r"))
          .as("correct"))
    Eval.passAtK(samples, "doc_id", col("correct"), PassKs)
      .orderBy("k")
  }

  // ---- oracle SQL -----------------------------------------------------------

  /** The [[ratingsPanel]] replay: md5-drawn agreement and alternative
    * category per (doc, rater) — both hashes pre-computed in their own
    * CTE (a hash referenced twice must be written once).
    */
  private def ratingsPanelSql(nRaters: Int): String = {
    def hb(expr: String) = s"('0x' || substr(md5($expr), 1, 12))::BIGINT"
    val raters = (0 until nRaters).mkString("[", ", ", "]")
    s"""b AS (SELECT doc_id, least(n_chars // 150, 3) AS t
       |  FROM documents),
       |rr AS (SELECT doc_id, t, u.r AS rater,
       |    ${hb("doc_id || '|' || u.r || '|agree'")} % 100 AS ag,
       |    ${hb("doc_id || '|' || u.r || '|alt'")} % ${KappaCats - 1}
       |      AS nz
       |  FROM b, UNNEST($raters) u(r)),
       |rt AS (SELECT doc_id, rater,
       |    CASE WHEN ag < $AgreePct THEN t
       |         WHEN nz >= t THEN nz + 1 ELSE nz END AS rating
       |  FROM rr)""".stripMargin
  }

  private def dotSql(a: String, b: String) =
    s"list_dot_product($a::DOUBLE[], $b::DOUBLE[])"

  private def cosineSql(v: String, q: String) =
    s"round(${dotSql(v, q)} / (sqrt(${dotSql(v, v)}) * sqrt(${dotSql(q, q)})), 6)"

  // CASE chains over the shared library-level DCG literals — the SQL twin
  // of Eval.dcgWeight/idealDcg, so no engine ever computes a log.
  private def dcgCaseSql(rankExpr: String): String =
    (1 to RetrievalK).map(r =>
      s"WHEN $rankExpr = $r THEN CAST(${Eval.dcgWeight(r)} AS DECIMAL(28,9))")
      .mkString("CASE ", " ", " END")

  private def idcgCaseSql(mExpr: String): String =
    (1 to RetrievalK).map(i =>
      s"WHEN $mExpr = $i THEN CAST(${Eval.idealDcg(i, RetrievalK)} AS DECIMAL(28,9))")
      .mkString("CASE ", " ", " END")

  // user-day click-count probability bins, shared by the calibration and
  // isotonic oracles (must stay the verbatim twin of Eval.calibrationBins
  // over userDayLabels)
  private val calibBinnedCte =
    s"""u AS (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
       |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS s,
       |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
       |  FROM events GROUP BY 1, 2),
       |mm AS (SELECT min(s) AS mn, max(s) AS mx FROM u),
       |lab AS (SELECT s - mn AS num, mx - mn AS den, y
       |        FROM u CROSS JOIN mm),
       |binned AS (
       |  SELECT least((num * $CalibBins) // den,
       |           ${CalibBins - 1}) AS bin,
       |    count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
       |    CAST(sum(num) AS BIGINT) AS sum_num, max(den) AS den
       |  FROM lab GROUP BY 1)""".stripMargin

  /** The pass@k replay: per-k falling factorials unrolled in HUGEINT,
    * per-task pass rounded 9 dp into an exact DECIMAL sum, one final
    * division per k — mirroring [[graft.ops.Eval.passAtK]].
    */
  private lazy val passAtKOracleSql: String = {
    def hb(expr: String) = s"('0x' || substr(md5($expr), 1, 12))::BIGINT"
    def ff(base: String, k: Int): String =
      (0 until k).map(i => s"CAST(greatest($base - $i, 0) AS HUGEINT)")
        .mkString(" * ")
    val samples = (0 until PassSamples).mkString("[", ", ", "]")
    val arms = PassKs.map { k =>
      s"""SELECT $k AS k, count(*) AS n_tasks,
         |  CAST(sum(n) AS BIGINT) AS n_samples,
         |  CAST(sum(c) AS BIGINT) AS n_correct,
         |  round(CAST(sum(CAST(round(1.0
         |      - CAST(${ff("(n - c)", k)} AS DOUBLE)
         |        / CAST(${ff("n", k)} AS DOUBLE), 9)
         |    AS DECIMAL(28,9))) AS DOUBLE) / count(*), 9) AS pass_at_k
         |FROM pt""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH smp AS (SELECT doc_id,
       |    ${hb("doc_id || '|' || u.s || '|c'")} % 100
       |      < least(90, greatest(5, n_chars // 10)) AS correct
       |  FROM documents, UNNEST($samples) u(s)),
       |pt AS (SELECT doc_id, count(*) AS n,
       |    CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM smp GROUP BY 1)
       |SELECT * FROM ($arms) ORDER BY k""".stripMargin
  }

  val registry: Map[String, Query] = Map(
    "eval_pass_at_k" -> Query(passAtKQ, Some(passAtKOracleSql)),
    // exact HUGEINT count arithmetic end to end; κ is ONE IEEE division
    // of the cross-multiplied integers (A·D − C·B) / (B·(D − C)) — never
    // a round() of a rational — and NULL when chance agreement is total
    "eval_fleiss_kappa" -> Query(fleissKappaQ, Some(
      s"""WITH ${ratingsPanelSql(3)},
         |cell AS (SELECT doc_id, rating, count(*) AS n FROM rt
         |  GROUP BY 1, 2),
         |subj AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS ns,
         |    CAST(sum(n * n) AS HUGEINT) AS sq
         |  FROM cell GROUP BY 1),
         |tot AS (SELECT count(*) AS nn, min(ns) AS n,
         |    CAST(sum(sq) AS HUGEINT) AS s2 FROM subj),
         |cat AS (SELECT CAST(sum(CAST(cj AS HUGEINT) * cj) AS HUGEINT)
         |    AS csq
         |  FROM (SELECT rating, CAST(sum(n) AS BIGINT) AS cj FROM cell
         |        GROUP BY 1)),
         |f AS (SELECT nn, n,
         |    s2 - CAST(nn AS HUGEINT) * n AS a,
         |    CAST(nn AS HUGEINT) * n * (n - 1) AS b,
         |    csq AS c,
         |    CAST(nn AS HUGEINT) * n * CAST(nn AS HUGEINT) * n AS d
         |  FROM tot, cat)
         |SELECT nn AS n_subjects, n AS n_raters,
         |  CAST(a AS DOUBLE) / CAST(b AS DOUBLE) AS p_bar,
         |  CAST(c AS DOUBLE) / CAST(d AS DOUBLE) AS p_e,
         |  CASE WHEN d > c THEN CAST(a * d - c * b AS DOUBLE)
         |    / CAST(b * (d - c) AS DOUBLE) END AS kappa
         |FROM f""".stripMargin)),
    // the ragged-panel coefficient: per-unit (m² − Σ n_uc²) disagreeing
    // ordered pairs, 1/(m−1) weights cleared by lcm(1..9) = 2520 (every
    // m−1 ≤ 9 divides it — `//` is exact), category totals over
    // surviving units; α is ONE IEEE division of exact HUGEINTs
    "eval_krippendorff_alpha" -> Query(krippendorffQ, Some(
      s"""WITH ${ratingsPanelSql(3)},
         |rg AS (SELECT doc_id, rater, rating FROM rt
         |  WHERE ('0x' || substr(md5(doc_id || '|' || rater || '|on'),
         |    1, 12))::BIGINT % 3 < 2),
         |cell AS (SELECT doc_id, rating, count(*) AS n FROM rg
         |  GROUP BY 1, 2),
         |un AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS m,
         |    CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sq
         |  FROM cell GROUP BY 1 HAVING sum(n) >= 2),
         |ds AS (SELECT count(*) AS n_units,
         |    CAST(sum((CAST(m AS HUGEINT) * m - sq) * (2520 // (m - 1)))
         |      AS HUGEINT) AS dos,
         |    CAST(sum(m) AS BIGINT) AS n_pairable FROM un),
         |cat AS (SELECT CAST(sum(nc) AS HUGEINT) AS n,
         |    CAST(sum(CAST(nc AS HUGEINT) * nc) AS HUGEINT) AS ncsq
         |  FROM (SELECT CAST(sum(cell.n) AS BIGINT) AS nc
         |        FROM cell JOIN un USING (doc_id) GROUP BY cell.rating))
         |SELECT n_units, n_pairable,
         |  CAST(dos AS DOUBLE) / CAST(2520 * n AS DOUBLE) AS d_observed,
         |  CAST(n * n - ncsq AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)
         |    AS d_expected,
         |  CASE WHEN n * n - ncsq > 0 THEN
         |    1.0 - CAST((n - 1) * dos AS DOUBLE)
         |      / CAST(2520 * (n * n - ncsq) AS DOUBLE) END AS alpha
         |FROM ds, cat""".stripMargin)),
    // the drifting-panel replay: window = doc_id % 4, rater 1's agree
    // threshold drops to 40 in windows >= 2; per-window κ is the same
    // exact HUGEINT arithmetic keyed by window, and the drift column is
    // a full-frame first/last window-function difference
    "eval_kappa_drift" -> Query(kappaDriftQ, Some({
      def hb(e: String) = s"('0x' || substr(md5($e), 1, 12))::BIGINT"
      s"""WITH b AS (SELECT doc_id, least(n_chars // 150, 3) AS t
         |  FROM documents),
         |rr AS (SELECT doc_id, doc_id % $DriftWindows AS win, t,
         |    u.r AS rater,
         |    ${hb("doc_id || '|' || u.r || '|agree'")} % 100 AS ag,
         |    ${hb("doc_id || '|' || u.r || '|alt'")} % ${KappaCats - 1}
         |      AS nz
         |  FROM b, UNNEST([0, 1]) u(r)),
         |rt AS (SELECT doc_id, win, rater,
         |    CASE WHEN ag < (CASE WHEN rater = 1 AND win >= 2
         |        THEN $DriftAgreeLate ELSE $AgreePct END) THEN t
         |      WHEN nz >= t THEN nz + 1 ELSE nz END AS rating
         |  FROM rr),
         |pp AS (SELECT pa.win, pa.doc_id, pa.rating AS c0,
         |    pb.rating AS c1
         |  FROM (SELECT win, doc_id, rating FROM rt WHERE rater = 0) pa
         |  JOIN (SELECT win, doc_id, rating FROM rt WHERE rater = 1) pb
         |    USING (win, doc_id)),
         |na AS (SELECT win, count(*) AS nn,
         |    CAST(sum(CASE WHEN c0 = c1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS agree FROM pp GROUP BY 1),
         |ma AS (SELECT win, c0 AS c, count(*) AS a FROM pp GROUP BY 1, 2),
         |mb AS (SELECT win, c1 AS c, count(*) AS b FROM pp GROUP BY 1, 2),
         |mm AS (SELECT win, CAST(sum(CAST(coalesce(a, 0) AS HUGEINT)
         |    * coalesce(b, 0)) AS HUGEINT) AS ab
         |  FROM ma FULL OUTER JOIN mb USING (win, c) GROUP BY win),
         |kp AS (SELECT na.win AS "window", nn AS n_subjects,
         |    agree AS n_agree,
         |    CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE) AS p_o,
         |    CAST(ab AS DOUBLE)
         |      / CAST(CAST(nn AS HUGEINT) * nn AS DOUBLE) AS p_e,
         |    CASE WHEN CAST(nn AS HUGEINT) * nn > ab THEN
         |      CAST(CAST(agree AS HUGEINT) * nn - ab AS DOUBLE)
         |        / CAST(CAST(nn AS HUGEINT) * nn - ab AS DOUBLE) END
         |      AS kappa
         |  FROM na JOIN mm ON mm.win = na.win)
         |SELECT "window", n_subjects, n_agree, p_o, p_e, kappa,
         |  last_value(kappa) OVER w - first_value(kappa) OVER w
         |    AS kappa_drift
         |FROM kp
         |WINDOW w AS (ORDER BY "window" ROWS BETWEEN UNBOUNDED PRECEDING
         |  AND UNBOUNDED FOLLOWING)
         |ORDER BY "window"""".stripMargin
    })),
    // per-rater marginals (unlike Fleiss' pooled): p_e = Σ a_c·b_c/N²,
    // κ = (agree·N − Σ a·b)/(N² − Σ a·b) in exact HUGEINT
    "eval_cohen_kappa" -> Query(cohenKappaQ, Some(
      s"""WITH ${ratingsPanelSql(2)},
         |pp AS (SELECT pa.doc_id, pa.rating AS c0, pb.rating AS c1
         |  FROM (SELECT doc_id, rating FROM rt WHERE rater = 0) pa
         |  JOIN (SELECT doc_id, rating FROM rt WHERE rater = 1) pb
         |    USING (doc_id)),
         |na AS (SELECT count(*) AS nn,
         |    CAST(sum(CASE WHEN c0 = c1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS agree FROM pp),
         |ma AS (SELECT c0 AS c, count(*) AS a FROM pp GROUP BY 1),
         |mb AS (SELECT c1 AS c, count(*) AS b FROM pp GROUP BY 1),
         |mm AS (SELECT CAST(sum(CAST(coalesce(a, 0) AS HUGEINT)
         |    * coalesce(b, 0)) AS HUGEINT) AS ab
         |  FROM ma FULL OUTER JOIN mb USING (c))
         |SELECT nn AS n_subjects, agree AS n_agree,
         |  CAST(agree AS DOUBLE) / CAST(nn AS DOUBLE) AS p_o,
         |  CAST(ab AS DOUBLE) / CAST(CAST(nn AS HUGEINT) * nn AS DOUBLE)
         |    AS p_e,
         |  CASE WHEN CAST(nn AS HUGEINT) * nn > ab THEN
         |    CAST(CAST(agree AS HUGEINT) * nn - ab AS DOUBLE)
         |      / CAST(CAST(nn AS HUGEINT) * nn - ab AS DOUBLE) END
         |    AS kappa
         |FROM na, mm""".stripMargin)),
    // sequence-level md5 split; add-one transition model from the train
    // folds; 9-dp per-transition bits scale by exact test counts, ONE
    // IEEE division at the end
    "eval_markov_perplexity" -> Query(markovPerplexityQ, Some(
      s"""WITH t AS (SELECT user_id,
         |    event_type::VARCHAR AS next,
         |    lag(event_type::VARCHAR) OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS prev,
         |    ('0x' || substr(md5(user_id::VARCHAR), 1, 12))::BIGINT
         |      % $MarkovFolds AS fold
         |  FROM events),
         |tr AS (SELECT prev, next FROM t
         |  WHERE prev IS NOT NULL AND fold <> ${MarkovFolds - 1}),
         |te AS (SELECT prev, next FROM t
         |  WHERE prev IS NOT NULL AND fold = ${MarkovFolds - 1}),
         |c AS (SELECT prev, next, count(*) AS c FROM tr GROUP BY 1, 2),
         |pt AS (SELECT prev, CAST(sum(c) AS BIGINT) AS tot
         |  FROM c GROUP BY 1),
         |v AS (SELECT count(DISTINCT next) AS v FROM tr),
         |ta AS (SELECT prev, next, count(*) AS tc FROM te GROUP BY 1, 2),
         |sc AS (SELECT ta.tc,
         |    CAST(round(-ln((coalesce(c.c, 0) + 1.0)
         |        / (coalesce(pt.tot, 0) + v.v)) / ${math.log(2.0)}, 9)
         |      AS DECIMAL(18,9)) AS bits
         |  FROM ta LEFT JOIN c USING (prev, next)
         |  LEFT JOIN pt USING (prev), v)
         |SELECT (SELECT count(*) FROM tr) AS n_train,
         |  CAST(sum(tc) AS BIGINT) AS n_test,
         |  (SELECT v FROM v) AS vocab_size,
         |  round(CAST(sum(bits * tc) AS DOUBLE) / sum(tc), 6)
         |    AS bits_per_transition
         |FROM sc""".stripMargin)),
    // x2 clears the Laplace halves: each WOE is one ln of an exact
    // integer ratio; IV contributions ride the same ln, DECIMAL-summed
    "eval_woe_iv" -> Query(woeClicks, Some(
      """WITH g AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS s_clicks,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS pos
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT CAST(s_clicks AS BIGINT) AS score, count(*) AS n,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
        |  FROM g GROUP BY 1),
        |t AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
        |    CAST(sum(n_neg) AS BIGINT) AS tn FROM b),
        |w AS (SELECT score, n, n_pos, n_neg,
        |    round(ln(CAST((2 * n_pos + 1) * tn AS DOUBLE) /
        |      CAST((2 * n_neg + 1) * tp AS DOUBLE)), 9) AS woe,
        |    CAST(round(((CAST(n_pos AS DOUBLE) + 0.5) / CAST(tp AS DOUBLE)
        |        - (CAST(n_neg AS DOUBLE) + 0.5) / CAST(tn AS DOUBLE))
        |      * ln(CAST((2 * n_pos + 1) * tn AS DOUBLE) /
        |        CAST((2 * n_neg + 1) * tp AS DOUBLE)), 9)
        |      AS DECIMAL(28,9)) AS c
        |  FROM b, t)
        |SELECT score, n, n_pos, n_neg, woe,
        |  CAST(sum(c) OVER () AS DOUBLE) AS iv
        |FROM w ORDER BY score""".stripMargin)),
    // leave-last-order-out CF eval: the item_cf sim CTEs, DECIMAL score
    // sums, the lcm(1..10)=2520 exact-AP clearing, truncating nano APs
    "eval_map_at_k" -> Query(mapAtKCf, Some(
      """WITH rk AS (SELECT o_orderkey, o_custkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders),
        |tr AS (SELECT rk.o_orderkey AS basket, rk.o_custkey AS usr,
        |    l_partkey AS item
        |  FROM rk JOIN lineitem ON l_orderkey = o_orderkey WHERE rn > 1),
        |prof AS (SELECT DISTINCT usr, item FROM tr),
        |present AS (SELECT DISTINCT basket, item FROM tr),
        |ic AS (SELECT item, count(*) AS n FROM present GROUP BY 1),
        |p AS (SELECT l.item AS a, r.item AS b, count(*) AS n_ab
        |  FROM present l JOIN present r
        |    ON l.basket = r.basket AND l.item < r.item GROUP BY 1, 2),
        |o AS (SELECT a AS item, b AS neighbor, n_ab FROM p
        |      UNION ALL SELECT b, a, n_ab FROM p),
        |sim AS (SELECT o.item, o.neighbor,
        |    round(CAST(n_ab AS DOUBLE) / (sqrt(ia.n) * sqrt(ib.n)), 9)
        |      AS sim
        |  FROM o JOIN ic ia ON o.item = ia.item
        |         JOIN ic ib ON o.neighbor = ib.item),
        |nb AS (SELECT item, neighbor, sim,
        |    row_number() OVER (PARTITION BY item
        |      ORDER BY sim DESC, neighbor) AS nrank FROM sim),
        |sc AS (SELECT prof.usr, nb.neighbor AS item,
        |    sum(CAST(sim AS DECIMAL(18,9))) AS score
        |  FROM prof JOIN nb ON prof.item = nb.item AND nb.nrank <= 20
        |  GROUP BY 1, 2),
        |scx AS (SELECT sc.usr, sc.item, sc.score FROM sc
        |  LEFT JOIN prof ON sc.usr = prof.usr AND sc.item = prof.item
        |  WHERE prof.item IS NULL),
        |recs AS (SELECT usr, item,
        |    row_number() OVER (PARTITION BY usr
        |      ORDER BY score DESC, item) AS rank FROM scx),
        |ho AS (SELECT DISTINCT rk.o_custkey AS usr, l_partkey AS item
        |  FROM rk JOIN lineitem ON l_orderkey = o_orderkey WHERE rn = 1),
        |relx AS (SELECT ho.usr, ho.item FROM ho
        |  LEFT JOIN prof ON ho.usr = prof.usr AND ho.item = prof.item
        |  WHERE prof.item IS NULL),
        |rc AS (SELECT usr, count(*) AS r FROM relx GROUP BY 1),
        |mk AS (SELECT recs.usr, recs.rank,
        |    CASE WHEN relx.item IS NOT NULL THEN 1 ELSE 0 END AS h
        |  FROM recs LEFT JOIN relx
        |    ON recs.usr = relx.usr AND recs.item = relx.item
        |  WHERE recs.rank <= 10),
        |cm AS (SELECT usr, rank, h,
        |    sum(h) OVER (PARTITION BY usr ORDER BY rank
        |      ROWS UNBOUNDED PRECEDING) AS ch FROM mk),
        |aps AS (SELECT usr, CAST(sum((ch * 2520) // rank) AS BIGINT) AS s
        |  FROM cm WHERE h = 1 GROUP BY 1),
        |pu AS (SELECT rc.usr, coalesce(s, 0) AS s, least(r, 10) AS m
        |  FROM rc LEFT JOIN aps USING (usr)),
        |pn AS (SELECT usr, s > 0 AS hit,
        |    CAST((CAST(s AS HUGEINT) * 1000000000) // (2520 * m)
        |      AS BIGINT) AS nano FROM pu)
        |SELECT count(*) AS n_users, CAST(10 AS BIGINT) AS k,
        |  CASE WHEN count(*) > 0 THEN CAST(sum(nano) AS DOUBLE) /
        |    (CAST(count(*) AS DOUBLE) * 1000000000.0) END AS map_at_k,
        |  CASE WHEN count(*) > 0 THEN
        |    CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE) /
        |      CAST(count(*) AS DOUBLE) END AS hit_rate
        |FROM pn""".stripMargin)),
    // md5 2-arm assignment on the shared hash idiom; SRM χ² = (n0−n1)²/n
    // and 2×2 χ² = n·(ad−bc)²/(r0·r1·c0·c1) in HUGEINT until ONE double
    // division each; χ²(1) critical values as shared exact literals
    "eval_ab_experiment" -> Query(abExperiment, Some(
      """WITH u AS (SELECT CAST(user_id AS VARCHAR) AS uu,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |arms AS (SELECT uu, c,
        |    ('0x' || substr(md5(uu), 1, 12))::BIGINT % 2 AS arm FROM u),
        |g AS (SELECT count(*) AS n_units,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_arm0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_arm1,
        |    CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT)
        |      AS conv0,
        |    CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT)
        |      AS conv1
        |  FROM arms),
        |k AS (SELECT *,
        |    conv0::HUGEINT * (n_arm1 - conv1)
        |      - (n_arm0 - conv0)::HUGEINT * conv1 AS det,
        |    n_arm0::HUGEINT * n_arm1 * (conv0 + conv1)
        |      * (n_units - conv0 - conv1) AS denom,
        |    CASE WHEN n_units > 0 THEN
        |      round(CAST((n_arm0 - n_arm1) * (n_arm0 - n_arm1) AS DOUBLE)
        |        / n_units, 9) END AS srm_chi2
        |  FROM g),
        |k2 AS (SELECT *,
        |    CASE WHEN denom > 0 THEN
        |      round(CAST(n_units AS DOUBLE) * CAST(det * det AS DOUBLE)
        |        / CAST(denom AS DOUBLE), 9) END AS effect_chi2
        |  FROM k)
        |SELECT n_units, n_arm0, n_arm1, conv0, conv1,
        |  CASE WHEN n_arm0 > 0
        |    THEN round(CAST(conv0 AS DOUBLE) / n_arm0, 9) END AS cr0,
        |  CASE WHEN n_arm1 > 0
        |    THEN round(CAST(conv1 AS DOUBLE) / n_arm1, 9) END AS cr1,
        |  srm_chi2, srm_chi2 > 3.841458821 AS srm_flag_5pct,
        |  effect_chi2, effect_chi2 > 3.841458821 AS effect_flag_5pct,
        |  effect_chi2 > 6.634896601 AS effect_flag_1pct
        |FROM k2""".stripMargin)),
    // span-removal replay (the dedup_span_removal oracle chain at the
    // same 8-gram) feeding a clipped-bigram overlap; gram identity by
    // STRING (plan uses xxhash64 — equality classes identical barring
    // collisions, the established span-oracle convention); f1 computes
    // from the ROUNDED p/r doubles exactly as the plan does
    "eval_rouge_dedup" -> Query(rougeDedup, Some({
      val L = RougeSpanTokens
      s"""WITH d AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents),
         |g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS p,
         |        array_to_string(list_slice(toks, i, i + $L - 1), ' ') AS gs
         |      FROM d, UNNEST(generate_series(1, len(toks) - $L + 1)) u(i)
         |      WHERE len(toks) >= $L),
         |dup AS (SELECT gs FROM g GROUP BY 1 HAVING count(*) >= 2),
         |cov AS (SELECT DISTINCT doc_id, CAST(q AS INTEGER) AS pos
         |        FROM g JOIN dup USING (gs),
         |          UNNEST(generate_series(g.p, g.p + $L - 1)) v(q)),
         |tk AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
         |       FROM d, UNNEST(generate_series(1, len(toks))) u(i)),
         |s AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk
         |      LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.pos = tk.pos
         |      WHERE cov.doc_id IS NULL),
         |sa AS (SELECT doc_id, count(*) AS nk,
         |         string_agg(tok, ' ' ORDER BY pos) AS jt
         |       FROM s GROUP BY 1),
         |pr AS (SELECT d.doc_id AS pair_id, d.toks AS rt,
         |         list_filter(string_split(coalesce(
         |           CASE WHEN coalesce(sa.nk, 0) > 0 THEN sa.jt END, ''),
         |           ' '), t -> t <> '') AS ct
         |       FROM d LEFT JOIN sa USING (doc_id)
         |       WHERE len(d.toks) >= 1),
         |rg AS (SELECT pair_id,
         |         array_to_string(list_slice(rt, i, i + ${RougeN - 1}), ' ') AS gr
         |       FROM pr, UNNEST(generate_series(1, len(rt) - ${RougeN - 1})) u(i)
         |       WHERE len(rt) >= $RougeN),
         |cg AS (SELECT pair_id,
         |         array_to_string(list_slice(ct, i, i + ${RougeN - 1}), ' ') AS gr
         |       FROM pr, UNNEST(generate_series(1, len(ct) - ${RougeN - 1})) u(i)
         |       WHERE len(ct) >= $RougeN),
         |rc AS (SELECT pair_id, gr, count(*) AS cr FROM rg GROUP BY 1, 2),
         |cc AS (SELECT pair_id, gr, count(*) AS cc FROM cg GROUP BY 1, 2),
         |m AS (SELECT pair_id, CAST(sum(least(rc.cr, cc.cc)) AS BIGINT) AS mt
         |      FROM rc JOIN cc USING (pair_id, gr) GROUP BY 1),
         |t AS (SELECT pair_id,
         |        greatest(len(rt) - ${RougeN - 1}, 0)::BIGINT AS nr,
         |        greatest(len(ct) - ${RougeN - 1}, 0)::BIGINT AS nc
         |      FROM pr),
         |sel AS (SELECT t.pair_id, t.nr AS n_ref_grams, t.nc AS n_cand_grams,
         |          coalesce(m.mt, 0) AS n_match,
         |          CASE WHEN t.nc > 0
         |            THEN round(coalesce(m.mt, 0) / (t.nc * 1.0), 9)
         |          END AS prec,
         |          CASE WHEN t.nr > 0
         |            THEN round(coalesce(m.mt, 0) / (t.nr * 1.0), 9)
         |          END AS rec
         |        FROM t LEFT JOIN m USING (pair_id))
         |SELECT pair_id, n_ref_grams, n_cand_grams, n_match,
         |  prec AS "precision", rec AS recall,
         |  CASE WHEN prec IS NULL OR rec IS NULL THEN NULL
         |       WHEN prec + rec = 0 THEN 0.0
         |       ELSE round(2.0 * prec * rec / (prec + rec), 9) END AS f1
         |FROM sel ORDER BY pair_id""".stripMargin
    })),
    // all-integer utility sweep over the distinct-score grid; ties break
    // to the highest threshold
    "eval_best_threshold" -> Query(bestThresholdClicks, Some(
      s"""WITH lab AS (
         |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
         |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
         |  FROM events GROUP BY 1, 2),
         |g AS (SELECT s, count(*) AS c, sum(p) AS cp FROM lab
         |      WHERE s IS NOT NULL GROUP BY s),
         |w AS (SELECT s,
         |    sum(cp) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    sum(c) OVER (ORDER BY s DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         |    sum(cp) OVER () AS pp, sum(c) OVER () AS tt
         |  FROM g),
         |u AS (SELECT CAST(s AS BIGINT) AS threshold,
         |    CAST(tp AS BIGINT) AS tp,
         |    CAST(cn - tp AS BIGINT) AS fp, CAST(pp - tp AS BIGINT) AS fn,
         |    CAST(tt - pp - (cn - tp) AS BIGINT) AS tn,
         |    CAST(tp * $UtilTp + (cn - tp) * ($UtilFp) + (pp - tp)
         |      * ($UtilFn) + (tt - pp - (cn - tp)) * ($UtilTn) AS BIGINT)
         |      AS utility
         |  FROM w)
         |SELECT threshold, tp, fp, fn, tn, utility FROM u
         |ORDER BY utility DESC, threshold DESC LIMIT 1""".stripMargin)),
    // the same ntile band order (score desc, user, day); every statistic
    // is an integer ratio with the identical fixed IEEE sequence
    "eval_gains_deciles" -> Query(gainsDeciles, Some(
      """WITH lab AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT p, CAST(ntile(10) OVER (ORDER BY s DESC, user_id, day)
        |        AS BIGINT) AS decile
        |      FROM lab),
        |g AS (SELECT decile, count(*) AS n,
        |        CAST(sum(p) AS BIGINT) AS n_pos
        |      FROM b GROUP BY decile),
        |w AS (SELECT decile, n, n_pos,
        |        sum(n_pos) OVER (ORDER BY decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_pos,
        |        sum(n) OVER () AS tn, sum(n_pos) OVER () AS tp
        |      FROM g)
        |SELECT decile, n, n_pos,
        |  round(CAST(n_pos AS DOUBLE) / n, 9) AS response_rate,
        |  CAST(cum_pos AS BIGINT) AS cum_pos,
        |  CASE WHEN tp > 0 THEN
        |    round(CAST(cum_pos AS DOUBLE) / tp, 9) END AS cum_capture,
        |  CASE WHEN tp > 0 THEN
        |    round(CAST(n_pos AS DOUBLE) * tn / (CAST(n AS DOUBLE) * tp), 9)
        |    END AS lift
        |FROM w ORDER BY decile""".stripMargin)),
    // discordant-cell counts are exact integers; the continuity-corrected
    // statistic spends one IEEE division
    "eval_mcnemar" -> Query(mcnemarClicksViews, Some(
      """WITH g AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS sc,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS sv,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT (sc >= 1) = (y = 1) AS oka,
        |             (sv >= 2) = (y = 1) AS okb FROM g),
        |t AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN oka AND okb THEN 1 ELSE 0 END) AS BIGINT)
        |      AS both_right,
        |    CAST(sum(CASE WHEN NOT oka AND NOT okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS both_wrong,
        |    CAST(sum(CASE WHEN oka AND NOT okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b_only_a,
        |    CAST(sum(CASE WHEN NOT oka AND okb THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_only_b
        |  FROM c)
        |SELECT n, both_right, both_wrong, b_only_a, c_only_b,
        |  CASE WHEN b_only_a + c_only_b > 0 THEN
        |    round(CAST(greatest(abs(b_only_a - c_only_b) - 1, 0)
        |        * greatest(abs(b_only_a - c_only_b) - 1, 0) AS DOUBLE)
        |      / (b_only_a + c_only_b), 9) END AS mcnemar_chi2
        |FROM t""".stripMargin)),
    // distinct-score grid, descending: per-threshold term cp·CP/CN rounds
    // 9 dp into exact DECIMAL, one final division by n_pos
    "eval_avg_precision" -> Query(averagePrecisionClicks, Some(
      """WITH lab AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT s, count(*) AS c, sum(p) AS cp FROM lab
        |      WHERE s IS NOT NULL GROUP BY s),
        |w AS (SELECT c, cp,
        |        sum(cp) OVER (ORDER BY s DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cump,
        |        sum(c) OVER (ORDER BY s DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn
        |      FROM g)
        |SELECT CAST(sum(c) AS BIGINT) AS n_scored,
        |  CAST(sum(cp) AS BIGINT) AS n_pos,
        |  CASE WHEN sum(cp) > 0 THEN
        |    round(CAST(sum(CAST(round(CAST(cp * cump AS DOUBLE) / cumn, 9)
        |      AS DECIMAL(28,9))) AS DOUBLE) / sum(cp), 9) END
        |    AS avg_precision
        |FROM w""".stripMargin)),
    "eval_auc_clicks" -> Query(aucClicks, Some(
      """WITH lab AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT s, count(*) AS c, sum(p) AS cp FROM lab
        |      WHERE s IS NOT NULL GROUP BY s),
        |w AS (SELECT c, cp, coalesce(sum(c) OVER (ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |      FROM g),
        |a AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
        |        CAST(sum(c - cp) AS BIGINT) AS n_neg,
        |        sum(cp * (cb * 2 + c + 1)) AS rs2 FROM w)
        |SELECT n_pos, n_neg,
        |  CAST(rs2 - n_pos * (n_pos + 1) AS BIGINT) AS auc_num,
        |  round(CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
        |    / (CAST(n_pos AS DOUBLE) * n_neg * 2), 9) AS auc
        |FROM a ORDER BY n_pos""".stripMargin)),
    "eval_confusion_lang" -> Query(confusionLang, Some(
      s"""WITH ${TextQueries.toksCte},
         |p AS (SELECT doc_id, lang, ${TextQueries.maxScoreSql} AS __m, toks
         |  FROM d),
         |x AS (SELECT lang AS y, ${TextQueries.predictedSql} AS yh FROM p),
         |cont AS (SELECT y, yh, count(*) AS c FROM x GROUP BY 1, 2),
         |tp AS (SELECT y AS class, CAST(c AS BIGINT) AS tp FROM cont
         |       WHERE y = yh),
         |act AS (SELECT y AS class, CAST(sum(c) AS BIGINT) AS n_actual
         |        FROM cont GROUP BY 1),
         |prd AS (SELECT yh AS class, CAST(sum(c) AS BIGINT) AS n_pred
         |        FROM cont GROUP BY 1),
         |j AS (SELECT class, coalesce(n_actual, 0) AS n_actual,
         |        coalesce(n_pred, 0) AS n_pred, coalesce(tp, 0) AS tp
         |      FROM act FULL OUTER JOIN prd USING (class)
         |      LEFT JOIN tp USING (class))
         |SELECT class, n_actual, n_pred, tp,
         |  n_pred - tp AS fp, n_actual - tp AS fn,
         |  CASE WHEN n_pred > 0
         |    THEN round(CAST(tp AS DOUBLE) / n_pred, 9) END AS prec,
         |  CASE WHEN n_actual > 0
         |    THEN round(CAST(tp AS DOUBLE) / n_actual, 9) END AS rec,
         |  CASE WHEN n_actual + n_pred > 0
         |    THEN round(2.0 * tp / (n_actual + n_pred), 9) END AS f1
         |FROM j ORDER BY class""".stripMargin)),
    "eval_retrieval_labels" -> Query(retrievalLabels, Some(
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS ql
         |           FROM embeddings WHERE vec_id < $RetrievalQueries),
         |s AS (SELECT q_id, ql, vec_id, label,
         |        ${cosineSql("embedding", "qv")} AS cos
         |      FROM embeddings, q WHERE vec_id <> q_id),
         |r AS (SELECT q_id, ql, label, row_number() OVER
         |        (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |      FROM s),
         |t AS (SELECT q_id, rank,
         |        CASE WHEN label = ql THEN 1 ELSE 0 END AS rel
         |      FROM r WHERE rank <= $RetrievalK),
         |pq AS (SELECT q_id, CAST(sum(rel) AS BIGINT) AS hits,
         |         min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
         |         sum(CASE WHEN rel = 1 THEN ${dcgCaseSql("rank")}
         |             ELSE CAST(0 AS DECIMAL(28,9)) END) AS dcg_d
         |       FROM t GROUP BY q_id),
         |lc AS (SELECT label, count(*) AS lcnt FROM embeddings GROUP BY 1),
         |nr AS (SELECT q_id, CAST(coalesce(lcnt, 1) - 1 AS BIGINT) AS n_rel
         |       FROM q LEFT JOIN lc ON ql = label)
         |SELECT pq.q_id, n_rel, hits,
         |  round(CAST(hits AS DOUBLE) / $RetrievalK, 9) AS p_at_k,
         |  coalesce(round(1.0 / first_rel, 9), 0.0) AS mrr,
         |  CAST(dcg_d AS DOUBLE) AS dcg,
         |  CASE WHEN n_rel = 0 THEN 0.0
         |    ELSE round(CAST(dcg_d AS DOUBLE) / CAST(
         |      ${idcgCaseSql(s"least(n_rel, $RetrievalK)")} AS DOUBLE), 9)
         |  END AS ndcg
         |FROM pq JOIN nr ON pq.q_id = nr.q_id ORDER BY pq.q_id""".stripMargin)),
    "eval_sliced_auc" -> Query(slicedAuc, Some(
      """WITH lab AS (
        |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS s,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT day % 7 AS slice, s, count(*) AS c, sum(p) AS cp
        |      FROM lab WHERE s IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT slice, c, cp, coalesce(sum(c) OVER (PARTITION BY slice
        |        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        0) AS cb
        |      FROM g),
        |a AS (SELECT slice, CAST(sum(cp) AS BIGINT) AS n_pos,
        |        CAST(sum(c - cp) AS BIGINT) AS n_neg,
        |        sum(cp * (cb * 2 + c + 1)) AS rs2 FROM w GROUP BY 1),
        |pg AS (SELECT s, sum(c) AS c, sum(cp) AS cp FROM g GROUP BY 1),
        |pw AS (SELECT c, cp, coalesce(sum(c) OVER (ORDER BY s
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |       FROM pg),
        |pa AS (SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
        |         CAST(sum(c - cp) AS BIGINT) AS n_neg,
        |         sum(cp * (cb * 2 + c + 1)) AS rs2 FROM pw),
        |pooled AS (SELECT CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    round(CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
        |      / (CAST(n_pos AS DOUBLE) * n_neg * 2), 9) END AS pooled_auc
        |  FROM pa),
        |sl AS (SELECT slice, n_pos, n_neg,
        |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |      round(CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE)
        |        / (CAST(n_pos AS DOUBLE) * n_neg * 2), 9) END AS auc
        |  FROM a)
        |SELECT slice, n_pos, n_neg, auc, pooled_auc,
        |  round(auc - pooled_auc, 9) AS gap
        |FROM sl CROSS JOIN pooled ORDER BY slice""".stripMargin)),
    "eval_conformal" -> Query(conformalPrice, Some(
      """WITH b AS (
        |  SELECT ('0x' || substr(md5(l_orderkey::VARCHAR || '_'
        |      || l_linenumber::VARCHAR), 1, 12))::BIGINT % 100 AS b,
        |    l_extendedprice AS y
        |  FROM lineitem),
        |tr AS (SELECT count(*) AS n_train,
        |    round(CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE)
        |      / count(*), 2) AS y_hat
        |  FROM b WHERE b < 50),
        |r AS (SELECT b.b, round(abs(y - y_hat), 9) AS r
        |      FROM b CROSS JOIN tr WHERE b.b >= 50),
        |cg AS (SELECT r, count(*) AS c FROM r WHERE b < 75 GROUP BY 1),
        |cw AS (SELECT r, sum(c) OVER (ORDER BY r ROWS UNBOUNDED PRECEDING)
        |         AS cum, sum(c) OVER () AS n_cal
        |       FROM cg),
        |q AS (SELECT max(CAST(n_cal AS BIGINT)) AS n_cal,
        |        min(CASE WHEN cum * 10 >= (n_cal + 1) * 9 THEN r END)
        |          AS q_hat
        |      FROM cw),
        |t AS (SELECT count(*) AS n_test,
        |        CAST(sum(CASE WHEN q.q_hat IS NULL OR r.r <= q.q_hat
        |          THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
        |      FROM r CROSS JOIN q WHERE r.b >= 75)
        |SELECT tr.n_train, q.n_cal, t.n_test, tr.y_hat, q.q_hat,
        |  t.n_covered,
        |  round(CAST(t.n_covered AS DOUBLE) / t.n_test, 9) AS coverage
        |FROM tr CROSS JOIN q CROSS JOIN t""".stripMargin)),
    "eval_isotonic" -> Query(isotonicClicks, Some(
      s"""WITH $calibBinnedCte,
         |pre AS (SELECT bin, n, n_pos,
         |    sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cn,
         |    sum(n_pos) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cp
         |  FROM binned),
         |rng AS (SELECT lo.bin AS i, hi.bin AS j,
         |    round(CAST(hi.cp - (lo.cp - lo.n_pos) AS DOUBLE)
         |      / (hi.cn - (lo.cn - lo.n)), 9) AS m
         |  FROM pre lo JOIN pre hi ON hi.bin >= lo.bin),
         |innr AS (SELECT k.bin AS k, rng.i, min(rng.m) AS mn
         |  FROM rng JOIN binned k ON rng.i <= k.bin AND rng.j >= k.bin
         |  GROUP BY 1, 2),
         |iso AS (SELECT k, max(mn) AS iso_rate FROM innr GROUP BY 1)
         |SELECT b.bin, b.n, b.n_pos,
         |  round(CAST(b.n_pos AS DOUBLE) / b.n, 9) AS pos_rate,
         |  iso.iso_rate
         |FROM binned b JOIN iso ON iso.k = b.bin ORDER BY bin""".stripMargin)),
    // same binned relation; per-bin terms multiply the already-9dp rates,
    // round 9, exact-DECIMAL sum, one division per normalization
    "eval_brier" -> Query(brierClicks, Some(
      s"""WITH $calibBinnedCte,
         |b2 AS (SELECT n, n_pos,
         |    round(CAST(sum_num AS DOUBLE) / (n * den), 9) AS pb,
         |    round(CAST(n_pos AS DOUBLE) / n, 9) AS ob
         |  FROM binned),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |        CAST(sum(n_pos) AS BIGINT) AS pp FROM b2),
         |tt AS (SELECT nn, pp,
         |        round(CAST(pp AS DOUBLE) / nn, 9) AS obar FROM t),
         |s AS (SELECT nn, pp, obar,
         |    sum(CAST(round((pb - ob) * (pb - ob) * n, 9)
         |      AS DECIMAL(28,9))) AS reln,
         |    sum(CAST(round((ob - obar) * (ob - obar) * n, 9)
         |      AS DECIMAL(28,9))) AS resn
         |  FROM b2 CROSS JOIN tt GROUP BY nn, pp, obar)
         |SELECT nn AS n, pp AS n_pos, obar AS base_rate,
         |  round(CAST(reln AS DOUBLE) / nn, 9) AS reliability,
         |  round(CAST(resn AS DOUBLE) / nn, 9) AS resolution,
         |  round(obar * (1.0 - obar), 9) AS uncertainty,
         |  round(round(CAST(reln AS DOUBLE) / nn, 9)
         |    - round(CAST(resn AS DOUBLE) / nn, 9)
         |    + round(obar * (1.0 - obar), 9), 9) AS brier
         |FROM s""".stripMargin)),
    "eval_calibration_bins" -> Query(calibrationClicks, Some(
      s"""WITH $calibBinnedCte,
         |b2 AS (
         |  SELECT bin, n, n_pos,
         |    round(CAST(sum_num AS DOUBLE) / (n * den), 9) AS avg_prob,
         |    round(CAST(n_pos AS DOUBLE) / n, 9) AS pos_rate
         |  FROM binned),
         |b3 AS (SELECT *, round(abs(avg_prob - pos_rate), 9) AS abs_gap
         |       FROM b2)
         |SELECT bin, n, n_pos, avg_prob, pos_rate, abs_gap,
         |  round(CAST(sum(CAST(round(abs_gap * n, 9) AS DECIMAL(28,9)))
         |      OVER () AS DOUBLE) / sum(n) OVER (), 9) AS ece
         |FROM b3 ORDER BY bin""".stripMargin)),
    // KM/NA replay: nano-unit BIGINT hazard and ln-factor per grid row
    // (round 9 dp → DECIMAL(18,9) → ×10⁹, the widen-before-multiply rule),
    // exact BIGINT window sums, one ÷10⁹ + exp/round at the end; the
    // labels CTEs mirror feat_survival_labels
    "eval_survival_curve" -> Query(survivalCurve, Some(
      s"""WITH a AS (SELECT max(epoch_us(ts)) - $SurvHorizonUs
         |             AS anchor FROM events),
         |r AS (SELECT user_id, count(*) AS n_prior, max(anchor) AS anc
         |      FROM events, a WHERE epoch_us(ts) <= anchor
         |      GROUP BY user_id),
         |f AS (SELECT user_id, min(epoch_us(ts)) AS t_event
         |      FROM events, a
         |      WHERE event_type = 'purchase' AND epoch_us(ts) > anchor
         |        AND epoch_us(ts) <= anchor + $SurvHorizonUs
         |      GROUP BY user_id),
         |lab AS (SELECT
         |    CASE WHEN f.t_event IS NOT NULL THEN f.t_event - r.anc
         |         ELSE $SurvHorizonUs END AS t,
         |    CASE WHEN f.t_event IS NOT NULL THEN 1 ELSE 0 END AS ev
         |  FROM r LEFT JOIN f USING (user_id)),
         |g AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
         |    count(*) AS alln FROM lab GROUP BY 1),
         |c1 AS (SELECT t, d,
         |    CAST(sum(alln) OVER () - sum(alln) OVER (ORDER BY t) + alln
         |      AS BIGINT) AS n_risk FROM g),
         |st AS (SELECT t, d, n_risk,
         |    CAST(CAST(round(CAST(d AS DOUBLE) / n_risk, 9)
         |      AS DECIMAL(18,9)) * 1000000000 AS BIGINT) AS h9,
         |    CASE WHEN d = n_risk THEN 0
         |      ELSE CAST(CAST(round(ln(CAST(n_risk - d AS DOUBLE)
         |        / CAST(n_risk AS DOUBLE)), 9)
         |        AS DECIMAL(18,9)) * 1000000000 AS BIGINT) END AS ln9,
         |    CASE WHEN d = n_risk THEN 1 ELSE 0 END AS z
         |  FROM c1),
         |c2 AS (SELECT t, d, n_risk,
         |    sum(h9) OVER (ORDER BY t) AS ch,
         |    sum(ln9) OVER (ORDER BY t) AS cl,
         |    sum(z) OVER (ORDER BY t) AS cz
         |  FROM st)
         |SELECT t AS duration_us, n_risk, d AS d_events,
         |  CAST(ch AS DOUBLE) / 1000000000.0 AS na_cumhaz,
         |  CASE WHEN cz > 0 THEN 0.0
         |    ELSE round(exp(CAST(cl AS DOUBLE) / 1000000000.0), 9)
         |    END AS km_survival
         |FROM c2 WHERE d > 0 ORDER BY duration_us""".stripMargin)))
}
