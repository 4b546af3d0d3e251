package graft.queries

import graft.ops.{Decontamination, Prep}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked training-data preparation family ([[graft.ops.Prep]]):
  * TF-IDF term weighting, per-group feature normalization, the hashing
  * trick, leakage-free group splits, sequence packing, and dataset-mixture
  * sampling. Every md5-threshold decision and every piece of double
  * arithmetic is mirrored verbatim in the DuckDB SQL.
  */
object PrepQueries {

  private val TopK = 3
  private val HashBuckets = 32
  private val PackBudget = 200
  private val MixWeights = Map("src0" -> 0.8, "src1" -> 0.5)
  private val MixDefault = 0.25

  /** Top-3 TF-IDF terms for the first 10 documents (idf fitted on the FULL
    * corpus — the filter applies to the output, not the statistics).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    Prep.tfidfTopTerms(Tables.documents(spark, dir), "doc_id", "text", TopK)
      .filter(col("doc_id") < 10)
      .orderBy("doc_id", "rank")

  /** Z-score + min-max of customer balances, normalized within market
    * segment; stats over ALL customers, output sliced to the first 20.
    */
  def normalizeAcctbal(spark: SparkSession, dir: String): DataFrame =
    Prep.standardize(Tables.customer(spark, dir), "c_acctbal",
        Seq("c_mktsegment"))
      .filter(col("c_custkey") < 20)
      .select("c_custkey", "c_mktsegment", "z", "minmax")
      .orderBy("c_custkey")

  /** Hashed (event_type=props) features into 32 signed buckets per user. */
  def featureHash(spark: SparkSession, dir: String): DataFrame =
    Prep.featureHash(
        Tables.events(spark, dir).filter(col("user_id") < 20),
        Seq("user_id"),
        concat(col("event_type"), lit("="), coalesce(col("props"), lit(""))),
        HashBuckets)
      .orderBy("user_id", "bucket")

  /** 80/10/10 user-level split of the events table — user counts per split
    * prove the assignment; leakage-freedom (one split per user) is pinned
    * by PrepSpec.
    */
  def groupSplit(spark: SparkSession, dir: String): DataFrame =
    Prep.groupSplit(Tables.events(spark, dir), "user_id", 80, 10)
      .groupBy("split")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("split")

  /** Documents packed onto 200-token streams per source; pack-level doc and
    * token counts.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    Prep.packSequences(Tables.documents(spark, dir), "doc_id", "text",
        "source", PackBudget)
      .groupBy("source", "pack")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .orderBy("source", "pack")

  /** Weighted mixture over sources (src0 80%, src1 50%, rest 25%):
    * kept-vs-total per source.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val kept = Prep.mixtureSample(docs, "doc_id", "source",
        MixWeights, MixDefault)
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
    docs.groupBy("source").agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("source")
  }

  private val DecontamN = 3
  private val DecontamMaxFrac = 0.5
  private val StratFraction = 0.1
  private val HistBins = 20
  private val ChunkSize = 40
  private val ChunkStride = 30

  /** Per-document 3-gram overlap against the src0 eval slice — corpus side
    * never shuffles (eval grams broadcast as one sorted array, overlap via
    * the codegen merge-intersect kernel).
    */
  def decontamOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Decontamination.overlapStats(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", DecontamN)
      .orderBy("doc_id")
  }

  /** Survivor count + checksum after dropping docs with ≥50% eval-set
    * 3-gram overlap.
    */
  def decontamSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Decontamination.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", DecontamN, DecontamMaxFrac)
      .agg(count(lit(1)).as("n_survivors"),
        sum(col("doc_id")).as("id_checksum"))
  }

  private val SemDecontamThreshold = 0.35

  /** Embedding-space contamination audit
    * ([[graft.ops.Decontamination.semanticContamination]]): every 20th
    * vector plays the benchmark set, the rest the training corpus;
    * flagged training items report their argmax eval match.
    */
  def semanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Decontamination.semanticContamination(
        emb.filter(col("vec_id") % 20 =!= 0),
        emb.filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", SemDecontamThreshold)
      .orderBy("train_id")
  }

  /** Exact 10% stratified sample of orders by status: per-stratum kept
    * count and key checksum (counts are ⌈0.1·n⌉ exactly, not in
    * expectation — PrepSpec pins the per-stratum exactness property).
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Prep.stratifiedSample(Tables.orders(spark, dir), Seq("o_orderstatus"),
        "o_orderkey", StratFraction)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("o_orderkey")).as("key_checksum"))
      .orderBy("o_orderstatus")

  /** 20-bin fixed-width histogram of lineitem extended price. */
  def histogramPrice(spark: SparkSession, dir: String): DataFrame =
    Prep.histogram(Tables.lineitem(spark, dir), "l_extendedprice", HistBins)
      .orderBy("bin")

  /** Overlapping 40-token/30-stride chunks of every document. */
  def chunkText(spark: SparkSession, dir: String): DataFrame =
    Prep.chunkText(Tables.documents(spark, dir), "doc_id", "text",
        ChunkSize, ChunkStride)
      .orderBy("doc_id", "chunk_idx")

  /** Quantile matching ([[graft.ops.Prep.quantileMatch]]): BUILDING-segment
    * account balances mapped onto the AUTOMOBILE segment's distribution —
    * type-1 inverse CDF via the forward as-of join on the rank axis.
    */
  def quantileMatch(spark: SparkSession, dir: String): DataFrame =
    Prep.quantileMatch(Tables.customer(spark, dir), "c_acctbal",
        "c_mktsegment", "BUILDING", "AUTOMOBILE")
      .orderBy("value")

  private val BudgetTargets =
    Seq("en" -> 40, "es" -> 20, "fr" -> 15, "de" -> 15, "zh" -> 10)
  private val TotalBudget = 100000L

  /** Token-budget mixture plan over the per-language inventories
    * ([[graft.ops.Prep.tokenBudgetPlan]]): integer target weights, exact
    * integer target tokens, one IEEE epochs division.
    */
  def tokenBudget(spark: SparkSession, dir: String): DataFrame =
    Prep.tokenBudgetPlan(Tables.documents(spark, dir), "text", "lang",
        BudgetTargets, TotalBudget)
      .orderBy("source")

  private val SessionGapSec = 21600L

  /** PII redaction over deterministic synthesized contact lines (the corpus
    * itself is PII-free, so each doc gets an email + phone + IPv4 derived
    * from its id — same construction mirrored in the oracle SQL).
    */
  def redactPii(spark: SparkSession, dir: String): DataFrame = {
    val pii = Tables.documents(spark, dir).filter(col("doc_id") < 100)
      .select(col("doc_id"), concat(
        substring(col("text"), 1, 40),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 555-010-"),
        lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id") * 3, lit(256)).cast("string")).as("text"))
    Prep.redactPii(pii, "text")
      .select("doc_id", "redacted", "n_emails", "n_phones", "n_ips")
      .orderBy("doc_id")
  }

  /** Gap-based sessions (6 h) for the first 20 users: per-session event
    * count and time bounds — the median inter-event gap in the synthetic
    * stream is ~7 h, so sessions genuinely split.
    */
  def sessionizeEvents(spark: SparkSession, dir: String): DataFrame =
    Prep.sessionize(Tables.events(spark, dir).filter(col("user_id") < 20),
        "user_id", "ts", "event_id", SessionGapSec)
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
      .orderBy("user_id", "session_idx")

  private val PriorityK = 25

  /** Weight-proportional 25-row order sample by total price
    * ([[graft.ops.Prep.prioritySample]] — Duffield priority sampling;
    * priorities are a single IEEE division over md5-derived uniforms, so
    * the sampled SET is engine-exact, not just engine-close).
    */
  def prioritySampleOrders(spark: SparkSession, dir: String): DataFrame =
    Prep.prioritySample(Tables.orders(spark, dir), "o_orderkey",
        "o_totalprice", PriorityK)
      .orderBy("o_orderkey")

  private val TeSmoothing = 20.0
  private val QBuckets = 4
  private val CrossBuckets = 64

  /** Smoothed + leave-one-out target encoding of market segment against
    * account balance (stats over ALL customers, output sliced to the first
    * 20 — encoding statistics never follow the output filter).
    */
  def targetEncode(spark: SparkSession, dir: String): DataFrame =
    Prep.targetEncode(Tables.customer(spark, dir), Seq("c_mktsegment"),
        "c_acctbal", TeSmoothing)
      .filter(col("c_custkey") < 20)
      .select("c_custkey", "c_mktsegment", "te", "te_loo")
      .orderBy("c_custkey")

  private val WoeAlpha = 0.5
  private val WoeLabelCut = 150000.0

  /** Weight-of-evidence encoding of order priority against the
    * "high-value order" label (total price > 150k) —
    * [[graft.ops.Prep.woeEncode]] with α = 0.5 additive smoothing.
    */
  def woeEncode(spark: SparkSession, dir: String): DataFrame =
    Prep.woeEncode(Tables.orders(spark, dir)
          .withColumn("__lbl", col("o_totalprice") > WoeLabelCut),
        "o_orderpriority", "__lbl", WoeAlpha)
      .withColumnRenamed("category", "priority")
      .orderBy("priority")

  /** Equal-frequency 4-bucket discretization of lineitem extended price —
    * exact percentile edges, per-bucket counts and value bounds.
    */
  def quantileBucket(spark: SparkSession, dir: String): DataFrame =
    Prep.quantileBucket(Tables.lineitem(spark, dir), "l_extendedprice",
        QBuckets)
      .orderBy("bucket")

  /** Hashed cross of (market segment × nation) into 64 buckets: per-bucket
    * row and distinct-pair counts — the collision profile of the cross.
    */
  def hashCross(spark: SparkSession, dir: String): DataFrame =
    Prep.crossHash(Tables.customer(spark, dir),
        Seq("c_mktsegment", "c_nationkey"), CrossBuckets)
      .groupBy("cross_bucket")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("c_mktsegment"), col("c_nationkey")).as("n_pairs"))
      .orderBy("cross_bucket")

  private val CapN = 15
  private val WinsLo = 0.05
  private val WinsHi = 0.95
  private val KFolds = 5

  /** At most 15 documents per (source, lang) cell — the C4-style "no
    * domain dominates" corpus-shaping cap; per-cell kept counts + key
    * checksums prove WHICH rows were kept, not just how many.
    */
  def keyCap(spark: SparkSession, dir: String): DataFrame =
    Prep.capPerKey(Tables.documents(spark, dir), Seq("source", "lang"),
        "doc_id", CapN)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
      .orderBy("source", "lang")

  /** p05/p95 winsorization of lineitem extended price: clip counts, the
    * exact-DECIMAL clipped total, and the realized clamp edges.
    */
  def winsorizePrice(spark: SparkSession, dir: String): DataFrame =
    Prep.winsorize(Tables.lineitem(spark, dir), "l_extendedprice",
        WinsLo, WinsHi)
      .agg(
        sum(when(col("clipped_lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("clipped_hi"), 1L).otherwise(0L)).as("n_hi"),
        count(lit(1)).as("n_rows"),
        sum(col("winsorized")).cast("double").as("total"),
        min(col("winsorized")).cast("double").as("lo_edge"),
        max(col("winsorized")).cast("double").as("hi_edge"))

  /** Deterministic 5-fold user-level assignment over the event stream —
    * per-fold user and event counts (leakage-freedom, every user in one
    * fold, is pinned by PrepSpec).
    */
  def kfoldEvents(spark: SparkSession, dir: String): DataFrame =
    Prep.kfold(Tables.events(spark, dir), "user_id", KFolds)
      .groupBy("fold")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("fold")

  /** Downsample order statuses to the minority class: every status keeps
    * exactly min(class sizes) rows, checksummed.
    */
  def classBalance(spark: SparkSession, dir: String): DataFrame =
    Prep.balanceClasses(Tables.orders(spark, dir), Seq("o_orderstatus"),
        "o_orderkey")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("o_orderkey")).as("key_checksum"))
      .orderBy("o_orderstatus")

  private val NegSampleK = 5
  private val NegSampleOver = 4

  /** 5 deterministic negative parts per customer (first 10 customers with
    * orders): items drawn by md5 from the dense part-id space, rejected
    * against the customer's actual order lines
    * ([[graft.ops.Prep.negativeSample]]).
    */
  def negativeSample(spark: SparkSession, dir: String): DataFrame = {
    val inter = Tables.orders(spark, dir).filter(col("o_custkey") < 10)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    Prep.negativeSample(inter, "o_custkey", "l_partkey",
        Tables.part(spark, dir), "p_partkey", NegSampleK, NegSampleOver)
      .orderBy("o_custkey", "neg_rank")
  }

  private val DsirBuckets = 64

  /** DSIR importance weights toward the English-labeled slice of the
    * corpus ([[graft.ops.TokenModels.dsirWeights]]).
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.dsirWeights(Tables.documents(spark, dir),
        "doc_id", "text", col("lang") === "en", DsirBuckets)
      .orderBy("doc_id")

  private val ShuffleSeed = "r6"

  /** Seeded deterministic global training order over the documents corpus
    * ([[graft.ops.Prep.globalShuffle]]): the i-th example under the seed
    * is the same row on any engine/partitioning — epoch order, shard
    * assignment and resume offsets in one column.
    */
  def globalShuffleDocs(spark: SparkSession, dir: String): DataFrame =
    Prep.globalShuffle(
        Tables.documents(spark, dir).select("doc_id", "lang"),
        "doc_id", ShuffleSeed)
      .orderBy("shuffle_pos")

  /** Quantile normalization of customer account balance
    * ([[graft.ops.Prep.rankNormalize]]) — the outlier-immune uniform
    * rescaling; ties share one rank by construction.
    */
  def rankNormalizeAcctbal(spark: SparkSession, dir: String): DataFrame =
    Prep.rankNormalize(
        Tables.customer(spark, dir).select("c_custkey", "c_acctbal"),
        "c_acctbal")
      .orderBy("c_custkey")

  /** Temperature-2 mixture proportions over the documents' language
    * slices ([[graft.ops.Prep.temperatureMixture]]): the multilingual
    * up-sampling sheet — q ∝ √p, boost = q/p.
    */
  /** Loss-aware mixture weights over the documents' `source` slices
    * ([[graft.ops.Prep.lossReweight]] on
    * [[graft.ops.TextAnalysis.domainHardness]]'s held-out bits): the
    * DoReMi-style EG step — hard domains up-weight, smoothed 1/5 toward
    * uniform. The hardness-driven companion to the size-driven
    * [[temperatureMix]].
    */
  def lossReweightQ(spark: SparkSession, dir: String): DataFrame =
    Prep.lossReweight(
        graft.ops.TextAnalysis.domainHardness(Tables.documents(spark, dir),
          "doc_id", "text", "source", TextQueries.DomainFolds),
        "source", "bits_per_token", eta = 1.0, cNum = 1, cDen = 5)
      .orderBy("source")

  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    Prep.temperatureMixture(Tables.documents(spark, dir), col("lang"))
      .orderBy("source")

  /** The MEASURED DoReMi mixture weights shared by [[doremiMix]] and
    * [[doremiSample]]: held-out per-domain hardness → one EG step
    * ([[lossReweightQ]]'s exact chain).
    */
  private def doremiWeights(spark: SparkSession, dir: String): DataFrame =
    Prep.lossReweight(
      graft.ops.TextAnalysis.domainHardness(Tables.documents(spark, dir),
        "doc_id", "text", "source", TextQueries.DomainFolds),
      "source", "bits_per_token", eta = 1.0, cNum = 1, cDen = 5)

  /** The CLOSED DoReMi loop (Xie et al. 2023): measured per-domain
    * hardness → loss reweighting → the mixture-weighted training
    * SCHEDULE — the measurement chain's weights actually driving the
    * corpus order ([[graft.ops.Prep.mixtureScheduleWeighted]] under
    * [[lossReweightQ]]'s `mixture_weight`), where round 13 stopped at
    * the weight sheet.
    */
  def doremiMix(spark: SparkSession, dir: String): DataFrame =
    Prep.mixtureScheduleWeighted(Tables.documents(spark, dir),
        col("source"), col("doc_id"),
        doremiWeights(spark, dir), "source", "mixture_weight")
      .orderBy("virtual_time", "source", "id")

  private val DoremiBudget = 5000000L

  /** The provisioning sheet under the same measured weights
    * ([[graft.ops.Prep.tokenBudgetPlanWeighted]]): per-source token
    * targets for a 5M-token mix allocated by exact nano-weight shares,
    * with the epochs/deficit read of [[tokenBudget]] — the third and
    * last consumer of the DoReMi handoff.
    */
  def doremiBudget(spark: SparkSession, dir: String): DataFrame =
    Prep.tokenBudgetPlanWeighted(Tables.documents(spark, dir), "text",
        "source", doremiWeights(spark, dir), "source", "mixture_weight",
        DoremiBudget)
      .orderBy("source")

  /** The sampling half of the closed loop: the same measured weights as
    * keep rates with maximum retention
    * ([[graft.ops.Prep.mixtureTargetSample]] — the max-rate source kept
    * whole, every other source thinned so survivors ∝ mixture_weight,
    * decided by exact integer cross-multiplication).
    */
  def doremiSample(spark: SparkSession, dir: String): DataFrame =
    Prep.mixtureTargetSample(Tables.documents(spark, dir),
        "doc_id", "source", doremiWeights(spark, dir),
        "source", "mixture_weight")
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")

  /** Exact nano-integer text quality — the [[graft.ops.TextAnalysis
    * .qualityScore]] product (length·diversity·(1−non_word)) re-derived
    * as ONE truncating integer division so it can serve as a SORT KEY:
    * ⌊min(n,20)·d·(L−nwc)·10⁹ / (20·n·L)⌋ with n tokens, d distinct,
    * L = max(chars,1), nwc non-word chars — ordering by the 6-dp
    * rounded double would let a last-ulp engine disagreement reorder
    * ties and shift every later schedule slot.
    */
  private def qualityNano: Column = {
    val t = filter(split(col("text"), " "), x => x =!= "")
    val n = size(t).cast("long")
    val d = size(array_distinct(t)).cast("long")
    val lp = greatest(length(col("text")), lit(1)).cast("long")
    val nwc = length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", ""))
      .cast("long")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val num = (least(n, lit(20L)) * d).cast(d38) * (lp - nwc).cast(d38) *
      lit(1000000000L).cast(d38)
    val den = (lit(20L) * n * lp).cast(d38)
    when(n > 0, ((num - pmod(num, den)) / den).cast(d38).cast("long"))
      .otherwise(0L)
  }

  /** Curriculum-ordered DoReMi schedule
    * ([[graft.ops.Prep.curriculumSchedule]] under the same measured
    * weights as [[doremiMix]]): source interleave rates from the
    * hardness→EG chain, within-source order by measured text quality
    * (high→low) — the curriculum-data shape. A constant quality column
    * reduces exactly to [[doremiMix]]'s schedule (PrepSpec pins it).
    */
  def curriculumSchedule(spark: SparkSession, dir: String): DataFrame =
    Prep.curriculumSchedule(Tables.documents(spark, dir), col("source"),
        col("doc_id"), qualityNano, doremiWeights(spark, dir), "source",
        "mixture_weight")
      .orderBy("virtual_time", "source", "id")

  private val SpanStartPct = 5
  private val SpanMax = 5

  /** T5 span-corruption pairs over the documents
    * ([[graft.ops.Prep.spanCorruption]], 5% hash-chosen span starts,
    * spans 1–5 tokens): numbered sentinels in the input, swallowed
    * tokens in the target.
    */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame =
    Prep.spanCorruption(Tables.documents(spark, dir), "doc_id", "text",
        SpanStartPct, SpanMax)
      .orderBy("doc_id")

  /** Stride-scheduled mixture interleave of the documents by language
    * ([[graft.ops.Prep.mixtureSchedule]] over the T=2 temperature
    * weights): the deterministic dataloader order.
    */
  def mixtureSchedule(spark: SparkSession, dir: String): DataFrame =
    Prep.mixtureSchedule(Tables.documents(spark, dir), col("lang"),
        col("doc_id"))
      .orderBy("virtual_time", "source", "id")

  // ---- oracle SQL -------------------------------------------------------------

  private def md5Bucket(expr: String, buckets: Int) =
    s"('0x' || substr(md5($expr), 1, 12))::BIGINT % $buckets"

  /** hardness → EG-step CTEs shared by `prep_loss_reweight` and the two
    * closed-loop `prep_doremi_*` oracles: one exp per domain (argument
    * exact), 9-dp rounding before the exact DECIMAL normalization sum,
    * the rational 1/5 uniform smoothing in `mw.q`.
    */
  private lazy val doremiWeightCtes: String =
    s"""${graft.queries.TextQueries.domainHardnessCtes},
       |st AS (SELECT min(bits_per_token) AS mn, count(*) AS k FROM h),
       |e AS (SELECT h.source, h.bits_per_token AS bits,
       |    CAST(round(exp(1.0 * (h.bits_per_token - st.mn)), 9)
       |      AS DECIMAL(28,9)) AS e
       |  FROM h, st),
       |z AS (SELECT sum(e) AS z FROM e),
       |sw AS (SELECT e.source, e.bits,
       |    round(CAST(e.e AS DOUBLE) / CAST(z.z AS DOUBLE), 9)
       |      AS softmax_weight
       |  FROM e, z),
       |mw AS (SELECT sw.source,
       |    round(0.8 * sw.softmax_weight + 1.0 / (5.0 * st.k), 9) AS q
       |  FROM sw, st),
       |wq AS (SELECT source,
       |    CAST(CAST(q AS DECIMAL(18,9)) * 1000000000 AS BIGINT) AS wn
       |  FROM mw)""".stripMargin

  val registry: Map[String, Query] = Map(
    // stride scheduling over the temperature weights: item k of source s
    // at virtual time (k − ½)/q_s; within-source order = md5-of-id
    "prep_mixture_schedule" -> Query(mixtureSchedule, Some(
      """WITH s AS (SELECT lang AS source, count(*) AS n_rows
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS nn FROM s),
        |b AS (SELECT source, n_rows,
        |        CAST(round(sqrt(round(n_rows / (nn * 1.0), 9)), 9)
        |          AS DECIMAL(18,9)) AS w
        |      FROM s CROSS JOIN t),
        |z AS (SELECT CAST(sum(w) AS DOUBLE) AS z FROM b),
        |q AS (SELECT source, round(CAST(w AS DOUBLE) / z, 9) AS q_temp
        |      FROM b CROSS JOIN z),
        |r AS (SELECT CAST(lang AS VARCHAR) AS source, doc_id AS id,
        |        row_number() OVER (PARTITION BY lang
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS k
        |      FROM documents)
        |SELECT round((r.k - 0.5) / q.q_temp, 9) AS virtual_time,
        |  r.source, r.id, CAST(r.k AS INTEGER) AS k
        |FROM r JOIN q USING (source)
        |ORDER BY virtual_time, source, id""".stripMargin)),
    // hash-deterministic span starts/lengths on the shared md5 idiom;
    // overlapping spans union their cover; runs via gap-and-island
    // (pos − row_number constant per run); both texts string_agg in
    // deterministic order; no-span docs keep original text, NULL target
    "prep_span_corruption" -> Query(spanCorruption, Some({
      val P = SpanStartPct
      val M = SpanMax
      s"""WITH d AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |tk AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
         |       FROM d, UNNEST(generate_series(1, len(toks))) u(i)
         |       WHERE len(toks) >= 1),
         |st AS (SELECT doc_id, pos,
         |         ('0x' || substr(md5(doc_id || '|' || pos || '|' || 'len'),
         |            1, 12))::BIGINT % $M + 1 AS slen
         |       FROM tk
         |       WHERE ('0x' || substr(md5(doc_id || '|' || pos), 1, 12))
         |           ::BIGINT % 100 < $P),
         |cov AS (SELECT DISTINCT doc_id, CAST(q AS INTEGER) AS pos
         |        FROM st, UNNEST(generate_series(st.pos,
         |          st.pos + st.slen - 1)) v(q)),
         |msk AS (SELECT tk.doc_id, tk.pos, tk.tok
         |        FROM tk JOIN cov USING (doc_id, pos)),
         |runs AS (SELECT *, dense_rank() OVER (PARTITION BY doc_id
         |             ORDER BY grp) - 1 AS run_k
         |         FROM (SELECT *, pos - row_number() OVER (
         |                 PARTITION BY doc_id ORDER BY pos) AS grp
         |               FROM msk)),
         |inp AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY pos)
         |            AS input_text
         |        FROM (
         |          SELECT tk.doc_id, tk.pos, tk.tok AS piece
         |          FROM tk LEFT JOIN cov USING (doc_id, pos)
         |          WHERE cov.pos IS NULL
         |          UNION ALL
         |          SELECT doc_id, min(pos) AS pos,
         |            '<extra_id_' || run_k || '>' AS piece
         |          FROM runs GROUP BY doc_id, run_k)
         |        GROUP BY doc_id),
         |tgt AS (SELECT doc_id,
         |          string_agg(piece, ' ' ORDER BY run_k, p2) AS target_text,
         |          CAST(sum(CASE WHEN p2 >= 0 THEN 1 ELSE 0 END) AS BIGINT)
         |            AS n_masked,
         |          CAST(max(run_k) + 1 AS BIGINT) AS n_spans
         |        FROM (
         |          SELECT doc_id, run_k, pos AS p2, tok AS piece FROM runs
         |          UNION ALL
         |          SELECT doc_id, run_k, -1 AS p2,
         |            '<extra_id_' || run_k || '>' AS piece
         |          FROM (SELECT DISTINCT doc_id, run_k FROM runs))
         |        GROUP BY doc_id)
         |SELECT d.doc_id, len(d.toks)::BIGINT AS n_tokens,
         |  coalesce(tgt.n_masked, 0) AS n_masked,
         |  coalesce(tgt.n_spans, 0) AS n_spans,
         |  inp.input_text, tgt.target_text
         |FROM d JOIN inp USING (doc_id)
         |LEFT JOIN tgt USING (doc_id)
         |WHERE len(d.toks) >= 1
         |ORDER BY doc_id""".stripMargin
    })),
    // one EG step on the held-out hardness vector: exp is the one
    // irrational per domain (argument = difference/product of exact
    // short-decimal doubles, identical per engine), rounded 9 dp before
    // the exact DECIMAL normalization sum; mixture uses the ROUNDED
    // softmax (mirrored) and the rational 1/5 uniform smoothing
    "prep_loss_reweight" -> Query(lossReweightQ, Some(
      s"""WITH $doremiWeightCtes
         |SELECT sw.source, sw.bits, sw.softmax_weight,
         |  round(0.8 * sw.softmax_weight + 1.0 / (5.0 * st.k), 9)
         |    AS mixture_weight
         |FROM sw, st ORDER BY source""".stripMargin)),
    // the closed loop: the measured mixture weights drive the stride
    // schedule — item k of source s at virtual time (k − ½)/w_s. The
    // weight is a 9-dp RATIONAL (unlike q_temp's irrational sqrt), so
    // virtual time is the exact truncating nano division
    // (2k−1)·10¹⁸ // (2·wn), never a round() of a rational
    "prep_doremi_mix" -> Query(doremiMix, Some(
      s"""WITH $doremiWeightCtes,
         |r AS (SELECT CAST(source AS VARCHAR) AS source, doc_id AS id,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS k
         |      FROM documents)
         |SELECT CAST((CAST(2 * r.k - 1 AS HUGEINT)
         |      * 1000000000000000000) // (2 * wq.wn) AS DOUBLE)
         |    / 1000000000.0 AS virtual_time,
         |  r.source, r.id, CAST(r.k AS INTEGER) AS k
         |FROM r JOIN wq USING (source)
         |ORDER BY virtual_time, source, id""".stripMargin)),
    // the curriculum variant: same measured weights and exact nano
    // virtual time, within-source rank by the exact integer quality key
    // (one HUGEINT truncating division — positive operands, so `//`
    // matches Spark's pmod-floor), ties to (md5, id)
    "prep_curriculum_schedule" -> Query(curriculumSchedule, Some(
      s"""WITH $doremiWeightCtes,
         |qn AS (SELECT doc_id, source,
         |    CASE WHEN n > 0 THEN CAST(
         |      (CAST(least(n, 20) * d AS HUGEINT) * (lp - nwc)
         |        * 1000000000) // (20 * n * lp) AS BIGINT)
         |    ELSE 0 END AS quality
         |  FROM (SELECT doc_id, source,
         |      len(list_filter(string_split(text, ' '), t -> t <> ''))
         |        AS n,
         |      len(list_distinct(list_filter(string_split(text, ' '),
         |        t -> t <> ''))) AS d,
         |      greatest(length(text), 1) AS lp,
         |      length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
         |        AS nwc
         |    FROM documents)),
         |r AS (SELECT CAST(source AS VARCHAR) AS source, doc_id AS id,
         |        quality,
         |        row_number() OVER (PARTITION BY source
         |          ORDER BY quality DESC, md5(CAST(doc_id AS VARCHAR)),
         |            doc_id) AS k
         |      FROM qn)
         |SELECT CAST((CAST(2 * r.k - 1 AS HUGEINT)
         |      * 1000000000000000000) // (2 * wq.wn) AS DOUBLE)
         |    / 1000000000.0 AS virtual_time,
         |  r.source, r.id, r.quality, CAST(r.k AS INTEGER) AS k
         |FROM r JOIN wq USING (source)
         |ORDER BY virtual_time, source, id""".stripMargin)),
    // provisioning sheet: budget·wn_i // Σwn per source — exact HUGEINT
    // shares of the measured nano weights (they need not sum to 1e9),
    // inventory/epochs/deficit as in prep_token_budget
    "prep_doremi_budget" -> Query(doremiBudget, Some(
      s"""WITH $doremiWeightCtes,
         |zz AS (SELECT CAST(sum(wn) AS HUGEINT) AS zt FROM wq),
         |inv AS (SELECT CAST(source AS VARCHAR) AS source,
         |    count(*) AS n_docs,
         |    CAST(sum(len(list_filter(string_split(text, ' '),
         |      t -> t <> ''))) AS BIGINT) AS available_tokens
         |  FROM documents GROUP BY 1),
         |p AS (SELECT wq.source, n_docs, available_tokens,
         |    wq.wn AS weight_nano,
         |    CAST((CAST($DoremiBudget AS HUGEINT) * wq.wn) // zz.zt
         |      AS BIGINT) AS target_tokens
         |  FROM wq LEFT JOIN inv USING (source) CROSS JOIN zz)
         |SELECT source, n_docs, available_tokens, weight_nano,
         |  target_tokens,
         |  CASE WHEN available_tokens > 0 THEN
         |    round(CAST(target_tokens AS DOUBLE) / available_tokens, 9) END
         |    AS epochs,
         |  CASE WHEN available_tokens > 0 THEN
         |    round(CAST(target_tokens AS DOUBLE) / available_tokens, 9)
         |      > 1.0 END AS deficit
         |FROM p ORDER BY source""".stripMargin)),
    // max-retention target sampling: nano-quantized weights, per-source
    // counts, double-ratio argmax (struct max, ties to the later
    // source), then the EXACT HUGEINT cross-multiplied keep test —
    // hash·wm·n_i < 10000·wn_i·n_M mirrors Spark's DECIMAL(38,0) form
    "prep_doremi_sample" -> Query(doremiSample, Some(
      s"""WITH $doremiWeightCtes,
         |cnts AS (SELECT CAST(source AS VARCHAR) AS source,
         |    count(*) AS n FROM documents GROUP BY 1),
         |rates AS (SELECT c.source, c.n, wq.wn
         |  FROM cnts c JOIN wq USING (source)),
         |mx AS (SELECT max(struct_pack(r := wn::DOUBLE / n,
         |    s := source)) AS m FROM rates),
         |mrow AS (SELECT r.wn AS wm, r.n AS nm
         |  FROM rates r, mx WHERE r.source = mx.m.s)
         |SELECT d.doc_id, d.source
         |FROM documents d JOIN rates r ON d.source = r.source
         |CROSS JOIN mrow
         |WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12))
         |    ::BIGINT % 10000)::HUGEINT * mrow.wm * r.n
         |  < 10000::HUGEINT * r.wn * mrow.nm
         |ORDER BY d.doc_id""".stripMargin)),
    // T=2 temperature weights: sqrt is IEEE-correctly-rounded on both
    // engines; sqrt contributions round 9 dp and sum in exact DECIMAL
    // (double Σ of irrationals is order-dependent), one division each
    // for q and boost
    "prep_temperature_mix" -> Query(temperatureMix, Some(
      """WITH s AS (SELECT lang AS source, count(*) AS n_rows
        |           FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS nn FROM s),
        |b AS (SELECT source, n_rows,
        |        round(n_rows / (nn * 1.0), 9) AS p_raw,
        |        CAST(round(sqrt(round(n_rows / (nn * 1.0), 9)), 9)
        |          AS DECIMAL(18,9)) AS w
        |      FROM s CROSS JOIN t),
        |z AS (SELECT CAST(sum(w) AS DOUBLE) AS z FROM b)
        |SELECT source, n_rows, p_raw,
        |  round(CAST(w AS DOUBLE) / z, 9) AS q_temp,
        |  round(round(CAST(w AS DOUBLE) / z, 9) / p_raw, 9) AS boost
        |FROM b CROSS JOIN z ORDER BY source""".stripMargin)),
    // type-1 inverse CDF: matched = min target value whose cum count
    // reaches ceil(cumA*nB/nA); the oracle's quadratic >= join is the
    // bounded-grid equivalent of the Spark side's forward as-of
    "prep_quantile_match" -> Query(quantileMatch, Some(
      """WITH a AS (SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS v,
        |    count(*) AS c
        |  FROM customer WHERE c_mktsegment = 'BUILDING'
        |    AND c_acctbal IS NOT NULL GROUP BY 1),
        |aw AS (SELECT v, sum(c) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n FROM a),
        |b AS (SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS bv,
        |    count(*) AS c
        |  FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |    AND c_acctbal IS NOT NULL GROUP BY 1),
        |bw AS (SELECT bv, sum(c) OVER (ORDER BY bv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM b),
        |bn AS (SELECT CAST(sum(c) AS BIGINT) AS nb FROM b),
        |t AS (SELECT v, round(CAST(cum AS DOUBLE) / n, 9) AS pct_rank,
        |    CAST((cum * nb + n - 1) // n AS BIGINT) AS target
        |  FROM aw, bn)
        |SELECT CAST(t.v AS DOUBLE) AS value, t.pct_rank,
        |  CAST(min(bw.bv) AS DOUBLE) AS matched_value
        |FROM t JOIN bw ON bw.cum >= t.target
        |GROUP BY t.v, t.pct_rank ORDER BY value""".stripMargin)),
    // integer target weights; budget·pct//100 stays integer-exact, epochs
    // is the single IEEE division
    "prep_token_budget" -> Query(tokenBudget, Some({
      val values = BudgetTargets
        .map { case (s, p) => s"('$s', $p)" }.mkString(", ")
      s"""WITH inv AS (SELECT lang AS source, count(*) AS n_docs,
         |    CAST(sum(len(list_filter(string_split(text, ' '),
         |      t -> t <> ''))) AS BIGINT) AS available_tokens
         |  FROM documents GROUP BY 1),
         |w(source, weight_pct) AS (VALUES $values),
         |p AS (SELECT w.source, n_docs, available_tokens,
         |    CAST(weight_pct AS BIGINT) AS weight_pct,
         |    CAST(($TotalBudget * weight_pct) // 100 AS BIGINT)
         |      AS target_tokens
         |  FROM w LEFT JOIN inv USING (source))
         |SELECT source, n_docs, available_tokens, weight_pct, target_tokens,
         |  CASE WHEN available_tokens > 0 THEN
         |    round(CAST(target_tokens AS DOUBLE) / available_tokens, 9) END
         |    AS epochs,
         |  CASE WHEN available_tokens > 0 THEN
         |    round(CAST(target_tokens AS DOUBLE) / available_tokens, 9)
         |      > 1.0 END AS deficit
         |FROM p ORDER BY source""".stripMargin
    })),
    // cume_dist over the distinct-value grid ≡ per-row cume_dist
    "prep_rank_normalize" -> Query(rankNormalizeAcctbal, Some(
      """WITH g AS (
        |  SELECT CAST(c_acctbal AS DECIMAL(18,2)) AS v, count(*) AS c
        |  FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1),
        |w AS (SELECT v,
        |    round(CAST(sum(c) OVER (ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |      / sum(c) OVER (), 9) AS pct_rank
        |  FROM g)
        |SELECT c_custkey, c_acctbal, pct_rank
        |FROM customer LEFT JOIN w ON CAST(c_acctbal AS DECIMAL(18,2)) = v
        |ORDER BY c_custkey""".stripMargin)),
    // the two-phase salted ranking ≡ one global (md5(seed:key), key) sort
    "prep_global_shuffle" -> Query(globalShuffleDocs, Some(
      s"""SELECT doc_id, lang,
         |  CAST(row_number() OVER (ORDER BY
         |    md5('$ShuffleSeed:' || CAST(doc_id AS VARCHAR)), doc_id)
         |    AS BIGINT) AS shuffle_pos
         |FROM documents ORDER BY shuffle_pos""".stripMargin)),
    // hashed-unigram add-one models of the en vs non-en slices on a dense
    // 64-bucket grid; per-bucket 9dp log-ratio contributions scale by the
    // doc's bucket count in exact DECIMAL
    "prep_dsir_weights" -> Query(dsirWeights, Some(
      s"""WITH d AS (SELECT doc_id, (lang = 'en') AS t,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |occ AS (SELECT doc_id, t,
         |          ${md5Bucket("tok", DsirBuckets)} AS bucket, count(*) AS c
         |        FROM (SELECT doc_id, t, unnest(toks) AS tok FROM d)
         |        GROUP BY 1, 2, 3),
         |side AS (SELECT t, bucket, sum(c) AS n FROM occ GROUP BY 1, 2),
         |tot AS (SELECT t, sum(c) AS tot FROM occ GROUP BY 1),
         |grid AS (SELECT tot.t, tot.tot, b.bucket FROM tot,
         |          (SELECT unnest(generate_series(0, ${DsirBuckets - 1}))
         |             AS bucket) b),
         |model AS (SELECT g.t, g.bucket,
         |  CAST(round(ln((coalesce(s.n, 0) + 1.0) / (g.tot + $DsirBuckets))
         |         / ${math.log(2.0)}, 9) AS DECIMAL(18,9)) AS lp
         |  FROM grid g LEFT JOIN side s ON s.t = g.t AND s.bucket = g.bucket)
         |SELECT occ.doc_id, occ.t AS is_target,
         |  sum(occ.c)::BIGINT AS n_tokens,
         |  round(CAST(sum((mt.lp - mr.lp) * occ.c) AS DOUBLE), 6)
         |    AS log_weight
         |FROM occ
         |JOIN (SELECT bucket, lp FROM model WHERE t) mt USING (bucket)
         |JOIN (SELECT bucket, lp FROM model WHERE NOT t) mr USING (bucket)
         |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin)),
    // candidate item = 1 + md5(user || '_' || draw) % max_part_id; first
    // occurrence per (user, item), then the first k surviving draws
    "prep_negative_sample" -> Query(negativeSample, Some(
      s"""WITH inter AS (SELECT DISTINCT o_custkey, l_partkey
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |  WHERE o_custkey < 10),
         |m AS (SELECT CAST(max(p_partkey) AS BIGINT) AS mxi FROM part),
         |d AS (SELECT o_custkey, u.draw,
         |        1 + ('0x' || substr(md5(o_custkey::VARCHAR || '_' || u.draw::VARCHAR),
         |             1, 12))::BIGINT % mxi AS l_partkey
         |      FROM (SELECT DISTINCT o_custkey FROM inter), m,
         |        UNNEST(generate_series(0, ${NegSampleK * NegSampleOver - 1}))
         |          AS u(draw)),
         |n AS (SELECT d.* FROM d
         |      WHERE NOT EXISTS (SELECT 1 FROM inter i
         |        WHERE i.o_custkey = d.o_custkey
         |          AND i.l_partkey = d.l_partkey)),
         |f AS (SELECT *, row_number() OVER (PARTITION BY o_custkey, l_partkey
         |        ORDER BY draw) AS fr FROM n),
         |r AS (SELECT o_custkey, l_partkey, draw, row_number()
         |        OVER (PARTITION BY o_custkey ORDER BY draw) AS neg_rank
         |      FROM f WHERE fr = 1)
         |SELECT o_custkey, CAST(neg_rank AS BIGINT) AS neg_rank, l_partkey,
         |  CAST(draw AS BIGINT) AS draw
         |FROM r WHERE neg_rank <= $NegSampleK
         |ORDER BY o_custkey, neg_rank""".stripMargin)),
    "prep_key_cap" -> Query(keyCap, Some(
      s"""WITH r AS (SELECT doc_id, source, lang,
         |  row_number() OVER (PARTITION BY source, lang
         |    ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
         |  FROM documents)
         |SELECT source, lang, count(*) AS n_kept,
         |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM r WHERE rn <= $CapN
         |GROUP BY 1, 2 ORDER BY source, lang""".stripMargin)),
    // edges rounded to 6 dp and compared in DECIMAL — same engine-exactness
    // argument as prep_quantile_bucket
    "prep_winsorize" -> Query(winsorizePrice, Some(
      s"""WITH e AS (SELECT
         |  CAST(round(quantile_cont(l_extendedprice, $WinsLo), 6)
         |       AS DECIMAL(18,6)) AS lo,
         |  CAST(round(quantile_cont(l_extendedprice, $WinsHi), 6)
         |       AS DECIMAL(18,6)) AS hi
         |  FROM lineitem),
         |w AS (SELECT (xd < lo) AS clo, (xd > hi) AS chi,
         |        CASE WHEN xd < lo THEN lo WHEN xd > hi THEN hi
         |             ELSE CAST(xd AS DECIMAL(18,6)) END AS wz
         |      FROM (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS xd
         |            FROM lineitem), e)
         |SELECT CAST(sum(CASE WHEN clo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
         |  CAST(sum(CASE WHEN chi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
         |  count(*) AS n_rows, CAST(sum(wz) AS DOUBLE) AS total,
         |  CAST(min(wz) AS DOUBLE) AS lo_edge,
         |  CAST(max(wz) AS DOUBLE) AS hi_edge
         |FROM w""".stripMargin)),
    "prep_kfold" -> Query(kfoldEvents, Some({
      val f = md5Bucket("user_id::VARCHAR", KFolds)
      s"""WITH f AS (SELECT user_id, $f AS fold FROM events)
         |SELECT fold, count(DISTINCT user_id) AS n_users,
         |  count(*) AS n_events
         |FROM f GROUP BY 1 ORDER BY fold""".stripMargin
    })),
    "prep_class_balance" -> Query(classBalance, Some(
      """WITH r AS (SELECT o_orderkey, o_orderstatus,
        |  row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY md5(o_orderkey::VARCHAR), o_orderkey) AS rn
        |  FROM orders),
        |t AS (SELECT min(cnt) AS target FROM
        |  (SELECT count(*) AS cnt FROM orders GROUP BY o_orderstatus))
        |SELECT o_orderstatus, count(*) AS n_kept,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
        |FROM r, t WHERE rn <= target
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),
    // shares = (count + α)/(total + α) as doubles, one ln rounded 9 dp
    // (the PMI discipline); iv multiplies the ALREADY-rounded woe
    "prep_woe_encode" -> Query(woeEncode, Some(
      s"""WITH s AS (SELECT o_orderpriority AS priority, count(*) AS n,
         |    CAST(sum(CASE WHEN o_totalprice > $WoeLabelCut THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_pos
         |  FROM orders GROUP BY 1),
         |s2 AS (SELECT priority, n, n_pos, n - n_pos AS n_neg FROM s),
         |g AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM s2),
         |w AS (SELECT priority, n, n_pos, n_neg,
         |    CAST(n_pos + $WoeAlpha AS DOUBLE) / (tp + $WoeAlpha) AS ps,
         |    CAST(n_neg + $WoeAlpha AS DOUBLE) / (tn + $WoeAlpha) AS ns
         |  FROM s2, g),
         |w2 AS (SELECT priority, n, n_pos, n_neg, ps, ns,
         |    round(ln(ps / ns), 9) AS woe FROM w)
         |SELECT priority, n, n_pos, n_neg, woe,
         |  round((ps - ns) * woe, 9) AS iv
         |FROM w2 ORDER BY priority""".stripMargin)),
    // double math mirrors Prep.targetEncode's expression order exactly:
    // (Σy + m·(gs/gn)) / (n + m), LOO excludes the row's own label
    "prep_target_encode" -> Query(targetEncode, Some(
      s"""WITH c AS (SELECT c_custkey, c_mktsegment,
         |  CAST(c_acctbal AS DECIMAL(18,2)) AS yd FROM customer),
         |s AS (SELECT c_mktsegment, count(*) AS n, sum(yd) AS sy
         |      FROM c GROUP BY 1),
         |g AS (SELECT count(*) AS gn, sum(yd) AS gs FROM c)
         |SELECT c.c_custkey, c.c_mktsegment,
         |  round((CAST(s.sy AS DOUBLE)
         |         + $TeSmoothing * (CAST(g.gs AS DOUBLE) / g.gn))
         |        / (s.n + $TeSmoothing), 6) AS te,
         |  round((CAST(s.sy - c.yd AS DOUBLE)
         |         + $TeSmoothing * (CAST(g.gs AS DOUBLE) / g.gn))
         |        / (s.n - 1 + $TeSmoothing), 6) AS te_loo
         |FROM c JOIN s USING (c_mktsegment), g
         |WHERE c.c_custkey < 20 ORDER BY c.c_custkey""".stripMargin)),
    // edges rounded to 6 dp and compared in DECIMAL — interpolated
    // percentiles of 2-dp money at k/4 positions are multiples of 0.0025,
    // never at a 5e-7 rounding boundary, so both engines bin identically
    "prep_quantile_bucket" -> Query(quantileBucket, Some(
      s"""WITH e AS (SELECT
         |  CAST(round(quantile_cont(l_extendedprice, 0.25), 6) AS DECIMAL(18,6)) AS e1,
         |  CAST(round(quantile_cont(l_extendedprice, 0.50), 6) AS DECIMAL(18,6)) AS e2,
         |  CAST(round(quantile_cont(l_extendedprice, 0.75), 6) AS DECIMAL(18,6)) AS e3
         |  FROM lineitem),
         |b AS (SELECT CASE WHEN xd <= e1 THEN 0 WHEN xd <= e2 THEN 1
         |                  WHEN xd <= e3 THEN 2 ELSE ${QBuckets - 1} END AS bucket, xd
         |      FROM (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS xd
         |            FROM lineitem), e)
         |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
         |  CAST(min(xd) AS DOUBLE) AS lo, CAST(max(xd) AS DOUBLE) AS hi
         |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin)),
    "prep_hash_cross" -> Query(hashCross, Some({
      val joined = "c_mktsegment || chr(1) || c_nationkey::VARCHAR"
      s"""SELECT ${md5Bucket(joined, CrossBuckets)} AS cross_bucket,
         |  count(*) AS n_rows,
         |  count(DISTINCT (c_mktsegment, c_nationkey)) AS n_pairs
         |FROM customer GROUP BY 1 ORDER BY cross_bucket""".stripMargin
    })),
    "prep_tfidf_top_terms" -> Query(tfidfTopTerms, Some(
      s"""WITH d AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM d),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (SELECT tf.doc_id, tf.term, tf.tf,
         |        round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + df.df)) + 1.0), 6)
         |          AS tfidf
         |      FROM tf JOIN df USING (term), n),
         |r AS (SELECT doc_id, term, tf, tfidf, row_number()
         |        OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
         |      FROM s)
         |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, tfidf
         |FROM r WHERE rank <= $TopK AND doc_id < 10
         |ORDER BY doc_id, rank""".stripMargin)),
    "prep_normalize_acctbal" -> Query(normalizeAcctbal, Some(
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |  CAST(c_acctbal AS DECIMAL(18,2)) AS xd FROM customer),
        |s AS (SELECT c_mktsegment, count(*) AS n, sum(xd) AS s,
        |        sum(xd * xd) AS ss, min(xd) AS mn, max(xd) AS mx
        |      FROM c GROUP BY 1)
        |SELECT c.c_custkey, c.c_mktsegment,
        |  CASE WHEN CAST(s.ss AS DOUBLE) / s.n
        |            - (CAST(s.s AS DOUBLE) / s.n) * (CAST(s.s AS DOUBLE) / s.n) > 0
        |    THEN round((CAST(c.xd AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n)
        |           / sqrt(CAST(s.ss AS DOUBLE) / s.n
        |                  - (CAST(s.s AS DOUBLE) / s.n) * (CAST(s.s AS DOUBLE) / s.n)),
        |           6) END AS z,
        |  CASE WHEN CAST(s.mx - s.mn AS DOUBLE) > 0
        |    THEN round(CAST(c.xd - s.mn AS DOUBLE) / CAST(s.mx - s.mn AS DOUBLE), 6)
        |    END AS minmax
        |FROM c JOIN s USING (c_mktsegment)
        |WHERE c_custkey < 20 ORDER BY c_custkey""".stripMargin)),
    "prep_feature_hash" -> Query(featureHash, Some({
      val feat = "event_type || '=' || coalesce(props, '')"
      s"""WITH b AS (SELECT user_id,
         |  ${md5Bucket(feat, HashBuckets)} AS bucket,
         |  CASE WHEN ('0x' || substr(md5($feat), 13, 1))::BIGINT % 2 = 0
         |    THEN 1 ELSE -1 END AS sign
         |  FROM events WHERE user_id < 20)
         |SELECT user_id, bucket, CAST(sum(sign) AS BIGINT) AS value
         |FROM b GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin
    })),
    "prep_group_split" -> Query(groupSplit, Some({
      val b = md5Bucket("user_id::VARCHAR", 100)
      s"""WITH s AS (SELECT user_id,
         |  CASE WHEN $b < 80 THEN 'train'
         |       WHEN $b < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM events)
         |SELECT split, count(DISTINCT user_id) AS n_users,
         |  count(*) AS n_events
         |FROM s GROUP BY 1 ORDER BY split""".stripMargin
    })),
    "prep_pack_sequences" -> Query(packSequences, Some(
      s"""WITH d AS (SELECT source, doc_id,
         |  len(list_filter(string_split(text, ' '), t -> t <> ''))::BIGINT
         |    AS n_tokens
         |  FROM documents),
         |o AS (SELECT source, doc_id, n_tokens,
         |        coalesce(sum(n_tokens) OVER (PARTITION BY source
         |          ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS start_offset
         |      FROM d)
         |SELECT source, CAST(floor(start_offset / $PackBudget) AS BIGINT) AS pack,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
         |FROM o GROUP BY 1, 2 ORDER BY source, pack""".stripMargin)),
    "prep_mixture_sample" -> Query(mixtureSample, Some({
      val b = md5Bucket("doc_id::VARCHAR", 10000)
      val thr = s"""CASE WHEN source = 'src0' THEN ${MixWeights("src0") * 10000}
                   |       WHEN source = 'src1' THEN ${MixWeights("src1") * 10000}
                   |       ELSE ${MixDefault * 10000} END""".stripMargin
      s"""WITH k AS (SELECT source, count(*) AS n_kept FROM documents
         |  WHERE $b < $thr
         |  GROUP BY 1),
         |t AS (SELECT source, count(*) AS n_total FROM documents GROUP BY 1)
         |SELECT t.source, t.n_total, coalesce(k.n_kept, 0) AS n_kept
         |FROM t LEFT JOIN k USING (source) ORDER BY source""".stripMargin
    })),
    "prep_decontam_overlap" -> Query(decontamOverlap, Some(
      s"""$decontamCtes
         |SELECT doc_id, n_grams, n_overlap,
         |  round(n_overlap * 1.0 / n_grams, 6) AS overlap_frac
         |FROM c ORDER BY doc_id""".stripMargin)),
    "prep_decontam_survivors" -> Query(decontamSurvivors, Some(
      s"""$decontamCtes,
         |flagged AS (
         |  SELECT doc_id FROM c
         |  WHERE round(n_overlap * 1.0 / n_grams, 6) >= $DecontamMaxFrac)
         |SELECT count(*) AS n_survivors, CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM documents
         |WHERE source <> 'src0'
         |  AND doc_id NOT IN (SELECT doc_id FROM flagged)""".stripMargin)),
    // semantic contamination: cross every train vector against the small
    // eval slice, 6-dp cosine, threshold BEFORE the per-train argmax
    // (row_number replay of the min-struct tie rule: cos desc, eval id)
    "prep_semantic_decontam" -> Query(semanticDecontam, Some(
      s"""WITH t AS (SELECT vec_id AS train_id, embedding::DOUBLE[] AS tv
         |  FROM embeddings WHERE vec_id % 20 <> 0),
         |e AS (SELECT vec_id AS eval_id, embedding::DOUBLE[] AS ev
         |  FROM embeddings WHERE vec_id % 20 = 0),
         |p AS (SELECT train_id, eval_id,
         |    round(list_dot_product(tv, ev) /
         |      (sqrt(list_dot_product(tv, tv)) *
         |       sqrt(list_dot_product(ev, ev))), 6) AS cos
         |  FROM t, e),
         |f AS (SELECT * FROM p WHERE cos >= $SemDecontamThreshold),
         |r AS (SELECT train_id, eval_id, cos,
         |    row_number() OVER (PARTITION BY train_id
         |      ORDER BY cos DESC, eval_id) AS rn,
         |    count(*) OVER (PARTITION BY train_id) AS n_matches
         |  FROM f)
         |SELECT train_id, eval_id, cos AS max_cos, n_matches
         |FROM r WHERE rn = 1 ORDER BY train_id""".stripMargin)),
    "prep_stratified_sample" -> Query(stratifiedSample, Some(
      s"""WITH r AS (SELECT o_orderkey, o_orderstatus,
         |  row_number() OVER (PARTITION BY o_orderstatus
         |    ORDER BY md5(o_orderkey::VARCHAR), o_orderkey) AS rn,
         |  count(*) OVER (PARTITION BY o_orderstatus) AS n
         |  FROM orders)
         |SELECT o_orderstatus, count(*) AS n_kept,
         |  CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         |FROM r WHERE rn <= ceil(n * $StratFraction)
         |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),
    "prep_histogram_price" -> Query(histogramPrice, Some(
      s"""WITH x AS (SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS xd
         |           FROM lineitem),
         |s AS (SELECT min(xd) AS mn, max(xd) AS mx FROM x),
         |b AS (SELECT CASE WHEN CAST(mx - mn AS DOUBLE) > 0
         |        THEN CAST(least(floor(CAST(xd - mn AS DOUBLE) * $HistBins
         |               / CAST(mx - mn AS DOUBLE)), $HistBins - 1) AS BIGINT)
         |        ELSE 0 END AS bin, xd, mn, mx
         |      FROM x, s)
         |SELECT bin,
         |  round(CAST(mn AS DOUBLE)
         |    + bin * CAST(mx - mn AS DOUBLE) / $HistBins, 6) AS bin_lo,
         |  round(CAST(mn AS DOUBLE)
         |    + (bin + 1) * CAST(mx - mn AS DOUBLE) / $HistBins, 6) AS bin_hi,
         |  count(*) AS n, CAST(sum(xd) AS DOUBLE) AS total
         |FROM b GROUP BY bin, mn, mx ORDER BY bin""".stripMargin)),
    "prep_chunk_text" -> Query(chunkText, Some(
      s"""WITH d AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents),
         |c AS (SELECT doc_id, i AS s,
         |        list_slice(toks, i + 1, i + $ChunkSize) AS ch
         |      FROM d, UNNEST(generate_series(0, len(toks) - 1, $ChunkStride)) u(i)
         |      WHERE len(toks) > 0)
         |SELECT doc_id, CAST(s / $ChunkStride AS BIGINT) AS chunk_idx,
         |  CAST(s AS BIGINT) AS start_offset,
         |  CAST(len(ch) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(ch, ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),
    "prep_redact_pii" -> Query(redactPii, Some({
      val Seq(email, phone, ip) = Prep.PiiPatterns.map(_._2)
      s"""WITH p AS (SELECT doc_id,
         |  substr(text, 1, 40) || ' contact user' || doc_id
         |    || '@example.com or 555-010-'
         |    || lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0')
         |    || ' from 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256)
         |    AS text
         |  FROM documents WHERE doc_id < 100)
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$email', '[EMAIL]', 'g'),
         |    '$phone', '[PHONE]', 'g'),
         |    '$ip', '[IP]', 'g') AS redacted,
         |  len(regexp_extract_all(text, '$email'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text, '$phone'))::BIGINT AS n_phones,
         |  len(regexp_extract_all(text, '$ip'))::BIGINT AS n_ips
         |FROM p ORDER BY doc_id""".stripMargin
    })),
    "prep_sessionize" -> Query(sessionizeEvents, Some(
      s"""WITH l AS (SELECT user_id, event_id, ts,
         |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
         |  FROM events WHERE user_id < 20),
         |s AS (SELECT user_id, event_id, ts,
         |        CASE WHEN prev_ts IS NULL
         |               OR epoch_us(ts) - epoch_us(prev_ts)
         |                  > ${SessionGapSec * 1000000L}
         |          THEN 1 ELSE 0 END AS is_new
         |      FROM l),
         |x AS (SELECT user_id, ts,
         |        sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS UNBOUNDED PRECEDING) AS session_idx
         |      FROM s)
         |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
         |  count(*) AS n_events, min(epoch_us(ts)) AS start_us,
         |  max(epoch_us(ts)) AS end_us
         |FROM x GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin)),
    // u = (first 48 md5 bits + 1) / 2^48 — exact in double on both engines;
    // priority = weight / u is one correctly-rounded IEEE division, so the
    // top-k SET matches bit-for-bit (round applied after the ordering)
    "prep_priority_sample" -> Query(prioritySampleOrders, Some(
      s"""WITH p AS (SELECT o_orderkey, o_totalprice,
         |  o_totalprice / ((('0x' || substr(md5(o_orderkey::VARCHAR), 1, 12))::BIGINT + 1)
         |                  / 281474976710656.0) AS pri
         |  FROM orders
         |  ORDER BY pri DESC, o_orderkey LIMIT $PriorityK)
         |SELECT o_orderkey, o_totalprice, round(pri, 4) AS priority
         |FROM p ORDER BY o_orderkey""".stripMargin)))

  // 3-gram hashes per non-eval doc vs the distinct eval (src0) gram set —
  // mirrors Decontamination.overlapStats' graft_ngram_hashes construction
  private lazy val decontamCtes =
    s"""WITH d AS (SELECT doc_id, source,
       |  list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |g AS (SELECT DISTINCT doc_id, source,
       |        ('0x' || substr(md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]),
       |          1, 12))::BIGINT AS th
       |      FROM d, UNNEST(generate_series(1, len(toks) - ${DecontamN - 1})) u(i)
       |      WHERE len(toks) >= $DecontamN),
       |e AS (SELECT DISTINCT th FROM g WHERE source = 'src0'),
       |c AS (SELECT g.doc_id, count(*) AS n_grams, count(e.th) AS n_overlap
       |      FROM g LEFT JOIN e ON g.th = e.th
       |      WHERE g.source <> 'src0' GROUP BY 1)""".stripMargin
}
