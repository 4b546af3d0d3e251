package graft.queries

import graft.ops.TextAnalysis
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked text-analysis family over the documents corpus
  * (north-star operators; see [[graft.ops.TextAnalysis]]): per-document
  * token statistics, heuristic quality scoring, stopword-profile language
  * ID (confusion counts against the labeled `lang` column), corpus token
  * frequencies, and the order-sensitive rolling fingerprint.
  *
  * All per-document operators are pure array expressions — no shuffle; the
  * only shuffles in this family are the token-frequency group-by and the
  * final presentation sorts.
  */
object TextQueries {

  /** Tiny per-language stopword profiles (public top stopwords). The
    * synthetic corpus shares one vocabulary across `lang` labels, so the
    * classifier output is degenerate-but-deterministic — the oracle checks
    * the computation, not linguistic accuracy.
    */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "of", "and", "a", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenStats(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityScore(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  private val LoopN = 3
  private val LoopPct = 50

  /** Degenerate-generation detector over the documents
    * ([[graft.ops.TextAnalysis.ngramLoop]], 3-grams, 50% flag): the
    * most frequent 3-gram's share of all 3-gram occurrences per doc.
    */
  def ngramLoopQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramLoop(Tables.documents(spark, dir), "doc_id",
        "text", LoopN, LoopPct)
      .orderBy("id")

  /** Flesch reading ease + FK grade per document
    * ([[graft.ops.TextAnalysis.readabilityScores]]) — the classic
    * readability bucketing axis next to [[qualityScore]].
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.readabilityScores(Tables.documents(spark, dir), "doc_id",
        "text")
      .orderBy("id")

  /** Zipf-law OLS fit of the corpus frequency curve
    * ([[graft.ops.TextAnalysis.zipfFit]]) — slope ≈ −1 is the
    * natural-language signature the curation smell test reads.
    */
  def zipf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(Tables.documents(spark, dir), "text")
      .orderBy("n_terms")

  private val HeapsCheckpoints = 10

  /** Vocabulary-growth curve at 10 equal-doc-count checkpoints
    * ([[graft.ops.TextAnalysis.vocabGrowth]]).
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabGrowth(Tables.documents(spark, dir), "doc_id",
      "text", HeapsCheckpoints)

  /** Heaps'-law V = K·Tᵝ fit over the growth curve
    * ([[graft.ops.TextAnalysis.heapsFit]]).
    */
  def heaps(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.heapsFit(TextAnalysis.vocabGrowth(
      Tables.documents(spark, dir), "doc_id", "text", HeapsCheckpoints))

  /** AND-retrieval query pairs served from the inverted index. */
  val BoolPairs: Seq[(String, String)] =
    Seq(("join", "sort"), ("merge", "spark"), ("data", "window"))

  /** Boolean AND retrieval over the posting lists via the
    * sorted-intersect kernel
    * ([[graft.ops.TextAnalysis.boolRetrieval]]).
    */
  def boolRetrieval(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.boolRetrieval(Tables.documents(spark, dir), "doc_id",
      "text", BoolPairs, maxPostings = 1000000)

  /** Top-20 TextRank keywords over the document corpus
    * ([[graft.ops.TextAnalysis.textrankKeywords]], window 2,
    * 3 pageRank rounds).
    */
  def textrank(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.textrankKeywords(Tables.documents(spark, dir), "doc_id",
      "text")

  /** Terms whose presence drops a document under the C4 blocklist rule
    * ([[graft.ops.TextAnalysis.blocklistFilter]]). */
  val Blocklist: Seq[String] = Seq("slow", "dup", "leak")

  /** C4-style blocklist filter over documents
    * ([[graft.ops.TextAnalysis.blocklistFilter]]) — total/distinct
    * hits, hit ratio, and the zero-hit keep decision.
    */
  def blocklist(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.blocklistFilter(Tables.documents(spark, dir), "doc_id",
        "text", Blocklist)
      .orderBy("id")

  def langId(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    TextAnalysis.langId(docs, "doc_id", "text", Profiles)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"),
        min(col("lang_score")).as("min_score"),
        max(col("lang_score")).as("max_score"))
      .orderBy("lang", "predicted_lang")
  }

  def tokenFrequencies(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFrequencies(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy(col("freq").desc, col("token"))
      .limit(100)

  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprintMd5(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  private val MaxPostings = 10

  /** Pairwise per-language vocabulary Jaccard
    * ([[graft.ops.TextAnalysis.vocabularyOverlap]]) — the corpus-overlap
    * audit run before trusting lang labels in a mixture.
    */
  def langOverlap(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabularyOverlap(Tables.documents(spark, dir), "lang",
        "text")
      .orderBy("group_a", "group_b")

  /** Canonicalization pass ([[graft.ops.Prep.normalizeText]]) over a
    * deterministically roughened copy of each document (mixed case +
    * punctuation appended — the clean synthetic corpus would not exercise
    * the rules): case-fold, strip punctuation, collapse whitespace.
    */
  def normalizeText(spark: SparkSession, dir: String): DataFrame = {
    val aug = Tables.documents(spark, dir)
      .withColumn("text_aug",
        concat(upper(substring(col("text"), 1, 30)), lit(" -- "),
          col("text"), lit(" !!END??")))
    graft.ops.Prep.normalizeText(aug, "text_aug")
      .select("doc_id", "norm_len", "changed", "norm_digest")
      .orderBy("doc_id")
  }

  /** Inverted-index posting lists ([[graft.ops.TextAnalysis
    * .postingLists]]): per-term document frequency, total term frequency,
    * first 10 doc ids (CSV-serialized — the driver compare hashes scalar
    * columns).
    */
  def postingLists(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.postingLists(Tables.documents(spark, dir), "doc_id", "text",
        MaxPostings)
      .select(col("term"), col("doc_freq"), col("total_tf"),
        expr("array_join(transform(postings, x -> cast(x as string)), ',')")
          .as("postings_csv"))
      .orderBy("term")

  /** Edit distance between adjacent documents' 80-char prefixes — the
    * string-metric family (codegen'd `levenshtein`); prefix-capped because
    * edit distance is O(n·m) per pair and belongs on short keys/titles, not
    * full documents, at scale.
    */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val a = docs.select(col("doc_id"), substring(col("text"), 1, 80).as("ta"))
    val b = docs.select((col("doc_id") - 1).as("doc_id"),
      substring(col("text"), 1, 80).as("tb"))
    a.join(b, Seq("doc_id"))
      .select(col("doc_id"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_distance"))
      .orderBy("doc_id")
  }

  /** BPE-ish regex tokenization stats per document. */
  def regexTokens(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.regexTokenStats(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Gopher-style within-document bigram repetition signals. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  private val Bm25Terms = Seq("join", "hash", "window", "spark")
  private val Bm25K = 20

  /** Okapi BM25 top-20 documents for a 4-term query over the corpus
    * vocabulary — the lexical-retrieval shape (idf fitted on the full
    * corpus; per-term contributions DECIMAL-summed for bit stability).
    */
  def bm25(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(Tables.documents(spark, dir), "doc_id", "text",
      Bm25Terms, Bm25K)

  /** Corpus-relative novelty (mean token self-information, bits) for the
    * first 50 documents — the boilerplate-vs-gibberish curation axis
    * ([[graft.ops.TextAnalysis.noveltyScore]]; df model fitted on the FULL
    * corpus, the filter applies to the output only).
    */
  def novelty(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.noveltyScore(Tables.documents(spark, dir), "doc_id", "text")
      .filter(col("doc_id") < 50)
      .orderBy("doc_id")

  /** Cross-document duplicated-trigram coverage (exact-substring-dedup
    * stand-in; [[graft.ops.TextAnalysis.dupNgramCoverage]]).
    */
  def dupCoverage(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.dupNgramCoverage(Tables.documents(spark, dir), "doc_id",
      "text", n = 3)
      .orderBy("doc_id")

  /** Corpus-fit bigram-LM cross-entropy per document
    * ([[graft.ops.TextAnalysis.bigramLmBits]]).
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLmBits(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Per-domain held-out LM hardness
    * ([[graft.ops.TextAnalysis.domainHardness]]): the add-one bigram
    * model fit on folds 0–2 of the md5 doc split, fold-3 documents
    * scored against it, pooled per `source` — the hardness vector
    * [[PrepQueries.lossReweightQ]]'s mixture policy consumes.
    */
  def domainHardnessQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.domainHardness(Tables.documents(spark, dir), "doc_id",
        "text", "source", DomainFolds)
      .orderBy("source")

  private[queries] val DomainFolds = 4

  /** Full-rotation CV hardness
    * ([[graft.ops.TextAnalysis.domainHardnessCv]]): every document
    * scored held-out against its fold's count-subtracted model — 4× the
    * held-out mass of [[domainHardnessQ]], per-(domain, fold) rows so
    * the fold-to-fold variance is read directly off the result.
    */
  def domainHardnessCvQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.domainHardnessCv(Tables.documents(spark, dir), "doc_id",
        "text", "source", DomainFolds)
      .orderBy("source", "fold")

  /** Pooled full-rotation CV hardness
    * ([[graft.ops.TextAnalysis.domainHardnessCvPooled]]) — one row per
    * domain over 4× the held-out mass, the variance-halved signal a
    * DoReMi reweighting should consume.
    */
  def domainHardnessCvPooledQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.domainHardnessCvPooled(Tables.documents(spark, dir),
        "doc_id", "text", "source", DomainFolds)
      .orderBy("source")

  /** The held-out hardness replay shared by `text_domain_hardness` and
    * `prep_loss_reweight`: train-fold bigram/context/vocab tables, LEFT
    * joins for unseen contexts (the smoothing floor), 9-dp bit
    * contributions DECIMAL-weight-summed per domain.
    */
  private[queries] lazy val domainHardnessCtes: String =
    s"""d AS (SELECT doc_id, source,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
       |      % $DomainFolds AS fold,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, source, fold,
       |  CASE WHEN len(toks) >= 2
       |    THEN list_transform(generate_series(1, len(toks) - 1),
       |           i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))
       |    ELSE [] END AS bgs
       |  FROM d),
       |occ0 AS (SELECT doc_id, source, fold, unnest(bgs) AS bg FROM g),
       |occ AS MATERIALIZED (SELECT doc_id, source, fold, bg.w1 AS w1,
       |    bg.w2 AS w2, count(*) AS c
       |  FROM occ0 GROUP BY 1, 2, 3, 4, 5),
       |bc AS (SELECT w1, w2, sum(c) AS bc FROM occ
       |  WHERE fold < ${DomainFolds - 1} GROUP BY 1, 2),
       |uc AS (SELECT w1, sum(c) AS uc FROM occ
       |  WHERE fold < ${DomainFolds - 1} GROUP BY 1),
       |v AS (SELECT count(DISTINCT t) AS v FROM
       |  (SELECT unnest(toks) AS t FROM d
       |   WHERE fold < ${DomainFolds - 1})),
       |ct AS (SELECT occ.source, occ.doc_id, occ.c,
       |    CAST(round(-ln((coalesce(bc.bc, 0) + 1.0)
       |        / (coalesce(uc.uc, 0) + v.v))
       |      / ${math.log(2.0)}, 9) AS DECIMAL(18,9)) AS bits
       |  FROM occ LEFT JOIN bc USING (w1, w2) LEFT JOIN uc USING (w1), v
       |  WHERE occ.fold = ${DomainFolds - 1}),
       |h AS (SELECT source, count(DISTINCT doc_id) AS n_docs,
       |    CAST(sum(c) AS BIGINT) AS n_bigrams,
       |    round(CAST(sum(bits * c) AS DOUBLE) / sum(c), 6)
       |      AS bits_per_token
       |  FROM ct GROUP BY 1)""".stripMargin

  /** The ROTATED held-out replay shared by `text_domain_hardness_cv`
    * and `text_domain_hardness_cvp`: fold f's train model = total −
    * fold-f counts (inner joins — the row itself always contributes to
    * both aggregates), V_f = V_all − tokens exclusive to f. Ends at
    * the scored `cvct` relation (source, fold, doc_id, c, bits).
    */
  private[queries] lazy val domainHardnessCvCtes: String =
    s"""d AS (SELECT doc_id, source,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
       |      % $DomainFolds AS fold,
       |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |g AS (SELECT doc_id, source, fold,
       |  CASE WHEN len(toks) >= 2
       |    THEN list_transform(generate_series(1, len(toks) - 1),
       |           i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))
       |    ELSE [] END AS bgs
       |  FROM d),
       |occ0 AS (SELECT doc_id, source, fold, unnest(bgs) AS bg FROM g),
       |occ AS MATERIALIZED (SELECT doc_id, source, fold, bg.w1 AS w1,
       |    bg.w2 AS w2, count(*) AS c
       |  FROM occ0 GROUP BY 1, 2, 3, 4, 5),
       |cf AS (SELECT w1, w2, fold, sum(c) AS cf FROM occ
       |  GROUP BY 1, 2, 3),
       |bc AS (SELECT w1, w2, sum(cf) AS bc FROM cf GROUP BY 1, 2),
       |ucf AS (SELECT w1, fold, sum(cf) AS ucf FROM cf GROUP BY 1, 2),
       |uc AS (SELECT w1, sum(ucf) AS uc FROM ucf GROUP BY 1),
       |pt AS (SELECT tok, min(fold) AS mnf, max(fold) AS mxf FROM
       |  (SELECT DISTINCT unnest(toks) AS tok, fold FROM d) GROUP BY 1),
       |vall AS (SELECT count(*) AS v FROM pt),
       |excl AS (SELECT mnf AS fold, count(*) AS e FROM pt
       |  WHERE mnf = mxf GROUP BY 1),
       |fv AS (SELECT f.fold, vall.v - coalesce(excl.e, 0) AS v
       |  FROM (SELECT unnest(generate_series(0, ${DomainFolds - 1}))
       |          AS fold) f
       |  CROSS JOIN vall LEFT JOIN excl USING (fold)),
       |cvct AS (SELECT occ.source, occ.fold, occ.doc_id, occ.c,
       |    CAST(round(-ln((bc.bc - cf.cf + 1.0)
       |        / (uc.uc - ucf.ucf + fv.v))
       |      / ${math.log(2.0)}, 9) AS DECIMAL(18,9)) AS bits
       |  FROM occ JOIN bc USING (w1, w2)
       |  JOIN cf ON cf.w1 = occ.w1 AND cf.w2 = occ.w2
       |    AND cf.fold = occ.fold
       |  JOIN uc ON uc.w1 = occ.w1
       |  JOIN ucf ON ucf.w1 = occ.w1 AND ucf.fold = occ.fold
       |  JOIN fv ON fv.fold = occ.fold)""".stripMargin

  /** Interpolated Kneser–Ney bigram cross-entropy per document
    * ([[graft.ops.TextAnalysis.knBigramBits]], d = 3/4).
    */
  def knBigram(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.knBigramBits(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Per-document deflate compression ratio
    * ([[graft.ops.TextAnalysis.compressionRatio]]) — rows-only at the
    * gate (zlib has no DuckDB twin; the documented `sim_ivf_topk`
    * class), spec-pinned for determinism and ordering.
    */
  def compressionRatioQ(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.compressionRatio(Tables.documents(spark, dir), "doc_id",
        "text")
      .orderBy("doc_id")

  /** CCNet head/middle/tail perplexity tertiles per language
    * ([[graft.ops.TextAnalysis.ccnetBuckets]]): per-language KN bigram
    * models fitted in ONE slice-keyed pass, documents cut into thirds by
    * ascending bits-per-token within their language.
    */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.ccnetBuckets(Tables.documents(spark, dir), "doc_id",
        "text", "lang")
      .orderBy("slice", "bits_per_token", "doc_id")

  private val GenSeeds = 3
  private val GenLength = 6

  /** Deterministic bigram-LM babble from the 3 most frequent corpus
    * tokens ([[graft.ops.TokenModels.generateBigram]], 6 steps) — exact
    * hash-sampled ancestral sampling, engine-replayable.
    */
  def lmGenerate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val seeds = docs.select(explode(
        filter(split(col("text"), " "), s => s =!= "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("tok")).limit(GenSeeds)
    graft.ops.TokenModels.generateBigram(docs, "text", seeds, "tok",
        GenLength)
      .orderBy("seed")
  }

  private val MixChunkTokens = 10

  /** Per-document language-mixing audit over 10-token chunks
    * ([[graft.ops.TextAnalysis.langMixing]] with the shared
    * [[Profiles]]).
    */
  def langMixing(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langMixing(Tables.documents(spark, dir), "doc_id",
        "text", Profiles, MixChunkTokens)
      .orderBy("doc_id")

  private val SubwordN = 3
  private val SubwordBuckets = 2048

  /** fastText subword bucket table for the corpus vocabulary
    * ([[graft.ops.TextAnalysis.subwordBuckets]], boundary-marked char
    * 3-grams into 2048 hashed buckets).
    */
  def subwordBuckets(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.subwordBuckets(Tables.documents(spark, dir), "text",
        SubwordN, SubwordBuckets)
      .orderBy("term", "pos")

  private val JsBuckets = 64

  /** Pairwise Jensen–Shannon divergence between the language slices'
    * hashed-unigram distributions
    * ([[graft.ops.TextAnalysis.jsDivergence]]).
    */
  def jsDivergence(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.jsDivergence(Tables.documents(spark, dir), "lang", "text",
        JsBuckets)
      .orderBy("slice_a", "slice_b")

  private val NbBuckets = 64

  /** Hashed-unigram multinomial Naive Bayes trained on the corpus' own
    * `lang` labels and applied back to every document
    * ([[graft.ops.TokenModels.naiveBayes]]) — the aggregation-only
    * quality/domain classifier shape.
    */
  def nbLangId(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.naiveBayes(Tables.documents(spark, dir),
        "doc_id", "text", "lang", NbBuckets)
      .orderBy("doc_id")

  private val NbFolds = 5

  /** Leave-one-fold-out cross-validated Naive Bayes
    * ([[graft.ops.TokenModels.naiveBayesCrossVal]]) — per-fold held-out
    * accuracy of the `text_nb_classifier` model in ONE aggregation pass
    * (fold models by count subtraction, no retraining loop).
    */
  def nbCrossVal(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.naiveBayesCrossVal(Tables.documents(spark, dir),
        "doc_id", "text", "lang", NbBuckets, NbFolds)
      .orderBy("fold")

  /** Confident-learning label-noise suspects
    * ([[graft.ops.TokenModels.naiveBayesLabelAudit]]): docs whose
    * held-out CV model prefers a different language than their label,
    * ranked by the bits of disagreement.
    */
  def labelNoise(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.naiveBayesLabelAudit(Tables.documents(spark, dir),
        "doc_id", "text", "lang", NbBuckets, NbFolds)
      .orderBy("doc_id")

  private val LcStrata = 8
  private val LcLevels = Seq(1, 2, 4, 7)

  /** Naive-Bayes learning curve
    * ([[graft.ops.TokenModels.naiveBayesLearningCurve]]): held-out
    * accuracy at nested training sizes (strata 0..L−1 of 8, test =
    * stratum 7) — the "is more data still buying accuracy?" screening,
    * from one count cube.
    */
  def nbLearningCurve(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.naiveBayesLearningCurve(
        Tables.documents(spark, dir), "doc_id", "text", "lang",
        NbBuckets, LcStrata, LcLevels)
      .orderBy("level")

  private val SgdBuckets = 16
  private val SgdIters = 12
  private val SgdEtaShift = 8
  private val SgdBias = 32
  private val SgdThresh = 300

  /** GD-trained linear classifier over hashed unigrams
    * ([[graft.ops.TokenModels.sgdLinear]]) — the optimization-loop
    * member of the classifier family (NB fits by aggregation, DSIR by
    * likelihood ratio). Target = "long document" (n_chars >= 300), the
    * one corpus label actually derivable from text (`lang`/`source` are
    * text-independent by construction); the fit reaches ~0.95 accuracy
    * in 12 rounds at every SF. Nano-integer weights make every
    * iteration bit-replayable in the unrolled oracle.
    */
  def sgdClassifier(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.sgdLinear(Tables.documents(spark, dir),
        "doc_id", "text", col("n_chars") >= SgdThresh,
        SgdBuckets, SgdIters, SgdEtaShift, SgdBias)
      .orderBy("doc_id")

  private val SgdCalBins = 10

  /** Calibrated classifier serving — the production form a quality
    * classifier ships in (Zadrozny & Elkan 2002): [[sgdClassifier]]'s
    * exact margins become a RATIONAL [0,1] probability by min-max
    * normalization ((s − min)/(max − min), integer arithmetic end to
    * end), bin into [[SgdCalBins]] calibration buckets
    * ([[graft.ops.Eval.calibrationBins]]), recalibrate with the
    * isotonic minimax closed form
    * ([[graft.ops.Eval.isotonicCalibration]]), and report the Murphy
    * reliability/resolution split ([[graft.ops.Eval
    * .brierDecomposition]]) BEFORE (stated probability = bin mean) and
    * AFTER (stated probability = iso_rate) — the number that says what
    * recalibration actually bought.
    *
    * Shape at scale: the fit is [[sgdClassifier]]'s (one count shuffle,
    * bounded iterations); everything downstream of the margins runs on
    * the ≤bins-row relation. Two output rows: (stage ∈ isotonic|raw,
    * n, n_pos, base_rate, reliability, resolution, uncertainty, brier).
    */
  def sgdCalibrated(spark: SparkSession, dir: String): DataFrame =
    sgdCalibratedFrom(graft.ops.TokenModels.sgdLinear(
        Tables.documents(spark, dir), "doc_id", "text",
        col("n_chars") >= SgdThresh, SgdBuckets, SgdIters, SgdEtaShift,
        SgdBias)
      .localCheckpoint()) // the 12-round fit must not replay per branch

  /** [[sgdCalibrated]] downstream of the fit — the spec seam that lets
    * the degenerate-margin guard be exercised with a synthetic
    * (doc_id, is_target, score_nano) relation.
    */
  private[graft] def sgdCalibratedFrom(scored: DataFrame): DataFrame = {
    val mm = scored.agg(min("score_nano").as("__mn"),
      max("score_nano").as("__mx"))
    // degenerate zero-range guard: with all margins equal (mx == mn)
    // Spark's `DIV 0` would NULL every bin while the DuckDB twin's
    // `// 0` errors — raise loudly on BOTH engines instead of
    // NULL-propagating a silently-empty calibration
    val den = when(col("__mx") > col("__mn"), col("__mx") - col("__mn"))
      .otherwise(raise_error(lit(
        "sgdCalibrated: degenerate margins (max == min) — nothing to bin")))
    val binned = graft.ops.Eval.calibrationBins(
        scored.crossJoin(broadcast(mm)),
        col("score_nano") - col("__mn"), den,
        col("is_target"), SgdCalBins)
      .localCheckpoint() // ≤bins rows, shared by iso + both brier arms
    val iso = graft.ops.Eval.isotonicCalibration(binned, "bin", "n",
      "n_pos")
    val before = graft.ops.Eval.brierDecomposition(binned, "n", "n_pos",
        "avg_prob")
      .withColumn("stage", lit("raw"))
    val after = graft.ops.Eval.brierDecomposition(iso, "n", "n_pos",
        "iso_rate")
      .withColumn("stage", lit("isotonic"))
    before.unionByName(after)
      .select(col("stage"), col("n"), col("n_pos"), col("base_rate"),
        col("reliability"), col("resolution"), col("uncertainty"),
        col("brier"))
      .orderBy("stage")
  }

  /** The sgdLinear loop unrolled into MATERIALIZED per-iteration CTEs —
    * margins m{r}, per-bucket gradients g{r}, weights w{r} — in exact
    * HUGEINT (the Spark twin is DECIMAL(38,0)). `tdiv` is the
    * sign-explicit truncating division: DuckDB's `//` floors where
    * Spark's `div` truncates, so negatives never reach the division.
    */
  private lazy val sgdOracleSql: String =
    s"""$sgdCtesSql
       |SELECT mf.doc_id, d.t AS is_target, CAST(mf.a AS BIGINT) AS score_nano,
       |  mf.a >= 0 AS predicted
       |FROM (SELECT occ.doc_id, sum(CAST(occ.c AS HUGEINT) * w.w) AS a
       |      FROM occ JOIN w$SgdIters w USING (bucket) GROUP BY 1) mf
       |JOIN d USING (doc_id) ORDER BY mf.doc_id""".stripMargin

  // per-(doc, bucket) contribution = c * w under the final weights; top
  // bucket by (|contribution| desc, bucket asc) via the max-struct trick
  private lazy val sgdAttributionOracleSql: String =
    s"""$sgdCtesSql,
       |att AS (SELECT occ.doc_id, occ.bucket,
       |    CAST(occ.c AS HUGEINT) * w.w AS ct
       |  FROM occ JOIN w$SgdIters w USING (bucket)),
       |agg AS (SELECT doc_id, sum(ct) AS a,
       |    max(struct_pack(ab := abs(ct), nb := -bucket, b := bucket,
       |      c := ct)) AS top
       |  FROM att GROUP BY 1)
       |SELECT agg.doc_id, d.t AS is_target,
       |  CAST(agg.a AS BIGINT) AS score_nano,
       |  CAST(agg.top.b AS INT) AS top_bucket,
       |  CAST(agg.top.c AS BIGINT) AS contrib_nano
       |FROM agg JOIN d USING (doc_id) ORDER BY agg.doc_id""".stripMargin

  /** The calibration chain on [[sgdCtesSql]]'s final margins: integer
    * min-max bins (floor-division bin ids), the bins² isotonic minimax,
    * and the Murphy decomposition replayed twice — raw bin means vs
    * iso_rate as the stated probability. Every rounding point mirrors
    * [[graft.ops.Eval]] (9-dp rates, exact-DECIMAL term sums).
    */
  private lazy val sgdCalibratedOracleSql: String = {
    val B = SgdCalBins
    // one Murphy block over rel(n, n_pos, pb, ob)
    def brier(p: String, rel: String, stage: String) =
      s"""${p}t AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |    CAST(sum(n_pos) AS BIGINT) AS pp FROM $rel),
         |${p}tt AS (SELECT nn, pp,
         |    round(CAST(pp AS DOUBLE) / nn, 9) AS obar FROM ${p}t),
         |${p}s AS (SELECT nn, pp, obar,
         |    sum(CAST(round((r.pb - r.ob) * (r.pb - r.ob) * r.n, 9)
         |      AS DECIMAL(28,9))) AS reln,
         |    sum(CAST(round((r.ob - obar) * (r.ob - obar) * r.n, 9)
         |      AS DECIMAL(28,9))) AS resn
         |  FROM $rel r, ${p}tt GROUP BY nn, pp, obar),
         |${p}f AS (SELECT '$stage' AS stage, nn AS n, pp AS n_pos,
         |    obar AS base_rate,
         |    round(CAST(reln AS DOUBLE) / nn, 9) AS reliability,
         |    round(CAST(resn AS DOUBLE) / nn, 9) AS resolution,
         |    round(obar * (1.0 - obar), 9) AS uncertainty,
         |    round(round(CAST(reln AS DOUBLE) / nn, 9)
         |      - round(CAST(resn AS DOUBLE) / nn, 9)
         |      + round(obar * (1.0 - obar), 9), 9) AS brier
         |  FROM ${p}s)""".stripMargin
    s"""$sgdCtesSql,
       |sc AS (SELECT mf.doc_id, d.t, CAST(mf.a AS BIGINT) AS s
       |  FROM (SELECT occ.doc_id, sum(CAST(occ.c AS HUGEINT) * w.w) AS a
       |        FROM occ JOIN w$SgdIters w USING (bucket) GROUP BY 1) mf
       |  JOIN d USING (doc_id)),
       |mmx AS (SELECT min(s) AS mn, max(s) AS mx FROM sc),
       |bx AS (SELECT least(((s - mn) * $B) // (mx - mn), ${B - 1}) AS bin,
       |    s - mn AS num, mx - mn AS den,
       |    CASE WHEN t THEN 1 ELSE 0 END AS y
       |  FROM sc, mmx),
       |binned AS (SELECT bin, count(*) AS n,
       |    CAST(sum(y) AS BIGINT) AS n_pos,
       |    CAST(sum(num) AS BIGINT) AS sum_num, max(den) AS den
       |  FROM bx GROUP BY 1),
       |rawp AS (SELECT n, n_pos,
       |    round(CAST(sum_num AS DOUBLE) / (n * den), 9) AS pb,
       |    round(CAST(n_pos AS DOUBLE) / n, 9) AS ob FROM binned),
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
       |iso AS (SELECT k AS bin, max(mn) AS iso_rate FROM innr GROUP BY 1),
       |isop AS (SELECT b.n, b.n_pos, iso.iso_rate AS pb,
       |    round(CAST(b.n_pos AS DOUBLE) / b.n, 9) AS ob
       |  FROM binned b JOIN iso USING (bin)),
       |${brier("br", "rawp", "raw")},
       |${brier("bi", "isop", "isotonic")}
       |SELECT * FROM (SELECT * FROM brf UNION ALL SELECT * FROM bif)
       |ORDER BY stage""".stripMargin
  }

  private lazy val sgdCtesSql: String = {
    val B = SgdBuckets
    def tdiv(num: String, den: String) =
      s"(CASE WHEN ($num) < 0 THEN -((-($num)) // ($den)) " +
        s"ELSE ($num) // ($den) END)"
    val iters = (1 to SgdIters).map { r =>
      val rnum = "(CASE WHEN mm.y = 1 THEN mm.a - mm.bb " +
        "ELSE mm.a + mm.bb END) * CAST(1000000000 AS HUGEINT)"
      s"""m$r AS MATERIALIZED (SELECT occ.doc_id, lab.y,
         |    sum(CAST(occ.c AS HUGEINT) * w.w) AS a
         |  FROM occ JOIN w${r - 1} w USING (bucket) JOIN lab USING (doc_id)
         |  GROUP BY 1, 2),
         |r$r AS MATERIALIZED (SELECT doc_id,
         |    ${tdiv(rnum, "2 * mm.bb")} AS rq
         |  FROM (SELECT doc_id, y, a,
         |      CAST(1000000000 AS HUGEINT) + abs(a) AS bb FROM m$r) mm),
         |g$r AS MATERIALIZED (SELECT occ.bucket, sum(rr.rq * occ.c) AS gs
         |  FROM occ JOIN r$r rr USING (doc_id)
         |  GROUP BY 1),
         |w$r AS MATERIALIZED (SELECT w.bucket,
         |    w.w - ${tdiv("coalesce(g.gs, CAST(0 AS HUGEINT))",
               s"n.nn * ${1 << SgdEtaShift}")} AS w
         |  FROM w${r - 1} w LEFT JOIN g$r g USING (bucket), n)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id, n_chars >= $SgdThresh AS t,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, bucket, count(*) AS c FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(md5(tok), 1, 12))::BIGINT % $B AS bucket
       |    FROM (SELECT doc_id, unnest(toks) AS tok FROM d))
       |  GROUP BY 1, 2
       |  UNION ALL SELECT doc_id, $B, $SgdBias FROM d),
       |lab AS (SELECT doc_id, CASE WHEN t THEN 1 ELSE 0 END AS y FROM d),
       |n AS (SELECT CAST(count(*) AS HUGEINT) AS nn FROM d),
       |w0 AS (SELECT unnest(generate_series(0, $B)) AS bucket,
       |    CAST(0 AS HUGEINT) AS w),
       |$iters""".stripMargin
  }

  /** Learning curve for the GD classifier
    * ([[graft.ops.TokenModels.sgdLearningCurve]]): held-out accuracy at
    * nested training sizes (strata 0..L−1 of [[LcStrata]], test = the
    * last stratum) — the [[nbLearningCurve]] question asked of the
    * trained-by-optimization family, where the level must ride the GD
    * loop as a key dimension instead of summing a count cube.
    */
  def sgdLearningCurveQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.sgdLearningCurve(Tables.documents(spark, dir),
        "doc_id", "text", col("n_chars") >= SgdThresh,
        SgdBuckets, SgdIters, SgdEtaShift, SgdBias, LcStrata, LcLevels)
      .orderBy("level")

  /** The level-keyed GD loop unrolled: [[sgdCtesSql]]'s exact HUGEINT
    * iteration with (level, …) keys everywhere — weights on the
    * (level, bucket) grid, margins/residuals per (level, doc), per-level
    * doc counts as the update divisor — then the held-out stratum scored
    * under every level's final weights.
    */
  private lazy val sgdLcOracleSql: String = {
    val B = SgdBuckets
    def tdiv(num: String, den: String) =
      s"(CASE WHEN ($num) < 0 THEN -((-($num)) // ($den)) " +
        s"ELSE ($num) // ($den) END)"
    val lmValues = LcLevels
      .flatMap(l => (0 until l).map(s => s"($l, $s)")).mkString(", ")
    val iters = (1 to SgdIters).map { r =>
      val rnum = "(CASE WHEN mm.y = 1 THEN mm.a - mm.bb " +
        "ELSE mm.a + mm.bb END) * CAST(1000000000 AS HUGEINT)"
      s"""m$r AS MATERIALIZED (SELECT occt.level, occt.doc_id, occt.y,
         |    sum(CAST(occt.c AS HUGEINT) * w.w) AS a
         |  FROM occt JOIN w${r - 1} w
         |    ON w.level = occt.level AND w.bucket = occt.bucket
         |  GROUP BY 1, 2, 3),
         |r$r AS MATERIALIZED (SELECT level, doc_id,
         |    ${tdiv(rnum, "2 * mm.bb")} AS rq
         |  FROM (SELECT level, doc_id, y, a,
         |      CAST(1000000000 AS HUGEINT) + abs(a) AS bb FROM m$r) mm),
         |g$r AS MATERIALIZED (SELECT occt.level, occt.bucket,
         |    sum(rr.rq * occt.c) AS gs
         |  FROM occt JOIN r$r rr
         |    ON rr.level = occt.level AND rr.doc_id = occt.doc_id
         |  GROUP BY 1, 2),
         |w$r AS MATERIALIZED (SELECT w.level, w.bucket,
         |    w.w - ${tdiv("coalesce(g.gs, CAST(0 AS HUGEINT))",
               s"n.nn * ${1 << SgdEtaShift}")} AS w
         |  FROM w${r - 1} w LEFT JOIN g$r g
         |    ON g.level = w.level AND g.bucket = w.bucket
         |  JOIN n ON n.level = w.level)""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id, n_chars >= $SgdThresh AS t,
       |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
       |      % $LcStrata AS stratum,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
       |  FROM documents),
       |occ AS MATERIALIZED (
       |  SELECT doc_id, bucket, count(*) AS c FROM (
       |    SELECT doc_id,
       |      ('0x' || substr(md5(tok), 1, 12))::BIGINT % $B AS bucket
       |    FROM (SELECT doc_id, unnest(toks) AS tok FROM d))
       |  GROUP BY 1, 2
       |  UNION ALL SELECT doc_id, $B, $SgdBias FROM d),
       |lab AS (SELECT doc_id, CASE WHEN t THEN 1 ELSE 0 END AS y,
       |    stratum FROM d),
       |lm AS (SELECT * FROM (VALUES $lmValues) AS t(level, stratum)),
       |occt AS MATERIALIZED (SELECT lm.level, occ.doc_id, lab.y,
       |    occ.bucket, occ.c
       |  FROM occ JOIN lab USING (doc_id) JOIN lm USING (stratum)),
       |n AS (SELECT level, CAST(count(DISTINCT doc_id) AS HUGEINT) AS nn
       |  FROM occt GROUP BY 1),
       |w0 AS (SELECT l.level, b.bucket, CAST(0 AS HUGEINT) AS w
       |  FROM (SELECT DISTINCT level FROM lm) l,
       |    (SELECT unnest(generate_series(0, $B)) AS bucket) b),
       |$iters,
       |sc AS (SELECT w.level, occ.doc_id, any_value(lab.y) AS y,
       |    sum(CAST(occ.c AS HUGEINT) * w.w) AS a
       |  FROM occ JOIN lab USING (doc_id)
       |  JOIN w$SgdIters w ON w.bucket = occ.bucket
       |  WHERE lab.stratum = ${LcStrata - 1}
       |  GROUP BY 1, 2)
       |SELECT sc.level AS level, CAST(any_value(n.nn) AS BIGINT) AS n_train,
       |  count(*) AS n_test,
       |  CAST(sum(CASE WHEN (sc.a >= 0) = (sc.y = 1) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct,
       |  CAST(sum(CASE WHEN (sc.a >= 0) = (sc.y = 1) THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
       |FROM sc JOIN n ON n.level = sc.level
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Per-doc top-feature attribution under the trained linear model
    * ([[graft.ops.TokenModels.sgdAttribution]]) — the "why was this doc
    * kept/dropped" explainability read; exact integer contributions.
    */
  def sgdAttributionQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.sgdAttribution(Tables.documents(spark, dir),
        "doc_id", "text", col("n_chars") >= SgdThresh,
        SgdBuckets, SgdIters, SgdEtaShift, SgdBias)
      .orderBy("doc_id")

  private val HhK = 40 // heavy-hitter threshold: freq > n_total / 40

  /** Exact corpus heavy hitters via the Misra–Gries candidate pass + exact
    * recount ([[graft.ops.Sketches.heavyHitters]]) — the bounded-memory
    * path to "terms above n/k" when the vocabulary itself can't be
    * shuffled. The oracle is the plain exact HAVING query: the two-phase
    * sketch result must be identical, which is the whole point.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "").as[String]
    graft.ops.Sketches.heavyHitters(terms, HhK)
      .orderBy(col("freq").desc, col("term"))
  }

  /** Gopher/C4-style rule filter over the documents table
    * ([[graft.ops.TextAnalysis.gopherRules]]) with the `en` stopword
    * profile — word-count band, mean-word-length band, symbol ratio,
    * alphabetic-token ratio, stopword presence; per-rule drop-reason
    * bitmask plus the keep decision.
    */
  def gopherFilter(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(Tables.documents(spark, dir), "doc_id", "text",
        stopwords = Profiles.toMap.apply("en"))
      .orderBy("doc_id")

  /** Per-language tokenizer fertility report
    * ([[graft.ops.TextAnalysis.tokenFertility]]) — the bytes/chars/tokens
    * budgeting numbers a pretraining mixture is planned with.
    */
  def tokenFertility(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFertility(Tables.documents(spark, dir), "text", "lang")
      .orderBy("lang")

  private val VocabMinCount = 5L

  /** Tokenizer vocabulary: contiguous frequency-ranked ids for every term
    * with count ≥ 5 ([[graft.ops.TokenModels.buildVocab]] — two-phase
    * ranking, no vocabulary-sized global window).
    */
  def vocab(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.buildVocab(Tables.documents(spark, dir), "text",
        VocabMinCount)
      .orderBy("term_id")

  /** The first 20 documents encoded against that vocabulary, OOV → 0
    * ([[graft.ops.TokenModels.encodeDocs]]).
    */
  def vocabEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.ops.TokenModels.encodeDocs(docs.filter(col("doc_id") < 20),
        "doc_id", "text",
        graft.ops.TokenModels.buildVocab(docs, "text", VocabMinCount))
      .orderBy("id", "pos")
  }

  /** Per-language character-class / encoding audit
    * ([[graft.ops.TextAnalysis.scriptProfile]]) — letters/digits/space/
    * punctuation/non-ASCII/control/replacement-char mass per language
    * slice, plus the flagged-document count (mojibake re-extract list).
    */
  def scriptProfile(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.scriptProfile(Tables.documents(spark, dir), "lang", "text")
      .orderBy("lang")

  /** Fixed BPE merges table for `text_bpe_encode` (rank = position),
    * shared verbatim by the Spark plan and the oracle's unrolled CTEs.
    * Multi-level on purpose: ranks 7/9/11 merge PRODUCTS of earlier
    * ranks ("jo"+"in", "sc"+"an", "dat"+"a"), so the replay exercises
    * rank precedence across rounds, not just independent single merges.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("a", "t"), ("a", "n"), ("o", "r"),
    ("j", "o"), ("i", "n"), ("jo", "in"), ("s", "c"), ("sc", "an"),
    ("d", "at"), ("dat", "a"))
  val BpeRounds = 4

  /** Learned-merges BPE encoding of the corpus ([[graft.ops.TokenModels
    * .bpeEncode]] over [[BpeMerges]], [[BpeRounds]] rounds), summarized
    * per document as (n_words, n_tokens, enc_digest) where the digest is
    * md5 over the space-joined symbol stream in (word, pos) order — one
    * wrong merge anywhere changes the row.
    */
  def bpeEncode(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.bpeEncode(Tables.documents(spark, dir),
        "doc_id", "text", BpeMerges, BpeRounds)
      .groupBy("doc_id")
      .agg(
        countDistinct(col("word_id")).as("n_words"),
        count(lit(1)).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("word_id"), col("pos"),
            col("sym")))),
          s => s.getField("sym")), " ")).as("enc_digest"))
      .orderBy("doc_id")

  /** Fixed WordPiece vocab fixture: all single chars (bare + `##`) so
    * every [a-z]+ word segments (no UNK on the driver corpus — the UNK
    * path is spec-pinned), plus common prefixes/suffixes that exercise
    * the longest-match rule.
    */
  val WpVocab: Seq[String] =
    ('a' to 'z').map(_.toString) ++ ('a' to 'z').map(c => s"##$c") ++
      Seq("the", "an", "in", "on", "re", "wh", "##ing", "##ed", "##er",
        "##es", "##tion", "##at", "##ent", "##ly")
  val WpMaxPieceLen = 4

  /** WordPiece encoding over the fixed vocab
    * ([[graft.ops.TokenModels.wordpieceEncode]]) — per-doc token stream
    * digest, the `text_bpe_encode` contract for the BERT-family
    * tokenizer.
    */
  def wordpieceEncodeQ(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.wordpieceEncode(Tables.documents(spark, dir),
        "doc_id", "text", WpVocab, WpMaxPieceLen)
      .groupBy("doc_id")
      .agg(
        countDistinct(col("word_id")).as("n_words"),
        count(lit(1)).as("n_tokens"),
        sum(when(col("sym") === "[UNK]", 1L).otherwise(0L)).as("n_unk"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("word_id"), col("pos"),
            col("sym")))),
          s => s.getField("sym")), " ")).as("enc_digest"))
      .orderBy("doc_id")

  val BpeLearnRounds = 6

  /** BPE merge learning on the corpus ([[graft.ops.TokenModels
    * .bpeLearn]], 6 rounds): the learned merges table
    * (merge_rank, a, b, pair_count) — count-argmax-merge iterations with
    * count ties broken to the lexicographically smallest pair.
    */
  def bpeLearn(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.bpeLearn(Tables.documents(spark, dir),
        "doc_id", "text", BpeLearnRounds)
      .orderBy("merge_rank")

  val UnigramMaxPieceLen = 4
  val UnigramMaxVocab = 64
  val UnigramRounds = 2
  val UnigramMaxWordLen = 10

  /** Unigram-LM (SentencePiece-style) tokenizer fit
    * ([[graft.ops.TokenModels.unigramFit]]): substring candidate
    * inventory → 2 Viterbi hard-EM rounds through the native
    * `graft_unigram_segment` kernel → final piece table with usage
    * counts and re-estimated −log₂ costs. The oracle replays the whole
    * fit, enumerating every segmentation of each (≤ 10-char) word by
    * bounded recursion and taking the same (cost, path) minimum the
    * kernel's DP computes.
    */
  def unigramLm(spark: SparkSession, dir: String): DataFrame =
    graft.ops.TokenModels.unigramFit(Tables.documents(spark, dir), "text",
        UnigramMaxPieceLen, UnigramMaxVocab, UnigramRounds,
        UnigramMaxWordLen)
      .orderBy("piece")

  // ---- oracle SQL -------------------------------------------------------------

  // unrolled BPE merge rounds s0→s4, each replaying one
  // TokenModels.bpeEncode round verbatim: lead() pair, merges-rank
  // lookup, per-word min rank, occurrence-run parity for the greedy
  // left-to-right overlap rule, renumber. Pure string/integer ops — no
  // floating point anywhere, so the replay needs no rounding discipline.
  private lazy val bpeSql: String = {
    val mergeVals = BpeMerges.zipWithIndex
      .map { case ((a, b), r) => s"('$a', '$b', $r)" }.mkString(", ")
    val rounds = (1 to BpeRounds).map { r =>
      s"""j$r AS (SELECT doc_id, word_id, pos, sym,
         |    lead(sym) OVER (PARTITION BY doc_id, word_id ORDER BY pos)
         |      AS nxt
         |  FROM s${r - 1}),
         |q$r AS (SELECT j.*, m.rnk FROM j$r j LEFT JOIN merges m
         |  ON m.a = j.sym AND m.b = j.nxt),
         |o$r AS (SELECT *,
         |    min(rnk) OVER (PARTITION BY doc_id, word_id) AS minr
         |  FROM q$r),
         |c$r AS (SELECT *, (rnk IS NOT NULL AND rnk = minr) AS isocc,
         |    sum(CASE WHEN rnk IS NOT NULL AND rnk = minr
         |        THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id, word_id ORDER BY pos) AS occidx
         |  FROM o$r),
         |g$r AS (SELECT *, CASE WHEN isocc THEN pos - occidx END AS grp
         |  FROM c$r),
         |h$r AS (SELECT *, CASE WHEN isocc THEN pos -
         |      min(CASE WHEN isocc THEN pos END)
         |        OVER (PARTITION BY doc_id, word_id, grp) END AS runpos
         |  FROM g$r),
         |k$r AS (SELECT *, coalesce(isocc AND runpos % 2 = 0, false)
         |    AS mrg
         |  FROM h$r),
         |l$r AS (SELECT *, coalesce(lag(mrg)
         |      OVER (PARTITION BY doc_id, word_id ORDER BY pos), false)
         |    AS dropme
         |  FROM k$r),
         |s$r AS (SELECT doc_id, word_id,
         |    row_number() OVER (PARTITION BY doc_id, word_id
         |      ORDER BY pos) - 1 AS pos,
         |    CASE WHEN mrg THEN sym || nxt ELSE sym END AS sym
         |  FROM l$r WHERE NOT dropme)""".stripMargin
    }.mkString(",\n")
    s"""WITH merges AS (SELECT * FROM (VALUES $mergeVals) m(a, b, rnk)),
       |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+')
       |        AS ws FROM documents),
       |wd AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS word_id,
       |    ws[i] AS word
       |  FROM w, UNNEST(generate_series(1, len(ws))) u(i)),
       |s0 AS (SELECT doc_id, word_id, CAST(j - 1 AS INTEGER) AS pos,
       |    substr(word, j, 1) AS sym
       |  FROM wd, UNNEST(generate_series(1, length(word))) v(j)),
       |$rounds
       |SELECT doc_id, count(DISTINCT word_id) AS n_words,
       |  count(*) AS n_tokens,
       |  md5(string_agg(sym, ' ' ORDER BY word_id, pos)) AS enc_digest
       |FROM s$BpeRounds GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  private[queries] val toksCte =
    """d AS (SELECT doc_id, lang,
      |  list_filter(string_split(text, ' '), t -> t <> '') AS toks,
      |  text FROM documents)""".stripMargin

  // per-profile score: |distinct toks ∩ profile| / max(|distinct toks|, 1)
  private def scoreSql(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
    s"(len(list_intersect(list_distinct(toks), $lst))::DOUBLE" +
      " / greatest(len(list_distinct(toks)), 1))"
  }

  // argmax with max-struct semantics: ties go to the lexicographically LAST
  // language code (mirrors Spark array_max over (score, lang) structs)
  private[queries] val predictedSql: String = {
    val byLangDesc = Profiles.sortBy(_._1).reverse
    val arms = byLangDesc.init.map { case (code, words) =>
      s"WHEN ${scoreSql(words)} = __m THEN '$code'"
    }.mkString(" ")
    s"CASE $arms ELSE '${byLangDesc.last._1}' END"
  }

  private[queries] val maxScoreSql: String =
    Profiles.map(p => scoreSql(p._2)).mkString("greatest(", ", ", ")")

  /** Shared ln-ln OLS oracle tail ([[graft.ops.TextAnalysis.logLogOls]]
    * twin) — expects a CTE exposing raw (x, y); ends in CTE `ols` with
    * (n_points, slope, intercept, r2).
    */
  private def logLogOlsSql(fromCte: String): String =
    s"""z AS (SELECT
       |    CAST(CAST(round(ln(CAST(x AS DOUBLE)), 9) AS DECIMAL(38,9))
       |      * 1000000000 AS HUGEINT) AS x,
       |    CAST(CAST(round(ln(CAST(y AS DOUBLE)), 9) AS DECIMAL(38,9))
       |      * 1000000000 AS HUGEINT) AS y
       |  FROM $fromCte WHERE x > 0 AND y > 0),
       |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
       |    CAST(sum(x * y) AS HUGEINT) AS sxy,
       |    CAST(sum(x * x) AS HUGEINT) AS sxx,
       |    CAST(sum(y * y) AS HUGEINT) AS syy FROM z),
       |f AS (SELECT n, sx, sy, n * sxy - sx * sy AS a,
       |    n * sxx - sx * sx AS b, n * syy - sy * sy AS c FROM m),
       |ols AS (SELECT CAST(n AS BIGINT) AS n_points,
       |  CASE WHEN CAST(b AS DOUBLE) > 0
       |    THEN CAST(a AS DOUBLE) / CAST(b AS DOUBLE) END AS slope,
       |  CASE WHEN CAST(b AS DOUBLE) > 0 THEN
       |    (CAST(sy AS DOUBLE) - (CAST(a AS DOUBLE) / CAST(b AS DOUBLE))
       |      * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * 1000000000.0)
       |  END AS intercept,
       |  CASE WHEN CAST(b AS DOUBLE) > 0 AND CAST(c AS DOUBLE) > 0 THEN
       |    CAST(a AS DOUBLE) * CAST(a AS DOUBLE) /
       |      (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
       |  END AS r2
       |FROM f)""".stripMargin

  /** Shared growth-curve CTEs ([[graft.ops.TextAnalysis.vocabGrowth]]
    * twin) — expects the `d` toks CTE; ends in `perg` (g, bound,
    * n_docs, n_tokens) and `vg` (g, vocab).
    */
  private def vocabGrowthCtes(checkpoints: Int): String =
    s"""rk AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r,
       |    count(*) OVER () AS n FROM d),
       |gs AS (SELECT unnest(generate_series(1, $checkpoints)) AS g),
       |bounds AS (SELECT g, doc_id AS bound FROM rk JOIN gs
       |  ON r = (g * n) // $checkpoints),
       |dt AS (SELECT doc_id, len(toks) AS nt FROM d),
       |perg AS (SELECT g, bound, count(*) AS n_docs,
       |    CAST(sum(nt) AS BIGINT) AS n_tokens
       |  FROM dt JOIN bounds ON doc_id <= bound GROUP BY 1, 2),
       |fd AS (SELECT term, min(doc_id) AS first_doc
       |  FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY 1),
       |vg AS (SELECT g, count(*) AS vocab FROM fd JOIN bounds
       |  ON first_doc <= bound GROUP BY 1)""".stripMargin

  /** Shared leave-one-fold-out CV CTE prefix (d .. best) — the
    * crossval aggregate and the label-noise audit both read from it. */
  private lazy val nbCvCtes: String =
    s"""WITH d AS (SELECT doc_id, lang,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
         |      % $NbFolds AS fold,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |occ AS MATERIALIZED (SELECT d.doc_id, d.lang, d.fold, t.bucket,
         |    count(*) AS c
         |  FROM (SELECT doc_id,
         |      ('0x' || substr(md5(tok), 1, 12))::BIGINT % $NbBuckets
         |        AS bucket
         |    FROM (SELECT doc_id, unnest(toks) AS tok FROM d)) t
         |  JOIN d USING (doc_id) GROUP BY 1, 2, 3, 4),
         |cube AS (SELECT fold, lang, bucket, sum(c) AS n
         |  FROM occ GROUP BY 1, 2, 3),
         |byc AS (SELECT lang, bucket, sum(n) AS nt FROM cube GROUP BY 1, 2),
         |ct AS (SELECT lang, sum(nt) AS tot FROM byc GROUP BY 1),
         |fct AS (SELECT fold, lang, sum(n) AS ft FROM cube GROUP BY 1, 2),
         |grid AS (SELECT f.fold, b.bucket, c.lang
         |  FROM (SELECT unnest(generate_series(0, ${NbFolds - 1})) AS fold) f,
         |    (SELECT unnest(generate_series(0, ${NbBuckets - 1}))
         |       AS bucket) b,
         |    (SELECT DISTINCT lang FROM d) c),
         |lik AS (SELECT g.fold, g.lang, g.bucket,
         |    CAST(round(ln((coalesce(byc.nt, 0) - coalesce(cube.n, 0) + 1.0)
         |        / (ct.tot - coalesce(fct.ft, 0) + $NbBuckets))
         |      / ${math.log(2.0)}, 9) AS DECIMAL(18,9)) AS lp
         |  FROM grid g
         |  LEFT JOIN byc ON byc.lang = g.lang AND byc.bucket = g.bucket
         |  LEFT JOIN cube ON cube.fold = g.fold AND cube.lang = g.lang
         |    AND cube.bucket = g.bucket
         |  JOIN ct ON ct.lang = g.lang
         |  LEFT JOIN fct ON fct.fold = g.fold AND fct.lang = g.lang),
         |docfold AS (SELECT DISTINCT doc_id, lang, fold FROM occ),
         |dbc AS (SELECT lang, count(*) AS dc FROM docfold GROUP BY 1),
         |dbfc AS (SELECT fold, lang, count(*) AS dfc
         |  FROM docfold GROUP BY 1, 2),
         |dtot AS (SELECT count(*) AS n_all FROM docfold),
         |dbf AS (SELECT fold, count(*) AS df FROM docfold GROUP BY 1),
         |pri AS (SELECT f.fold, dbc.lang,
         |    CAST(round(ln((dbc.dc - coalesce(dbfc.dfc, 0)) * 1.0
         |        / (dtot.n_all - dbf.df)) / ${math.log(2.0)}, 9)
         |      AS DECIMAL(18,9)) AS prior
         |  FROM (SELECT unnest(generate_series(0, ${NbFolds - 1}))
         |      AS fold) f
         |  CROSS JOIN dbc
         |  CROSS JOIN dtot
         |  LEFT JOIN dbfc ON dbfc.fold = f.fold AND dbfc.lang = dbc.lang
         |  JOIN dbf ON dbf.fold = f.fold
         |  WHERE dbc.dc > coalesce(dbfc.dfc, 0)),
         |sc AS (SELECT occ.doc_id, occ.fold, lik.lang,
         |    sum(lik.lp * occ.c) + any_value(pri.prior) AS score
         |  FROM occ
         |  JOIN lik ON lik.fold = occ.fold AND lik.bucket = occ.bucket
         |  JOIN pri ON pri.fold = occ.fold AND pri.lang = lik.lang
         |  GROUP BY 1, 2, 3),
         |best AS (SELECT doc_id, fold,
         |    max(struct_pack(s := score, y := lang)) AS b
         |  FROM sc GROUP BY 1, 2)""".stripMargin


  val registry: Map[String, Query] = Map(
    // ordered pairs a < b over the distinct (lang, token) relation
    "text_lang_overlap" -> Query(langOverlap, Some(
      s"""WITH $toksCte,
         |gt AS (SELECT DISTINCT lang AS g, unnest(toks) AS term FROM d),
         |sz AS (SELECT g, count(*) AS n FROM gt GROUP BY g),
         |it AS (SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_common
         |       FROM gt a JOIN gt b ON a.term = b.term AND a.g < b.g
         |       GROUP BY 1, 2)
         |SELECT group_a, group_b, sa.n AS n_a, sb.n AS n_b, n_common,
         |  round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 9)
         |    AS jaccard
         |FROM it JOIN sz sa ON group_a = sa.g JOIN sz sb ON group_b = sb.g
         |ORDER BY group_a, group_b""".stripMargin)),
    // same augmentation + RE2 character classes verbatim ('g' for global)
    "text_normalize" -> Query(normalizeText, Some(
      """WITH a AS (SELECT doc_id,
        |    upper(substr(text, 1, 30)) || ' -- ' || text || ' !!END??' AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t,
        |    trim(regexp_replace(regexp_replace(lower(t),
        |      '[!-/:-@\[-`{-~]', ' ', 'g'), '[ \t\n\r]+', ' ', 'g'))
        |      AS norm
        |  FROM a)
        |SELECT doc_id, CAST(length(norm) AS BIGINT) AS norm_len,
        |  norm <> t AS changed, md5(norm) AS norm_digest
        |FROM n ORDER BY doc_id""".stripMargin)),
    // per-doc DISTINCT terms before the explode; postings = sorted slice
    "text_posting_lists" -> Query(postingLists, Some(
      s"""WITH $toksCte,
         |pd AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM d),
         |tf AS (SELECT term, count(*) AS total_tf
         |       FROM (SELECT unnest(toks) AS term FROM d) GROUP BY 1),
         |pl AS (SELECT term, count(*) AS doc_freq,
         |        (list(doc_id ORDER BY doc_id))[1:$MaxPostings] AS postings
         |       FROM pd GROUP BY term)
         |SELECT pl.term, doc_freq, CAST(total_tf AS BIGINT) AS total_tf,
         |  array_to_string(list_transform(postings, x -> x::VARCHAR), ',')
         |    AS postings_csv
         |FROM pl JOIN tf USING (term) ORDER BY pl.term""".stripMargin)),
    // character classes shared verbatim with the Spark expressions;
    // counts are length-diffs after global regexp_replace ('g' flag —
    // DuckDB replaces only the first match without it)
    "text_script_profile" -> Query(scriptProfile, Some(
      """WITH c AS (SELECT lang, length(text) AS nc,
        |    length(text) - length(regexp_replace(text, '[A-Za-z]', '',
        |      'g')) AS nl,
        |    length(text) - length(regexp_replace(text, '[0-9]', '',
        |      'g')) AS nd,
        |    length(text) - length(regexp_replace(text, '[ \t\n\r]', '',
        |      'g')) AS ns,
        |    length(text) - length(regexp_replace(text,
        |      '[!-/:-@\[-`{-~]', '', 'g')) AS np,
        |    length(text) - length(regexp_replace(text, '[^\x00-\x7F]', '',
        |      'g')) AS na,
        |    length(text) - length(regexp_replace(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS nctl,
        |    length(text) - length(replace(text, chr(65533), '')) AS nrep
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  CAST(sum(nl) AS BIGINT) AS n_letters,
        |  CAST(sum(nd) AS BIGINT) AS n_digits,
        |  CAST(sum(ns) AS BIGINT) AS n_spaces,
        |  CAST(sum(np) AS BIGINT) AS n_punct,
        |  CAST(sum(na) AS BIGINT) AS n_nonascii,
        |  CAST(sum(nctl) AS BIGINT) AS n_control,
        |  CAST(sum(nrep) AS BIGINT) AS n_replacement,
        |  CAST(sum(CASE WHEN nctl + nrep > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  CASE WHEN sum(nc) > 0
        |    THEN round(CAST(sum(nl) AS DOUBLE) / sum(nc), 9) END
        |    AS letter_ratio,
        |  CASE WHEN sum(nc) > 0
        |    THEN round(CAST(sum(na) AS DOUBLE) / sum(nc), 9) END
        |    AS nonascii_ratio
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin)),
    // the two-phase (count, term-prefix) ranking ≡ one global
    // row_number over (count desc, term)
    "text_vocab" -> Query(vocab, Some(
      s"""WITH $toksCte,
         |t AS (SELECT unnest(toks) AS term FROM d),
         |c AS (SELECT term, count(*) AS term_count FROM t GROUP BY 1
         |      HAVING count(*) >= $VocabMinCount)
         |SELECT term, term_count,
         |  CAST(row_number() OVER (ORDER BY term_count DESC, term)
         |    AS BIGINT) AS term_id
         |FROM c ORDER BY term_id""".stripMargin)),
    "text_vocab_encode" -> Query(vocabEncode, Some(
      s"""WITH $toksCte,
         |t AS (SELECT unnest(toks) AS term FROM d),
         |c AS (SELECT term, count(*) AS term_count FROM t GROUP BY 1
         |      HAVING count(*) >= $VocabMinCount),
         |v AS (SELECT term,
         |    CAST(row_number() OVER (ORDER BY term_count DESC, term)
         |      AS BIGINT) AS term_id
         |  FROM c),
         |e AS (SELECT doc_id AS id, toks[i] AS term,
         |    CAST(i - 1 AS BIGINT) AS pos
         |  FROM d, UNNEST(generate_series(1, len(toks))) u(i)
         |  WHERE doc_id < 20)
         |SELECT id, pos, e.term, coalesce(v.term_id, 0) AS term_id
         |FROM e LEFT JOIN v ON e.term = v.term
         |ORDER BY id, pos""".stripMargin)),
    // strlen = bytes in DuckDB (Spark's octet_length); sums exact longs,
    // ratios one rounded IEEE division each
    "text_token_fertility" -> Query(tokenFertility, Some(
      s"""WITH $toksCte,
         |m AS (SELECT lang,
         |  CAST(len(toks) AS BIGINT) AS nt,
         |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS nc,
         |  CAST(strlen(text) AS BIGINT) AS nb
         |FROM d)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(nc) AS BIGINT) AS n_chars,
         |  CAST(sum(nb) AS BIGINT) AS n_bytes,
         |  round(CAST(sum(nc) AS DOUBLE)
         |    / greatest(CAST(sum(nt) AS BIGINT), 1), 9) AS chars_per_token,
         |  round(CAST(sum(nb) AS DOUBLE)
         |    / greatest(CAST(sum(nt) AS BIGINT), 1), 9) AS bytes_per_token,
         |  round(CAST(sum(nt) AS DOUBLE) / count(*), 9) AS tokens_per_doc
         |FROM m GROUP BY lang ORDER BY lang""".stripMargin)),
    // mirrors gopherRules' per-row expressions: single-space tokenizer,
    // Σ token length ≡ non-space chars, alpha tokens via ONE
    // regexp_extract_all, thresholds inlined identically
    "text_gopher_filter" -> Query(gopherFilter, Some({
      val stops = Profiles.toMap.apply("en").map(w => s"'$w'")
        .mkString("[", ",", "]")
      s"""WITH $toksCte,
         |m AS (SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |    / greatest(CAST(len(toks) AS BIGINT), 1), 9) AS mean_word_len,
         |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
         |      AS DOUBLE) / greatest(length(text), 1), 9) AS symbol_ratio,
         |  round(CAST(len(regexp_extract_all(text, '[^ ]*[A-Za-z][^ ]*'))
         |      AS DOUBLE) / greatest(CAST(len(toks) AS BIGINT), 1), 9)
         |    AS alpha_ratio,
         |  CAST(len(list_intersect(list_distinct(toks), $stops)) AS BIGINT)
         |    AS stop_hits
         |FROM d),
         |f AS (SELECT *,
         |  (CASE WHEN n_words < 20 OR n_words > 80 THEN 1 ELSE 0 END
         |   + CASE WHEN mean_word_len < 3.0 OR mean_word_len > 8.0
         |       THEN 2 ELSE 0 END
         |   + CASE WHEN symbol_ratio > 0.1 THEN 4 ELSE 0 END
         |   + CASE WHEN alpha_ratio < 0.5 THEN 8 ELSE 0 END
         |   + CASE WHEN stop_hits < 1 THEN 16 ELSE 0 END) AS mask
         |FROM m)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
         |  stop_hits, CAST(mask AS BIGINT) AS drop_mask,
         |  mask = 0 AS keep
         |FROM f ORDER BY doc_id""".stripMargin
    })),
    // fold models by count subtraction (total − fold), add-one smoothing
    // on the subtracted counts, priors over training docs only (a class
    // with zero training docs for a fold is dropped — it cannot be
    // predicted); accuracy = ONE division of two exact integers
    "text_nb_crossval" -> Query(nbCrossVal, Some(
      s"""$nbCvCtes
         |SELECT best.fold AS fold, count(*) AS n_test,
         |  CAST(sum(CASE WHEN best.b.y = d.lang THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST(sum(CASE WHEN best.b.y = d.lang THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
         |FROM best JOIN d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // same held-out scores, per-doc view: suspects are docs whose
    // fold-held-out argmax disagrees with the label; the margin is an
    // exact DECIMAL difference of the two scores. A label class with no
    // training docs in the fold leaves label/margin bits NULL
    "text_label_noise" -> Query(labelNoise, Some(
      s"""$nbCvCtes,
         |own AS (SELECT sc.doc_id, sc.score AS os
         |  FROM sc JOIN d USING (doc_id) WHERE sc.lang = d.lang)
         |SELECT best.doc_id AS doc_id, d.lang AS label,
         |  best.b.y AS predicted,
         |  round(CAST(own.os AS DOUBLE), 6) AS label_bits,
         |  round(CAST(best.b.s AS DOUBLE), 6) AS best_bits,
         |  round(CAST(best.b.s - own.os AS DOUBLE), 6) AS margin_bits
         |FROM best JOIN d USING (doc_id)
         |LEFT JOIN own ON own.doc_id = best.doc_id
         |WHERE best.b.y <> d.lang ORDER BY doc_id""".stripMargin)),
    // nested-training learning curve: ONE (stratum, class, bucket) count
    // cube; level models are sums over the level→stratum map; test docs
    // (the last stratum) score against every level's broadcast grid;
    // accuracy = ONE division of two exact integers
    "text_nb_learning_curve" -> Query(nbLearningCurve, Some({
      val lmValues = LcLevels
        .flatMap(l => (0 until l).map(s => s"($l, $s)")).mkString(", ")
      s"""WITH d AS (SELECT doc_id, lang,
         |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT
         |      % $LcStrata AS stratum,
         |    list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |occ AS MATERIALIZED (SELECT d.doc_id, d.lang, d.stratum,
         |    t.bucket, count(*) AS c
         |  FROM (SELECT doc_id,
         |      ('0x' || substr(md5(tok), 1, 12))::BIGINT % $NbBuckets
         |        AS bucket
         |    FROM (SELECT doc_id, unnest(toks) AS tok FROM d)) t
         |  JOIN d USING (doc_id) GROUP BY 1, 2, 3, 4),
         |cube AS (SELECT stratum, lang, bucket, sum(c) AS n
         |  FROM occ GROUP BY 1, 2, 3),
         |lm AS (SELECT * FROM (VALUES $lmValues) AS t(level, stratum)),
         |byl AS (SELECT level, lang, bucket, sum(n) AS n
         |  FROM cube JOIN lm USING (stratum) GROUP BY 1, 2, 3),
         |lt AS (SELECT level, lang, sum(n) AS tot FROM byl GROUP BY 1, 2),
         |grid AS (SELECT l.level, b.bucket, c.lang
         |  FROM (SELECT DISTINCT level FROM lm) l,
         |    (SELECT unnest(generate_series(0, ${NbBuckets - 1}))
         |       AS bucket) b,
         |    (SELECT DISTINCT lang FROM d) c),
         |lik AS (SELECT g.level, g.lang, g.bucket,
         |    CAST(round(ln((coalesce(byl.n, 0) + 1.0)
         |        / (coalesce(lt.tot, 0) + $NbBuckets))
         |      / ${math.log(2.0)}, 9) AS DECIMAL(18,9)) AS lp
         |  FROM grid g
         |  LEFT JOIN byl ON byl.level = g.level AND byl.lang = g.lang
         |    AND byl.bucket = g.bucket
         |  LEFT JOIN lt ON lt.level = g.level AND lt.lang = g.lang),
         |docstr AS (SELECT DISTINCT doc_id, lang, stratum FROM occ),
         |bld AS (SELECT level, lang, count(*) AS dc
         |  FROM docstr JOIN lm USING (stratum) GROUP BY 1, 2),
         |ldt AS (SELECT level, CAST(sum(dc) AS BIGINT) AS dtot
         |  FROM bld GROUP BY 1),
         |pri AS (SELECT bld.level, bld.lang,
         |    CAST(round(ln(bld.dc * 1.0 / ldt.dtot) / ${math.log(2.0)}, 9)
         |      AS DECIMAL(18,9)) AS prior
         |  FROM bld JOIN ldt USING (level) WHERE bld.dc > 0),
         |sc AS (SELECT occ.doc_id, lik.level, lik.lang,
         |    sum(lik.lp * occ.c) + any_value(pri.prior) AS score
         |  FROM occ
         |  JOIN lik ON lik.bucket = occ.bucket
         |  JOIN pri ON pri.level = lik.level AND pri.lang = lik.lang
         |  WHERE occ.stratum = ${LcStrata - 1}
         |  GROUP BY 1, 2, 3),
         |best AS (SELECT doc_id, level,
         |    max(struct_pack(s := score, y := lang)) AS b
         |  FROM sc GROUP BY 1, 2)
         |SELECT best.level AS level, any_value(ldt.dtot) AS n_train,
         |  count(*) AS n_test,
         |  CAST(sum(CASE WHEN best.b.y = d.lang THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST(sum(CASE WHEN best.b.y = d.lang THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
         |FROM best JOIN d USING (doc_id)
         |JOIN ldt ON ldt.level = best.level
         |GROUP BY 1 ORDER BY 1""".stripMargin
    })),
    // the GD loop unrolled: every iteration is exact HUGEINT arithmetic
    // (nano-unit weights, sign-explicit truncating divisions), so the
    // replay is bit-identical — no rounding surface anywhere
    "text_sgd_classifier" -> Query(sgdClassifier, Some(sgdOracleSql)),
    "text_sgd_calibrated" -> Query(sgdCalibrated, Some(sgdCalibratedOracleSql)),
    // the same exact-HUGEINT GD replay with the level key riding every
    // iteration CTE; held-out accuracy per nested training level
    "text_sgd_learning_curve" -> Query(sgdLearningCurveQ, Some(sgdLcOracleSql)),
    // same unrolled training replay + one attribution join; every value
    // is an exact integer, argmax by (|contribution|, -bucket) struct
    "text_sgd_attribution" -> Query(sgdAttributionQ,
      Some(sgdAttributionOracleSql)),
    // add-one NB over a dense (lang × 64-bucket) grid; scores are exact
    // DECIMAL sums of 9dp contributions + a 9dp log-prior; argmax ties to
    // the lexicographically last class via max-struct
    "text_nb_classifier" -> Query(nbLangId, Some(
      s"""WITH d AS (SELECT doc_id, lang,
         |  list_filter(string_split(text, ' '), x -> x <> '') AS toks
         |  FROM documents),
         |occ AS (SELECT doc_id,
         |          ('0x' || substr(md5(tok), 1, 12))::BIGINT % $NbBuckets
         |            AS bucket, count(*) AS c
         |        FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
         |        GROUP BY 1, 2),
         |byc AS (SELECT d.lang, occ.bucket, sum(occ.c) AS n
         |        FROM occ JOIN d USING (doc_id) GROUP BY 1, 2),
         |ct AS (SELECT lang, sum(n) AS tot FROM byc GROUP BY 1),
         |grid AS (SELECT ct.lang, ct.tot, b.bucket FROM ct,
         |          (SELECT unnest(generate_series(0, ${NbBuckets - 1}))
         |             AS bucket) b),
         |lik AS (SELECT g.lang, g.bucket,
         |  CAST(round(ln((coalesce(byc.n, 0) + 1.0) / (g.tot + $NbBuckets))
         |         / ${math.log(2.0)}, 9) AS DECIMAL(18,9)) AS lp
         |  FROM grid g LEFT JOIN byc
         |    ON byc.lang = g.lang AND byc.bucket = g.bucket),
         |pri AS (SELECT lang,
         |  CAST(round(ln(count(*) * 1.0 /
         |         (SELECT count(*) FROM documents)) / ${math.log(2.0)}, 9)
         |       AS DECIMAL(18,9)) AS prior
         |  FROM documents GROUP BY 1),
         |sc AS (SELECT occ.doc_id, lik.lang,
         |         sum(lik.lp * occ.c) + any_value(pri.prior) AS score
         |       FROM occ JOIN lik USING (bucket) JOIN pri ON pri.lang = lik.lang
         |       GROUP BY 1, 2),
         |best AS (SELECT doc_id,
         |           max(struct_pack(s := score, y := lang)) AS b
         |         FROM sc GROUP BY 1)
         |SELECT doc_id, b.y AS predicted,
         |  round(CAST(b.s AS DOUBLE), 6) AS best_bits
         |FROM best ORDER BY doc_id""".stripMargin)),
    // positioned trigrams as strings (engine-internal hashes never cross
    // the oracle boundary — only counts do); docs with < 3 tokens have no
    // positions and produce no row on either side
    "text_dup_ngram_coverage" -> Query(dupCoverage, Some(
      s"""WITH $toksCte,
         |g AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |    THEN list_transform(generate_series(1, len(toks) - 2),
         |           i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
         |    ELSE [] END AS grams
         |  FROM d),
         |occ AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         |c AS (SELECT doc_id, gram, count(*) AS c FROM occ GROUP BY 1, 2),
         |dfr AS (SELECT gram, count(*) AS df FROM c GROUP BY 1)
         |SELECT doc_id, sum(c)::BIGINT AS n_positions,
         |  sum(CASE WHEN df >= 2 THEN c ELSE 0 END)::BIGINT
         |    AS n_dup_positions,
         |  round(sum(CASE WHEN df >= 2 THEN c ELSE 0 END)::DOUBLE / sum(c), 6)
         |    AS dup_coverage
         |FROM c JOIN dfr USING (gram)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    // add-one-smoothed bigram LM fitted on the corpus itself; per-position
    // bit contributions round to 9 dp, scale by the doc's (w1,w2) count
    // (exact decimal), and sum exactly — the mean is order-independent
    // held-out per-domain hardness: train-fold model, fold-3 scoring,
    // LEFT joins carry unseen contexts on the smoothing floor
    "text_domain_hardness" -> Query(domainHardnessQ, Some(
      s"""WITH $domainHardnessCtes
         |SELECT source, n_docs, n_bigrams, bits_per_token
         |FROM h ORDER BY source""".stripMargin)),
    // full-rotation CV: fold f's train model = total − fold-f counts
    // (leave-one-fold-out by arithmetic — INNER joins, the row itself
    // always contributes to both aggregates); V_f = V_all − tokens
    // exclusive to f via the (token → min/max fold) aggregate
    "text_domain_hardness_cv" -> Query(domainHardnessCvQ, Some(
      s"""WITH $domainHardnessCvCtes
         |SELECT source, fold, count(DISTINCT doc_id) AS n_docs,
         |  CAST(sum(c) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(bits * c) AS DOUBLE) / sum(c), 6)
         |    AS bits_per_token
         |FROM cvct GROUP BY 1, 2 ORDER BY source, fold""".stripMargin)),
    // the rotation POOLED per domain — 4× the held-out mass, the
    // tighter DoReMi input
    "text_domain_hardness_cvp" -> Query(domainHardnessCvPooledQ, Some(
      s"""WITH $domainHardnessCvCtes
         |SELECT source, count(DISTINCT doc_id) AS n_docs,
         |  CAST(sum(c) AS BIGINT) AS n_bigrams,
         |  round(CAST(sum(bits * c) AS DOUBLE) / sum(c), 6)
         |    AS bits_per_token
         |FROM cvct GROUP BY 1 ORDER BY source""".stripMargin)),
    "text_bigram_lm" -> Query(bigramLm, Some(
      s"""WITH $toksCte,
         |g AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 2
         |    THEN list_transform(generate_series(1, len(toks) - 1),
         |           i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))
         |    ELSE [] END AS bgs
         |  FROM d),
         |occ0 AS (SELECT doc_id, unnest(bgs) AS bg FROM g),
         |occ AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(*) AS c
         |        FROM occ0 GROUP BY 1, 2, 3),
         |bc AS (SELECT w1, w2, sum(c) AS bc FROM occ GROUP BY 1, 2),
         |uc AS (SELECT w1, sum(c) AS uc FROM occ GROUP BY 1),
         |v AS (SELECT count(DISTINCT t) AS v FROM
         |        (SELECT unnest(toks) AS t FROM d)),
         |ct AS (SELECT occ.doc_id, occ.c,
         |        CAST(round(-ln((bc.bc + 1.0) / (uc.uc + v.v))
         |               / ${math.log(2.0)}, 9) AS DECIMAL(18,9)) AS bits
         |      FROM occ JOIN bc USING (w1, w2) JOIN uc USING (w1), v)
         |SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
         |  round(CAST(sum(bits * c) AS DOUBLE) / sum(c), 6) AS bits_per_token
         |FROM ct GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    // exact categorical sampling replay: cumulative-count ranges per
    // context, md5(seed|r) mod tot lands in ONE range per step; dead
    // ends carry via the per-round anti-join union
    "text_lm_generate" -> Query(lmGenerate, Some({
      val steps = (1 to GenLength).map { r =>
        s"""s$r AS (SELECT f.seed, m.w2 AS cur,
           |    f.generated || ' ' || m.w2 AS generated,
           |    f.steps + 1 AS steps
           |  FROM f${r - 1} f JOIN model m ON m.w1 = f.cur
           |  AND (('0x' || substr(md5(f.seed || '|' || $r), 1, 12))::BIGINT
           |       % m.tot) >= m.lo
           |  AND (('0x' || substr(md5(f.seed || '|' || $r), 1, 12))::BIGINT
           |       % m.tot) < m.hi),
           |f$r AS (SELECT * FROM s$r
           |  UNION ALL
           |  SELECT f.* FROM f${r - 1} f LEFT JOIN s$r s USING (seed)
           |  WHERE s.seed IS NULL)""".stripMargin
      }.mkString(",\n")
      s"""WITH $toksCte,
         |bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2, count(*) AS c
         |       FROM d, UNNEST(generate_series(1, len(toks) - 1)) u(i)
         |       WHERE len(toks) >= 2 GROUP BY 1, 2),
         |model AS (SELECT w1, w2, c,
         |    sum(c) OVER (PARTITION BY w1 ORDER BY w2) AS hi,
         |    sum(c) OVER (PARTITION BY w1 ORDER BY w2) - c AS lo,
         |    sum(c) OVER (PARTITION BY w1) AS tot FROM bg),
         |tk AS (SELECT unnest(toks) AS tok FROM d),
         |sd AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM tk
         |         GROUP BY 1) ORDER BY c DESC, tok LIMIT $GenSeeds),
         |f0 AS (SELECT tok AS seed, tok AS cur, tok AS generated,
         |         0 AS steps FROM sd),
         |$steps
         |SELECT seed, generated, steps FROM f$GenLength
         |ORDER BY seed""".stripMargin
    })),
    // chunk by token count (the dedup_chunks cut), per-chunk argmax via
    // the shared maxScore/predicted CASE machinery, majority by
    // max-struct (count, lang) — ties to the later language code
    "text_lang_mixing" -> Query(langMixing, Some({
      val N = MixChunkTokens
      s"""WITH $toksCte,
         |c AS (SELECT doc_id, list_slice(toks, i + 1, i + $N) AS toks
         |      FROM d, UNNEST(generate_series(0, len(toks) - 1, $N)) u(i)
         |      WHERE len(toks) > 0),
         |p AS (SELECT doc_id, $maxScoreSql AS __m, toks FROM c),
         |x AS (SELECT doc_id, $predictedSql AS pl FROM p),
         |g AS (SELECT doc_id, pl, count(*) AS c FROM x GROUP BY 1, 2),
         |m AS (SELECT doc_id,
         |        max(struct_pack(c := c, l := pl)) AS best,
         |        CAST(sum(c) AS BIGINT) AS n_chunks,
         |        count(*) AS n_langs
         |      FROM g GROUP BY 1)
         |SELECT doc_id, n_chunks, n_langs,
         |  struct_extract(best, 'l') AS majority_lang,
         |  round(CAST(struct_extract(best, 'c') AS DOUBLE) / n_chunks, 9)
         |    AS majority_ratio,
         |  n_langs > 1 AS mixed
         |FROM m ORDER BY doc_id""".stripMargin
    })),
    // boundary-marked char n-grams by substr over the bracketed term;
    // bucket on the shared md5 idiom
    "text_subword_buckets" -> Query(subwordBuckets, Some(
      s"""WITH tk AS (SELECT DISTINCT
         |    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
         |      AS term
         |  FROM documents),
         |b AS (SELECT term, '<' || term || '>' AS bb FROM tk),
         |g AS (SELECT term, CAST(i - 1 AS INTEGER) AS pos,
         |        substr(bb, CAST(i AS INTEGER), $SubwordN) AS ngram
         |      FROM b, UNNEST(generate_series(1,
         |        length(bb) - ${SubwordN - 1})) u(i))
         |SELECT term, pos, ngram,
         |  ('0x' || substr(md5(ngram), 1, 12))::BIGINT % $SubwordBuckets
         |    AS bucket
         |FROM g ORDER BY term, pos""".stripMargin)),
    // add-one-smoothed hashed-bucket distributions on the dense grid;
    // per-bucket JS contributions spend the plan's exact IEEE sequence
    // (m inlined as (p+q)/2), round 9 dp, exact-DECIMAL sum, 6 dp out
    "text_js_divergence" -> Query(jsDivergence, Some({
      val B = JsBuckets
      val ln2 = math.log(2.0)
      s"""WITH tk AS (SELECT lang AS slice,
         |    unnest(list_filter(string_split(text, ' '), x -> x <> ''))
         |      AS t
         |  FROM documents),
         |occ AS (SELECT slice,
         |    ('0x' || substr(md5(t), 1, 12))::BIGINT % $B AS bucket,
         |    count(*) AS n
         |  FROM tk GROUP BY 1, 2),
         |tot AS (SELECT slice, CAST(sum(n) AS BIGINT) AS tot
         |        FROM occ GROUP BY 1),
         |grid AS (SELECT CAST(i AS INTEGER) AS bucket
         |         FROM UNNEST(generate_series(0, ${B - 1})) u(i)),
         |dense AS (SELECT t.slice, g.bucket, t.tot,
         |            coalesce(o.n, 0) AS n
         |          FROM tot t CROSS JOIN grid g
         |          LEFT JOIN occ o
         |            ON o.slice = t.slice AND o.bucket = g.bucket),
         |j AS (SELECT a.slice AS slice_a, b.slice AS slice_b,
         |        a.tot AS ta, b.tot AS tb,
         |        (a.n + 1.0) / (a.tot + $B) AS p,
         |        (b.n + 1.0) / (b.tot + $B) AS q
         |      FROM dense a JOIN dense b USING (bucket)
         |      WHERE a.slice < b.slice),
         |c AS (SELECT slice_a, slice_b, ta, tb,
         |        CAST(round((p * (ln(p / ((p + q) / 2.0)) / $ln2)
         |                  + q * (ln(q / ((p + q) / 2.0)) / $ln2)) / 2.0, 9)
         |          AS DECIMAL(18,9)) AS cb
         |      FROM j)
         |SELECT slice_a, slice_b, max(ta) AS n_tokens_a,
         |  max(tb) AS n_tokens_b,
         |  round(CAST(sum(cb) AS DOUBLE), 6) AS js_bits
         |FROM c GROUP BY 1, 2 ORDER BY slice_a, slice_b""".stripMargin
    })),
    // KN probability as ONE exact integer rational (d = 3/4):
    // p = ((4c12−3)B + 3·n1p·nc) / (4·c1·B); only the final ln is IEEE,
    // ln2 inlined as the same Scala double literal as the plan's
    // greedy longest-match replay: flat (word, start, L) match relation
    // against the vocab VALUES, per-position best by max L, then a
    // recursive walk accumulating the piece string; a word whose walk
    // never reaches its length is the single [UNK]
    "text_wordpiece_encode" -> Query(wordpieceEncodeQ, Some({
      val vocabVals = WpVocab.map(p => s"'$p'").mkString("[", ", ", "]")
      s"""WITH RECURSIVE vocab AS (SELECT unnest($vocabVals) AS p),
         |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+')
         |        AS ws FROM documents),
         |wd AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS word_id,
         |    ws[i] AS word
         |  FROM w, UNNEST(generate_series(1, len(ws))) u(i)),
         |words AS (SELECT DISTINCT word FROM wd),
         |st AS (SELECT unnest(generate_series(0,
         |    (SELECT max(length(word)) - 1 FROM words))) AS start),
         |le AS (SELECT unnest(generate_series(1, $WpMaxPieceLen)) AS L),
         |cand AS (SELECT wo.word, st.start, le.L,
         |    CASE WHEN st.start = 0 THEN substr(wo.word, 1, le.L)
         |      ELSE '##' || substr(wo.word, st.start + 1, le.L) END
         |      AS piece
         |  FROM words wo, st, le
         |  WHERE st.start + le.L <= length(wo.word)),
         |hit AS (SELECT c.word, c.start, c.L, c.piece
         |  FROM cand c JOIN vocab v ON v.p = c.piece),
         |best AS (SELECT word, start, max(L) AS L FROM hit GROUP BY 1, 2),
         |bp AS (SELECT b.word, b.start, b.L, h.piece FROM best b
         |  JOIN hit h ON h.word = b.word AND h.start = b.start
         |    AND h.L = b.L),
         |walk AS (
         |  SELECT word, 0 AS pos, CAST('' AS VARCHAR) AS acc FROM words
         |  UNION ALL
         |  SELECT w2.word, w2.pos + bp.L,
         |    CASE WHEN w2.acc = '' THEN bp.piece
         |      ELSE w2.acc || ' ' || bp.piece END
         |  FROM walk w2 JOIN bp ON bp.word = w2.word AND bp.start = w2.pos
         |  WHERE w2.pos < length(w2.word)),
         |done AS (SELECT word, acc FROM walk WHERE pos = length(word)),
         |enc AS (SELECT wo.word, coalesce(d.acc, '[UNK]') AS pieces,
         |    (d.acc IS NULL) AS is_unk
         |  FROM words wo LEFT JOIN done d USING (word))
         |SELECT wd.doc_id, count(*) AS n_words,
         |  CAST(sum(len(string_split(pieces, ' '))) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN is_unk THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unk,
         |  md5(string_agg(pieces, ' ' ORDER BY wd.word_id)) AS enc_digest
         |FROM wd JOIN enc USING (word)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    })),
    // the kn replay with lang threaded through every model key, then the
    // per-language ntile(3) cut — fit, score and bucket all replay
    "text_ccnet_buckets" -> Query(ccnetBuckets, Some(
      s"""WITH $toksCte,
         |g AS (SELECT doc_id, lang,
         |  CASE WHEN len(toks) >= 2
         |    THEN list_transform(generate_series(1, len(toks) - 1),
         |           i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))
         |    ELSE [] END AS bgs
         |  FROM d),
         |occ0 AS (SELECT doc_id, lang, unnest(bgs) AS bg FROM g),
         |occ AS (SELECT doc_id, lang, bg.w1 AS w1, bg.w2 AS w2,
         |         count(*) AS c
         |        FROM occ0 GROUP BY 1, 2, 3, 4),
         |bc AS (SELECT lang, w1, w2, CAST(sum(c) AS BIGINT) AS bc
         |       FROM occ GROUP BY 1, 2, 3),
         |w1s AS (SELECT lang, w1, CAST(sum(bc) AS BIGINT) AS uc,
         |          count(*) AS n1p
         |        FROM bc GROUP BY 1, 2),
         |w2f AS (SELECT lang, w2, count(*) AS nc FROM bc GROUP BY 1, 2),
         |ty AS (SELECT lang, count(*) AS nbt FROM bc GROUP BY 1),
         |ct AS (SELECT occ.doc_id, occ.lang, occ.c,
         |        CAST(round(-ln(
         |          CAST((bc.bc * 4 - 3)::HUGEINT * ty.nbt
         |               + (w1s.n1p * 3)::HUGEINT * w2f.nc AS DOUBLE)
         |          / CAST((w1s.uc * 4)::HUGEINT * ty.nbt AS DOUBLE))
         |          / ${math.log(2.0)}, 9) AS DECIMAL(18,9)) AS bits
         |      FROM occ JOIN bc USING (lang, w1, w2)
         |        JOIN w1s USING (lang, w1)
         |        JOIN w2f USING (lang, w2) JOIN ty USING (lang)),
         |bt AS (SELECT doc_id, lang, sum(c)::BIGINT AS n_bigrams,
         |  round(CAST(sum(bits * c) AS DOUBLE) / sum(c), 6)
         |    AS bits_per_token
         |  FROM ct GROUP BY 1, 2)
         |SELECT doc_id, lang AS slice, n_bigrams, bits_per_token,
         |  CASE ntile(3) OVER (PARTITION BY lang
         |      ORDER BY bits_per_token, doc_id)
         |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         |    AS bucket
         |FROM bt ORDER BY slice, bits_per_token, doc_id""".stripMargin)),
    "text_kn_bigram" -> Query(knBigram, Some(
      s"""WITH $toksCte,
         |g AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 2
         |    THEN list_transform(generate_series(1, len(toks) - 1),
         |           i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))
         |    ELSE [] END AS bgs
         |  FROM d),
         |occ0 AS (SELECT doc_id, unnest(bgs) AS bg FROM g),
         |occ AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(*) AS c
         |        FROM occ0 GROUP BY 1, 2, 3),
         |bc AS (SELECT w1, w2, CAST(sum(c) AS BIGINT) AS bc
         |       FROM occ GROUP BY 1, 2),
         |w1s AS (SELECT w1, CAST(sum(bc) AS BIGINT) AS uc,
         |          count(*) AS n1p
         |        FROM bc GROUP BY 1),
         |w2f AS (SELECT w2, count(*) AS nc FROM bc GROUP BY 1),
         |ty AS (SELECT count(*) AS nbt FROM bc),
         |ct AS (SELECT occ.doc_id, occ.c,
         |        CAST(round(-ln(
         |          CAST((bc.bc * 4 - 3)::HUGEINT * ty.nbt
         |               + (w1s.n1p * 3)::HUGEINT * w2f.nc AS DOUBLE)
         |          / CAST((w1s.uc * 4)::HUGEINT * ty.nbt AS DOUBLE))
         |          / ${math.log(2.0)}, 9) AS DECIMAL(18,9)) AS bits
         |      FROM occ JOIN bc USING (w1, w2) JOIN w1s USING (w1)
         |        JOIN w2f USING (w2), ty)
         |SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
         |  round(CAST(sum(bits * c) AS DOUBLE) / sum(c), 6)
         |    AS bits_per_token
         |FROM ct GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    // per-token bit contributions round to 9 dp and sum in exact DECIMAL —
    // the mean is order-independent; ln2 prints with round-trip precision
    "text_novelty" -> Query(novelty, Some(
      s"""WITH $toksCte,
         |tok AS (SELECT DISTINCT doc_id, unnest(list_distinct(toks)) AS token
         |        FROM d),
         |df AS (SELECT token, count(*) AS df FROM tok GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |c AS (SELECT doc_id,
         |        CAST(round(-ln(df * 1.0 / n_docs) / ${math.log(2.0)}, 9)
         |             AS DECIMAL(18,9)) AS bits
         |      FROM tok JOIN df USING (token), n)
         |SELECT doc_id, count(*) AS n_grams,
         |  round(CAST(sum(bits) AS DOUBLE) / count(*), 6) AS novelty_bits
         |FROM c WHERE doc_id < 50
         |GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    "text_repetition" -> Query(repetition, Some(
      s"""WITH $toksCte,
         |g AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 2
         |    THEN list_transform(generate_series(1, len(toks) - 1),
         |           i -> toks[i] || ' ' || toks[i + 1])
         |    ELSE [] END AS grams
         |  FROM d)
         |SELECT doc_id, len(grams)::BIGINT AS n_ngrams,
         |  round(CASE WHEN len(grams) > 0 THEN
         |    list_max(list_transform(list_distinct(grams),
         |      x -> len(list_filter(grams, y -> y = x))))::DOUBLE / len(grams)
         |    ELSE 0.0 END, 6) AS top_ngram_frac,
         |  round(CASE WHEN len(grams) > 0 THEN
         |    (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams)
         |    ELSE 0.0 END, 6) AS dup_ngram_frac
         |FROM g ORDER BY doc_id""".stripMargin)),
    // the naive doc-containment join IS the truth the kernel's
    // merge-intersect must reproduce
    "text_bool_retrieval" -> Query(boolRetrieval, Some({
      val vals = BoolPairs.map { case (a, b) => s"('$a', '$b')" }
        .mkString(", ")
      s"""WITH $toksCte,
         |pd AS (SELECT doc_id, unnest(list_distinct(toks)) AS term
         |  FROM d),
         |q(term_a, term_b) AS (VALUES $vals),
         |dfc AS (SELECT term, count(*) AS c FROM pd GROUP BY 1),
         |nb AS (SELECT q.term_a, q.term_b, count(*) AS n
         |  FROM q JOIN pd a ON a.term = q.term_a
         |         JOIN pd b ON b.term = q.term_b
         |           AND b.doc_id = a.doc_id
         |  GROUP BY 1, 2)
         |SELECT q.term_a, q.term_b,
         |  coalesce(fa.c, 0)::BIGINT AS df_a,
         |  coalesce(fb.c, 0)::BIGINT AS df_b,
         |  coalesce(nb.n, 0)::BIGINT AS n_both
         |FROM q LEFT JOIN dfc fa ON fa.term = q.term_a
         |       LEFT JOIN dfc fb ON fb.term = q.term_b
         |       LEFT JOIN nb ON nb.term_a = q.term_a
         |         AND nb.term_b = q.term_b
         |ORDER BY q.term_a, q.term_b""".stripMargin
    })),
    // the SAME unrolled-pageRank CTE chain as feat_pagerank, over the
    // window-2 word co-occurrence edges; ties at equal 9-dp rank break
    // by word
    "text_textrank" -> Query(textrank, Some({
      val e = """e AS (SELECT DISTINCT a AS src, b AS dst FROM (
                |  SELECT x.w AS a, y.w AS b
                |  FROM tp x JOIN tp y ON x.doc_id = y.doc_id
                |    AND y.p > x.p AND y.p <= x.p + 2 AND x.w <> y.w
                |  UNION ALL
                |  SELECT y.w, x.w
                |  FROM tp x JOIN tp y ON x.doc_id = y.doc_id
                |    AND y.p > x.p AND y.p <= x.p + 2 AND x.w <> y.w))"""
        .stripMargin
      s"""WITH $toksCte,
         |tp AS (SELECT doc_id, toks[i] AS w, CAST(i AS BIGINT) AS p
         |  FROM d, UNNEST(generate_series(1, len(toks))) u(i)),
         |${graft.queries.FeatureQueries.pageRankUnrolledCtes(e)}
         |SELECT node, CAST(r AS DOUBLE) AS rank
         |FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin
    })),
    // explode-once + lexicon join; hit ratio unrounded (one division)
    "text_blocklist_filter" -> Query(blocklist, Some({
      val lex = Blocklist.map(w => s"('$w')").mkString(", ")
      s"""WITH $toksCte,
         |lex(term) AS (VALUES $lex),
         |t AS (SELECT doc_id, unnest(toks) AS term FROM d),
         |h AS (SELECT doc_id, count(*) AS nh,
         |    count(DISTINCT t.term) AS nd
         |  FROM t JOIN lex ON t.term = lex.term GROUP BY 1)
         |SELECT doc_id AS id, len(toks)::BIGINT AS n_words,
         |  coalesce(nh, 0)::BIGINT AS n_hits,
         |  coalesce(nd, 0)::BIGINT AS n_distinct_hits,
         |  CAST(coalesce(nh, 0) AS DOUBLE) /
         |    CAST(greatest(len(toks), 1) AS DOUBLE) AS hit_ratio,
         |  coalesce(nh, 0) = 0 AS keep
         |FROM d LEFT JOIN h USING (doc_id)
         |ORDER BY id""".stripMargin
    })),
    // ln values round 9 dp (irrational) then widen to nano integers;
    // every moment combination exact in HUGEINT; slope/r2/intercept are
    // fixed-sequence double arithmetic, emitted unrounded (the shared
    // logLogOlsSql tail — TextAnalysis.logLogOls's verbatim twin)
    "text_zipf_fit" -> Query(zipf, Some(
      s"""WITH $toksCte,
         |t AS (SELECT unnest(toks) AS term FROM d),
         |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
         |pts AS (SELECT
         |    row_number() OVER (ORDER BY cnt DESC, term) AS x,
         |    cnt AS y FROM c),
         |${logLogOlsSql("pts")}
         |SELECT n_points AS n_terms, slope, intercept, r2
         |FROM ols""".stripMargin)),
    // exact-order-statistic boundaries (rank = (g·n) div G), first-doc
    // vocabulary counts, G-row fan-out joins
    "text_vocab_growth" -> Query(vocabGrowth, Some(
      s"""WITH $toksCte,
         |${vocabGrowthCtes(HeapsCheckpoints)}
         |SELECT CAST(g AS BIGINT) AS g, bound AS boundary_id,
         |  CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
         |  coalesce(vocab, 0)::BIGINT AS vocab
         |FROM perg LEFT JOIN vg USING (g) ORDER BY g""".stripMargin)),
    "text_heaps_fit" -> Query(heaps, Some(
      s"""WITH $toksCte,
         |${vocabGrowthCtes(HeapsCheckpoints)},
         |pts AS (SELECT n_tokens AS x, coalesce(vocab, 0) AS y
         |  FROM perg LEFT JOIN vg USING (g)),
         |${logLogOlsSql("pts")}
         |SELECT n_points, slope AS beta, intercept AS ln_k, r2
         |FROM ols""".stripMargin)),
    // pure character-class counting (terminator chars, collapsed vowel
    // runs, vowel-less words); the affine scores are emitted UNROUNDED
    // — fixed IEEE sequence on exact integers and shared literals
    "text_readability" -> Query(readability, Some(
      """WITH x AS (SELECT doc_id,
        |    greatest(len(list_filter(string_split(text, ' '),
        |      t -> t <> '')), 1)::BIGINT AS nw1,
        |    len(list_filter(string_split(text, ' '),
        |      t -> t <> ''))::BIGINT AS nw,
        |    greatest(length(regexp_replace(text, '[^.!?]', '', 'g')),
        |      1)::BIGINT AS ns,
        |    length(regexp_replace(regexp_replace(lower(text),
        |      '[aeiouy]+', 'V', 'g'), '[^V]', '', 'g'))::BIGINT AS vg,
        |    len(regexp_extract_all(lower(text),
        |      '[^ ]*[aeiouy][^ ]*'))::BIGINT AS vw
        |  FROM documents),
        |y AS (SELECT doc_id, nw, ns, vg + (nw - vw) AS sy,
        |    CAST(nw1 AS DOUBLE) / CAST(ns AS DOUBLE) AS wps,
        |    CAST(vg + (nw - vw) AS DOUBLE) / CAST(nw1 AS DOUBLE) AS spw
        |  FROM x)
        |SELECT doc_id AS id, nw AS n_words, ns AS n_sentences,
        |  sy AS n_syllables,
        |  206.835 - 1.015 * wps - 84.6 * spw AS flesch,
        |  0.39 * wps + 11.8 * spw - 15.59 AS fk_grade
        |FROM y ORDER BY id""".stripMargin)),
    // positioned 3-grams via window leads (full grams only), counts per
    // (doc, gram), per-doc max-struct argmax (ties to the larger gram —
    // binary string compare both engines), integer cross-multiplied flag
    "text_ngram_loop" -> Query(ngramLoopQ, Some(
      s"""WITH d AS (SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents),
         |tk AS (SELECT doc_id, CAST(i AS INTEGER) AS pos, toks[i] AS tok
         |  FROM d, UNNEST(generate_series(1, len(toks))) u(i)),
         |g AS (SELECT doc_id,
         |    tok || ' ' || lead(tok, 1) OVER w || ' '
         |      || lead(tok, 2) OVER w AS gram,
         |    lead(tok, 2) OVER w AS l2
         |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |gc AS (SELECT doc_id, gram, count(*) AS c FROM g
         |  WHERE l2 IS NOT NULL GROUP BY 1, 2),
         |pd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |    max(struct_pack(c := c, g := gram)) AS top
         |  FROM gc GROUP BY 1)
         |SELECT doc_id AS id, n_grams, CAST(top.c AS BIGINT) AS max_count,
         |  top.g AS top_gram, CAST(top.c AS DOUBLE) / n_grams AS loop_ratio,
         |  top.c * 100 >= n_grams * 50 AS is_loop
         |FROM pd ORDER BY id""".stripMargin)),
"text_token_stats" -> Query(tokenStats, Some(
      s"""WITH $toksCte
         |SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |  len(list_distinct(toks))::BIGINT AS n_distinct_tokens,
         |  CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE)
         |    / greatest(len(toks), 1) AS avg_token_len
         |FROM d ORDER BY doc_id""".stripMargin)),
    "text_quality_score" -> Query(qualityScore, Some(
      s"""WITH $toksCte,
         |c AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |  least(len(toks) / 20.0, 1.0) AS ls,
         |  CASE WHEN len(toks) > 0
         |    THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END AS dv,
         |  length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
         |    / greatest(length(text), 1) AS nw
         |  FROM d)
         |SELECT doc_id, n_tokens, round(ls, 6) AS length_score,
         |  round(dv, 6) AS diversity, round(nw, 6) AS non_word_ratio,
         |  round(ls * dv * (1.0 - nw), 6) AS quality_score
         |FROM c ORDER BY doc_id""".stripMargin)),
    "text_lang_id" -> Query(langId, Some(
      s"""WITH $toksCte,
         |p AS (SELECT doc_id, lang, $maxScoreSql AS __m,
         |             round($maxScoreSql, 6) AS lang_score, toks FROM d),
         |x AS (SELECT lang, $predictedSql AS predicted_lang, lang_score FROM p)
         |SELECT lang, predicted_lang, count(*) AS n_docs,
         |  min(lang_score) AS min_score, max(lang_score) AS max_score
         |FROM x GROUP BY lang, predicted_lang
         |ORDER BY lang, predicted_lang""".stripMargin)),
    // exact heavy hitters; threshold is the integer cross-multiply
    // freq*k > n_total, never a double division
    "text_heavy_hitters" -> Query(heavyHitters, Some(
      s"""WITH tok AS (
         |  SELECT t AS term
         |  FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         |  WHERE t <> ''),
         |tot AS (SELECT count(*) AS n_total FROM tok)
         |SELECT term, count(*) AS freq, n_total
         |FROM tok, tot GROUP BY term, n_total
         |HAVING count(*) * $HhK > n_total
         |ORDER BY freq DESC, term""".stripMargin)),
    "text_token_frequencies" -> Query(tokenFrequencies, Some(
      """WITH tok AS (
        |  SELECT doc_id AS id, t AS token
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  WHERE t <> '')
        |SELECT token, count(*) AS freq, count(DISTINCT id) AS n_docs
        |FROM tok GROUP BY token
        |ORDER BY freq DESC, token LIMIT 100""".stripMargin)),
    "text_regex_tokens" -> Query(regexTokens, Some(
      """WITH r AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS t
        |  FROM documents)
        |SELECT doc_id, len(t)::BIGINT AS n_tokens,
        |  len(list_distinct(t))::BIGINT AS n_distinct_tokens,
        |  len(list_filter(t, x -> regexp_matches(x, '^[0-9]+$')))::BIGINT
        |    AS n_number_tokens,
        |  len(list_filter(t, x -> regexp_matches(x, '^[^a-z0-9]$')))::BIGINT
        |    AS n_punct_tokens
        |FROM r ORDER BY doc_id""".stripMargin)),
    "text_edit_distance" -> Query(editDistance, Some(
      """SELECT a.doc_id,
        |  levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80))::BIGINT
        |    AS edit_distance
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin)),
    "text_fingerprint" -> Query(fingerprint, Some(
      s"""WITH $toksCte,
         |h AS (SELECT doc_id, list_transform(toks,
         |  t -> ('0x' || substr(md5(t), 1, 12))::BIGINT % ${TextAnalysis.FpMod}) AS hs
         |  FROM d)
         |SELECT doc_id,
         |  CAST(list_reduce(list_prepend(0::BIGINT, hs),
         |    (h, x) -> (h * 31 + x) % ${TextAnalysis.FpMod}) AS BIGINT)
         |    AS doc_fingerprint
         |FROM h ORDER BY doc_id""".stripMargin)),
    "text_bm25_topk" -> Query(bm25, Some(bm25Sql)),
    "text_bpe_encode" -> Query(bpeEncode, Some(bpeSql)),
    "text_bpe_learn" -> Query(bpeLearn, Some(bpeLearnSql)),
    // full fit replay: candidate inventory, top-`maxVocab` + single
    // chars, then per EM round a bounded recursion enumerating EVERY
    // segmentation of each ≤10-char word — the global (cost, path)
    // minimum equals the kernel's DP by the composable-tie-break
    // argument (separator chr(1) sorts below every letter)
    "text_unigram_lm" -> Query(unigramLm, Some({
      val ln2 = math.log(2.0)
      val roundCtes = (1 to UnigramRounds).map { r =>
        s"""seg$r AS (
           |  SELECT word, wc, 0 AS pos, CAST(0 AS DECIMAL(28,9)) AS cost,
           |    '' AS path
           |  FROM w
           |  UNION ALL
           |  SELECT s.word, s.wc, s.pos + length(v.piece),
           |    CAST(s.cost + v.cost AS DECIMAL(28,9)),
           |    CASE WHEN s.path = '' THEN v.piece
           |         ELSE s.path || chr(1) || v.piece END
           |  FROM seg$r s JOIN v${r - 1} v
           |    ON v.piece = substr(s.word, s.pos + 1, length(v.piece))
           |  WHERE s.pos < length(s.word)),
           |best$r AS (SELECT word, wc,
           |    struct_extract(min(struct_pack(c := cost, p := path)), 'p')
           |      AS path
           |  FROM seg$r WHERE pos = length(word) GROUP BY 1, 2),
           |use$r AS (SELECT piece, sum(wc) AS used FROM (
           |    SELECT wc, unnest(string_split(path, chr(1))) AS piece
           |    FROM best$r) GROUP BY 1),
           |tu$r AS (SELECT sum(used) AS tu FROM use$r),
           |v$r AS (SELECT v.piece,
           |    CAST(-round(ln((coalesce(u.used, 0) + 1.0)
           |        / (tu.tu + vt.vsz)) / $ln2, 9) AS DECIMAL(18,9))
           |      AS cost,
           |    CAST(coalesce(u.used, 0) AS BIGINT) AS used
           |  FROM v${r - 1} v LEFT JOIN use$r u USING (piece),
           |    tu$r tu, vt)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE
         |w AS (SELECT word, count(*) AS wc FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+', 0))
         |      AS word FROM documents)
         |  WHERE length(word) BETWEEN 1 AND $UnigramMaxWordLen
         |  GROUP BY word),
         |cand AS (SELECT substr(word, s, l) AS piece, sum(wc) AS cnt
         |  FROM w, UNNEST(generate_series(1, length(word))) a(s),
         |       UNNEST(generate_series(1, $UnigramMaxPieceLen)) b(l)
         |  WHERE s + l - 1 <= length(word) GROUP BY 1),
         |top AS (SELECT piece, cnt FROM cand
         |  ORDER BY cnt DESC, piece LIMIT $UnigramMaxVocab),
         |voc AS (SELECT DISTINCT piece, cnt FROM (
         |    SELECT * FROM top
         |    UNION ALL
         |    SELECT piece, cnt FROM cand WHERE length(piece) = 1)),
         |vt AS (SELECT sum(cnt) AS tot, count(*) AS vsz FROM voc),
         |v0 AS (SELECT piece,
         |    CAST(-round(ln(cnt * 1.0 / tot) / $ln2, 9) AS DECIMAL(18,9))
         |      AS cost
         |  FROM voc, vt),
         |$roundCtes
         |SELECT piece, CAST(length(piece) AS BIGINT) AS piece_len,
         |  used AS used_count, CAST(cost AS DOUBLE) AS cost_bits
         |FROM v$UnigramRounds ORDER BY piece""".stripMargin
    })),
    "text_compression_ratio" -> Query(compressionRatioQ, None))

  /** BPE LEARNING oracle: each round recounts adjacent pairs from the
    * previous state, takes the argmax (count DESC, then lexicographic
    * (a, b) — pure-ASCII symbols, binary collation on both engines), and
    * applies that single merge with the same greedy left-to-right CTE
    * machinery as [[bpeSql]] (rnk = 0 constant, so the min-rank guard
    * degenerates but the shape stays the verbatim twin).
    */
  private lazy val bpeLearnSql: String = {
    val rounds = (1 to BpeLearnRounds).map { r =>
      s"""j$r AS (SELECT doc_id, word_id, pos, sym,
         |    lead(sym) OVER (PARTITION BY doc_id, word_id ORDER BY pos)
         |      AS nxt
         |  FROM s${r - 1}),
         |b$r AS (SELECT sym AS a, nxt AS b, count(*) AS cnt, 0 AS rnk
         |  FROM j$r WHERE nxt IS NOT NULL GROUP BY sym, nxt
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |q$r AS (SELECT j.*, m.rnk FROM j$r j LEFT JOIN b$r m
         |  ON m.a = j.sym AND m.b = j.nxt),
         |o$r AS (SELECT *,
         |    min(rnk) OVER (PARTITION BY doc_id, word_id) AS minr
         |  FROM q$r),
         |c$r AS (SELECT *, (rnk IS NOT NULL AND rnk = minr) AS isocc,
         |    sum(CASE WHEN rnk IS NOT NULL AND rnk = minr
         |        THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id, word_id ORDER BY pos) AS occidx
         |  FROM o$r),
         |g$r AS (SELECT *, CASE WHEN isocc THEN pos - occidx END AS grp
         |  FROM c$r),
         |h$r AS (SELECT *, CASE WHEN isocc THEN pos -
         |      min(CASE WHEN isocc THEN pos END)
         |        OVER (PARTITION BY doc_id, word_id, grp) END AS runpos
         |  FROM g$r),
         |k$r AS (SELECT *, coalesce(isocc AND runpos % 2 = 0, false)
         |    AS mrg
         |  FROM h$r),
         |l$r AS (SELECT *, coalesce(lag(mrg)
         |      OVER (PARTITION BY doc_id, word_id ORDER BY pos), false)
         |    AS dropme
         |  FROM k$r),
         |s$r AS (SELECT doc_id, word_id,
         |    row_number() OVER (PARTITION BY doc_id, word_id
         |      ORDER BY pos) - 1 AS pos,
         |    CASE WHEN mrg THEN sym || nxt ELSE sym END AS sym
         |  FROM l$r WHERE NOT dropme)""".stripMargin
    }.mkString(",\n")
    val out = (1 to BpeLearnRounds).map(r =>
      s"SELECT ${r - 1} AS merge_rank, a, b, CAST(cnt AS BIGINT) AS pair_count FROM b$r")
      .mkString("\n", "\nUNION ALL ", "")
    s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+')
       |        AS ws FROM documents),
       |wd AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS word_id,
       |    ws[i] AS word
       |  FROM w, UNNEST(generate_series(1, len(ws))) u(i)),
       |s0 AS (SELECT doc_id, word_id, CAST(j - 1 AS INTEGER) AS pos,
       |    substr(word, j, 1) AS sym
       |  FROM wd, UNNEST(generate_series(1, length(word))) v(j)),
       |$rounds
       |SELECT * FROM ($out)
       |ORDER BY merge_rank""".stripMargin
  }

  /** BM25 oracle SQL, shared with the RRF fusion oracle
    * ([[SimilarityQueries]]) so both engines' lexical ranking comes from
    * one definition.
    */
  // lazy: referenced by the `registry` map declared above it (and by
  // SimilarityQueries) — a strict val would still be null at that point
  private[queries] lazy val bm25Sql: String = {
      val in = Bm25Terms.map(t => s"'$t'").mkString(", ")
      s"""WITH $toksCte,
         |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM d),
         |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         |h AS (SELECT doc_id, unnest(toks) AS term FROM d),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM h
         |       WHERE term IN ($in) GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |c AS (SELECT tf.doc_id,
         |        CAST(round(
         |          ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
         |            * tf.tf * 2.2
         |            / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl)),
         |          6) AS DECIMAL(18,6)) AS c
         |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id), st)
         |SELECT doc_id AS id, round(CAST(sum(c) AS DOUBLE), 6) AS bm25
         |FROM c GROUP BY 1 ORDER BY bm25 DESC, id LIMIT $Bm25K""".stripMargin
    }
}
