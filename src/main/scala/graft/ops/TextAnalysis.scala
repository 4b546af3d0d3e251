package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for training-data pipelines: token statistics,
  * document quality scoring, stopword-profile language ID, and document
  * fingerprinting. Everything is Column-expression code (codegen-friendly,
  * no UDFs); per-document stats are computed with array functions — zero
  * shuffles — while corpus-level stats aggregate once.
  */
object TextAnalysis {

  private def toks(textCol: Column): Column =
    filter(split(textCol, " "), t => t =!= "")

  /** Positioned n-grams of a BOUND token-array column as
    * `array<struct<w1..wn>>` — the token array zipped with itself at
    * offsets 1..n−1 (`slice` + `arrays_zip`, fully codegen'd). Replaces
    * the `transform(sequence(...), i => struct(element_at...))` lambda,
    * which evaluates INTERPRETED per element (and silently re-evaluates
    * any unbound token expression per access). Yields the exact same
    * gram multiset: short/empty docs produce an empty array, null token
    * arrays propagate null — both vanish at the consumer's `explode`,
    * exactly as the old `when(size >= n, ...)` guard did. */
  private[ops] def ngramZip(t: Column, n: Int): Column = {
    val len = greatest(size(t) - (n - 1), lit(0))
    arrays_zip((1 to n).map(j => slice(t, lit(j), len).as(s"w$j")): _*)
  }

  /** Degenerate-generation (n-gram loop) detector — the synthetic-data
    * filter that catches repetition-collapsed text ("the the the…",
    * sentence loops): per document, the most frequent n-gram's share of
    * all n-gram OCCURRENCES. Natural prose keeps the share low;
    * greedy-decode loops push it toward 1. The occurrence-counting
    * complement of the DISTINCT-gram dedup machinery
    * ([[graft.ops.Dedup.tokenSets]]) — dedup asks "does this gram
    * appear elsewhere", this asks "does ONE gram eat the document".
    *
    * Positioned grams come from `lead` over a per-document window (one
    * key-partitioned shuffle; documents are bounded, so no window task
    * ever sees more than one doc's tokens), counts from one
    * (doc, gram) groupBy, and the per-doc argmax is the
    * partial-aggregable max-struct (ties to the lexicographically
    * larger gram — binary compare on both engines). The loop flag is
    * the exact integer cross-multiply `max·100 ≥ pct·total`, never a
    * double threshold. Documents with fewer than n tokens have no
    * grams and are absent. Returns
    * (id, n_grams, max_count, top_gram, loop_ratio, is_loop).
    */
  def ngramLoop(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thresholdPct: Int = 50): DataFrame = {
    require(n >= 1 && n <= 8, s"ngramLoop: need 1 <= n <= 8, got $n")
    require(thresholdPct >= 1 && thresholdPct <= 100,
      s"ngramLoop: threshold must be a percent, got $thresholdPct")
    val base = df.select(col(idCol).as("id"),
      posexplode(toks(col(textCol))).as(Seq("__pos", "__tok")))
    val w = Window.partitionBy("id").orderBy("__pos")
    val parts = (0 until n).map {
      case 0 => col("__tok")
      case i => lead(col("__tok"), i).over(w)
    }
    val counts = base
      .select(col("id"), concat_ws(" ", parts: _*).as("__g"),
        parts.last.isNotNull.as("__full"))
      .filter(col("__full"))
      .groupBy("id", "__g").agg(count(lit(1)).as("__c"))
    counts.groupBy("id")
      .agg(sum("__c").as("n_grams"),
        max(struct(col("__c").as("c"), col("__g").as("g"))).as("__top"))
      .select(col("id"), col("n_grams"),
        col("__top.c").as("max_count"), col("__top.g").as("top_gram"),
        (col("__top.c").cast("double") / col("n_grams"))
          .as("loop_ratio"),
        (col("__top.c") * 100 >= col("n_grams") * thresholdPct)
          .as("is_loop"))
  }

  /** Per-document token statistics — computed entirely with array
    * expressions, no explode/shuffle.
    */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    df.select(
      col(idCol),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct_tokens"),
      (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") /
        greatest(size(t), lit(1))).as("avg_token_len"))
  }

  /** Heuristic quality score in [0,1]:
    * length component (saturating at `fullLengthTokens`), lexical diversity
    * (distinct/total), and a non-word-character penalty. The formula is
    * arbitrary-but-fixed; the point is the shape — cheap, per-row,
    * codegen'd — with every component exposed for downstream filtering.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String,
      fullLengthTokens: Int = 20): DataFrame = {
    val t = toks(col(textCol))
    val nTokens = size(t)
    val lengthScore = least(nTokens.cast("double") / fullLengthTokens, lit(1.0))
    val diversity = when(nTokens > 0,
      size(array_distinct(t)).cast("double") / nTokens).otherwise(lit(0.0))
    val nonWord = (length(regexp_replace(col(textCol), "[a-zA-Z0-9 ]", ""))
      .cast("double") / greatest(length(col(textCol)), lit(1)))
    df.select(
      col(idCol),
      nTokens.cast("long").as("n_tokens"),
      round(lengthScore, 6).as("length_score"),
      round(diversity, 6).as("diversity"),
      round(nonWord, 6).as("non_word_ratio"),
      round(lengthScore * diversity * (lit(1.0) - nonWord), 6).as("quality_score"))
  }

  /** Corpus-level token frequencies (one explode + one shuffle). */
  def tokenFrequencies(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), explode(toks(col(textCol))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"), countDistinct(col("id")).as("n_docs"))

  /** Polynomial rolling fingerprint of the token sequence (order-sensitive,
    * unlike the set-based dedup hashes):
    * `h = fold(tokens, 0, (h, t) -> (h·31 + hash(t)) mod (2³¹−1))`.
    * Modular arithmetic keeps every intermediate well inside Long range —
    * ANSI mode (Spark 4 default) would throw on a wrap-around multiply.
    * Expression-only, distributed, no shuffle.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    fingerprintWith(df, idCol, textCol, t => pmod(xxhash64(t), lit(FpMod)))

  /** [[fingerprint]] with an md5-derived 48-bit token hash instead of
    * xxhash64 — slower, but every step is ANSI-SQL-expressible for the
    * DuckDB oracle. Production path stays on xxhash64.
    */
  def fingerprintMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    fingerprintWith(df, idCol, textCol,
      t => pmod(graft.functions.Kernels.md5hash48(t), lit(FpMod)))

  /** 2^31 − 1 (Mersenne prime) — rolling-hash modulus; keeps h·31 + tokHash
    * well inside Long.
    */
  val FpMod: Long = 2147483647L

  private def fingerprintWith(df: DataFrame, idCol: String, textCol: String,
      tokHash: Column => Column): DataFrame =
    df.select(col(idCol),
      aggregate(toks(col(textCol)), lit(0L),
        (h, t) => pmod(h * 31L + tokHash(t), lit(FpMod)))
        .as("doc_fingerprint"))

  /** BPE-ish regex tokenization: letter runs, digit runs, and single
    * punctuation marks as separate tokens (the pre-tokenization shape GPT-2
    * class BPE vocabularies apply before merges). One `regexp_extract_all`
    * per row — codegen'd, no shuffle.
    */
  val BpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def regexTokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = regexp_extract_all(lower(col(textCol)), lit(BpeishPattern), lit(0))
    df.select(
      col(idCol),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct_tokens"),
      size(filter(t, x => x.rlike("^[0-9]+$"))).cast("long").as("n_number_tokens"),
      size(filter(t, x => x.rlike("^[^a-z0-9]$"))).cast("long").as("n_punct_tokens"))
  }

  /** Within-document repetition signals — the token-level analogue of the
    * Gopher repetition filters (Rae et al. 2021, "Scaling Language Models:
    * ... Gopher", §A1.1: documents dominated by a few repeated n-grams are
    * low-quality training data):
    *  - `top_ngram_frac`: occurrences of the single most frequent n-gram /
    *    total n-gram occurrences;
    *  - `dup_ngram_frac`: fraction of n-gram occurrences beyond each
    *    gram's first (0 ⇔ all n-grams distinct).
    * Pure array expressions per row — no explode, no shuffle. The top-gram
    * count is the longest equal run of the SORTED gram array (one
    * `array_sort` + one linear `aggregate` pass, O(t log t) per document),
    * not a distinct×total rescan, which is quadratic on repetitive
    * documents — exactly the ones this filter exists to catch.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      n: Int = 2): DataFrame = {
    // tokens land in a BOUND column first: an inline `filter(split(...))`
    // tree would be re-evaluated by every element access inside the
    // transform lambda below (no common-subexpression elimination across
    // lambda calls) — O(len²) per document
    val t = col("__t")
    val withToks = df.select(col(idCol), toks(col(textCol)).as("__t"))
    val starts = when(size(t) >= n, sequence(lit(0), size(t) - n))
      .otherwise(array().cast("array<int>"))
    // counting only needs gram EQUALITY, so each gram is reduced to one
    // 64-bit hash of its n token positions — no per-gram array slice, no
    // string concat, and the sort/distinct compare longs, not strings
    // (collision odds ~k²·2⁻⁶⁵ per doc — immaterial, and the oracle's
    // string-true counts have matched at every scale factor; token tuples
    // and space-joined grams induce the same equality classes because
    // tokens cannot contain the split character)
    val grams = transform(starts,
      i => xxhash64((1 to n).map(j => element_at(t, i + j)): _*))
    // longest equal run in the sorted array == max occurrence count
    val topCount = aggregate(
      array_sort(col("__g")),
      struct(lit(null).cast("long").as("prev"), lit(0L).as("run"),
        lit(0L).as("best")),
      (s, x) => {
        val run = when(x === s.getField("prev"), s.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(s.getField("best"), run).as("best"))
      },
      s => s.getField("best"))
    withToks.select(col(idCol), grams.as("__g"))
      .select(
        col(idCol),
        size(col("__g")).cast("long").as("n_ngrams"),
        round(when(size(col("__g")) > 0,
          topCount.cast("double") / size(col("__g")))
          .otherwise(0.0), 6).as("top_ngram_frac"),
        round(when(size(col("__g")) > 0,
          (size(col("__g")) - size(array_distinct(col("__g")))).cast("double") /
            size(col("__g")))
          .otherwise(0.0), 6).as("dup_ngram_frac"))
  }

  /** Character n-gram set of a text column (the language-ID feature the
    * token-profile heuristic upgrades to): lowercased, whitespace
    * collapsed to '_' so word boundaries carry signal.
    */
  def charNgrams(textCol: Column, n: Int): Column = {
    val norm = regexp_replace(lower(textCol), "\\s+", "_")
    val starts = when(length(norm) >= n, sequence(lit(1), length(norm) - (n - 1)))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(starts, i => substring(norm, i, lit(n))))
  }

  /** Char-n-gram profile language ID: same argmax machinery as [[langId]]
    * but scored on character trigram overlap — robust to languages without
    * whitespace tokenization. Profiles are (lang, representative texts);
    * their trigram sets are built inline as literals.
    */
  def langIdCharNgrams(df: DataFrame, idCol: String, textCol: String,
      profiles: Seq[(String, Seq[String])], n: Int = 3): DataFrame = {
    val docGrams = charNgrams(col(textCol), n)
    val scored = profiles.map { case (langCode, texts) =>
      val profileGrams = texts
        .flatMap(t => t.toLowerCase.replaceAll("\\s+", "_").sliding(n).toSeq)
        .distinct
      val profileLit = array(profileGrams.map(lit): _*)
      struct(
        (size(array_intersect(docGrams, profileLit)).cast("double") /
          greatest(size(docGrams), lit(1))).as("score"),
        lit(langCode).as("lang"))
    }
    df.select(col(idCol),
      array_max(array(scored: _*)).getField("lang").as("predicted_lang"),
      round(greatest(scored.map(_.getField("score")): _*), 6).as("lang_score"))
  }

  /** Multi-profile heuristic language ID: score each candidate profile by
    * distinct-stopword hit ratio, pick the argmax. Ties resolve to the
    * lexicographically LAST language code (`array_max` over (score, lang)
    * structs compares score first, then lang — deterministic, and what the
    * TextQueries oracle mirrors). Per-row array expressions only — no
    * shuffle, codegen'd; swap in real char-n-gram profiles at will.
    */
  def langId(df: DataFrame, idCol: String, textCol: String,
      profiles: Seq[(String, Seq[String])]): DataFrame = {
    val distinctToks = array_distinct(toks(col(textCol)))
    val scored = profiles.map { case (langCode, words) =>
      val profileLit = array(words.map(lit): _*)
      struct(
        (size(array_intersect(distinctToks, profileLit)).cast("double") /
          greatest(size(distinctToks), lit(1))).as("score"),
        lit(langCode).as("lang"))
    }
    df.select(col(idCol),
      array_max(array(scored: _*)).getField("lang").as("predicted_lang"),
      round(greatest(scored.map(_.getField("score")): _*), 6).as("lang_score"))
  }

  /** Okapi BM25 ranking of the corpus against a bag of query terms —
    * the lexical-retrieval half of a RAG / hard-negative-mining pipeline
    * (Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework").
    *
    * Per-term score: `idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))`
    * with `idf = ln(1 + (N−df+0.5)/(df+0.5))`.
    *
    * Shape at scale: the corpus explode is filtered to the query terms
    * BEFORE the (doc, term) count — the only wide shuffle runs over rows
    * that actually contain a query term. Document length comes from a
    * per-row expression; N/avgdl arrive as a broadcast one-row aggregate
    * (no collect). Per-term contributions are rounded to 6 dp and summed
    * in exact DECIMAL so the per-document score is bit-identical on any
    * engine and partitioning (FP sum order never leaks into the output).
    *
    * Returns the top-k (id, bm25) by (score desc, id).
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val qlit = array(queryTerms.map(lit): _*)
    val docs = df.select(col(idCol).as("id"),
      toks(col(textCol)).as("__toks"))
    val dl = docs.select(col("id"), size(col("__toks")).cast("long").as("dl"))
    val hits = docs
      .select(col("id"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    val tf = hits.groupBy("id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val contrib = tf
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("c",
        round(col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))),
          6).cast(DecimalType(18, 6)))
    contrib.groupBy("id")
      .agg(round(sum(col("c")).cast("double"), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("id"))
      .limit(k)
  }

  /** Corpus-relative novelty score: the mean self-information (in bits) of
    * a document's distinct tokens under the corpus document-frequency
    * model, `mean(−log₂(df(t)/N))` — the curation signal that separates
    * template/boilerplate documents (all-common tokens → near 0 bits) from
    * novel or noisy ones (rare tokens → high bits). The high tail is where
    * gibberish and unique content both live; the low tail is what mixture
    * dedup misses because no two boilerplate docs are exact copies.
    *
    * One (doc, token) distinct explode + one df aggregate joined back on
    * the token; N is a 1-row broadcast. Per-token bit contributions round
    * to 9 dp and sum in exact DECIMAL, so the per-doc mean is
    * order-independent and engine-exact. Returns
    * (idCol, n_grams, novelty_bits).
    */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(array_distinct(toks(col(textCol)))).as("token"))
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    tok.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("__bits",
        round(-log(col("df").cast("double") / col("n_docs")) /
          lit(math.log(2.0)), 9).cast(DecimalType(18, 9)))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        round((sum(col("__bits")).cast("double") / count(lit(1))), 6)
          .as("novelty_bits"))
      .select(col("id").as(idCol), col("n_grams"), col("novelty_bits"))
  }

  /** Cross-document duplicated-n-gram coverage — the tractable stand-in
    * for exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": long substrings repeated across
    * documents are memorization fuel). A suffix array over 100 TB is not a
    * Spark-shaped computation; the per-document *coverage fraction* of
    * positions whose n-gram also occurs in some OTHER document is, and it
    * is the per-doc signal the span-removal pass would act on.
    *
    * Shape at scale: positioned grams collapse map-side to one
    * (doc, gram-hash, count) row per doc-distinct gram BEFORE any shuffle
    * — the only wide exchanges are the (doc, gram) count and the gram df
    * aggregate over that already-deduped relation, then a join back on the
    * gram hash (the TF-IDF exchange family). Gram identity is one 64-bit
    * xxhash64 of the token window — no string materialization per
    * position, same collision argument as [[repetitionStats]]. Returns
    * (idCol, n_positions, n_dup_positions, dup_coverage) for documents
    * with ≥ 1 n-gram.
    */
  def dupNgramCoverage(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val t = col("__t")
    val withToks = df.select(col(idCol).as("doc_id"),
      toks(col(textCol)).as("__t"))
    // positioned grams via ngramZip (codegen'd), gram hash computed
    // post-explode — same values, no interpreted per-element lambda
    val occ = withToks
      .select(col("doc_id"), explode(ngramZip(t, n)).as("g"))
      .select(col("doc_id"),
        xxhash64((1 to n).map(j => col(s"g.w$j")): _*).as("gh"))
      .groupBy("doc_id", "gh")
      .agg(count(lit(1)).as("c"))
    val gramDf = occ.groupBy("gh").agg(count(lit(1)).as("df"))
    occ.join(gramDf, "gh")
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_positions"),
        sum(when(col("df") >= 2, col("c")).otherwise(0L))
          .as("n_dup_positions"))
      .select(col("doc_id").as(idCol), col("n_positions"),
        col("n_dup_positions"),
        round(col("n_dup_positions").cast("double") / col("n_positions"), 6)
          .as("dup_coverage"))
  }

  /** Corpus-fit bigram language-model cross-entropy (bits/token) — the
    * KenLM-style perplexity axis of data curation (CCNet, Wenzek et al.
    * 2020 filter web text by LM perplexity): documents far from the
    * corpus' own bigram statistics are gibberish (high bits) or degenerate
    * boilerplate (near-zero bits). Add-one smoothing over the corpus
    * vocabulary: `P(w₂|w₁) = (C(w₁w₂)+1) / (C(w₁·)+V)` where `C(w₁·)`
    * counts w₁'s occurrences as a bigram context and V is the corpus
    * vocabulary size.
    *
    * Shape at scale: one positioned-bigram explode collapsed map-side to
    * per-doc counts; the model tables (bigram counts, context counts) are
    * aggregates OF that relation — they reuse its exchange — and join back
    * by shuffle on the bigram (vocabulary² can exceed any broadcast cap; a
    * broadcast hint would be the N42 TF-IDF mistake). V and the 1-row
    * corpus stats broadcast. Per-position bit contributions round to 9 dp
    * and weight-sum in exact DECIMAL → order-independent, engine-exact
    * means. Returns (idCol, n_bigrams, bits_per_token) for documents with
    * ≥ 1 bigram.
    */
  def bigramLmBits(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col("__t")
    val withToks = df.select(col(idCol).as("doc_id"),
      toks(col(textCol)).as("__t"))
    val bigrams = ngramZip(t, 2)
    val occ = withToks
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("c"))
    val bigramCnt = occ.groupBy("w1", "w2").agg(sum(col("c")).as("bc"))
    val contextCnt = occ.groupBy("w1").agg(sum(col("c")).as("uc"))
    val vocab = df
      .select(explode(array_distinct(toks(col(textCol)))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    occ.join(bigramCnt, Seq("w1", "w2"))
      .join(contextCnt, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__bits",
        round(-log((col("bc") + 1.0) / (col("uc") + col("v"))) /
          lit(math.log(2.0)), 9).cast(DecimalType(18, 9)))
      .groupBy("doc_id")
      // c stays DECIMAL(10,0): a LONG multiplicand would push the product
      // past precision 38 and Spark would silently round the scale to 8 dp
      // (DuckDB keeps it exact) — a +5e-9 HALF_UP bias per product that
      // flips ~1e-3 of per-doc means across their 6 dp boundary
      .agg(sum(col("c")).as("n_bigrams"),
        round(sum(col("__bits") * col("c").cast(DecimalType(10, 0)))
          .cast("double") / sum(col("c")), 6).as("bits_per_token"))
      .select(col("doc_id").as(idCol), col("n_bigrams"),
        col("bits_per_token"))
  }

  /** Per-DOMAIN held-out language-model hardness — the measurement a
    * loss-aware mixture policy consumes (DoReMi, Xie et al. 2023, weighs
    * domains by excess proxy loss; CCNet buckets by LM perplexity): an
    * add-one bigram model fits on the TRAIN folds (md5 doc split, the
    * [[graft.ops.EventOps.markovPerplexity]] discipline — no
    * within-document leakage) and held-out documents score against it,
    * aggregated per domain. Unseen contexts/bigrams ride the smoothing
    * floor: bits = −log₂((C_train(w₁w₂)+1)/(C_train(w₁·)+V)) with V =
    * the TRAIN vocabulary, zero counts via left joins.
    *
    * Shape at scale: one positioned-bigram explode collapsed map-side to
    * per-(doc, bigram) counts; the train model tables are aggregates OF
    * that relation (filtered to train folds — they reuse its exchange)
    * and join back by shuffle on the bigram (vocabulary² can exceed any
    * broadcast cap); the domain rollup is one bounded groupBy. Bit
    * contributions round 9 dp and weight-sum in exact DECIMAL.
    * Returns (domainCol, n_docs, n_bigrams, bits_per_token) over test
    * docs with ≥ 1 bigram; bits_per_token is the domain's pooled
    * per-token mean, 6 dp.
    */
  def domainHardness(df: DataFrame, idCol: String, textCol: String,
      domainCol: String, folds: Int = 4): DataFrame = {
    require(folds >= 2, "need >= 2 folds (last is held out)")
    val t = col("__t")
    val withToks = df.select(col(idCol).as("doc_id"),
        col(domainCol).as("__dom"), toks(col(textCol)).as("__t"))
      .withColumn("__fold", Prep.hashBucket(col("doc_id"), folds))
    val bigrams = ngramZip(t, 2)
    val occ = withToks
      .select(col("doc_id"), col("__dom"), col("__fold"),
        explode(bigrams).as("bg"))
      .select(col("doc_id"), col("__dom"), col("__fold"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("doc_id", "__dom", "__fold", "w1", "w2")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val train = occ.filter(col("__fold") < folds - 1)
    val bigramCnt = train.groupBy("w1", "w2").agg(sum(col("c")).as("bc"))
    val contextCnt = train.groupBy("w1").agg(sum(col("c")).as("uc"))
    val vocab = withToks.filter(col("__fold") < folds - 1)
      .select(explode(array_distinct(t)).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    occ.filter(col("__fold") === folds - 1)
      .join(bigramCnt, Seq("w1", "w2"), "left")
      .join(contextCnt, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("__bits",
        round(-log((coalesce(col("bc"), lit(0L)) + 1.0) /
            (coalesce(col("uc"), lit(0L)) + col("v"))) /
          lit(math.log(2.0)), 9).cast(DecimalType(18, 9)))
      .groupBy(col("__dom"))
      // c stays DECIMAL(10,0): the [[bigramLmBits]] precision-38 rule
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("c")).as("n_bigrams"),
        round(sum(col("__bits") * col("c").cast(DecimalType(10, 0)))
          .cast("double") / sum(col("c")), 6).as("bits_per_token"))
      .select(col("__dom").as(domainCol), col("n_docs"),
        col("n_bigrams"), col("bits_per_token"))
  }

  /** FULL-ROTATION cross-validated [[domainHardness]] — every document
    * scored held-out, not just the last fold: fold f's training model is
    * the SUBTRACTION total − fold-f counts (the
    * [[graft.ops.TokenModels.naiveBayesCrossVal]] leave-one-fold-out-by-
    * arithmetic discipline), so all folds train SIMULTANEOUSLY from ONE
    * count pass — never a per-fold corpus re-read. Scoring 4× the
    * held-out mass halves the per-domain estimate's variance vs the
    * single-fold [[domainHardness]] (and the fold=folds−1 slice is
    * BIT-IDENTICAL to it — same train folds — the spec's equivalence
    * pin).
    *
    * Train-vocabulary subtraction needs care only for V: a token counts
    * for fold f's vocabulary iff it appears in ANY other fold, so
    * V_f = V_all − |tokens exclusive to fold f| (exclusivity from one
    * bounded (token → min/max fold) aggregate — no per-fold distinct
    * pass).
    *
    * Shape at scale: the same ONE positioned-bigram explode and
    * (doc, bigram) count shuffle as [[domainHardness]]; the model
    * tables are aggregates OF that relation with the fold riding as a
    * key, joined back on the same (w1, w2) / (w1) exchanges; the fold
    * vocabulary is a ≤folds-row broadcast. Returns one row per
    * (domainCol, fold): (domainCol, fold, n_docs, n_bigrams,
    * bits_per_token) over held-out docs with ≥ 1 bigram.
    */
  def domainHardnessCv(df: DataFrame, idCol: String, textCol: String,
      domainCol: String, folds: Int = 4): DataFrame =
    domainHardnessCvScored(df, idCol, textCol, domainCol, folds)
      .groupBy(col("__dom"), col("__fold"))
      // c stays DECIMAL(10,0): the [[bigramLmBits]] precision-38 rule
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("c")).as("n_bigrams"),
        round(sum(col("__bits") * col("c").cast(DecimalType(10, 0)))
          .cast("double") / sum(col("c")), 6).as("bits_per_token"))
      .select(col("__dom").as(domainCol), col("__fold").as("fold"),
        col("n_docs"), col("n_bigrams"), col("bits_per_token"))

  /** [[domainHardnessCv]] POOLED across the rotation — one row per
    * domain over 4× the held-out mass of [[domainHardness]] (measured:
    * per-fold sd 0.0027 bits at sf0.1, so the pooled estimate roughly
    * halves the single-fold noise) — the tighter signal a DoReMi
    * reweighting should actually consume. Same shape as
    * [[domainHardness]]: (domainCol, n_docs, n_bigrams,
    * bits_per_token).
    */
  def domainHardnessCvPooled(df: DataFrame, idCol: String,
      textCol: String, domainCol: String, folds: Int = 4): DataFrame =
    domainHardnessCvScored(df, idCol, textCol, domainCol, folds)
      .groupBy(col("__dom"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        sum(col("c")).as("n_bigrams"),
        round(sum(col("__bits") * col("c").cast(DecimalType(10, 0)))
          .cast("double") / sum(col("c")), 6).as("bits_per_token"))
      .select(col("__dom").as(domainCol), col("n_docs"),
        col("n_bigrams"), col("bits_per_token"))

  /** The rotated held-out scoring core shared by [[domainHardnessCv]]
    * and [[domainHardnessCvPooled]]: per test occ row, bits against the
    * count-subtracted leave-one-fold-out model. Returns
    * (doc_id, __dom, __fold, c, __bits).
    */
  private def domainHardnessCvScored(df: DataFrame, idCol: String,
      textCol: String, domainCol: String, folds: Int): DataFrame = {
    require(folds >= 2, "need >= 2 folds")
    val t = col("__t")
    val withToks = df.select(col(idCol).as("doc_id"),
        col(domainCol).as("__dom"), toks(col(textCol)).as("__t"))
      .withColumn("__fold", Prep.hashBucket(col("doc_id"), folds))
    val bigrams = ngramZip(t, 2)
    val occ = withToks
      .select(col("doc_id"), col("__dom"), col("__fold"),
        explode(bigrams).as("bg"))
      .select(col("doc_id"), col("__dom"), col("__fold"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("doc_id", "__dom", "__fold", "w1", "w2")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cf = occ.groupBy("w1", "w2", "__fold").agg(sum(col("c")).as("__cf"))
    val bcAll = cf.groupBy("w1", "w2").agg(sum(col("__cf")).as("__bc"))
    val ucf = cf.groupBy("w1", "__fold").agg(sum(col("__cf")).as("__ucf"))
    val ucAll = ucf.groupBy("w1").agg(sum(col("__ucf")).as("__uc"))
    val perTok = withToks
      .select(col("__fold"), explode(array_distinct(t)).as("__tok"))
      .groupBy("__tok")
      .agg(min(col("__fold")).as("__mnf"), max(col("__fold")).as("__mxf"))
    val vAll = perTok.agg(count(lit(1)).as("__vall"))
    val excl = perTok.filter(col("__mnf") === col("__mxf"))
      .groupBy(col("__mnf").as("__fold")).agg(count(lit(1)).as("__excl"))
    val foldVocab = df.sparkSession.range(folds)
      .select(col("id").cast("long").as("__fold"))
      .join(excl, Seq("__fold"), "left")
      .crossJoin(broadcast(vAll))
      .select(col("__fold"),
        (col("__vall") - coalesce(col("__excl"), lit(0L))).as("__v"))
    occ
      .join(bcAll, Seq("w1", "w2"))
      .join(cf, Seq("w1", "w2", "__fold"))
      .join(ucAll, Seq("w1"))
      .join(ucf, Seq("w1", "__fold"))
      .join(broadcast(foldVocab), Seq("__fold"))
      .withColumn("__bits",
        round(-log((col("__bc") - col("__cf") + 1.0) /
            (col("__uc") - col("__ucf") + col("__v"))) /
          lit(math.log(2.0)), 9).cast(DecimalType(18, 9)))
      .select(col("doc_id"), col("__dom"), col("__fold"), col("c"),
        col("__bits"))
  }

  /** Code-switching / language-mixing audit: language-ID every
    * fixed-size token chunk of a document ([[graft.ops.Prep.chunkText]] →
    * [[langId]]) and summarize the per-document language distribution —
    * the corpus-QA read a document-level language label hides (a "90% en"
    * doc whose tail is another language poisons monolingual slices, and
    * mixed documents are exactly what document-level ID mislabels).
    *
    * Shape at scale: chunking is a per-row bounded explode (zero
    * shuffle), per-chunk ID is pure codegen'd array expressions, and the
    * summary is two partial-aggregable groupBys ((doc, lang) counts, then
    * per-doc max-struct majority with ties to the later language code —
    * the [[langId]] argmax convention). Returns (doc_id, n_chunks,
    * n_langs, majority_lang, majority_ratio, mixed).
    */
  def langMixing(docs: DataFrame, idCol: String, textCol: String,
      profiles: Seq[(String, Seq[String])], chunkTokens: Int): DataFrame = {
    val chunks = Prep.chunkText(docs, idCol, textCol, chunkTokens,
      chunkTokens)
    val scored = langId(chunks, "doc_id", "chunk_text", profiles)
    scored.groupBy(col("doc_id"), col("predicted_lang"))
      .agg(count(lit(1)).as("__c"))
      .groupBy("doc_id")
      .agg(sum(col("__c")).as("n_chunks"),
        count(lit(1)).as("n_langs"),
        max(struct(col("__c"), col("predicted_lang"))).as("__best"))
      .select(col("doc_id"), col("n_chunks"), col("n_langs"),
        col("__best.predicted_lang").as("majority_lang"),
        round(col("__best.__c").cast("double") / col("n_chunks"), 9)
          .as("majority_ratio"),
        (col("n_langs") > 1).as("mixed"))
  }

  /** fastText subword features (Bojanowski et al. 2017): every distinct
    * corpus term maps to the hashed buckets of its boundary-marked char
    * n-grams (`<where>` → `<wh, whe, her, ere, re>` at n = 3) — the
    * embedding-table input that gives OOV words a representation (sum of
    * subword vectors) and lets morphologically-related forms share
    * parameters. Buckets come from the engine-portable md5 hashBucket, so
    * the feature table regenerates identically anywhere — the same
    * broadcast-legitimacy argument as every hashed model here: the output
    * is VOCABULARY × (len+2−n+1) rows regardless of corpus size, and the
    * one shuffle is the distinct-term collapse.
    *
    * Returns (term, pos, ngram, bucket) — one row per subword occurrence
    * slot, pos 0-based within the bracketed form.
    */
  def subwordBuckets(docs: DataFrame, textCol: String, n: Int = 3,
      buckets: Int = 2048): DataFrame = {
    require(n >= 2, s"n must be >= 2: $n")
    require(buckets > 1, s"buckets must be > 1: $buckets")
    docs.select(explode(toks(col(textCol))).as("term")).distinct()
      .withColumn("__b", concat(lit("<"), col("term"), lit(">")))
      .select(col("term"), posexplode(
        transform(sequence(lit(1), length(col("__b")) - (n - 1)),
          i => col("__b").substr(i, lit(n)))).as(Seq("pos", "ngram")))
      .withColumn("bucket", Prep.hashBucket(col("ngram"), buckets))
  }

  /** Jensen–Shannon divergence between corpus slices' token
    * distributions (Lin 1991) — the drift/contamination read for TEXT
    * that PSI/Wasserstein/TV give numeric columns: how far apart two
    * languages, sources, or time slices are as unigram distributions.
    * JS is symmetric, bounded in [0, 1] bits (spec-pinned), and zero iff
    * the smoothed distributions coincide — the right pairwise corpus
    * fingerprint for mixture planning and "did the crawl shift" audits.
    *
    * Distributions live on a FIXED hashed-vocabulary grid (the
    * [[graft.ops.TokenModels.dsirWeights]] discipline — a raw web
    * vocabulary never broadcasts; `buckets` rows per slice always do)
    * with add-one smoothing so every bucket is strictly positive.
    * Per-bucket contributions
    * `(p·log₂(p/m) + q·log₂(q/m))/2`, m = (p+q)/2, spend a FIXED IEEE
    * sequence rounded to 9 dp and sum in exact DECIMAL (PMI ln rule,
    * ln 2 as the shared Scala literal); the final per-pair value rounds
    * at 6 dp. One (slice, bucket) shuffle; the pair relation is
    * slices² × buckets — model-sized, never corpus-sized. Returns
    * (slice_a, slice_b, n_tokens_a, n_tokens_b, js_bits) for
    * slice_a < slice_b.
    */
  def jsDivergence(df: DataFrame, sliceCol: String, textCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets > 1, s"buckets must be > 1: $buckets")
    val occ = df.select(col(sliceCol).cast("string").as("slice"),
        explode(toks(col(textCol))).as("tok"))
      .select(col("slice"), Prep.hashBucket(col("tok"), buckets).as("bucket"))
      .groupBy("slice", "bucket").agg(count(lit(1)).as("n"))
    val totals = occ.groupBy("slice").agg(sum(col("n")).as("tot"))
    val grid = df.sparkSession.range(buckets)
      .select(col("id").cast("int").as("bucket"))
    val dense = totals.crossJoin(grid)
      .join(occ, Seq("slice", "bucket"), "left")
      .select(col("slice"), col("bucket"), col("tot"),
        coalesce(col("n"), lit(0L)).as("n"))
    val a = dense.select(col("slice").as("slice_a"), col("bucket"),
      col("n").as("__na"), col("tot").as("__ta"))
    val b = dense.select(col("slice").as("slice_b"), col("bucket"),
      col("n").as("__nb"), col("tot").as("__tb"))
    val p = (col("__na") + 1.0) / (col("__ta") + buckets)
    val q = (col("__nb") + 1.0) / (col("__tb") + buckets)
    val m = (p + q) / 2.0
    val ln2 = lit(math.log(2.0))
    val contrib = round(
      (p * (log(p / m) / ln2) + q * (log(q / m) / ln2)) / 2.0, 9)
      .cast(DecimalType(18, 9))
    a.join(b, Seq("bucket"))
      .filter(col("slice_a") < col("slice_b"))
      .groupBy("slice_a", "slice_b")
      .agg(max(col("__ta")).as("n_tokens_a"),
        max(col("__tb")).as("n_tokens_b"),
        round(sum(contrib).cast("double"), 6).as("js_bits"))
  }

  /** Interpolated Kneser–Ney bigram cross-entropy (Kneser & Ney 1995;
    * the KenLM smoothing CCNet actually ships, where [[bigramLmBits]]'s
    * add-one is the didactic baseline): P(w₂|w₁) =
    * max(c₁₂−d, 0)/c₁ + d·N₁₊(w₁•)/c₁ · N₁₊(•w₂)/N₁₊(••) with the
    * discount FIXED at d = 3/4 — chosen so the whole probability is ONE
    * rational number: p = ((4·c₁₂−3)·B + 3·N₁₊(w₁•)·N₁₊(•w₂)) /
    * (4·c₁·B), B = total distinct bigram types. Numerator/denominator
    * build in exact DECIMAL(38,0) integer arithmetic (a Long product
    * overflows on a 100 TB vocabulary), so the single `-ln(num/den)/ln 2`
    * per distinct bigram is the only IEEE step — the [[bigramLmBits]]
    * discipline, with ln 2 inlined as the same Scala double literal in
    * plan AND oracle. Scored bigrams are by construction observed
    * (c₁₂ ≥ 1), so no backoff branch is live.
    *
    * Shape at scale: the (w₁,w₂) count relation serves FOUR model reads —
    * bigram count, context totals + continuation fan-out N₁₊(w₁•) in one
    * groupBy, word fan-in N₁₊(•w₂), and the 1-row type total — all
    * map-side collapsible, all joined back by shuffle (vocab² beats any
    * broadcast cap, the N90 rule). Per-doc mean weights 9-dp bit
    * contributions by DECIMAL(10,0) occurrence counts (the precision-38
    * scale-loss guard). Returns (doc_id→idCol, n_bigrams,
    * bits_per_token).
    */
  def knBigramBits(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = col("__t")
    val withToks = df.select(col(idCol).as("doc_id"),
      toks(col(textCol)).as("__t"))
    val bigrams = ngramZip(t, 2)
    val occ = withToks
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("c"))
    val bigramCnt = occ.groupBy("w1", "w2").agg(sum(col("c")).as("bc"))
      .localCheckpoint()
    // context totals AND continuation fan-out from the SAME tiny relation
    val w1Stats = bigramCnt.groupBy("w1")
      .agg(sum(col("bc")).as("uc"), count(lit(1)).as("n1p"))
    val w2Fan = bigramCnt.groupBy("w2").agg(count(lit(1)).as("nc"))
    val types = bigramCnt.agg(count(lit(1)).as("nbt"))
    val big = DecimalType(38, 0)
    val num = ((col("bc") * 4 - 3).cast(big) * col("nbt") +
      (col("n1p") * 3).cast(big) * col("nc"))
    val den = (col("uc") * 4).cast(big) * col("nbt")
    occ.join(bigramCnt, Seq("w1", "w2"))
      .join(w1Stats, Seq("w1"))
      .join(w2Fan, Seq("w2"))
      .crossJoin(broadcast(types))
      .withColumn("__bits",
        round(-log(num.cast("double") / den.cast("double")) /
          lit(math.log(2.0)), 9).cast(DecimalType(18, 9)))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_bigrams"),
        round(sum(col("__bits") * col("c").cast(DecimalType(10, 0)))
          .cast("double") / sum(col("c")), 6).as("bits_per_token"))
      .select(col("doc_id").as(idCol), col("n_bigrams"),
        col("bits_per_token"))
  }

  /** Per-document compression-ratio quality signal
    * ([[graft.functions.DeflateLength]] kernel): deflate_bytes / n_bytes
    * at zlib level 6 — repetitive boilerplate compresses far below
    * fluent prose (measured well under 0.5), random gibberish sits above
    * it; pipelines threshold both tails (the redundancy read of Rae
    * 2021's repetition rules without any n-gram machinery). Zero
    * shuffle — one codegen'd kernel call per row; rows-only at the
    * correctness gate (zlib has no SQL twin), determinism and the
    * repetitive < prose < random ordering are spec-pinned. Returns
    * (idCol, n_bytes, deflate_bytes, compression_ratio).
    */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame =
    df.select(col(idCol), octet_length(col(textCol)).cast("long")
        .as("n_bytes"),
      call_function("graft_deflate_len", col(textCol), lit(level))
        .as("deflate_bytes"))
      .withColumn("compression_ratio",
        when(col("n_bytes") > 0,
          round(col("deflate_bytes").cast("double") / col("n_bytes"), 9))
          .otherwise(lit(0.0)))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    * every document's bits-per-token under a PER-SLICE (per-language)
    * interpolated Kneser–Ney bigram model — the [[knBigramBits]]
    * arithmetic with `sliceCol` threaded through every model key, so one
    * pass fits all languages' models at once instead of a per-language
    * driver loop — then split each slice into head / middle / tail
    * thirds by ascending bits (head = most fluent, the slice CCNet keeps
    * for LM training; tail = the noisiest third). The tertile is
    * `ntile(3)` per slice ordered by (bits_per_token, doc_id) — a
    * deterministic, engine-agnostic cut.
    *
    * Shape at scale: the model relations are (slice-)vocab-bounded and
    * partial-aggregable exactly as in [[knBigramBits]]; the only
    * addition is the per-slice ntile window, which partitions by slice —
    * a language is the natural unit CCNet shards by, and a skew-heavy
    * slice devolves to the [[SaltedGrid]] two-phase ranking. Documents
    * with fewer than two tokens have no bigrams and are unscored, as in
    * the paper's pipeline (they fail length filters long before the LM).
    * Returns (idCol, slice, n_bigrams, bits_per_token, bucket).
    */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
      sliceCol: String): DataFrame = {
    val t = col("__t")
    val withToks = df.select(col(idCol).as("doc_id"),
      col(sliceCol).cast("string").as("slice"), toks(col(textCol)).as("__t"))
    val bigrams = ngramZip(t, 2)
    // occ feeds TWO jobs (the eager bigramCnt checkpoint below and the
    // scoring join) — without its own checkpoint the corpus explode +
    // (doc, bigram) shuffle ran twice, once per job
    val occ = withToks
      .select(col("doc_id"), col("slice"), explode(bigrams).as("bg"))
      .select(col("doc_id"), col("slice"), col("bg.w1").as("w1"),
        col("bg.w2").as("w2"))
      .groupBy("doc_id", "slice", "w1", "w2")
      .agg(count(lit(1)).as("c")).localCheckpoint()
    val bigramCnt = occ.groupBy("slice", "w1", "w2")
      .agg(sum(col("c")).as("bc")).localCheckpoint()
    val w1Stats = bigramCnt.groupBy("slice", "w1")
      .agg(sum(col("bc")).as("uc"), count(lit(1)).as("n1p"))
    val w2Fan = bigramCnt.groupBy("slice", "w2").agg(count(lit(1)).as("nc"))
    val types = bigramCnt.groupBy("slice").agg(count(lit(1)).as("nbt"))
    val big = DecimalType(38, 0)
    val num = ((col("bc") * 4 - 3).cast(big) * col("nbt") +
      (col("n1p") * 3).cast(big) * col("nc"))
    val den = (col("uc") * 4).cast(big) * col("nbt")
    val bits = occ.join(bigramCnt, Seq("slice", "w1", "w2"))
      .join(w1Stats, Seq("slice", "w1"))
      .join(w2Fan, Seq("slice", "w2"))
      .join(broadcast(types), Seq("slice"))
      .withColumn("__bits",
        round(-log(num.cast("double") / den.cast("double")) /
          lit(math.log(2.0)), 9).cast(DecimalType(18, 9)))
      .groupBy("doc_id", "slice")
      .agg(sum(col("c")).as("n_bigrams"),
        round(sum(col("__bits") * col("c").cast(DecimalType(10, 0)))
          .cast("double") / sum(col("c")), 6).as("bits_per_token"))
    // tertile banding, size-dispatched (SaltedGrid.ntileCutoff): a real
    // crawl is DOMINATED by one language, so past the cutoff a bare
    // `ntile(3).over(partitionBy(slice))` devolves to a single task
    // holding most of the corpus; the per-group percentile edges of
    // SaltedGrid.valueRanked fan the dominant slice over `buckets`
    // tasks while staying hash-identical to the partitioned-NTILE oracle
    val bitsM = bits.localCheckpoint()
    // size dispatch (SaltedGrid.ntileCutoff): bounded corpus → per-slice
    // window; row-scale → salted per-group rank. Hash-identical paths.
    val ranked =
      if (bitsM.count() <= SaltedGrid.ntileCutoff(bits.sparkSession))
        bitsM.withColumn("__tertile", ntile(3)
          .over(Window.partitionBy("slice")
            .orderBy(col("bits_per_token"), col("doc_id"))).cast("long"))
      else
        SaltedGrid.valueRankedDeterministic(bitsM,
          Seq("slice"), col("bits_per_token"), Seq(col("doc_id")))
        .withColumn("__tertile",
          SaltedGrid.ntileBand(col("__rank"), col("__n"), 3))
    ranked
      .select(col("doc_id").as(idCol), col("slice"), col("n_bigrams"),
        col("bits_per_token"),
        when(col("__tertile") === 1, "head")
          .when(col("__tertile") === 2, "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Gopher-style rule-based quality FILTER (Rae et al. 2021 §A1.1; the
    * C4 heuristics of Raffel et al. 2020 are the same shape): per-document
    * boolean rules plus a keep decision and a drop-reason bitmask — unlike
    * [[qualityScore]]'s scalar score, this is the form production corpus
    * filters take (every rule auditable, drop reasons aggregable).
    *
    * Rules (all per-row codegen'd expressions, zero shuffle; token sums
    * avoid lambda folds — Σ token length ≡ non-space char count under the
    * single-space tokenizer, alpha-token count is ONE regexp_extract_all):
    *   bit 0 — word count outside [minWords, maxWords]
    *   bit 1 — mean word length outside [minMeanLen, maxMeanLen]
    *   bit 2 — symbol ratio (chars outside [A-Za-z0-9 ]) > maxSymbolRatio
    *   bit 3 — alphabetic-token ratio < minAlphaRatio
    *   bit 4 — fewer than minStopHits distinct stopword hits
    *
    * Returns (id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
    * stop_hits, drop_mask, keep).
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      stopwords: Seq[String],
      minWords: Int = 20, maxWords: Int = 80,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 8.0,
      maxSymbolRatio: Double = 0.1, minAlphaRatio: Double = 0.5,
      minStopHits: Int = 1): DataFrame = {
    val t = toks(col(textCol))
    val nWords = size(t).cast("long")
    // Σ token length = chars that are not spaces (single-space split)
    val sumLen = length(regexp_replace(col(textCol), " ", "")).cast("long")
    val meanLen = round(
      sumLen.cast("double") / greatest(nWords, lit(1L)), 9)
    val symbolRatio = round(
      length(regexp_replace(col(textCol), "[A-Za-z0-9 ]", ""))
        .cast("double") / greatest(length(col(textCol)), lit(1)), 9)
    // a non-space run containing ≥1 letter matches exactly once (greedy)
    val alphaWords =
      size(regexp_extract_all(col(textCol), lit("[^ ]*[A-Za-z][^ ]*"), lit(0)))
        .cast("long")
    val alphaRatio = round(
      alphaWords.cast("double") / greatest(nWords, lit(1L)), 9)
    val stopHits = size(array_intersect(array_distinct(t),
      array(stopwords.map(lit): _*))).cast("long")
    val mask =
      when(col("n_words") < minWords || col("n_words") > maxWords, 1L)
        .otherwise(0L) +
      when(col("mean_word_len") < minMeanLen ||
        col("mean_word_len") > maxMeanLen, 2L).otherwise(0L) +
      when(col("symbol_ratio") > maxSymbolRatio, 4L).otherwise(0L) +
      when(col("alpha_ratio") < minAlphaRatio, 8L).otherwise(0L) +
      when(col("stop_hits") < minStopHits, 16L).otherwise(0L)
    df.select(col(idCol), nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), alphaRatio.as("alpha_ratio"),
        stopHits.as("stop_hits"))
      .withColumn("drop_mask", mask)
      .withColumn("keep", col("drop_mask") === 0L)
  }

  /** Per-row character-class counts — the encoding/script audit columns
    * (mojibake shows up as U+FFFD replacement chars and stray control
    * bytes; scraped-HTML residue as punctuation spikes; wrong-script
    * contamination as non-ASCII mass in an "English" corpus). All counts
    * are `length − length(regexp_replace(cls, ''))` over simple character
    * classes shared verbatim with the oracle (RE2-compatible, the PII
    * discipline), so the whole audit is per-row codegen'd expressions —
    * zero shuffle.
    *
    * Counting unit is the UTF-16 code unit (Spark `length`); DuckDB
    * counts codepoints, so the two diverge on astral-plane characters
    * (outside the BMP). The registered corpora are BMP-only; at 100 TB
    * the audit is a per-row feature, not a hash-compared artifact.
    * Appends (n_chars_cc, n_letters, n_digits, n_spaces, n_punct,
    * n_nonascii, n_control, n_replacement).
    */
  def charClassCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String) =
      (length(t) - length(regexp_replace(t, cls, ""))).cast("long")
    df.withColumn("n_chars_cc", length(t).cast("long"))
      .withColumn("n_letters", cnt("[A-Za-z]"))
      .withColumn("n_digits", cnt("[0-9]"))
      .withColumn("n_spaces", cnt("[ \\t\\n\\r]"))
      .withColumn("n_punct", cnt("[!-/:-@\\[-`{-~]"))
      .withColumn("n_nonascii", cnt("[^\\x00-\\x7F]"))
      // whitespace controls (\t \n \r) belong to n_spaces, not here — a
      // multi-line document is not mojibake
      .withColumn("n_control", cnt("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"))
      .withColumn("n_replacement",
        (length(t) - length(replace(t, lit("\uFFFD"), lit("")))).cast("long"))
  }

  /** Per-group rollup of [[charClassCounts]] — the corpus-level
    * encoding-health scorecard (is the "de" slice suddenly 40% control
    * characters?): integer sums per group, letter/non-ASCII ratios as one
    * rounded division each, and `n_flagged` = docs carrying any control
    * or replacement character (the re-extract list). One group-by
    * shuffle over per-row expression outputs.
    */
  def scriptProfile(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame =
    charClassCounts(df, textCol)
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars_cc").as("n_chars"),
        sum("n_letters").as("n_letters"),
        sum("n_digits").as("n_digits"),
        sum("n_spaces").as("n_spaces"),
        sum("n_punct").as("n_punct"),
        sum("n_nonascii").as("n_nonascii"),
        sum("n_control").as("n_control"),
        sum("n_replacement").as("n_replacement"),
        sum(when(col("n_control") + col("n_replacement") > 0, 1L)
          .otherwise(0L)).as("n_flagged"))
      .select(col(groupCol), col("n_docs"), col("n_chars"),
        col("n_letters"), col("n_digits"), col("n_spaces"), col("n_punct"),
        col("n_nonascii"), col("n_control"), col("n_replacement"),
        col("n_flagged"),
        when(col("n_chars") > 0,
          round(col("n_letters").cast("double") / col("n_chars"), 9))
          .as("letter_ratio"),
        when(col("n_chars") > 0,
          round(col("n_nonascii").cast("double") / col("n_chars"), 9))
          .as("nonascii_ratio"))

  /** Per-group tokenizer fertility — the budgeting numbers a pretraining
    * mixture is planned with (how many tokens a byte of each
    * language/source buys): docs, token/char/byte totals and the
    * bytes-per-token, chars-per-token, tokens-per-doc ratios.
    *
    * One group-by shuffle of per-row integer totals (token count, non-space
    * chars, octet length — all codegen'd expressions, no explode); ratios
    * are ONE correctly-rounded IEEE division each over the exact long sums,
    * so the report is bit-identical on any engine.
    */
  def tokenFertility(df: DataFrame, textCol: String, groupCol: String)
      : DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(toks(col(textCol))).cast("long")).as("n_tokens"),
        sum(length(regexp_replace(col(textCol), " ", "")).cast("long"))
          .as("n_chars"),
        sum(octet_length(col(textCol)).cast("long")).as("n_bytes"))
      .select(col(groupCol), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_bytes"),
        round(col("n_chars").cast("double") / greatest(col("n_tokens"),
          lit(1L)), 9).as("chars_per_token"),
        round(col("n_bytes").cast("double") / greatest(col("n_tokens"),
          lit(1L)), 9).as("bytes_per_token"),
        round(col("n_tokens").cast("double") / col("n_docs"), 9)
          .as("tokens_per_doc"))

  /** Pairwise vocabulary overlap between corpus groups (languages,
    * sources, time slices): distinct-token Jaccard per group pair — the
    * corpus-level audit that catches mislabeled languages (two "different"
    * languages sharing 90% vocabulary) and contaminated source splits
    * before any mixture is trained on them.
    *
    * One distinct (group, token) relation; the pair intersection is a
    * token-partitioned self-join (ordered pairs, a < b). Work is bounded
    * by Σ_token df(token)² — vocabulary-shaped, never corpus². Jaccard is
    * one integer ratio. Returns (group_a, group_b, n_a, n_b, n_common,
    * jaccard).
    */
  def vocabularyOverlap(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val gt = df.select(col(groupCol).as("g"),
        explode(array_distinct(toks(col(textCol)))).as("term"))
      .distinct()
    val sizes = gt.groupBy("g").agg(count(lit(1)).as("n"))
    val inter = gt.select(col("g").as("group_a"), col("term"))
      .join(gt.select(col("g").as("group_b"), col("term")), Seq("term"))
      .filter(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b")
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("g").as("group_a"), col("n").as("n_a")),
        Seq("group_a"))
      .join(sizes.select(col("g").as("group_b"), col("n").as("n_b")),
        Seq("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        col("n_common"),
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")), 9).as("jaccard"))
  }

  /** Inverted-index posting lists: per term, the document frequency, the
    * total term frequency, and the first `maxPostings` doc ids (ascending)
    * — the build step of every lexical retrieval system (N55's BM25 scores
    * AGAINST exactly this structure), and the index a contamination scan
    * probes by term.
    *
    * Shape at scale: per-doc DISTINCT terms collapse inside the array
    * expression (array_distinct before the explode — a doc contributes
    * one posting per term, so the explode is bounded by distinct terms,
    * not token count); ONE term shuffle. The posting cap is enforced
    * BEFORE any list materializes: a per-term `row_number() <= maxPostings`
    * window (sort spills gracefully on hot stopword terms; `doc_freq`
    * rides the same window partition as an unbounded count), so the
    * collect_list aggregation buffer holds at most `maxPostings` ids per
    * term — a post-hoc slice over a full collect would still build a
    * corpus-sized in-memory array for a hot term. The cap IS the scale
    * decision, stated.
    */
  def postingLists(df: DataFrame, idCol: String, textCol: String,
      maxPostings: Int): DataFrame = {
    val perDocTerm = df.select(col(idCol).as("doc_id"),
        explode(array_distinct(toks(col(textCol)))).as("term"))
    val tf = df.select(col(idCol).as("doc_id"),
        explode(toks(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("total_tf"))
    val wAll = Window.partitionBy(col("term"))
    val wOrd = wAll.orderBy(col("doc_id"))
    perDocTerm
      .withColumn("__df", count(lit(1)).over(wAll))
      .withColumn("__rn", row_number().over(wOrd))
      .filter(col("__rn") <= maxPostings)
      .groupBy("term")
      .agg(max(col("__df")).as("doc_freq"),
        sort_array(collect_list(col("doc_id"))).as("postings"))
      .join(tf, Seq("term"))
      .select("term", "doc_freq", "total_tf", "postings")
  }

  /** Boolean AND retrieval over [[postingLists]] — the serving read an
    * inverted index exists for: for each query term pair, the count of
    * documents containing BOTH, via the
    * [[graft.functions.SortedIntersectCount]] codegen kernel on the
    * two sorted posting arrays (the N139 merge-intersect funnel —
    * O(|A|+|B|) per pair, no explode, no join back to the corpus).
    *
    * `maxPostings` must cover the full corpus for exact counts (the
    * postingLists cap exists for hot-term safety; pass a bound ≥ the
    * document count here, or read the result as capped-intersection —
    * documented either way). All integers. Returns one row per query
    * pair: (term_a, term_b, df_a, df_b, n_both), ordered by the pair.
    */
  def boolRetrieval(df: DataFrame, idCol: String, textCol: String,
      pairs: Seq[(String, String)], maxPostings: Int): DataFrame = {
    require(pairs.nonEmpty, "no query pairs")
    val spark = df.sparkSession
    import spark.implicits._
    val pl = postingLists(df, idCol, textCol, maxPostings)
      .localCheckpoint()
    val q = pairs.toDF("term_a", "term_b")
    q.join(pl.select(col("term").as("term_a"),
          col("doc_freq").as("df_a"), col("postings").as("__pa")),
        Seq("term_a"), "left")
      .join(pl.select(col("term").as("term_b"),
          col("doc_freq").as("df_b"), col("postings").as("__pb")),
        Seq("term_b"), "left")
      .select(col("term_a"), col("term_b"),
        coalesce(col("df_a"), lit(0L)).as("df_a"),
        coalesce(col("df_b"), lit(0L)).as("df_b"),
        when(col("__pa").isNotNull && col("__pb").isNotNull,
          expr("graft_sorted_intersect(__pa, __pb)"))
          .otherwise(lit(0L)).as("n_both"))
      .orderBy("term_a", "term_b")
  }

  /** Flesch reading ease + Flesch–Kincaid grade (Flesch 1948; Kincaid
    * et al. 1975) — the classic readability pair a curation pipeline
    * buckets documents by (alongside [[qualityScore]]'s structural
    * heuristics): both are affine in words-per-sentence and
    * syllables-per-word.
    *
    * Counting is pure character-class arithmetic, zero per-word
    * lambdas: sentences = '.!?' terminator chars (floor 1 — a corpus
    * with no punctuation reads as one sentence per document);
    * syllables = vowel-group count (collapse `[aeiouy]+` runs to one
    * marker each, count markers) + one per vowel-less word (the
    * standard ≥1-syllable floor), where vowel-less words = n_words −
    * words containing a vowel (ONE regexp_extract_all). Identical
    * simple character classes on both engines.
    *
    * Exactness: the two ratios are single IEEE divisions of exact
    * integers; the affine combinations use shared decimal literals and
    * are emitted UNROUNDED — every step is a correctly-rounded scalar
    * op on identical inputs (the Welch-dof argument; a 9-dp round of a
    * rational could land a half-ulp tie). Per-row codegen'd
    * expressions, zero shuffle.
    * Returns (id, n_words, n_sentences, n_syllables, flesch, fk_grade).
    */
  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    * over the word co-occurrence graph — words adjacent within a
    * `window`-token span vote for each other, and the stationary mass
    * ranks corpus keywords without any supervision. The classic
    * unweighted variant: DISTINCT co-occurrence pairs, symmetrized
    * (both directions), then the exact [[Graph.pageRank]] replay — so
    * the oracle reuses the SAME unrolled-CTE chain as `feat_pagerank`.
    *
    * Scale shape: pair generation is pure per-row array arithmetic —
    * for each offset i ≤ window, the token array zips with itself
    * shifted by i (`slice` + `arrays_zip`, both directions emitted in
    * the same projection), so the (pa, pb = pa+i) window pairs appear
    * WITHOUT the id-keyed position self-join that materialized a
    * doc-length² intermediate before its position filter — zero
    * shuffles and no interpreted lambda until pageRank's distinct;
    * then pageRank's bounded rounds; the top-k is
    * TakeOrderedAndProject. Returns the k highest-ranked words:
    * (node, rank), ties broken by word.
    */
  def textrankKeywords(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 2, iterations: Int = 3, k: Int = 20): DataFrame = {
    require(window >= 1 && k >= 1, s"bad parameters window=$window k=$k")
    val t = col("__t")
    val base = docs.select(toks(col(textCol)).as("__t"))
    // both directions of every offset in ONE concat: the symmetrized
    // multiset the old self-join + union produced, one corpus scan
    val zipped = (1 to window).flatMap { i =>
      val n = greatest(size(t) - i, lit(0))
      Seq(
        arrays_zip(slice(t, lit(1), n).as("a"),
          slice(t, lit(i + 1), n).as("b")),
        arrays_zip(slice(t, lit(i + 1), n).as("a"),
          slice(t, lit(1), n).as("b")))
    }
    val sym = base.select(explode(concat(zipped: _*)).as("z"))
      .select(col("z.a").as("a"), col("z.b").as("b"))
      .filter(col("a") =!= col("b"))
    Graph.pageRank(sym, "a", "b", iterations)
      .orderBy(col("rank").desc, col("node")).limit(k)
  }

  /** Blocklist (bad-word) document filter — the C4 recipe (Raffel et
    * al. 2020 §2.2 dropped any page containing a term from a public
    * blocklist): per document the total and distinct blocklist hits,
    * the hit ratio, and the keep decision (zero hits). Complements
    * [[gopherRules]]' structural filters with the content-policy axis.
    *
    * Shape: ONE explode + broadcast lexicon join + doc-id collapse
    * (count and countDistinct are partial-aggregable), left-joined
    * back so zero-hit documents keep their row — the explode-once
    * discipline; no higher-order lambdas. The hit ratio emits
    * UNROUNDED (one division of exact counts — the Welch-dof
    * argument). Returns (id, n_words, n_hits, n_distinct_hits,
    * hit_ratio, keep).
    */
  def blocklistFilter(df: DataFrame, idCol: String, textCol: String,
      blocklist: Seq[String]): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    val spark = df.sparkSession
    import spark.implicits._
    val lex = blocklist.toDF("term")
    val base = df.select(col(idCol).as("id"), toks(col(textCol)).as("__t"))
    val hits = base.select(col("id"), explode(col("__t")).as("term"))
      .join(broadcast(lex), Seq("term"))
      .groupBy("id")
      .agg(count(lit(1)).as("__h"), countDistinct(col("term")).as("__d"))
    base.join(hits, Seq("id"), "left")
      .select(col("id"), size(col("__t")).cast("long").as("n_words"),
        coalesce(col("__h"), lit(0L)).as("n_hits"),
        coalesce(col("__d"), lit(0L)).as("n_distinct_hits"))
      .withColumn("hit_ratio",
        col("n_hits").cast(org.apache.spark.sql.types.DoubleType) /
          greatest(col("n_words"), lit(1L))
            .cast(org.apache.spark.sql.types.DoubleType))
      .withColumn("keep", col("n_hits") === 0)
  }

  /** Zipf's-law fit of the corpus token-frequency curve (Zipf 1949):
    * OLS of ln(count) on ln(rank) over the [[TokenModels.buildVocab]]
    * ranking — slope ≈ −1 is the natural-language signature; a corpus
    * whose slope drifts (template spam flattens it, deduplication
    * sharpens it) fails the curation smell test. Returns one row:
    * (n_terms, slope, intercept, r2).
    *
    * Exactness: ln(rank) and ln(count) are irrational → each rounds
    * 9 dp safely, then widens to NANO-UNIT integers
    * (DECIMAL(18,9) × 10⁹ — the CUSUM widen-before-multiply rule) so
    * Σx, Σy, Σxy, Σx², Σy² and the moment combinations
    * A = nΣxy − ΣxΣy, B = nΣx² − (Σx)², C = nΣy² − (Σy)² are ALL
    * exact DECIMAL(38,0) integers. slope = A/B is one IEEE division;
    * r² = A²/(B·C) and the intercept run the same fixed-sequence
    * double arithmetic (A² would overflow DECIMAL(38) — the one
    * documented drop to double); all emitted UNROUNDED (the Welch-dof
    * argument).
    *
    * Scale shape: one explode + (term) group-by builds the vocabulary;
    * ranks come from buildVocab's two-phase salted ranking (no global
    * window on the vocab-scale relation); the fit aggregates that
    * relation once.
    */
  def zipfFit(docs: DataFrame, textCol: String, minCount: Long = 1L)
      : DataFrame = {
    val vocab = TokenModels.buildVocab(docs, textCol, minCount)
    logLogOls(vocab.select(col("term_id").as("x"),
        col("term_count").as("y")))
      .withColumnRenamed("n_points", "n_terms")
  }

  /** OLS of ln(y) on ln(x) over a (x, y) point relation — the shared
    * moment machinery of [[zipfFit]] and [[heapsFit]] under the nano
    * discipline: ln values round 9 dp (irrational → engine-safe) then
    * widen to nano integers so every moment combination is exact
    * DECIMAL(38,0); slope = one division, intercept/r² fixed-sequence
    * doubles, all emitted unrounded. Rows with x ≤ 0 or y ≤ 0 are
    * dropped (ln undefined). Returns (n_points, slope, intercept, r2).
    */
  private[graft] def logLogOls(pts: DataFrame): DataFrame = {
    val big = DecimalType(38, 0)
    val d9 = DecimalType(18, 9)
    val nano = (c: Column) =>
      (round(log(c.cast("double")), 9).cast(d9) * lit(1000000000L))
        .cast(big)
    val m = pts.filter(col("x") > 0 && col("y") > 0)
      .select(nano(col("x")).as("x"), nano(col("y")).as("y"))
      .agg(count(lit(1)).cast(big).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(big)).as("sxy"),
        sum((col("x") * col("x")).cast(big)).as("sxx"),
        sum((col("y") * col("y")).cast(big)).as("syy"))
    val a = (col("n") * col("sxy") - col("sx") * col("sy")).cast(big)
    val b = (col("n") * col("sxx") - col("sx") * col("sx")).cast(big)
    val c = (col("n") * col("syy") - col("sy") * col("sy")).cast(big)
    val dbl = org.apache.spark.sql.types.DoubleType
    val slope = a.cast(dbl) / b.cast(dbl)
    m.select(col("n").cast("long").as("n_points"),
      when(b.cast(dbl) > 0, slope).as("slope"),
      when(b.cast(dbl) > 0,
        (col("sy").cast(dbl) - slope * col("sx").cast(dbl)) /
          (col("n").cast(dbl) * lit(1.0e9))).as("intercept"),
      when(b.cast(dbl) > 0 && c.cast(dbl) > 0,
        a.cast(dbl) * a.cast(dbl) / (b.cast(dbl) * c.cast(dbl)))
        .as("r2"))
  }

  /** Vocabulary-growth curve: at `checkpoints` equal-DOC-count
    * positions of the doc_id-ordered corpus, the cumulative document
    * count, token count, and DISTINCT-term count — the empirical curve
    * behind Heaps' law, and the working number for "how much bigger
    * does the tokenizer vocab get if we ingest 2× more of this
    * source?".
    *
    * Exactness/scale: checkpoint boundaries are exact order statistics
    * — rank r_g = (g·n) div `checkpoints` over the distinct-id grid,
    * walked with [[SaltedGrid]] (ids are row-scale — never one window
    * task); vocabulary counts need only each term's FIRST document
    * (min(doc_id) — partial-aggregable), so V_g = terms with
    * first_doc ≤ boundary_g: the collapsed per-doc and per-term
    * relations fan out over the G-row boundary broadcast, all counts
    * map-side combined. Returns (g, boundary_id, n_docs, n_tokens,
    * vocab), ordered by g.
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
      checkpoints: Int): DataFrame = {
    require(checkpoints >= 2, s"need >= 2 checkpoints: $checkpoints")
    val grid = docs.select(col(idCol).cast("long").as("v"))
      .withColumn("one", lit(1L))
    val walked = SaltedGrid.cumulative(grid, "v", Seq("one"))
    val gs = docs.sparkSession.range(1, checkpoints + 1)
      .select(col("id").cast("int").as("g"))
    val bounds = walked.join(broadcast(gs),
        col("__cum_one") === expr(s"(g * __tot_one) div $checkpoints"))
      .select(col("g"), col("v").as("bound"))
    val docTok = docs.select(col(idCol).cast("long").as("id"),
      size(toks(col(textCol))).cast("long").as("nt"))
    val perG = docTok.crossJoin(broadcast(bounds))
      .filter(col("id") <= col("bound"))
      .groupBy("g", "bound")
      .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    val firstDoc = docs
      .select(col(idCol).cast("long").as("id"),
        explode(toks(col(textCol))).as("term"))
      .groupBy("term").agg(min("id").as("first_doc"))
    val vocabG = firstDoc.crossJoin(broadcast(bounds))
      .filter(col("first_doc") <= col("bound"))
      .groupBy("g").agg(count(lit(1)).as("vocab"))
    perG.join(vocabG, Seq("g"), "left")
      .select(col("g").cast("long").as("g"), col("bound").as("boundary_id"),
        col("n_docs"), col("n_tokens"),
        coalesce(col("vocab"), lit(0L)).as("vocab"))
      .orderBy("g")
  }

  /** Heaps'-law fit V = K·Tᵝ (Heaps 1978) over a [[vocabGrowth]]
    * curve: OLS of ln(vocab) on ln(n_tokens) via the shared
    * [[logLogOls]] nano discipline — β ≈ 0.4–0.6 is the
    * natural-language signature; template-heavy corpora flatten it.
    * Returns one row: (n_points, beta, ln_k, r2).
    */
  def heapsFit(growth: DataFrame): DataFrame =
    logLogOls(growth.select(col("n_tokens").as("x"), col("vocab").as("y")))
      .select(col("n_points"), col("slope").as("beta"),
        col("intercept").as("ln_k"), col("r2"))

  def readabilityScores(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val t = toks(col(textCol))
    val nWords = greatest(size(t).cast("long"), lit(1L))
    val nSent = greatest(
      length(regexp_replace(col(textCol), "[^.!?]", "")).cast("long"),
      lit(1L))
    val vowelGroups = length(regexp_replace(
      regexp_replace(lower(col(textCol)), "[aeiouy]+", "V"), "[^V]", ""))
      .cast("long")
    val vowelWords = size(regexp_extract_all(lower(col(textCol)),
      lit("[^ ]*[aeiouy][^ ]*"), lit(0))).cast("long")
    val nSyll = vowelGroups + (size(t).cast("long") - vowelWords)
    val wps = nWords.cast("double") / nSent.cast("double")
    val spw = nSyll.cast("double") / nWords.cast("double")
    df.select(col(idCol).as("id"), size(t).cast("long").as("n_words"),
      nSent.as("n_sentences"), nSyll.as("n_syllables"),
      (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch"),
      (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"))
  }
}
