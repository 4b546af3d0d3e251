package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators for large-scale training-data pipelines:
  * exact (hash group-by), n-gram/token Jaccard (AllPairs prefix-filtered
  * self-join), MinHash + LSH banding (the 100 TB path), and SimHash.
  *
  * Scale design:
  *  - Everything is expression-only DataFrame code — whole-stage codegen,
  *    no UDFs, no driver materialization.
  *  - Exact dedup shuffles once on the content hash (not the full text —
  *    md5 first, group on the 16-byte digest).
  *  - Exact Jaccard uses AllPairs **prefix filtering** (Bayardo et al.,
  *    WWW'07 "Scaling Up All Pairs Similarity Search"): tokens are globally
  *    ordered by ascending document frequency; a pair with Jaccard ≥ t must
  *    share a token within each side's first `n − ⌈t·n⌉ + 1` rarest tokens,
  *    so only those prefixes are indexed. Hot tokens (the df² blowup of a
  *    naive inverted-index join) sort last and never enter the index. The
  *    filter is lossless — no false negatives.
  *  - Tokens are hashed to 48-bit Longs (md5-derived) at the start of the
  *    set-similarity path; every downstream step — document frequencies,
  *    prefix join, intersection counts — runs on fixed-width Longs instead
  *    of variable-length strings. |hash set ∩| = |token set ∩| barring
  *    48-bit collisions (birthday bound ≫ any realistic per-corpus distinct
  *    token count), and the same hash is expressible in ANSI SQL.
  *  - Candidate verification is a per-pair `array_intersect` over the two
  *    (distinct) token-hash arrays — one codegen'd row per candidate pair,
  *    not a re-shuffled token-level join + group-by.
  *  - MinHash/LSH replaces even the prefix join at extreme scale: b bands
  *    of r rows ⇒ candidate pairs only for docs agreeing on a full band;
  *    cost is O(docs · bands) + per-bucket joins. Signatures use one md5
  *    per token split into two 48-bit integers, expanded to k hashes by
  *    double hashing `h_i = (a + i·b) mod M` (Kirsch–Mitzenmacher) — k
  *    independent-enough permutations for the price of one digest, and
  *    every step is expressible in ANSI SQL for the DuckDB oracle.
  */
object Dedup {

  /** Prime modulus for double-hashed MinHash permutations (10^12 − 11;
    * larger than any realistic distinct-token-universe squared at one
    * band's scale, keeps `a + i·b` well inside Long).
    */
  val MinhashMod: Long = 999999999989L

  /** Exact duplicate groups by content: one row per duplicated key with the
    * canonical (minimum) id and the group size. Single shuffle on md5(key).
    */
  def exactGroups(df: DataFrame, idCol: String, keyCol: String): DataFrame =
    df.select(md5(col(keyCol)).as("content_md5"), col(idCol))
      .groupBy("content_md5")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("group_size"))

  /** Exact dedup keep-first: drop all but the minimum-id row per key. */
  def exactDedup(df: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val canon = exactGroups(df, idCol, keyCol)
      .select(col("canonical_id").as(idCol))
    df.join(canon, Seq(idCol), "left_semi")
  }

  /** Exact dedup keep-BEST: among identical copies keep the one with the
    * highest score (quality, recency, source priority — whatever the
    * caller ranks by), ties to the smallest id — the curation policy
    * production dedup actually wants ([[exactDedup]]'s keep-first is the
    * arbitrary baseline: first-seen is not best). One max-struct
    * group-by on the content digest — partial-aggregable, never a window
    * over a hot digest (the N91 rule). Returns the surviving rows of
    * `df` plus (content_md5, group_size).
    */
  def exactKeepBest(df: DataFrame, idCol: String, keyCol: String,
      scoreCol: String): DataFrame = {
    val best = df
      .select(md5(col(keyCol)).as("content_md5"), col(idCol),
        col(scoreCol).cast("double").as("__s"))
      .groupBy("content_md5")
      .agg(max(struct(col("__s"), (-col(idCol)).as("__nid"))).as("__b"),
        count(lit(1)).as("group_size"))
      .select(col("content_md5"), (-col("__b.__nid")).as(idCol),
        col("group_size"))
    df.join(best, Seq(idCol))
  }

  /** Edit-distance similarity JOIN over a string VOCABULARY (Gravano et
    * al. 2001's q-gram count filtering) — the fuzzy-match primitive for
    * names/titles/codes (entity resolution, catalog dedup) where token
    * Jaccard is blind to character typos. Apply to the DISTINCT value
    * vocabulary, not the corpus: the blocking is gram-bucket bounded
    * (Σ bucket²), the verify is an exact `levenshtein` on candidates
    * only.
    *
    * Lossless candidate bound: strings padded with q−1 sentinel chars
    * (U+0001 — cannot occur in real values) have |s|+q−1 positional
    * grams, and ed(a,b) ≤ d ⟹ multiset-shared grams ≥
    * max(|a|,|b|)+q−1−d·q. Multiset sharing = equi-join on
    * (gram, occurrence index) — the ROUGE clip trick as a join key. The
    * bound degenerates (≤ 0) only for SHORT×SHORT pairs (both lengths ≤
    * q(d−1)+1), which union in by a direct length-band pass — that
    * sub-vocabulary is alphabet-bounded, ≤ |Σ|^(q(d−1)+1) values.
    * Returns (s_a, s_b, dist), s_a < s_b, dist ≤ maxDist.
    *
    * Sizing (edit-distance join, SURVEY §6.1): gram buckets hold ~vocab/|Σ|^q
    * values, so Σ bucket² grows quadratically in the vocabulary at fixed
    * q — raise q as the vocabulary grows (q = 3 gives 26³ gram values on
    * a lowercase alphabet) to keep the blocking sub-quadratic; on dense
    * code-like vocabularies (numeric suffixes ⇒ dozens of true neighbors
    * per name) the run is output-bound regardless of blocking.
    */
  def editDistanceJoin(df: DataFrame, strCol: String, maxDist: Int,
      q: Int = 2): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1: $maxDist")
    require(q >= 2, s"q must be >= 2: $q")
    import org.apache.spark.sql.expressions.Window
    val pad = "\u0001" * (q - 1)
    val vals = df.select(col(strCol).cast("string").as("s"))
      .filter(col("s").isNotNull && col("s") =!= "").distinct()
      .localCheckpoint()
    val padded = concat(lit(pad), col("s"), lit(pad))
    val occ = vals.withColumn("__p", padded)
      .select(col("s"),
        posexplode(transform(sequence(lit(1), length(col("__p")) - (q - 1)),
          i => col("__p").substr(i, lit(q)))).as(Seq("__i", "__g")))
      .withColumn("__occ", row_number().over(
        Window.partitionBy(col("s"), col("__g")).orderBy(col("__i"))))
      .select(col("s"), col("__g"), col("__occ"))
    val clip = occ.select(col("s").as("s_a"), col("__g"), col("__occ"))
      .join(occ.select(col("s").as("s_b"), col("__g"), col("__occ")),
        Seq("__g", "__occ"))
      .filter(col("s_a") < col("s_b"))
      .groupBy("s_a", "s_b").agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >=
        greatest(length(col("s_a")), length(col("s_b"))) + (q - 1) -
          maxDist * q)
    val shortLen = q * (maxDist - 1) + 1
    val shorts = vals.filter(length(col("s")) <= shortLen)
    val shortPairs = shorts.select(col("s").as("s_a"))
      .join(shorts.select(col("s").as("s_b")), col("s_a") < col("s_b"))
    clip.select("s_a", "s_b")
      .unionByName(shortPairs).distinct()
      .withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= maxDist &&
        abs(length(col("s_a")) - length(col("s_b"))) <= maxDist)
  }

  /** Distinct (id, token) pairs from whitespace tokenization; empty tokens
    * dropped. The base relation for all set-similarity operators.
    */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()

  /** Distinct (id, gram) pairs of word n-grams (shingles). n=1 degenerates
    * to [[tokens]].
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    if (n <= 1) tokens(df, idCol, textCol)
    else {
      val toks = split(col(textCol), " ")
      val clean = filter(toks, t => t =!= "")
      // sliding window via transform over start indices; sequence(a, b)
      // would count DOWN for a > b, so guard short docs explicitly
      val starts = when(size(clean) >= n, sequence(lit(0), size(clean) - n))
        .otherwise(array().cast("array<int>"))
      val grams = transform(starts, i => concat_ws(" ", slice(clean, i + 1, lit(n))))
      df.select(col(idCol).as("id"), explode(grams).as("token"))
        .filter(col("token") =!= "")
        .distinct()
    }
  }

  /** (id, ha, hb): per-document-distinct n-gram md5 halves via the fused
    * codegen kernel `graft_ngram_hashes` ([[graft.functions.NgramHashes]]).
    * Replaces explode + distinct + hex-string hashing for every
    * set-similarity operator: `ha` ≡ [[graft.functions.Kernels.md5hash48]] of the gram, (ha, hb)
    * are the double-hashing base of the MinHash permutations. Per-document
    * dedup inside the expression IS the (id, gram) distinct — id is fixed
    * within a row — so no distinct shuffle remains.
    */
  def tokenHashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 1): DataFrame =
    df.select(col(idCol).as("id"),
        call_function("graft_ngram_hashes", col(textCol), lit(n)).as("g"))
      .select(col("id"), inline(col("g")))

  /** One row per document: its distinct token (or n-gram) set as an
    * `array<long>` of 48-bit token hashes sorted by (ascending global
    * document frequency, hash) — rarest first, the AllPairs canonical
    * order — plus the set size. Two shuffles total (df count join +
    * group-by id); the relation every similarity operator verifies against.
    * All downstream joins/intersections run on fixed-width Longs.
    */
  def tokenSets(df: DataFrame, idCol: String, textCol: String, n: Int = 1): DataFrame = {
    val tok = tokenHashPairs(df, idCol, textCol, n)
      .select(col("id"), col("ha").as("th"))
    val freq = tok.groupBy("th").agg(count(lit(1)).as("tok_df"))
    tok.join(freq, Seq("th"))
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("tok_df"), col("th")))).as("ts"))
      .select(col("id"),
        transform(col("ts"), t => t.getField("th")).as("toks"),
        // th-ascending twin for the O(n+m) merge-intersect verify kernel
        sort_array(transform(col("ts"), t => t.getField("th"))).as("toks_v"),
        size(col("ts")).cast("long").as("n_tokens"))
  }

  /** Verify-side token sets only — (id, toks_v, n_tokens), with `toks_v`
    * the th-ascending distinct gram-hash array. The kernel's per-document
    * dedup already IS the distinct and the field extraction
    * (GetArrayStructFields) + sort_array run in-row, so this is ONE corpus
    * scan with ZERO shuffles — where [[tokenSets]] pays a global
    * df-frequency groupBy + join + groupBy-id (three token-level shuffles
    * and a second tokenize) that only the AllPairs df-ordered `toks`
    * prefix needs. Token-less docs are dropped, matching tokenSets'
    * explode semantics (they must stay absent so dedup keeps them as
    * singleton survivors).
    */
  def verifySets(df: DataFrame, idCol: String, textCol: String,
      n: Int = 1): DataFrame =
    df.select(col(idCol).as("id"),
        call_function("graft_ngram_hashes", col(textCol), lit(n)).as("g"))
      .filter(size(col("g")) > 0)
      .select(col("id"),
        sort_array(col("g").getField("ha")).as("toks_v"),
        size(col("g")).cast("long").as("n_tokens"))

  /** AllPairs prefix length for Jaccard threshold t: n − ⌈t·n⌉ + 1. The
    * 1e-9 nudge keeps ⌈·⌉ from rounding up on binary-float noise (which
    * would shrink the prefix and silently lose pairs); erring low only adds
    * candidates.
    */
  private def prefixLen(nTokens: Column, threshold: Double): Column =
    (nTokens - ceil(nTokens * threshold - lit(1e-9)) + 1).cast("int")

  /** Exact-Jaccard verification of candidate pairs against full token sets:
    * per-pair merge-intersect count over the th-sorted arrays
    * (`graft_sorted_intersect`, codegen'd — no per-row hash set), threshold
    * on the true Jaccard.
    *
    * With `broadcastSets = true` (default) the sets relation is broadcast:
    * verification then needs NO shuffle of the (much larger) candidate-pair
    * relation — both lookups are broadcast hash joins inside one codegen
    * stage. At corpus sizes where the token sets outgrow the broadcast
    * budget, pass `broadcastSets = false` (threaded through every public
    * caller) and the same plan runs as two shuffled joins.
    */
  private def verifyPairs(cand: DataFrame, sets: DataFrame,
      threshold: Double, broadcastSets: Boolean = true): DataFrame = {
    val hint: DataFrame => DataFrame =
      if (broadcastSets) broadcast(_) else identity
    // Lossless AllPairs LENGTH filter ahead of the kernel: jaccard >= t
    // forces min(n_a,n_b) >= t·max(n_a,n_b), so a length-mismatched
    // candidate can never verify. Spelled in nano-integers with a −1
    // margin ((t·10⁹−1) absorbs the double-division half-ulp of the
    // final compare), it is exact and prunes with plain long arithmetic.
    // Referencing both sides, it pushes into the join condition — so the
    // O(n+m) merge-intersect never runs for these pairs at all.
    val thrNanoM1 = math.round(threshold * 1e9) - 1
    val joined = cand
      .join(hint(sets.select(col("id").as("id_a"), col("toks_v").as("toks_a"),
        col("n_tokens").as("n_a"))), Seq("id_a"))
      .join(hint(sets.select(col("id").as("id_b"), col("toks_v").as("toks_b"),
        col("n_tokens").as("n_b"))), Seq("id_b"))
      .filter(
        col("n_a") * lit(1000000000L) >= col("n_b") * lit(thrNanoM1) &&
        col("n_b") * lit(1000000000L) >= col("n_a") * lit(thrNanoM1))
    // `__once` (nondeterministic) blocks predicate pushdown through this
    // projection: without it Catalyst folds the jaccard filter back into
    // the join condition, re-expanding n_common so the intersect kernel
    // evaluates 2-3× per candidate (observed in the r16 before-plans —
    // twice inside the pushed condition, once more in the survivor
    // projection); with the barrier it evaluates ONCE per
    // length-compatible candidate, and codegen subexpression elimination
    // shares it between n_common and jaccard. Survivors are identical —
    // same division, same threshold compare.
    // the filter must REFERENCE __once (an always-true, non-foldable
    // comparison): an unreferenced barrier column gets column-pruned
    // away first, which re-enables the pushdown this exists to block
    joined
      .withColumn("n_common",
        call_function("graft_sorted_intersect", col("toks_a"), col("toks_b")))
      .withColumn("__once", monotonically_increasing_id())
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold &&
        col("__once") >= lit(Long.MinValue))
      .drop("__once")
  }

  /** Near-duplicate pairs by exact token-set Jaccard ≥ threshold, via a
    * prefix-filtered inverted-index self-join (lossless — identical output
    * to the naive quadratic join). `maxDf` (0 = unlimited) additionally
    * drops tokens hotter than the cap from candidate generation — an
    * explicit recall knob for adversarial corpora; exact Jaccard is still
    * computed on full token sets for every surviving candidate.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = 1,
      maxDf: Long = 0L,
      broadcastSets: Boolean = true): DataFrame = {
    // sets feeds FOUR subtrees (prefix self-join ×2, verify lookups ×2) and
    // Catalyst does not reuse the exchanges (measured: 8 scans, 0 reuse);
    // a lazy localCheckpoint computes it once and serves all consumers
    val sets = tokenSets(df, idCol, textCol, n).localCheckpoint(false)
    verifyPairs(jaccardCandidatesFrom(sets, df, idCol, textCol, threshold, n,
        maxDf), sets, threshold, broadcastSets)
      .select("id_a", "id_b", "n_common", "jaccard")
  }

  private def jaccardCandidatesFrom(
      sets: DataFrame,
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int,
      maxDf: Long): DataFrame = {
    val prefix0 = sets.select(col("id"), col("n_tokens"),
      posexplode(slice(col("toks"), lit(1), prefixLen(col("n_tokens"), threshold)))
        .as(Seq("pos", "th")))
    val prefix = if (maxDf <= 0L) prefix0 else {
      val hot = tokenHashPairs(df, idCol, textCol, n)
        .select(col("ha").as("th"))
        .groupBy("th").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("th")
      prefix0.join(broadcast(hot), Seq("th"), "left_anti")
    }
    // PPJoin-style pruning on each shared prefix token (lossless):
    //  - length filter: Jaccard ≥ t ⇒ min(|A|,|B|) ≥ t·max(|A|,|B|)
    //  - positional filter: overlap needed is o = ⌈t/(1+t)·(|A|+|B|)⌉ and
    //    the overlap still reachable from 0-based positions (i, j) is
    //    1 + min(|A|−i−1, |B|−j−1); prune when it can't reach o. A true
    //    pair keeps its first shared prefix token, so no false negatives.
    val minOverlap = ceil((col("pn_a") + col("pn_b")) *
      (threshold / (1.0 + threshold)) - lit(1e-9))
    val reachable = lit(1) + least(col("pn_a") - col("pos_a") - 1,
      col("pn_b") - col("pos_b") - 1)
    prefix
      .select(col("id").as("id_a"), col("n_tokens").as("pn_a"),
        col("pos").as("pos_a"), col("th"))
      .join(prefix.select(col("id").as("id_b"), col("n_tokens").as("pn_b"),
        col("pos").as("pos_b"), col("th")), Seq("th"))
      .filter(col("id_a") < col("id_b") &&
        least(col("pn_a"), col("pn_b")).cast("double") >=
          greatest(col("pn_a"), col("pn_b")) * threshold - 1e-9 &&
        reachable >= minOverlap)
      .select("id_a", "id_b")
      // the distinct's map-side partial aggregation dedups before the
      // exchange; measured FASTER than shipping the candidate multiset
      // straight into verification (duplicated pairs through the verify
      // joins cost more than the partial-agg'd exchange saves)
      .distinct()
  }

  /** Directed containment pairs: C(A→B) = |A∩B| / |A| ≥ threshold — the
    * ASYMMETRIC near-dup relation Jaccard misses: a paragraph quoted inside
    * a much longer page has high containment but low Jaccard, so quote
    * detection, subset-document pruning, and "is this doc a fragment of
    * that one" all need containment, not Jaccard. Output is directed
    * (a→b and b→a can both appear).
    *
    * Same lossless prefix-filter shape as [[jaccardPairs]], adapted to the
    * asymmetric bound: the probe side A explodes only its prefix (an
    * overlap of ⌈t·|A|⌉ forces a shared token in A's first
    * |A| − ⌈t·|A|⌉ + 1 df-ordered tokens — the identical [[prefixLen]]
    * formula), while the candidate side B must index ALL its tokens
    * (containment puts no upper bound on |B|). The only lossless B-side
    * prune is |B| ≥ ⌈t·|A|⌉ (the intersection fits inside B). Exact
    * containment is then verified per candidate with the codegen
    * merge-intersect kernel — identical output to the naive quadratic
    * join. Candidate volume is Σ_token df·pf (pf = prefix occurrences), so
    * like the Jaccard path it scales with token co-occurrence, never
    * corpus².
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 1,
      broadcastSets: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"bad threshold $threshold")
    val sets = tokenSets(df, idCol, textCol, n).localCheckpoint(false)
    val probe = sets.select(col("id").as("id_a"), col("n_tokens").as("n_a"),
      posexplode(slice(col("toks"), lit(1),
        prefixLen(col("n_tokens"), threshold))).as(Seq("pos_a", "th")))
    val index = sets.select(col("id").as("id_b"), col("n_tokens").as("n_b"),
      explode(col("toks")).as("th"))
    val minOverlap = ceil(col("n_a") * threshold - lit(1e-9))
    val cand = probe.join(index, Seq("th"))
      .filter(col("id_a") =!= col("id_b") && col("n_b") >= minOverlap)
      .select("id_a", "id_b")
      .distinct()
    val hint: DataFrame => DataFrame =
      if (broadcastSets) broadcast(_) else identity
    // same pushdown barrier as [[verifyPairs]]: one intersect evaluation
    // per candidate instead of 2-3 (the containment filter otherwise
    // folds into the join condition and re-expands n_common)
    cand
      .join(hint(sets.select(col("id").as("id_a"), col("toks_v").as("toks_a"),
        col("n_tokens").as("n_a"))), Seq("id_a"))
      .join(hint(sets.select(col("id").as("id_b"),
        col("toks_v").as("toks_b"))), Seq("id_b"))
      .withColumn("n_common",
        call_function("graft_sorted_intersect", col("toks_a"), col("toks_b")))
      .withColumn("__once", monotonically_increasing_id())
      .withColumn("containment",
        col("n_common").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold &&
        col("__once") >= lit(Long.MinValue))
      .select("id_a", "id_b", "n_common", "containment")
  }

  /** MinHash signatures: one row per id with `numHashes` Long min-hashes
    * `s0..s{n-1}`, permutation i being `(ha + i·hb) mod MinhashMod`, the
    * (ha, hb) double-hashing base coming from the fused
    * [[tokenHashPairs]] kernel (one md5 per distinct token, no hex
    * round-trip). One shuffle (group-by id).
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map { i =>
      min(pmod(col("ha") + lit(i.toLong) * col("hb"), lit(MinhashMod))).as(s"s$i")
    }
    tokenHashPairs(df, idCol, textCol)
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH (bands, rows) parameter planner — the `optimal_param` step every
    * MinHash deployment runs before [[lshBands]] (Leskovec, Rajaraman &
    * Ullman, MMDS §3.4.3; the datasketch library ships the same search):
    * for each factorization b·r = `numHashes`, the S-curve
    * P(candidate | sim = s) = 1 − (1 − sʳ)ᵇ is integrated on a fixed
    * `gridN`-point midpoint grid to get the false-positive mass below
    * `threshold` and the false-negative mass above it; the chosen row
    * minimizes (fp + fn, bands). Engine-replayable by the standard
    * discipline: each grid term rounds to a 9-dp DECIMAL contribution and
    * the sums are exact (the pageRank/KN rule — a raw double Σ over the
    * grid would be addition-order-dependent); the division by `gridN` and
    * the final display cast are the only IEEE steps. Everything is
    * (divisors × gridN)-sized — a planner, not a data pass. Returns
    * (bands, rows_per_band, fp_mass, fn_mass, total_error, chosen)
    * ordered by bands.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
      threshold: Double, gridN: Int = 1000): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")
    require(threshold > 0 && threshold < 1, s"bad threshold: $threshold")
    require(gridN >= 10, s"gridN too small for the integral: $gridN")
    import spark.implicits._
    val pairs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(b => (b, numHashes / b)).toDF("bands", "rows_per_band")
    val s = (col("id").cast("double") - 0.5) / gridN
    val p = lit(1.0) -
      pow(lit(1.0) - pow(s, col("rows_per_band").cast("double")),
        col("bands").cast("double"))
    val dec = org.apache.spark.sql.types.DecimalType(18, 9)
    val sums = broadcast(pairs).crossJoin(spark.range(1, gridN + 1L))
      .select(col("bands"), col("rows_per_band"),
        round(when(s < threshold, p).otherwise(lit(0.0)), 9).cast(dec)
          .as("__fp"),
        round(when(s >= threshold, lit(1.0) - p).otherwise(lit(0.0)), 9)
          .cast(dec).as("__fn"))
      .groupBy("bands", "rows_per_band")
      .agg(sum(col("__fp")).as("__fps"), sum(col("__fn")).as("__fns"))
    val best = sums.agg(
      min(struct((col("__fps") + col("__fns")).as("e"),
        col("bands").as("b"))).as("__best"))
    sums.crossJoin(broadcast(best))
      .select(col("bands"), col("rows_per_band"),
        round(col("__fps").cast("double") / gridN, 9).as("fp_mass"),
        round(col("__fns").cast("double") / gridN, 9).as("fn_mass"),
        round((col("__fps") + col("__fns")).cast("double") / gridN, 9)
          .as("total_error"),
        (col("__fps") + col("__fns") === col("__best.e") &&
          col("bands") === col("__best.b")).as("chosen"))
  }

  /** LSH banding over MinHash signatures: (id, band, band_hash), one row
    * per band. Docs equal on any full band become candidate pairs. The
    * band hash is `xxhash64` straight over the band's Long signature slice
    * — no md5, no string concat, one codegen'd hash per (id, band). The
    * bucket equivalence classes are slice-equality classes (modulo 64-bit
    * collisions), so the DuckDB oracle needs no hash twin: it joins on the
    * slice values directly, which defines the identical candidate set.
    */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, bands: Int): DataFrame =
    bandsOfSignatures(minhashSignatures(df, idCol, textCol, numHashes),
      numHashes, bands)

  /** [[lshBands]] over an ALREADY-COMPUTED signature relation
    * (id, s0..s{numHashes-1}) — the entry point for persisted signatures
    * ([[incrementalDedup]]), where the corpus text is not re-read.
    */
  def bandsOfSignatures(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { bidx =>
      val slice = (0 until rows).map(r => col(s"s${bidx * rows + r}"))
      struct(lit(bidx).as("band"), xxhash64(lit(bidx) +: slice: _*).as("band_hash"))
    }
    sig.select(col("id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.band_hash").as("band_hash"))
  }

  /** MinHash-LSH near-dup pairs: candidates from band collisions, then
    * exact Jaccard verification ≥ threshold. The scale path: candidate
    * generation is linear in corpus size (plus per-bucket joins) instead of
    * even the prefix join's per-token fan-out. May miss pairs (LSH false
    * negatives); tune (numHashes, bands) for the target threshold.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 12,
      bands: Int = 3,
      broadcastSets: Boolean = true): DataFrame =
    verifyPairs(minhashCandidates(df, idCol, textCol, numHashes, bands),
        verifySets(df, idCol, textCol).localCheckpoint(false), threshold,
        broadcastSets)
      .select("id_a", "id_b", "jaccard")

  /** Candidate (id_a, id_b) pairs from LSH band collisions, before exact
    * verification — exposed for probing/recall analysis.
    *
    * FIRST-COLLISION dedup instead of `distinct()`: one join per band on
    * the band's signature-slice equality, with the residual predicate
    * "some earlier band's slices differ" — a pair colliding in several
    * bands is emitted only by its first, so the union is unique BY
    * CONSTRUCTION and the multi-million-row candidate distinct shuffle
    * disappears. The joins shuffle only the (tiny, one-row-per-doc)
    * signature relation; the join OUTPUT flows straight into verification
    * without ever being re-partitioned. Same candidate set as the
    * banded-self-join-then-distinct formulation, at bands× fewer output
    * rows materialized and zero wide shuffles.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 12, bands: Int = 3): DataFrame =
    candidatesOfSignatures(
      minhashSignatures(df, idCol, textCol, numHashes).localCheckpoint(false),
      numHashes, bands)

  /** [[minhashCandidates]] over an already-computed signature relation —
    * same first-collision construction, no text re-read.
    */
  def candidatesOfSignatures(sig: DataFrame, numHashes: Int, bands: Int)
      : DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val rows = numHashes / bands
    def side(p: String) = sig.select(
      col("id").as(s"id_$p") +:
        (0 until numHashes).map(i => col(s"s$i").as(s"${p}s$i")): _*)
    val a = side("a")
    val b = side("b")
    (0 until bands).map { bidx =>
      val bandEq = (0 until rows)
        .map(r => col(s"as${bidx * rows + r}") === col(s"bs${bidx * rows + r}"))
        .reduce(_ && _)
      val earlierDiffer = (0 until bidx).map { bp =>
        (0 until rows)
          .map(r => col(s"as${bp * rows + r}") =!= col(s"bs${bp * rows + r}"))
          .reduce(_ || _)
      }.foldLeft(lit(true))(_ && _)
      a.join(b, bandEq && col("id_a") < col("id_b") && earlierDiffer)
        .select("id_a", "id_b")
    }.reduce(_ unionByName _)
  }

  /** Connected components over an undirected pair graph by min-label
    * propagation: every node starts as its own component; each round a node
    * takes the minimum label among itself and its neighbors; converged when
    * the label sum stops decreasing (labels only decrease, so the DECIMAL
    * sum is a monotone convergence witness — one cheap agg per round, no
    * row-level diff join). Each round runs two propagation hops (one
    * join + one group-by each — all shuffles on the node id), so the
    * round count is bounded by half the graph diameter, plus the one
    * round that witnesses convergence; near-dup graphs are clique-ish,
    * so that is 2–3 rounds. For web-scale or high-diameter graphs use
    * [[connectedComponentsStars]] (same API, same labeling): O(log n)
    * rounds independent of diameter, where this variant needs
    * diameter/2-many rounds.
    *
    * @param ids   relation with column `id` (one row per node)
    * @param pairs relation with columns `id_a`,`id_b` (undirected edges)
    * @return (id, component) — component = min node id reachable
    */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // localCheckpoint (eager) on every iteration state: iterative DataFrame
    // algorithms otherwise grow the logical plan multiplicatively per round
    // (labels appears twice in each next-labels plan), and planning —
    // not execution — becomes the bottleneck by iteration ~4.
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = ids.select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    var prevSum: java.math.BigDecimal = null
    var it = 0
    var converged = false
    // one min-label propagation hop; labels only DECREASE, so composing
    // hops preserves the fixpoint (component = min reachable id)
    def hop(l: DataFrame): DataFrame = {
      val neighborMin = edges
        .join(l.select(col("id").as("dst"), col("component")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("component")).as("ncomp"))
      l.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("ncomp"), col("component")))
            .as("component"))
    }
    while (!converged && it < maxIter) {
      // TWO hops per checkpointed round: the checkpoint job, the
      // convergence aggregate and the per-round planning dominate the
      // per-round cost on bounded graphs, and diameter-many hops arrive
      // at the same fixpoint in half the barriers (measured 0.67× on the
      // dbscan core graph, labels identical — labels only decrease, so
      // composing hops preserves the min-reachable-id fixpoint; on
      // clique-ish graphs that converge in one hop the second hop runs
      // over already-stable labels, which the same measurement shows is
      // cheaper than the barrier it replaces). The inner hop's subtree
      // appears twice in the outer plan (join + left-join branches) —
      // canonical, so ReusedExchange computes it once.
      val next = hop(hop(labels)).localCheckpoint(true)
      val s = next.agg(sum(col("component").cast(DecimalType(38, 0))))
        .head().getDecimal(0)
      labels.unpersist()
      labels = next
      // an EMPTY node set sums to null every round — two consecutive
      // nulls are the same fixpoint witness as two equal sums
      converged =
        if (s == null) prevSum == null && it > 0
        else prevSum != null && prevSum.compareTo(s) == 0
      prevSum = s
      it += 1
    }
    edges.unpersist()
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents exhausted maxIter=$maxIter rounds (two hops " +
          "each) without the sum-convergence witness — labels may be " +
          "partial (graph diameter > 2·maxIter); survivors computed from " +
          "them will over-count")
    labels
  }

  /** Connected components by ALTERNATING SMALL-STAR / LARGE-STAR edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the web-scale variant of [[connectedComponents]]:
    * round count is O(log n) in the worst case regardless of graph
    * DIAMETER, where min-label propagation needs diameter-many rounds (a
    * 1000-link chain needs 1000 propagation rounds but ~10 star rounds).
    * Each round is two group-bys over the edge list; no per-node label
    * state is carried, so the working set is the (shrinking) edge list
    * itself.
    *
    *  - large-star: per node u over its full neighborhood Γ(u),
    *    m = min(Γ(u) ∪ {u}); rewrite each strictly-larger neighbor v > u
    *    to the edge (v, m).
    *  - small-star: per node u over its smaller neighbors Γ≤(u) (edges
    *    directed larger → smaller), m = min(Γ≤(u)); rewrite every
    *    v ∈ Γ≤(u) ∪ {u}, v ≠ m, to (v, m).
    *
    * Both preserve connectivity (paper, Lemmas 1–2); the fixpoint is the
    * star graph child → component-min. Convergence witness: (edge count,
    * DECIMAL sum of edge hashes) stable across a round — one cheap
    * aggregate, no edge-set anti-join. Same output contract as
    * [[connectedComponents]]: (id, component = min reachable id).
    *
    * Selection rule (measured, SURVEY §6.1 CC-variant isolation): use
    * THIS variant by default at scale. On the 50k dup-dense corpus' shared 90.6M
    * verified edge set it produced the identical labeling 2.1× faster
    * than min-label (73 s vs 156 s — its per-round working set is the
    * shrinking edge list, not edges ⋈ labels); on a 200k-node chain
    * min-label at its default round budget returned 199,980 PARTIAL
    * components (the warn path) while stars converged to 1 in 18
    * rounds. Min-label remains fine for small verified low-diameter
    * graphs where the label-sum convergence witness is convenient.
    */
  def connectedComponentsStars(ids: DataFrame, pairs: DataFrame,
      maxIter: Int = 30): DataFrame = {
    import org.apache.spark.sql.types.DecimalType

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy("u").agg(min(col("v")).as("m"))
      val neighborEdges = dir.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      // u > all of Γ≤(u) ≥ m, so (u, m) is never a self-loop
      val selfEdges = mins.select(col("u"), col("m").as("v"))
      neighborEdges.unionByName(selfEdges).distinct()
    }

    var edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    var prev: (Long, java.math.BigDecimal) = null
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val w = next
        .agg(count(lit(1)),
          sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0))))
        .head()
      val cur = (w.getLong(0),
        Option(w.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
      edges.unpersist()
      edges = next
      converged = prev != null && prev._1 == cur._1 &&
        prev._2.compareTo(cur._2) == 0
      prev = cur
      it += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponentsStars exhausted maxIter=$maxIter without a " +
          "stable edge set — labels may be partial")
    // fixpoint edges are (child, component-min) stars; isolated nodes label
    // themselves
    val labels = edges.groupBy(col("u").as("id"))
      .agg(min(col("v")).as("__m"))
    ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("__m"), col("id")).as("component"))
  }

  /** End-to-end scalable near-dup dedup — the operator a 100 TB corpus
    * actually runs (pair listing is quadratic in cluster size; clusters and
    * survivors are linear): MinHash-LSH candidates → exact-Jaccard verified
    * edges → connected components → keep the minimum id per component.
    * Returns the surviving rows of `df`.
    */
  def nearDupDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 12,
      bands: Int = 3,
      broadcastSets: Boolean = true): DataFrame = {
    // Collapse set-identical docs first: within a group J = 1.0, so every
    // member joins its representative's cluster by construction, and only
    // the min-id representative can ever be the cluster survivor. On
    // dup-heavy corpora this shrinks the quadratic pair stage by the dup
    // factor squared. Docs with NO tokens never appear in tokenSets →
    // no edges → they remain singletons and survive (empty-vs-empty
    // Jaccard is 0/0 → no pair, matching jaccardPairs semantics).
    val setHash = verifySets(df, idCol, textCol)
      .select(col("id"), xxhash64(col("toks_v")).as("set_hash"))
    val reps = setHash.groupBy("set_hash").agg(min(col("id")).as("rep_id"))
    val repDocs = df.join(reps.select(col("rep_id").as(idCol)),
      Seq(idCol), "left_semi")
    val repPairs = minhashLshPairs(repDocs, idCol, textCol, threshold,
      numHashes, bands, broadcastSets).select("id_a", "id_b")
    // members attach to their representative with an explicit J=1 edge
    val memberEdges = setHash.join(reps, Seq("set_hash"))
      .filter(col("id") =!= col("rep_id"))
      .select(col("rep_id").as("id_a"), col("id").as("id_b"))
    val comps = connectedComponents(
      df.select(col(idCol).as("id")), repPairs.unionByName(memberEdges))
    val keep = comps.groupBy("component").agg(min(col("id")).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Approximate cluster dedup — the strictly-linear 100 TB variant: LSH
    * band buckets emit STAR edges (every member → the bucket's min id)
    * instead of all m²/2 within-bucket pairs, so the edge set is ≤ bands·n
    * regardless of cluster sizes.
    *
    * With `threshold > 0` each star edge is Jaccard-verified (one
    * merge-intersect per edge — still linear) and failing edges dropped:
    * measured on a 50k-doc hot-vocabulary corpus, unverified star chaining
    * transitively over-merges (14 survivors where exact clustering keeps
    * 17,484), while verified stars keep precision close to exact at linear
    * cost. Recall stays below [[nearDupDedup]] either way (a true pair
    * links only through bucket minima) — the standard trade at corpus
    * scales where even candidate pair lists don't fit.
    */
  def nearDupDedupFast(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 12,
      bands: Int = 3,
      threshold: Double = 0.0,
      broadcastSets: Boolean = true,
      starsCc: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val band = lshBands(df, idCol, textCol, numHashes, bands)
    val starEdges = band
      .withColumn("rep", min(col("id"))
        .over(Window.partitionBy(col("band"), col("band_hash"))))
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
      .distinct()
    val edges =
      if (threshold <= 0.0) starEdges
      else verifyPairs(starEdges,
        verifySets(df, idCol, textCol).localCheckpoint(false), threshold,
        broadcastSets)
        .select("id_a", "id_b")
    val ids = df.select(col(idCol).as("id"))
    val comps =
      if (starsCc) connectedComponentsStars(ids, edges)
      else connectedComponents(ids, edges)
    val keep = comps.groupBy("component").agg(min(col("id")).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Persisted incremental-dedup index — one row per corpus doc with
    * everything the NEXT batch needs, so the old corpus is never re-read or
    * re-hashed ([[incrementalDedup]]):
    *
    *  - `component` — the doc's cluster label under the verified
    *    MinHash-LSH near-dup graph (candidates → exact-Jaccard edges → CC);
    *    the label is the component's minimum id, i.e. its SURVIVOR.
    *  - `s0..s{numHashes-1}` — the MinHash signature (null for token-less
    *    docs), the cross-batch candidate generator.
    *  - `toks_v`, `n_tokens` — the sorted token-hash set (null for
    *    token-less docs), the exact-verification side.
    *
    * At 100 TB this relation is what lives between pipeline runs (a few
    * hundred bytes/doc vs the raw text); computing it costs the same one
    * full-dedup pass the corpus needed anyway.
    */
  def incrementalState(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      numHashes: Int = 12,
      bands: Int = 3,
      broadcastSets: Boolean = true): DataFrame = {
    val sets = verifySets(df, idCol, textCol).localCheckpoint(false)
    val edges = verifyPairs(
        minhashCandidates(df, idCol, textCol, numHashes, bands),
        sets, threshold, broadcastSets)
      .select("id_a", "id_b")
    connectedComponents(df.select(col(idCol).as("id")), edges)
      .join(minhashSignatures(df, idCol, textCol, numHashes), Seq("id"), "left")
      .join(sets.select(col("id"), col("toks_v"), col("n_tokens")),
        Seq("id"), "left")
  }

  /** Dedup a NEW batch against a persisted index ([[incrementalState]]) —
    * the production shape: every round re-hashing the whole corpus is
    * exactly what a 100 TB pipeline cannot afford, so the old side arrives
    * as signatures + token sets + component labels and is never re-read.
    *
    * EXACT by construction — returns precisely the survivors a full-corpus
    * re-run (candidates → verified edges → CC → min per component) would
    * keep, including when a batch doc BRIDGES two old clusters: each old
    * component is a connected subgraph, so contracting it to one node
    * (labeled by its min id) preserves both the merged components and every
    * component's minimum; old↔old edges need no recomputation because CC
    * already resolved them into the labels.
    *
    * Plan shape: one signature + token-set pass over the BATCH only;
    * batch↔batch candidates by first-collision band joins, batch↔old by a
    * band join against the persisted signatures; exact-Jaccard verify over
    * the union; CC over the contracted graph (nodes = old components +
    * batch ids — near the SURVIVOR count, not the corpus size). Set
    * `broadcastSets = false` when the combined token sets outgrow the
    * broadcast budget.
    *
    * @return single column `idCol`: ALL survivors of old ∪ batch.
    */
  def incrementalDedup(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      state: DataFrame,
      threshold: Double,
      numHashes: Int = 12,
      bands: Int = 3,
      broadcastSets: Boolean = true): DataFrame = {
    val sigNew = minhashSignatures(batch, idCol, textCol, numHashes)
      .localCheckpoint(false)
    val setsNew = verifySets(batch, idCol, textCol).localCheckpoint(false)
    val candNew = candidatesOfSignatures(sigNew, numHashes, bands)
    // batch↔old: band-bucket collisions across the two signature relations
    // (a pair colliding in several bands dedups here — tiny relative to the
    // within-corpus candidate volume, so a distinct beats residual bookkeeping)
    val bandOld = bandsOfSignatures(state.filter(col("s0").isNotNull),
      numHashes, bands)
    val candCross = bandOld
      .select(col("band"), col("band_hash"), col("id").as("id_a"))
      .join(bandsOfSignatures(sigNew, numHashes, bands)
        .select(col("band"), col("band_hash"), col("id").as("id_b")),
        Seq("band", "band_hash"))
      .select("id_a", "id_b")
      .distinct()
    val setsAll = state.filter(col("n_tokens").isNotNull)
      .select(col("id"), col("toks_v"), col("n_tokens"))
      .unionByName(setsNew.select(col("id"), col("toks_v"), col("n_tokens")))
    val edges = verifyPairs(candNew.unionByName(candCross), setsAll,
        threshold, broadcastSets)
      .select("id_a", "id_b")
    // contract old endpoints to their component label (= old survivor id)
    val oldComp = state.select(col("id"), col("component"))
    def contract(e: DataFrame, endCol: String) =
      e.join(oldComp.select(col("id").as(endCol),
          col("component").as(s"__c_$endCol")), Seq(endCol), "left")
        .withColumn(endCol, coalesce(col(s"__c_$endCol"), col(endCol)))
        .drop(s"__c_$endCol")
    val contracted = contract(contract(edges, "id_a"), "id_b")
      .filter(col("id_a") =!= col("id_b"))
    val nodes = state.select(col("component").as("id")).distinct()
      .unionByName(batch.select(col(idCol).as("id")))
    connectedComponents(nodes, contracted)
      .groupBy("component").agg(min(col("id")).as(idCol))
      .select(idCol)
  }

  /** 32-bit SimHash over distinct tokens: bit i of a token's contribution
    * is the parity of hex digit i of its md5 (ascii(c) % 2 — expressible in
    * both engines); the document bit is the sign of the summed ±1 votes.
    * Returns (id, simhash: Long).
    *
    * Computed entirely per document by the fused `graft_simhash` codegen
    * expression ([[graft.functions.SimHash32]]) — ZERO shuffles, replacing
    * the explode + 32-sum group-by formulation. Token-less documents are
    * dropped (the grouped formulation never produced a row for them).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        call_function("graft_simhash", col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, using the
    * block trick for candidate generation: split 32 bits into
    * `maxHamming + 1` blocks — any pair within the distance budget must
    * agree exactly on at least one block (pigeonhole), so candidates come
    * from equality joins on block values, never an all-pairs compare.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sh = simhash(df, idCol, textCol).localCheckpoint(false)
    val nBlocks = maxHamming + 1
    val width = 32 / nBlocks
    val blocks = (0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("simhash"), b * width).bitwiseAND(lit((1L << width) - 1))
          .as("blk_val"))
    }
    val blk = sh.select(col("id"), col("simhash"), explode(array(blocks: _*)).as("b"))
      .select(col("id"), col("simhash"), col("b.blk").as("blk"), col("b.blk_val").as("blk_val"))
    val cand = blk.select(col("blk"), col("blk_val"), col("id").as("id_a"), col("simhash").as("sh_a"))
      .join(blk.select(col("blk"), col("blk_val"), col("id").as("id_b"), col("simhash").as("sh_b")),
        Seq("blk", "blk_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b")
      .distinct()
    cand
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Sub-document exact dedup — the CCNet paragraph-dedup shape (Wenzek
    * et al. 2020 drop duplicated *paragraphs* across a web snapshot before
    * any document-level near-dup pass; boilerplate headers/footers repeat
    * across millions of pages whose documents are otherwise unique). The
    * corpus has no newlines, so the unit is the non-overlapping
    * `chunkSize`-token chunk ([[graft.ops.Prep.chunkText]] with
    * stride = size); with newline-delimited text the same plan runs off
    * `split(text, '\n')`.
    *
    * Keeps the FIRST occurrence of each chunk content (min (doc_id,
    * start_offset) — a groupBy min-struct, partial-aggregable, never a
    * window over a hot hash) and reassembles each document from its
    * surviving chunks in order. Two shuffles: one on the 128-bit chunk
    * digest (the dedup exchange), one on doc_id (reassembly). Documents
    * whose every chunk was seen earlier come back with `dedup_text` NULL —
    * the fully-boilerplate drop case.
    *
    * Returns (doc_id, n_chunks, n_kept_chunks, dedup_text).
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int): DataFrame = {
    val chunks = Prep.chunkText(docs, idCol, textCol, chunkSize, chunkSize)
      .withColumn("__ch", md5(col("chunk_text")))
    val first = chunks.groupBy("__ch")
      .agg(min(struct(col("doc_id"), col("start_offset"))).as("__first"))
    chunks.join(first, Seq("__ch"))
      .withColumn("__kept",
        col("doc_id") === col("__first.doc_id") &&
          col("start_offset") === col("__first.start_offset"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept_chunks"),
        array_join(transform(
          array_sort(collect_list(when(col("__kept"),
            struct(col("chunk_idx"), col("chunk_text"))))),
          s => s.getField("chunk_text")), " ").as("__joined"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept_chunks"),
        when(col("n_kept_chunks") > 0, col("__joined"))
          .otherwise(lit(null).cast("string")).as("dedup_text"))
  }

  /** Exact-substring span removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", the ExactSubstr
    * transform): every token covered by a `minTokens`-gram whose content
    * occurs ≥ 2 times in the corpus (any document, including its own) is
    * removed, and each document reassembles from its surviving tokens in
    * order — the transform [[graft.ops.TextAnalysis.dupNgramCoverage]]
    * only measures. This is the symmetric all-copies variant (the paper's
    * tool drops every occurrence of a duplicated span): order-free, so no
    * occurrence needs to be elected "first" and the whole pass stays
    * embarrassingly relational. Overlapping duplicated grams union their
    * cover — a span of k ≥ minTokens duplicated tokens is covered by its
    * k − minTokens + 1 grams and removed wholesale.
    *
    * Shape at scale: positioned grams carry a 64-bit xxhash64 identity
    * (never the window string — the [[graft.ops.TextAnalysis
    * .repetitionStats]] collision argument); the duplicated-gram relation
    * is one count shuffle on the hash; cover positions explode only from
    * duplicated occurrences (bounded by dup mass × minTokens, collapsed
    * by DISTINCT before the anti-join); survivors anti-join on
    * (doc, pos) and reassemble in one doc shuffle — the [[chunkDedup]]
    * reassembly shape. No UDFs, no driver state.
    *
    * Returns (doc_id, n_tokens, n_removed, clean_text) for documents with
    * ≥ 1 token; fully-duplicated documents come back with NULL clean_text
    * (the [[chunkDedup]] drop convention).
    */
  def spanRemoval(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int): DataFrame = {
    require(minTokens >= 2, s"minTokens must be >= 2: $minTokens")
    val t = col("__t")
    val withToks = docs.select(col(idCol).as("doc_id"),
      filter(split(col(textCol), " "), s => s =!= "").as("__t"))
    val tokens = withToks.select(col("doc_id"),
      posexplode(t).as(Seq("pos", "tok")))
    // positioned grams via posexplode of the slice+arrays_zip gram
    // array (codegen'd; pos = the old sequence index), hash computed
    // post-explode — no interpreted per-element lambda
    val grams = withToks.select(col("doc_id"),
        posexplode(TextAnalysis.ngramZip(t, minTokens)).as(Seq("p", "__g")))
      .select(col("doc_id"), col("p"),
        xxhash64((1 to minTokens).map(j => col(s"__g.w$j")): _*).as("gh"))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= 2).select("gh")
    val covered = grams.join(dup, Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + minTokens - 1)).as("pos"))
      .distinct()
    val surv = tokens.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("__n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("__joined"))
    withToks.filter(size(t) >= 1)
      .select(col("doc_id"), size(t).cast("long").as("n_tokens"))
      .join(surv, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .as("n_removed"),
        when(coalesce(col("__n_kept"), lit(0L)) > 0, col("__joined"))
          .otherwise(lit(null).cast("string")).as("clean_text"))
  }
}
