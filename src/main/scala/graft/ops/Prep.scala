package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Training-data preparation operators — the step between a cleaned corpus
  * and a training run (north-star extension surface; the reference stops at
  * feature extraction + quality scoring, `ML Feature Store Pipeline.py:164-199`,
  * and these are the operations its pipeline would need next at 100 TB):
  *
  *  - [[tfidf]] — term weighting over a document corpus;
  *  - [[standardize]] — per-group z-score / min-max feature normalization
  *    (the classic serving-skew trap: stats computed ONCE, then applied as
  *    a broadcast join, so train and serve normalize identically);
  *  - [[featureHash]] — the hashing trick: unbounded categorical vocabulary
  *    → fixed B buckets with ±1 signs, no vocabulary table at all;
  *  - [[groupSplit]] — leakage-free train/val/test assignment by GROUP key
  *    (all rows of a user land in one split, on any engine, any run);
  *  - [[packSequences]] — concatenate-and-chunk sequence packing: documents
  *    laid on a contiguous token stream, packs = fixed token-budget windows
  *    (how LLM pretraining batches are formed from variable-length docs);
  *  - [[mixtureSample]] — per-source dataset mixture weighting by
  *    deterministic hash threshold (corpus mixing without a shuffle).
  *
  * Determinism discipline throughout: no `rand()` — hash-threshold
  * decisions (md5, mirrored verbatim in oracle SQL); no double
  * accumulation — sums in exact DECIMAL, scalar math on the aggregates.
  */
object Prep {

  private val Money = DecimalType(18, 2)
  // exact sum of money×money products (scale 4 from multiplying two scale-2)
  private val MoneySq = DecimalType(38, 4)

  private def toks(textCol: Column): Column =
    filter(split(textCol, " "), t => t =!= "")

  /** md5-derived bucket in [0, buckets) — the engine-portable deterministic
    * hash used by every sampling/splitting decision here (same value on any
    * engine/partitioning/run; mirrored in oracle SQL as
    * `('0x' || substr(md5(x),1,12))::BIGINT % buckets`). Kernel-backed
    * when the session registers [[graft.GraftExtensions]]; auto-falls
    * back to the builtin spelling on a vanilla session
    * ([[graft.functions.Kernels.md5hash48]] — bit-identical either way).
    */
  def hashBucket(key: Column, buckets: Int): Column =
    pmod(graft.functions.Kernels.md5hash48(key.cast("string")), lit(buckets))

  /** Pure-builtin spelling of [[hashBucket]]'s 48-bit hash — the kernel's
    * bit-identity witness (VectorExprsSpec); [[hashBucket]] selects it
    * automatically on sessions without [[graft.GraftExtensions]].
    */
  def hashBucketBuiltin(key: Column, buckets: Int): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 12), 16, 10).cast("long"),
      lit(buckets))

  /** Smooth TF-IDF over a token corpus: `tf × (ln((1+N)/(1+df)) + 1)`.
    * Shape at scale: one shuffle for (doc, term) counts; N arrives as a
    * broadcast one-row cross join (no collect). Returns
    * (doc_id, term, tf, df, n_docs, tfidf).
    *
    * `broadcastDf` picks how document frequencies rejoin the tf relation:
    *  - `true` (default fast path) — df is broadcast; right when the
    *    vocabulary is bounded (curated corpora, capped token sets).
    *  - `false` (scale path) — df joins by shuffle ON THE EXCHANGE THE TF
    *    AGGREGATE ALREADY CREATED: tf is hash-partitioned by (doc_id, term),
    *    but df's groupBy("term") re-partitions by term and the join reuses
    *    that layout, so the fallback costs one extra exchange of the tf
    *    relation and nothing else. A 100 TB web corpus' vocabulary (typos,
    *    numbers, code fragments) is 10⁸–10⁹ terms — far past the 8 GB
    *    broadcast cap, so the broadcast hint must not be structural.
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
      broadcastDf: Boolean = true): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(toks(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(if (broadcastDf) broadcast(docFreq) else docFreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        (log((lit(1.0) + col("n_docs")) / (lit(1.0) + col("df"))) + 1.0), 6))
      .select("doc_id", "term", "tf", "df", "n_docs", "tfidf")
  }

  /** Top-k terms per document by TF-IDF (ties → lexicographically first
    * term). Window partitions by document — balanced regardless of corpus
    * size, since a document's term list is bounded by its length.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    tfidf(docs, idCol, textCol)
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("tfidf").desc, col("term"))).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "tfidf")

  /** Per-group z-score + min-max normalization of `valueCol`. The group
    * stats are ONE aggregate (values cast to exact DECIMAL(18,2); squares
    * summed in DECIMAL(38,4) — bit-stable on any partitioning) broadcast
    * back onto the rows; variance is the population form
    * `E[x²] − mean²` computed on the driver-deterministic aggregates.
    * Returns the input columns plus (z, minmax), null when the group is
    * degenerate (zero variance / single value).
    */
  def standardize(df: DataFrame, valueCol: String, groupCols: Seq[String])
      : DataFrame = {
    val xd = col(valueCol).cast(Money)
    val stats = df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("__n"),
      sum(xd).as("__s"),
      sum(xd * xd).cast(MoneySq).as("__ss"),
      min(xd).as("__min"),
      max(xd).as("__max"))
    val mean = col("__s").cast("double") / col("__n")
    val varPop = col("__ss").cast("double") / col("__n") - mean * mean
    val range = (col("__max") - col("__min")).cast("double")
    df.join(broadcast(stats), groupCols)
      .withColumn("z", when(varPop > 0,
        round((xd.cast("double") - mean) / sqrt(varPop), 6)))
      .withColumn("minmax", when(range > 0,
        round((xd - col("__min")).cast("double") / range, 6)))
      .drop("__n", "__s", "__ss", "__min", "__max")
  }

  /** The hashing trick: project categorical feature strings onto `buckets`
    * fixed dimensions with a ±1 sign per feature (Weinberger et al. 2009,
    * "Feature Hashing for Large Scale Multitask Learning") — no vocabulary
    * table, no unbounded pivot, collisions cancel in expectation thanks to
    * the sign. Bucket and sign both derive from md5 (engine-portable).
    * Returns (keyCols*, bucket, value = Σ sign) — one shuffle on
    * (key, bucket).
    */
  def featureHash(df: DataFrame, keyCols: Seq[String], featureCol: Column,
      buckets: Int): DataFrame = {
    val bucket = hashBucket(featureCol, buckets)
    val sign = when(
      pmod(conv(substring(md5(featureCol.cast("string")), 13, 1), 16, 10)
        .cast("long"), lit(2)) === 0, lit(1L)).otherwise(lit(-1L))
    df.select(keyCols.map(col) :+ bucket.as("bucket") :+ sign.as("__sign"): _*)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(sum(col("__sign")).as("value"))
  }

  /** Leakage-free split assignment: every row of a group key (user,
    * session, document cluster…) lands in the SAME split, decided by hash
    * threshold — `trainPct`/`valPct` are percentages of the 100-bucket
    * space, the rest is test. Adds a `split` column; no shuffle, no join,
    * reproducible on any engine.
    */
  def groupSplit(df: DataFrame, keyCol: String, trainPct: Int, valPct: Int)
      : DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100,
      s"invalid split percentages: train=$trainPct val=$valPct")
    val b = hashBucket(col(keyCol), 100)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Concatenate-and-chunk sequence packing: documents are laid end-to-end
    * on a per-`groupCol` token stream (ordered by `idCol`) and a document
    * belongs to the pack where it STARTS — pack = ⌊start_offset / budget⌋,
    * the standard way LLM pretraining forms fixed-length batches from
    * variable-length documents. The window partitions by `groupCol`
    * (source/shard), so the running sum parallelizes; at 100 TB the shard
    * key is exactly the unit a writer task owns, so this is the natural
    * distribution. Returns (group, pack, doc_id, n_tokens, start_offset).
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, budget: Int): DataFrame = {
    val nTok = size(toks(col(textCol))).cast("long")
    val w = Window.partitionBy(groupCol).orderBy(idCol)
    docs.select(col(groupCol), col(idCol), nTok.as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("pack", floor(col("start_offset") / budget))
  }

  /** Exact stratified sampling: keep ⌈fraction · n⌉ rows per stratum —
    * deterministic (rows ranked by md5 of the key, then key), engine- and
    * partitioning-independent, and EXACT per-stratum counts where
    * `df.sample` is only exact in expectation.
    *
    * Hot-stratum safe by construction: ranking is TWO-PHASE. Rows are
    * salted by the md5's leading byte — a PREFIX of the sort key, so the
    * global md5 order within a stratum is salt-major and
    * `global rank = local rank (within salt range) + Σ counts of lower salt
    * ranges`. The offsets come from a tiny (strata × 256)-row aggregate
    * broadcast back, so ONE giant stratum fans out over 256 window
    * partitions instead of serializing into one; the local windows are the
    * only data-sized shuffle. Returns the input columns plus `sample_rank`
    * (the exact global per-stratum rank), filtered to the sample.
    */
  def stratifiedSample(df: DataFrame, strataCols: Seq[String],
      keyCol: String, fraction: Double): DataFrame = {
    require(fraction > 0 && fraction <= 1, s"bad fraction $fraction")
    hashRanked(df, strataCols, keyCol)
      .filter(col("sample_rank") <= ceil(col("__n") * fraction))
      .select(df.columns.map(col) :+ col("sample_rank"): _*)
  }

  /** The shared two-phase deterministic per-group ranking behind
    * [[stratifiedSample]], [[capPerKey]] and [[balanceClasses]]: every row
    * gets `sample_rank` — its exact 1-based rank within its group under the
    * global (md5(key), key) order — plus `__n`, the group size. Rows are
    * salted by the md5's leading byte (a PREFIX of the sort key, so the
    * global order is salt-major and
    * `global rank = local rank + Σ counts of lower salt ranges`); the
    * offsets are a tiny (groups × 256)-row aggregate broadcast back, so one
    * giant group fans out over 256 window partitions instead of
    * serializing.
    */
  private def hashRanked(df: DataFrame, groupCols: Seq[String],
      keyCol: String): DataFrame =
    hashRankedBy(df, groupCols, keyCol, md5(col(keyCol).cast("string")))

  private def hashRankedBy(df: DataFrame, groupCols: Seq[String],
      keyCol: String, hashExpr: Column): DataFrame = {
    val sc = groupCols.map(col)
    val salted = df
      .withColumn("__mh", hashExpr)
      // leading md5 byte: 0..255, and hex-lexicographic == numeric order,
      // so salt-major concatenation IS the full-md5 order
      .withColumn("__salt", conv(substring(col("__mh"), 1, 2), 16, 10)
        .cast("int"))
    val offsets = salted
      .groupBy((sc :+ col("__salt")): _*).agg(count(lit(1)).as("__c"))
      .withColumn("__offset", coalesce(sum(col("__c")).over(
        Window.partitionBy(sc: _*).orderBy(col("__salt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(sc: _*)))
      .drop("__c")
    val wLocal = Window.partitionBy((sc :+ col("__salt")): _*)
      .orderBy(col("__mh"), col(keyCol))
    salted
      .withColumn("__lrn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), groupCols :+ "__salt")
      .withColumn("sample_rank", col("__lrn") + col("__offset"))
  }

  /** Per-key document cap — the C4/RefinedWeb-style corpus-shaping rule
    * "keep at most `maxPerKey` documents per domain/source/shard" that stops
    * one mega-site from dominating a training mixture. Kept rows are the
    * `maxPerKey` lowest under the deterministic (md5(tie), tie) order — a
    * uniform within-key subsample, identical on any engine/partitioning —
    * never head-of-table (which would keep whatever the scan happened to
    * read first). Same two-phase ranking as [[stratifiedSample]], so a
    * hot key (the exact case the cap exists for) fans out over 256 window
    * partitions. Returns the input plus `sample_rank`.
    */
  def capPerKey(df: DataFrame, keyCols: Seq[String], tieCol: String,
      maxPerKey: Int): DataFrame = {
    require(maxPerKey > 0, s"cap must be positive, got $maxPerKey")
    hashRanked(df, keyCols, tieCol)
      .filter(col("sample_rank") <= maxPerKey)
      .select(df.columns.map(col) :+ col("sample_rank"): _*)
  }

  /** Exact class rebalancing by downsampling: every class keeps exactly
    * `min(class sizes)` rows (the uniform-under-hash deterministic subset),
    * producing a perfectly balanced training set without replacement.
    * The per-class target is ONE tiny aggregate-of-aggregate broadcast
    * back; ranking is the two-phase [[hashRanked]], so the majority class
    * (the hot group by definition) never serializes into one partition.
    */
  def balanceClasses(df: DataFrame, classCols: Seq[String], keyCol: String)
      : DataFrame = {
    val counts = df.groupBy(classCols.map(col): _*)
      .agg(count(lit(1)).as("__cn"))
    val target = counts.agg(min(col("__cn")).as("__target"))
    hashRanked(df, classCols, keyCol)
      .crossJoin(broadcast(target))
      .filter(col("sample_rank") <= col("__target"))
      .select(df.columns.map(col) :+ col("sample_rank"): _*)
  }

  /** Deterministic k-fold assignment by group key: fold = md5-bucket of the
    * key, so all rows of a key land in one fold (leakage-free, like
    * [[groupSplit]]) and the assignment is reproducible across engines,
    * runs and partitionings — cross-validation folds you can recompute
    * anywhere. Zero shuffle (per-row expression). Adds `fold` ∈ [0, k).
    */
  def kfold(df: DataFrame, keyCol: String, k: Int): DataFrame = {
    require(k > 1, s"need at least 2 folds, got $k")
    df.withColumn("fold", hashBucket(col(keyCol), k))
  }

  /** Deterministic negative sampling for implicit-feedback training
    * (the BPR / contrastive-recommender prep step): for each user, `k`
    * items they have NOT interacted with, drawn uniformly from the dense
    * item-id space `1..max(itemsIdCol)` by md5 — rejection-sampled against
    * the user's interactions, deterministic on any engine/partitioning.
    *
    * Linear shape: `k·oversample` candidate draws per user (a per-row
    * expression off a tiny sequence explode — never a user × item cross
    * join), one anti-join shuffle on (user, item) against the interaction
    * relation, and the dedup + rank windows share one user-keyed
    * exchange. The item-count anchor is a 1-row broadcast. Oversampling
    * covers rejections; a user who has interacted with nearly the whole
    * catalog can come up short (standard for rejection sampling — raise
    * `oversample` for dense-interaction regimes).
    *
    * Returns (userCol, neg_rank, itemCol, draw) — `draw` is the
    * reproducible random index that produced the item.
    */
  def negativeSample(interactions: DataFrame, userCol: String,
      itemCol: String, items: DataFrame, itemsIdCol: String, k: Int,
      oversample: Int = 4): DataFrame = {
    require(k > 0 && oversample >= 1, s"bad k=$k oversample=$oversample")
    val mx = items.agg(max(col(itemsIdCol)).cast("long").as("__mxi"))
    val draws = interactions.select(col(userCol)).distinct()
      .crossJoin(broadcast(mx))
      .select(col(userCol), col("__mxi"),
        explode(sequence(lit(0), lit(k * oversample - 1))).as("draw"))
      .withColumn(itemCol, lit(1L) + pmod(
        graft.functions.Kernels.md5hash48(
          concat(col(userCol).cast("string"), lit("_"),
            col("draw").cast("string"))),
        col("__mxi")))
    val wDedup = Window.partitionBy(col(userCol), col(itemCol))
      .orderBy(col("draw"))
    val wRank = Window.partitionBy(col(userCol)).orderBy(col("draw"))
    draws
      .join(interactions.select(col(userCol), col(itemCol)).distinct(),
        Seq(userCol, itemCol), "left_anti")
      .withColumn("__first", row_number().over(wDedup))
      .filter(col("__first") === 1)
      .withColumn("neg_rank", row_number().over(wRank).cast("long"))
      .filter(col("neg_rank") <= k)
      .select(col(userCol), col("neg_rank"), col(itemCol),
        col("draw").cast("long").as("draw"))
  }

  /** Forward fill (last-observation-carried-forward): nulls in `valueCol`
    * take the key's most recent non-null value under the (orderCols)
    * order — how a sparse feature stream becomes a dense training matrix
    * (sensors report on change; models want a value in every cell). Leading
    * nulls (no observation yet) stay null: backfilling them would leak the
    * future. One shuffle (key window), deterministic under duplicate
    * timestamps when orderCols ends with a tie-breaker. Adds
    * `<valueCol>_ffill`.
    */
  def forwardFill(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String): DataFrame = {
    require(orderCols.nonEmpty, "forwardFill needs an ordering")
    df.withColumn(s"${valueCol}_ffill",
      last(col(valueCol), ignoreNulls = true).over(
        Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Winsorization (percentile clipping) of a ≤2-dp money column: values
    * below the `pLo` percentile clamp to it, above `pHi` clamp to it — the
    * standard outlier guard before scaling/regression. Edges are exact
    * interpolated percentiles (ONE tiny aggregate broadcast back, no
    * collect), rounded to 6 dp and compared in DECIMAL — the same
    * engine-exactness argument as [[quantileBucket]]. At 100 TB the fences
    * read off the persisted mergeable quantile sketch
    * ([[graft.ops.Sketches.quantileSketchQuantiles]] over merged
    * per-ingest-batch knots) instead of a full-history percentile pass.
    * Returns the input plus `winsorized` (DECIMAL(18,6)), `clipped_lo`,
    * `clipped_hi`.
    */
  def winsorize(df: DataFrame, valueCol: String, pLo: Double, pHi: Double)
      : DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad percentiles [$pLo, $pHi]")
    val xd = col(valueCol).cast(Money)
    // percentile fed pre-grouped (value, count) rows builds the identical
    // counts map (bit-exact result) at ~distinct-count update calls
    // instead of row-count — the map-side partial count absorbs the
    // row-scale volume (guide §2.2 partial aggregation)
    val edges = df.groupBy(col(valueCol).as("__v"))
      .agg(count(col(valueCol)).as("__cnt"))
      .agg(percentile(col("__v"), array(lit(pLo), lit(pHi)), col("__cnt"))
        .as("__e"))
    val lo = round(element_at(col("__e"), 1), 6).cast(DecimalType(18, 6))
    val hi = round(element_at(col("__e"), 2), 6).cast(DecimalType(18, 6))
    df.crossJoin(broadcast(edges))
      .withColumn("clipped_lo", xd < lo)
      .withColumn("clipped_hi", xd > hi)
      .withColumn("winsorized",
        when(col("clipped_lo"), lo)
          .when(col("clipped_hi"), hi)
          .otherwise(xd.cast(DecimalType(18, 6))))
      .drop("__e")
  }

  /** [[winsorize]] with the fences read off MERGED quantile-sketch knots
    * ([[Sketches.quantileSketchBuild]] per `batchCol` ingest batch →
    * [[Sketches.quantileSketchQuantiles]]) — the persisted-sketch form,
    * completing the N193 swap-in trio with
    * [[Drift.psiBucketsFromSketch]]: a standing winsor pass re-derives
    * its fences from a few KB of knots instead of an exact-percentile
    * rescan of history. Fences sit within 1/knots rank of the exact
    * percentiles and are actual members of the DECIMAL(18,2) value grid
    * (the sketch stores data values, not interpolations), so clipping
    * stays hash-exact. `pLoPct`/`pHiPct` are integer percents.
    */
  def winsorizeFromSketch(df: DataFrame, valueCol: String,
      batchCol: Column, knots: Int, pLoPct: Int, pHiPct: Int): DataFrame = {
    require(pLoPct >= 1 && pHiPct <= 100 && pLoPct < pHiPct,
      s"bad percent fences [$pLoPct, $pHiPct]")
    val sketch = Sketches.quantileSketchBuild(df, col(valueCol), batchCol,
      knots)
    val edges = Sketches.quantileSketchQuantiles(sketch,
        Seq(pLoPct, pHiPct))
      .agg(min(when(col("q") === pLoPct, col("est_value"))).as("__lo"),
        min(when(col("q") === pHiPct, col("est_value"))).as("__hi"))
    val xd = col(valueCol).cast(Money)
    df.crossJoin(broadcast(edges))
      .withColumn("clipped_lo", xd < col("__lo"))
      .withColumn("clipped_hi", xd > col("__hi"))
      .withColumn("winsorized",
        when(col("clipped_lo"), col("__lo"))
          .when(col("clipped_hi"), col("__hi"))
          .otherwise(xd))
      .drop("__lo", "__hi")
  }

  /** [[quantileBucket]] with bin edges from merged quantile-sketch knots
    * — same swap-in as [[winsorizeFromSketch]] (edges within 1/knots
    * rank of exact, on the data's own value grid; `buckets` must divide
    * 100). Returns (bucket, n, lo, hi), buckets 1-based ascending.
    */
  def quantileBucketFromSketch(df: DataFrame, valueCol: String,
      batchCol: Column, knots: Int, buckets: Int): DataFrame = {
    require(buckets >= 2 && 100 % buckets == 0,
      s"buckets must divide 100: $buckets")
    val sketch = Sketches.quantileSketchBuild(df, col(valueCol), batchCol,
      knots)
    val pcts = (1 until buckets).map(_ * (100 / buckets))
    val breaks = Sketches.quantileSketchQuantiles(sketch, pcts)
      .agg(sort_array(collect_list(col("est_value"))).as("__breaks"))
    val xd = col(valueCol).cast(Money)
    val bucketExpr = (1 until buckets)
      .map(i => when(xd > element_at(col("__breaks"), i), 1).otherwise(0))
      .foldLeft(lit(1): Column)(_ + _)
    df.crossJoin(broadcast(breaks))
      .select(bucketExpr.cast("long").as("bucket"), xd.as("__xd"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("__xd")).cast("double").as("lo"),
        max(col("__xd")).cast("double").as("hi"))
  }

  /** Fixed-width histogram of a ≤2-dp money column: global min/max in exact
    * DECIMAL (one tiny aggregate, broadcast back — no collect), bin =
    * `min(⌊(x−mn)·bins/(mx−mn)⌋, bins−1)` computed in DOUBLE from the exact
    * DECIMAL endpoints (bit-identical across engines), counts and per-bin
    * DECIMAL sums exact. Returns (bin, bin_lo, bin_hi, n, total). One
    * shuffle (group-by bin).
    */
  def histogram(df: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins > 0, s"bad bin count $bins")
    val xd = col(valueCol).cast(Money)
    val stats = df.agg(min(xd).as("__mn"), max(xd).as("__mx"))
    val range = (col("__mx") - col("__mn")).cast("double")
    val bin = when(range > 0,
      least(floor((xd - col("__mn")).cast("double") * bins / range),
        lit(bins - 1))).otherwise(lit(0)).cast("long")
    df.crossJoin(broadcast(stats))
      .select(bin.as("bin"), xd.as("__xd"), col("__mn"), col("__mx"))
      .groupBy("bin")
      .agg(first(col("__mn")).as("__mn"), first(col("__mx")).as("__mx"),
        count(lit(1)).as("n"), sum(col("__xd")).cast("double").as("total"))
      .select(col("bin"),
        round(col("__mn").cast("double") +
          col("bin") * (col("__mx") - col("__mn")).cast("double") / bins, 6)
          .as("bin_lo"),
        round(col("__mn").cast("double") +
          (col("bin") + 1) * (col("__mx") - col("__mn")).cast("double") / bins, 6)
          .as("bin_hi"),
        col("n"), col("total"))
  }

  /** Overlapping token-window chunking — the context-window prep step for
    * pretraining / RAG indexing: chunk c starts at token `c·stride` and
    * spans `chunkSize` tokens (the tail chunk may be shorter). Entirely
    * per-row (explode of a bounded starts array) — no shuffle; chunk counts
    * are bounded by document length over stride. Documents with no tokens
    * produce no chunks. Returns (doc_id, chunk_idx, start_offset,
    * n_chunk_tokens, chunk_text).
    */
  def chunkText(docs: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, s"bad chunk=$chunkSize stride=$stride")
    val t = toks(col(textCol))
    val starts = when(size(t) > 0, sequence(lit(0), size(t) - 1, lit(stride)))
      .otherwise(array().cast("array<int>"))
    docs.select(col(idCol).as("doc_id"), t.as("__toks"),
        explode(starts).as("start_offset"))
      .select(col("doc_id"),
        (col("start_offset") / stride).cast("long").as("chunk_idx"),
        col("start_offset").cast("long"),
        slice(col("__toks"), col("start_offset") + 1, lit(chunkSize)).as("__c"))
      .select(col("doc_id"), col("chunk_idx"), col("start_offset"),
        size(col("__c")).cast("long").as("n_chunk_tokens"),
        concat_ws(" ", col("__c")).as("chunk_text"))
  }

  /** Dataset-mixture sampling: keep a row iff its md5 bucket (0–9999)
    * clears the source's weight threshold — deterministic corpus mixing
    * with zero shuffle (the decision is a per-row expression). Sources
    * absent from `weights` keep `defaultWeight`. */
  def mixtureSample(df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], defaultWeight: Double): DataFrame = {
    val threshold = weights.foldLeft(lit(defaultWeight * 10000)) {
      case (acc, (src, w)) =>
        when(col(sourceCol) === src, lit(w * 10000)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), 10000) < threshold)
  }

  /** [[mixtureSample]] under a MEASURED weight relation — the sampling
    * half of the DoReMi handoff: target mixture proportions w_i (e.g.
    * [[lossReweight]]'s `mixture_weight`) become per-source keep rates
    * with MAXIMUM data retention — the source with the largest
    * rate-per-row w_i/n_i is kept whole and every other source keeps
    * `(w_i/n_i) / (w_M/n_M)` of its rows, so surviving counts are
    * ∝ w_i (up to the 1/10000 hash granularity) and no row is dropped
    * that the target proportions don't force out.
    *
    * EXACT keep decision (no double-vs-threshold boundary anywhere):
    * weights quantize to nano-integers (they are 9-dp decimals), and
    * the per-row test cross-multiplies integers in DECIMAL(38,0) —
    * `hash(id) · wn_M · n_i < 10000 · wn_i · n_M` — so the decision is
    * bit-identical on any engine at any corpus size (hash < 10⁴,
    * wn ≤ 10⁹, n ≤ 10¹⁸ keeps the product inside precision 38 for any
    * real table). The max-rate source M is the argmax of the IEEE
    * double wn/n (one division of exact integers, engine-identical),
    * ties to the lexicographically LAST source via max-struct.
    *
    * Shape at scale: one bounded per-source count groupBy; the rates
    * and the 1-row argmax broadcast onto the corpus; the keep test is
    * a per-row expression — zero extra shuffle. Sources absent from
    * `weights` are dropped (the [[mixtureScheduleWeighted]]
    * convention). Returns the surviving rows of `df` unchanged.
    */
  def mixtureTargetSample(df: DataFrame, idCol: String, sourceCol: String,
      weights: DataFrame, wSourceCol: String, weightCol: String)
      : DataFrame = {
    val d38 = DecimalType(38, 0)
    val w = weights.select(col(wSourceCol).cast("string").as("__src"),
      (col(weightCol).cast(DecimalType(18, 9)) * 1000000000L)
        .cast("long").as("__wn"))
    val rates = df.groupBy(col(sourceCol).cast("string").as("__src"))
      .agg(count(lit(1)).as("__cnt"))
      .join(w, Seq("__src"))
    val mx = rates
      .agg(max(struct((col("__wn").cast("double") / col("__cnt"))
        .as("__r"), col("__src").as("__ms"))).as("__m"))
      .select(col("__m.__ms").as("__msrc"))
    val mRow = rates.join(broadcast(mx), col("__src") === col("__msrc"))
      .select(col("__wn").as("__wm"), col("__cnt").as("__nm"))
    df.join(broadcast(rates), df(sourceCol).cast("string") === col("__src"))
      .crossJoin(broadcast(mRow))
      .filter(hashBucket(col(idCol), 10000).cast(d38) *
        col("__wm").cast(d38) * col("__cnt").cast(d38) <
        lit(10000L).cast(d38) * col("__wn").cast(d38) *
          col("__nm").cast(d38))
      .drop("__src", "__cnt", "__wn", "__wm", "__nm")
  }

  /** PII patterns shared by [[redactPii]] and its oracle SQL — plain
    * regexes valid in both Java regex and RE2 (no lookaround, no
    * backreferences), applied email → phone → IPv4.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("emails", """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""", "[EMAIL]"),
    ("phones", """\d{3}-\d{3}-\d{4}""", "[PHONE]"),
    ("ips", """\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}""", "[IP]"))

  /** PII redaction — the pre-training privacy scrub: replaces every
    * email / phone / IPv4 match with a typed placeholder and reports
    * per-type match counts (counted on the ORIGINAL text, so counts are
    * independent of redaction order). Pure per-row expression work — zero
    * shuffle at any corpus size; the regexes are RE2-compatible so the
    * identical pipeline runs in the DuckDB oracle.
    *
    * Returns the input row plus `redacted`, `n_emails`, `n_phones`,
    * `n_ips`.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (acc, (_, pat, repl)) => regexp_replace(acc, pat, repl)
    }
    val counts = PiiPatterns.map { case (name, pat, _) =>
      regexp_count(col(textCol), lit(pat)).cast("long").as(s"n_$name")
    }
    df.select(col("*") +: redacted.as("redacted") +: counts: _*)
  }

  /** Gap-based sessionization: a new session starts whenever the time since
    * the key's previous event exceeds `gapSeconds` (or at the key's first
    * event). Classic behavioral-feature / training-sequence boundary op.
    *
    * One shuffle (window partition on the key); ordering within a key is
    * (ts, tieCol) so session numbering is deterministic under duplicate
    * timestamps. Returns the input plus `session_idx` (1-based per key).
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    val prevTs = lag(col(tsCol), 1).over(w)
    val isNew = when(prevTs.isNull ||
      unix_micros(col(tsCol)) - unix_micros(prevTs) > gapSeconds * 1000000L,
      1L).otherwise(0L)
    df.withColumn("session_idx",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007): a
    * weight-proportional sample of `k` rows without replacement —
    * priority = weight / u with u a deterministic per-key uniform, sample =
    * top-k priorities. Heavy rows are near-certain picks, light rows are
    * picked with probability ∝ weight, and the result is identical on any
    * engine / partitioning / run:
    *
    *  - u = (h48 + 1) / 2^48 with h48 the first 48 md5 bits of the key —
    *    both numerator and denominator are exactly representable, the
    *    divide is by a power of two (exact), so u is the SAME double
    *    everywhere;
    *  - priority = weight / u is then ONE correctly-rounded IEEE division —
    *    no logs or powers whose last-ulp could differ across libm
    *    implementations (that is why the Duffield u-division form is used
    *    here instead of the exponential-variates A-ES form);
    *  - top-k is (priority DESC, key) — a per-partition heap
    *    (TakeOrderedAndProject), no shuffle of the corpus.
    *
    * Returns (key, weight, priority) for the k sampled rows, priority
    * rounded AFTER the ordering. The (k+1)-th priority is the
    * Horvitz–Thompson threshold if unbiased subset-sum estimation is
    * needed downstream — pass k+1 and drop the tail row.
    */
  def prioritySample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int): DataFrame = {
    val h48 = graft.functions.Kernels.md5hash48(col(keyCol).cast("string"))
    val u = (h48 + lit(1L)).cast("double") / lit(281474976710656.0) // 2^48
    df.withColumn("__priority", col(weightCol).cast("double") / u)
      .orderBy(col("__priority").desc, col(keyCol))
      .limit(k)
      .select(col(keyCol), col(weightCol),
        round(col("__priority"), 4).as("priority"))
  }

  /** Smoothed target encoding (a.k.a. mean encoding) of a categorical key —
    * the feature-engineering staple for high-cardinality categoricals:
    * `te = (Σ_group y + m·global_mean) / (n_group + m)` with smoothing `m`
    * pulling rare groups toward the global mean (empirical-Bayes shrinkage).
    * Also emits the LEAVE-ONE-OUT variant `te_loo` — the row's own label is
    * excluded from its group's statistics, the standard guard against the
    * target-leakage trap that makes naive mean encoding overfit.
    *
    * Shape at scale: group sums are ONE aggregate broadcast back (groups =
    * category cardinality, tiny); the global mean is a 1-row broadcast cross
    * join. Label sums run in exact DECIMAL so the encoding is identical on
    * any partitioning; the final scalar math is a fixed IEEE expression
    * mirrored verbatim in oracle SQL.
    */
  def targetEncode(df: DataFrame, keyCols: Seq[String], labelCol: String,
      smoothing: Double): DataFrame = {
    require(smoothing > 0, s"smoothing must be positive, got $smoothing")
    val yd = col(labelCol).cast(Money)
    val stats = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(yd).as("__s"))
    val global = df.agg(count(lit(1)).as("__gn"), sum(yd).as("__gs"))
    val gMean = col("__gs").cast("double") / col("__gn")
    df.join(broadcast(stats), keyCols)
      .crossJoin(broadcast(global))
      .withColumn("te", round(
        (col("__s").cast("double") + lit(smoothing) * gMean) /
          (col("__n") + smoothing), 6))
      .withColumn("te_loo", round(
        ((col("__s") - yd).cast("double") + lit(smoothing) * gMean) /
          (col("__n") - 1 + smoothing), 6))
      .drop("__n", "__s", "__gn", "__gs")
  }

  /** Weight-of-evidence (WOE) encoding of a categorical against a binary
    * label — the credit-scoring / risk-modeling categorical encoder
    * (Siddiqi 2006): `woe_c = ln(P(c|pos) / P(c|neg))`, with additive
    * smoothing `alpha` on every count so single-class categories stay
    * finite. Also emits each category's information-value contribution
    * `iv_c = (P(c|pos) − P(c|neg)) · woe_c` — Σ iv_c is the screening
    * statistic that ranks categorical features.
    *
    * Shape at scale: ONE group-by over the category (integer counts,
    * map-side combined) + a 1-row global broadcast — the encoder table is
    * category-cardinality rows regardless of corpus size, then broadcasts
    * onto rows at serve time. Determinism: counts stay integers until the
    * fixed IEEE sequence (two divisions, one ln) rounded 9 dp — the
    * [[EventOps.cooccurrencePmi]] discipline; iv multiplies the ALREADY
    * 9-dp-quantized woe. Returns (category, n, n_pos, n_neg, woe, iv).
    */
  def woeEncode(df: DataFrame, keyCol: String, labelCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"alpha must be positive, got $alpha")
    val pos = when(col(labelCol), 1L).otherwise(0L)
    val stats = df.groupBy(col(keyCol).as("category"))
      .agg(count(lit(1)).as("n"), sum(pos).as("n_pos"))
      .withColumn("n_neg", col("n") - col("n_pos"))
    val global = stats.agg(sum(col("n_pos")).as("__tp"),
      sum(col("n_neg")).as("__tn"))
    val pShare = (col("n_pos") + alpha).cast("double") / (col("__tp") + alpha)
    val nShare = (col("n_neg") + alpha).cast("double") / (col("__tn") + alpha)
    stats.crossJoin(broadcast(global))
      .withColumn("woe", round(log(pShare / nShare), 9))
      .withColumn("iv", round((pShare - nShare) * col("woe"), 9))
      .drop("__tp", "__tn")
  }

  /** Exact-quantile discretization of a ≤2-dp money column into `buckets`
    * equal-frequency bins — the feature-binning prep step. Edges are the
    * exact interpolated percentiles (ONE tiny aggregate, broadcast back —
    * no collect); the bin decision is a chained `when` comparison, fully
    * codegen'd, no lambda fold.
    *
    * Engine-exactness of the bin boundaries: edges are rounded to 6 dp and
    * compared in DECIMAL. Interpolated percentiles of 2-dp values at
    * k/buckets positions are multiples of 10^-2/buckets — far from any
    * 5·10^-7 rounding boundary — so a last-ulp difference between two
    * engines' interpolation order can never move a row across a bin.
    * At 100 TB the edges read off the persisted mergeable quantile sketch
    * ([[graft.ops.Sketches.quantileSketchQuantiles]] over merged
    * per-ingest-batch knots, rank error N/K) instead of an exact
    * `percentile` pass over history. Returns (bucket, n, lo, hi) per
    * non-empty bin.
    */
  def quantileBucket(df: DataFrame, valueCol: String, buckets: Int)
      : DataFrame = {
    require(buckets > 1, s"need at least 2 buckets, got $buckets")
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val xd = col(valueCol).cast(Money)
    // same pre-grouped frequency form as [[winsorize]] — bit-exact
    val edges = df.groupBy(col(valueCol).as("__v"))
      .agg(count(col(valueCol)).as("__cnt"))
      .agg(percentile(col("__v"), array(qs.map(lit): _*), col("__cnt"))
        .as("__edges"))
    val bin = qs.indices.reverse.foldLeft(lit(buckets - 1): Column) {
      case (acc, i) =>
        val edge = round(element_at(col("__edges"), i + 1), 6)
          .cast(DecimalType(18, 6))
        when(xd <= edge, i).otherwise(acc)
    }
    df.crossJoin(broadcast(edges))
      .select(bin.cast("long").as("bucket"), xd.as("__xd"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col("__xd")).cast("double").as("lo"),
        max(col("__xd")).cast("double").as("hi"))
  }

  /** Hashed feature cross (the `AND` of categorical features, Weinberger-
    * hashed to a fixed space): bucket = md5 of the separator-joined feature
    * values mod `buckets`. No vocabulary of pair combinations is ever
    * materialized — the cross of two 10⁶-cardinality columns stays a
    * per-row expression. Returns the input plus `cross_bucket`.
    */
  def crossHash(df: DataFrame, featureCols: Seq[String], buckets: Int)
      : DataFrame = {
    require(featureCols.size >= 2, "a cross needs at least two features")
    val joined = concat_ws("\u0001", // non-printing separator: ("ab","c") must not collide with ("a","bc")
      featureCols.map(c => col(c).cast("string")): _*)
    df.withColumn("cross_bucket", hashBucket(joined, buckets))
  }

  /** Rolling event-time window features — the feature-store staple
    * ("spend in the trailing 7 days"): for every row, the sum of
    * `valueCol` and the event count over the trailing `windowMicros`
    * (inclusive of the current timestamp, peers included). One shuffle
    * (window partition on the key); the frame is a RANGE over
    * `unix_micros(ts)` so it is data-density-independent — a key with any
    * event rate gets the same time horizon. Sums run in exact DECIMAL
    * (values rounded to 6 dp first), so the rolling aggregate is
    * order-insensitive and engine-exact; nulls don't contribute to the sum
    * but do count as events.
    *
    * Returns the input plus `roll_value` (double) and `roll_events`.
    */
  def rollingTimeFeatures(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowMicros: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowMicros, 0)
    df.withColumn("roll_value",
        sum(round(col(valueCol), 6).cast(DecimalType(18, 6))).over(w)
          .cast("double"))
      .withColumn("roll_events", count(lit(1)).over(w))
  }

  /** Deterministic seeded GLOBAL shuffle with an explicit 1-based
    * `shuffle_pos` — the training-order primitive: epoch ordering,
    * shard assignment and resume offsets all need "the i-th example under
    * seed s" to be the same row on any engine, any partitioning, any day.
    *
    * Order is (md5(seed:key), key). The global index comes from the shared
    * [[hashRankedBy]] two-phase ranking — rows salt by the hash's leading
    * byte (a PREFIX of the sort key), per-salt local ranks get 256
    * broadcast offsets added — so there is never a single-partition global
    * window; a different `seed` is a fully independent permutation.
    */
  def globalShuffle(df: DataFrame, keyCol: String, seed: String): DataFrame =
    hashRankedBy(df, Nil, keyCol,
      md5(concat_ws(":", lit(seed), col(keyCol).cast("string"))))
      .select(df.columns.map(col) :+ col("sample_rank").as("shuffle_pos"): _*)

  /** Rank (quantile) normalization — the probability-integral transform
    * that turns any feature distribution uniform on (0,1]:
    * `pct_rank = cume_dist = #{values ≤ v} / n`. The monotone, outlier-
    * immune scaling tree models and quantile-matching pipelines use where
    * z-scores ([[standardize]]) assume gaussianity.
    *
    * Scale shape: the cumulative walk over the DISTINCT-VALUE grid runs
    * through the two-phase salted machinery ([[SaltedGrid.cumulative]]) —
    * a continuous score column makes the grid row-scale, and the walk
    * must never serialize into one window task; rows themselves never
    * sort globally, and the rank join back is left to AQE (broadcast when
    * the grid is support-bounded, shuffle when it is row-scale). Ties
    * share one deterministic value by construction; p is ONE integer
    * division. NULL values keep NULL rank.
    */
  def rankNormalize(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast(DecimalType(18, 2))
    val grid = SaltedGrid.cumulative(
        df.filter(v.isNotNull)
          .groupBy(v.as("__v")).agg(count(lit(1)).as("__c")),
        "__v", Seq("__c"))
      .select(col("__v"),
        round(col("__cum___c").cast("double") / col("__tot___c"), 9)
          .as("pct_rank"))
    df.join(grid, v === col("__v"), "left_outer").drop("__v")
  }

  /** Quantile matching (Q–Q transform): map each distinct value of group
    * `fromGroup` onto the value at the SAME quantile of group `toGroup` —
    * the score-alignment step when two segments/models/periods emit
    * incomparable scales (batch-effect correction, cross-model score
    * fusion). Type-1 (discrete) inverse CDF: matched(v) = the smallest
    * target value whose cumulative count reaches ⌈cumA(v)·nB/nA⌉ — the
    * rank threshold stays an exact integer ceiling, no interpolation.
    *
    * Shape at scale: both sides collapse to DISTINCT-value grids whose
    * cumulative walks run through the two-phase salted machinery
    * ([[SaltedGrid.cumulative]] — row-scale continuous grids never
    * serialize into one window task), and the inverse-CDF lookup is the
    * FORWARD as-of join ([[AsofJoin.asofForward]]) on the cumulative-rank
    * axis — O(|grids|), never the |A|·|B| cross product a naive ≥-join
    * builds. Returns (value, pct_rank, matched_value) per distinct source
    * value.
    */
  def quantileMatch(df: DataFrame, valueCol: String, groupCol: String,
      fromGroup: String, toGroup: String): DataFrame = {
    val v = col(valueCol).cast(DecimalType(18, 2))
    def grid(g: String, vn: String) =
      SaltedGrid.cumulative(
          df.filter(col(groupCol) === g && v.isNotNull)
            .groupBy(v.as(vn)).agg(count(lit(1)).as("__c")),
          vn, Seq("__c"))
        .withColumn("__cum", col("__cum___c"))
        .withColumn("__n", col("__tot___c"))
    val a = grid(fromGroup, "value")
    val bGrid = grid(toGroup, "__bv")
    val nb = bGrid.agg(max(col("__n")).as("__nb"))
    val left = a.crossJoin(broadcast(nb))
      // an empty/unknown toGroup makes __nb NULL, which would silently
      // yield NULL matched_value for EVERY row — fail the bad argument
      // loudly instead (raise_error stays inside codegen, no extra job)
      .withColumn("__nb", coalesce(col("__nb"), raise_error(lit(
        s"graft.quantileMatch: target group '$toGroup' has no non-null " +
          "values"))))
      .withColumn("pct_rank",
        round(col("__cum").cast("double") / col("__n"), 9))
      .withColumn("__target",
        expr("CAST((__cum * __nb + __n - 1) div __n AS BIGINT)"))
      .withColumn("__k", lit(1))
      .select("__k", "value", "pct_rank", "__target")
    val right = bGrid
      .select(lit(1).as("__k"), col("__cum").cast("long").as("__rank_b"),
        col("__bv"))
    AsofJoin.asofForward(left, right, Seq("__k"), "__target", "__rank_b",
        Seq("__bv"))
      .select(col("value").cast("double").as("value"), col("pct_rank"),
        col("__bv").cast("double").as("matched_value"))
  }

  /** Text normalization — the canonicalization pass every web-scale corpus
    * runs before dedup/tokenization (case-folding + punctuation strip +
    * whitespace collapse), so that near-identical strings hash identically
    * downstream ([[graft.ops.Dedup]] operates on exactly this output in a
    * production pipeline). Pure per-row codegen'd string expressions,
    * zero shuffle; the regex character classes are RE2-compatible and
    * shared verbatim with the oracle.
    *
    * Returns the input plus (normalized, norm_len, changed, norm_digest).
    */
  def normalizeText(df: DataFrame, textCol: String): DataFrame = {
    val lowered = lower(col(textCol))
    val noPunct = regexp_replace(lowered, "[!-/:-@\\[-`{-~]", " ")
    val collapsed = trim(regexp_replace(noPunct, "[ \\t\\n\\r]+", " "))
    df.withColumn("normalized", collapsed)
      .withColumn("norm_len", length(col("normalized")).cast("long"))
      .withColumn("changed", col("normalized") =!= col(textCol))
      .withColumn("norm_digest", md5(col("normalized")))
  }

  /** Token-budget mixture planning — the allocation sheet a pretraining
    * run is provisioned from: given per-source token inventories and
    * integer target mixture weights (percent), how many tokens each
    * source must contribute to a `totalBudget`-token mix, how many epochs
    * (repeats) of the source that implies, and whether the source is in
    * deficit (epochs > 1 — the [[mixtureSample]] rate can't reach the
    * target without repetition).
    *
    * `targets` are integer percents so `target_tokens = budget·pct/100`
    * stays in exact integer division; `epochs` is the single IEEE
    * division, 9 dp. The corpus collapses to one row per source in one
    * partial-aggregable group-by; the weight table is a literal inline
    * relation. Sources not in `targets` are excluded (weight 0 — drop);
    * a target source absent from the corpus reports NULL inventory.
    */
  def tokenBudgetPlan(docs: DataFrame, textCol: String, sourceCol: String,
      targets: Seq[(String, Int)], totalBudget: Long): DataFrame = {
    require(targets.map(_._2).sum == 100,
      s"mixture weights must sum to 100, got ${targets.map(_._2).sum}")
    val inv = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col(textCol))).cast("long")).as("available_tokens"))
    val spark = docs.sparkSession
    import spark.implicits._
    val want = targets.toDF("source", "weight_pct")
    want.join(inv, Seq("source"), "left_outer")
      .select(col("source"), col("n_docs"), col("available_tokens"),
        col("weight_pct").cast("long").as("weight_pct"),
        expr(s"CAST((${totalBudget}L * weight_pct) div 100 AS BIGINT)")
          .as("target_tokens"))
      .withColumn("epochs",
        when(col("available_tokens") > 0,
          round(col("target_tokens").cast("double")
            / col("available_tokens"), 9)))
      .withColumn("deficit", col("epochs") > 1.0)
  }

  /** [[tokenBudgetPlan]] under a MEASURED weight relation — the third
    * consumer of the DoReMi handoff (schedule → [[mixtureScheduleWeighted]],
    * sample → [[mixtureTargetSample]], provisioning sheet → here).
    * Measured weights are 9-dp decimals that need not sum to exactly 1,
    * so the allocation normalizes by THEIR OWN exact nano sum:
    * `target_tokens = ⌊budget·wn_i / Σ wn⌋` — one DECIMAL(38,0)
    * pmod-floor division per source (budget ≤ 10¹⁸ times wn ≤ 10⁹
    * stays inside precision 38), never a float share. Sources absent
    * from `weights` are excluded; a weighted source absent from the
    * corpus reports NULL inventory (the [[tokenBudgetPlan]]
    * conventions). Epochs/deficit as in [[tokenBudgetPlan]].
    *
    * One partial-aggregable inventory groupBy + a 1-row broadcast of the
    * weight sum; everything after is arithmetic on the bounded relation.
    * Returns (source, n_docs, available_tokens, weight_nano,
    * target_tokens, epochs, deficit).
    */
  def tokenBudgetPlanWeighted(docs: DataFrame, textCol: String,
      sourceCol: String, weights: DataFrame, wSourceCol: String,
      weightCol: String, totalBudget: Long): DataFrame = {
    require(totalBudget > 0, s"totalBudget must be positive: $totalBudget")
    val d38 = DecimalType(38, 0)
    def fdiv(x: Column, d: Column): Column =
      ((x - pmod(x, d)) / d).cast(d38)
    val w = weights.select(col(wSourceCol).cast("string").as("source"),
      (col(weightCol).cast(DecimalType(18, 9)) * 1000000000L)
        .cast("long").as("weight_nano"))
    val z = w.agg(sum(col("weight_nano")).as("__z"))
    val inv = docs.groupBy(col(sourceCol).cast("string").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col(textCol))).cast("long")).as("available_tokens"))
    w.join(inv, Seq("source"), "left_outer")
      .crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("available_tokens"),
        col("weight_nano"),
        fdiv(lit(totalBudget).cast(d38) * col("weight_nano").cast(d38),
          col("__z").cast(d38)).cast("long").as("target_tokens"))
      .withColumn("epochs",
        when(col("available_tokens") > 0,
          round(col("target_tokens").cast("double")
            / col("available_tokens"), 9)))
      .withColumn("deficit", col("epochs") > 1.0)
  }

  /** Span-corruption pretraining pairs (Raffel et al. 2020, the T5
    * denoising objective): deterministic hash-chosen spans of the token
    * stream are replaced by numbered sentinels in the INPUT, and the
    * TARGET lists each sentinel followed by the tokens it swallowed —
    * the (input, target) pair every encoder-decoder pretraining batch is
    * made of. Span starts fire where md5(doc|pos) lands under
    * `startPct`% (the library's engine-stable sampling rule, so the
    * corpus regenerates bit-identically on any engine or partitioning —
    * no RNG state to ship); each start draws a 1..`maxSpan` length from
    * an independent hash; overlapping spans merge into one sentinel run
    * (the [[graft.ops.Dedup.spanRemoval]] cover-union shape).
    *
    * Shape at scale: cover positions explode only from selected starts
    * (≈ startPct·maxSpan % of tokens), DISTINCT-collapsed; runs come
    * from ONE gap-and-island window over the masked positions (pos −
    * row_number is constant per run); both output texts reassemble in
    * one doc shuffle. Entirely integer/string arithmetic — no rounding
    * discipline needed. Returns (doc_id, n_tokens, n_masked, n_spans,
    * input_text, target_text); documents with no selected span keep
    * their original text and a NULL target.
    */
  def spanCorruption(docs: DataFrame, idCol: String, textCol: String,
      startPct: Int = 5, maxSpan: Int = 5): DataFrame = {
    require(startPct > 0 && startPct <= 100, s"bad startPct $startPct")
    require(maxSpan >= 1, s"maxSpan must be >= 1: $maxSpan")
    val t = col("__t")
    val withToks = docs.select(col(idCol).as("doc_id"),
        filter(split(col(textCol), " "), s => s =!= "").as("__t"))
      .filter(size(t) >= 1)
    val tokens = withToks.select(col("doc_id"),
      posexplode(t).as(Seq("pos", "tok")))
    val startHash = hashBucket(
      concat_ws("|", col("doc_id"), col("pos")), 100)
    val spanLen = hashBucket(
      concat_ws("|", col("doc_id"), col("pos"), lit("len")), maxSpan) + 1
    val covered = tokens.filter(startHash < startPct)
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + spanLen - 1)).as("pos"))
      .distinct()
    val masked = tokens.join(covered, Seq("doc_id", "pos"), "left_semi")
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = masked
      .withColumn("__grp", col("pos") - row_number().over(wDoc))
      .withColumn("run_k",
        dense_rank().over(Window.partitionBy(col("doc_id"))
          .orderBy(col("__grp"))) - 1)
    val sentinel = concat(lit("<extra_id_"), col("run_k"), lit(">"))
    val inputItems = tokens
      .join(covered, Seq("doc_id", "pos"), "left_anti")
      .select(col("doc_id"), col("pos"), col("tok").as("piece"))
      .unionByName(runs.groupBy("doc_id", "run_k")
        .agg(min(col("pos")).as("pos"))
        .select(col("doc_id"), col("pos"),
          concat(lit("<extra_id_"), col("run_k"), lit(">")).as("piece")))
    val input = inputItems.groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("piece")))),
        s => s.getField("piece")), " ").as("input_text"))
    val target = runs
      .select(col("doc_id"), struct(col("run_k"), col("pos")).as("__k"),
        col("tok").as("piece"))
      .unionByName(runs.groupBy("doc_id", "run_k").agg(min("pos").as("p"))
        .select(col("doc_id"),
          struct(col("run_k"), lit(-1).as("pos")).as("__k"),
          concat(lit("<extra_id_"), col("run_k"), lit(">")).as("piece")))
      .groupBy("doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__k"), col("piece")))),
        s => s.getField("piece")), " ").as("target_text"),
        count(when(col("__k.pos") >= 0, 1)).as("n_masked"),
        (max(col("__k.run_k")) + 1).as("n_spans"))
    withToks.select(col("doc_id"), size(t).cast("long").as("n_tokens"))
      .join(input, Seq("doc_id"))
      .join(target, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("n_spans"), lit(0)).cast("long").as("n_spans"),
        col("input_text"), col("target_text"))
  }

  /** Deterministic mixture interleave by stride scheduling (Waldspurger &
    * Weihl 1995, the lottery/stride scheduler applied to data loading) —
    * the consumer of [[temperatureMixture]]'s proportions: item k of
    * source s takes virtual time (k − ½)/q_s, so sorting by virtual time
    * interleaves sources ∝ their target weights with NO randomness — a
    * source with twice the weight appears twice as often, evenly spread,
    * identical on every engine and partitioning (within-source order is
    * the md5-of-id shuffle, the library sampling rule). This is the
    * actual batch-assembly order a mixture dataloader wants, not just
    * the weight sheet.
    *
    * Shape at scale: weights are the |sources|-row broadcast; the only
    * per-row work is one row_number window PARTITIONED BY SOURCE (never
    * global) and one fixed IEEE division; the final global sort is the
    * output contract itself (a training-order file is sorted by
    * construction — at 100 TB it lands as range-partitioned sorted
    * shards). Returns (virtual_time, source, id, k).
    */
  def mixtureSchedule(df: DataFrame, srcCol: Column, idCol: Column)
      : DataFrame = {
    val weights = temperatureMixture(df, srcCol)
      .select(col("source"), col("q_temp"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(md5(col("id").cast("string")), col("id"))
    df.select(srcCol.cast("string").as("source"), idCol.as("id"))
      .withColumn("k", row_number().over(wSrc))
      .join(broadcast(weights), Seq("source"))
      .withColumn("virtual_time",
        round((col("k") - 0.5) / col("q_temp"), 9))
      .select("virtual_time", "source", "id", "k")
  }

  /** [[mixtureSchedule]] under a SUPPLIED weight relation — the handoff
    * that closes the DoReMi loop: a MEASURED mixture policy (e.g.
    * [[lossReweight]] over [[graft.ops.TextAnalysis.domainHardness]])
    * drives the training order instead of the size-derived temperature
    * weights. Same stride-scheduling contract (item k of source s at
    * virtual time (k − ½)/w_s, within-source order = md5 of the id):
    * sources weighted 2× appear 2× as often per unit of virtual time.
    * Sources absent from `weights` are dropped (a measured policy that
    * never saw a domain has no rate for it — surface that loudly rather
    * than inventing one).
    *
    * EXACT virtual time (where [[mixtureSchedule]] may `round(…, 9)`):
    * measured weights are 9-dp RATIONALS, and (k − ½)/w of a rational
    * lands on half-ulp 9-dp ties that Spark and DuckDB round apart
    * (measured at sf0.1) — unlike the temperature path, whose
    * sqrt-derived q is irrational and safe to round. So the weight
    * quantizes to a nano-integer wn and virtual time is the TRUNCATING
    * integer division (2k−1)·10¹⁸ div (2·wn) in DECIMAL(38,0) (exact
    * floor via the pmod identity; positive operands, so `div` and
    * DuckDB `//` agree), divided back to seconds in ONE IEEE step.
    *
    * Shape at scale: identical to [[mixtureSchedule]] — the weights are
    * a ≤|sources|-row broadcast, the only per-row work is one
    * per-source row_number window and fixed integer arithmetic.
    * Returns (virtual_time, source, id, k).
    */
  def mixtureScheduleWeighted(df: DataFrame, srcCol: Column,
      idCol: Column, weights: DataFrame, wSourceCol: String,
      weightCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def fdiv(x: Column, d: Column): Column =
      ((x - pmod(x, d)) / d).cast(d38)
    val w = weights.select(col(wSourceCol).cast("string").as("source"),
      (col(weightCol).cast(DecimalType(18, 9)) * 1000000000L)
        .cast(d38).as("__wn"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(md5(col("id").cast("string")), col("id"))
    val num = (lit(2L) * col("k") - lit(1L)).cast(d38) *
      lit(1000000000000000000L).cast(d38)
    df.select(srcCol.cast("string").as("source"), idCol.as("id"))
      .withColumn("k", row_number().over(wSrc))
      .join(broadcast(w), Seq("source"))
      .withColumn("virtual_time",
        fdiv(num, lit(2L).cast(d38) * col("__wn")).cast("double") /
          lit(1000000000.0))
      .select("virtual_time", "source", "id", "k")
  }

  /** Curriculum variant of [[mixtureScheduleWeighted]]: the SAME
    * stride-scheduling contract (item k of source s at exact virtual
    * time (2k−1)·10¹⁸ div (2·wn_s) nano), but WITHIN each source the
    * order is a measured quality signal instead of the md5 shuffle —
    * the curriculum-data shape (high→low quality, or easy→hard with a
    * negated signal) every pretraining run debates. `qualityCol` must
    * be an EXACT integer (e.g. a nano/micro-quantized score): ordering
    * by an engine-rounded double would let a last-ulp disagreement
    * reorder ties and shift every later k. Ties fall back to
    * (md5(id), id) — so a CONSTANT quality column reproduces
    * [[mixtureScheduleWeighted]]'s schedule exactly (PrepSpec pins
    * that reduction).
    *
    * Shape at scale: identical — one per-source row_number window over
    * (quality desc, md5, id), a ≤|sources|-row weight broadcast, fixed
    * integer arithmetic per row. Returns
    * (virtual_time, source, id, quality, k).
    */
  def curriculumSchedule(df: DataFrame, srcCol: Column, idCol: Column,
      qualityCol: Column, weights: DataFrame, wSourceCol: String,
      weightCol: String): DataFrame = {
    val d38 = DecimalType(38, 0)
    def fdiv(x: Column, d: Column): Column =
      ((x - pmod(x, d)) / d).cast(d38)
    val w = weights.select(col(wSourceCol).cast("string").as("source"),
      (col(weightCol).cast(DecimalType(18, 9)) * 1000000000L)
        .cast(d38).as("__wn"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, md5(col("id").cast("string")),
        col("id"))
    val num = (lit(2L) * col("k") - lit(1L)).cast(d38) *
      lit(1000000000000000000L).cast(d38)
    df.select(srcCol.cast("string").as("source"), idCol.as("id"),
        qualityCol.cast("long").as("quality"))
      .withColumn("k", row_number().over(wSrc))
      .join(broadcast(w), Seq("source"))
      .withColumn("virtual_time",
        fdiv(num, lit(2L).cast(d38) * col("__wn")).cast("double") /
          lit(1000000000.0))
      .select("virtual_time", "source", "id", "quality", "k")
  }

  /** Temperature-scaled mixture weights at T = 2 (the multilingual
    * up-sampling rule of mBERT/XLM-R/mT5: sample source i with
    * probability ∝ p_i^(1/T), flattening the source distribution so
    * low-resource slices train more than their raw share) — the
    * *proportions* companion to [[tokenBudgetPlan]]'s integer budget
    * sheet. T is fixed at 2 because p^(1/2) is `sqrt` — correctly rounded
    * by IEEE 754 on every engine — while general `pow` is a libm call
    * with no cross-engine bit guarantee; any other temperature would put
    * a non-reproducible transcendental inside the oracle contract.
    *
    * Determinism discipline: p_raw = n_i/N is ONE division rounded 9 dp
    * (short exact decimal at any table size); each sqrt contribution
    * rounds to 9 dp and sums in exact DECIMAL (the PMI ln rule — a plain
    * double Σ of irrationals is summation-order-dependent); q and the
    * boost factor each spend one further fixed IEEE division. The whole
    * pass is one groupBy + two 1-row broadcasts; the result relation is
    * |sources| rows regardless of corpus size.
    *
    * Returns (source, n_rows, p_raw, q_temp, boost) where boost =
    * q_temp/p_raw (>1 = up-sampled by the temperature, <1 = down).
    */
  def temperatureMixture(df: DataFrame, srcCol: Column): DataFrame = {
    val s = df.groupBy(srcCol.as("source")).agg(count(lit(1)).as("n_rows"))
    val tot = s.agg(sum(col("n_rows")).as("__N"))
    val b = s.crossJoin(broadcast(tot))
      .withColumn("p_raw",
        round(col("n_rows").cast("double") / col("__N"), 9))
      .withColumn("__w",
        round(sqrt(col("p_raw")), 9).cast(DecimalType(18, 9)))
    val z = b.agg(sum(col("__w")).as("__z"))
    b.crossJoin(broadcast(z))
      .withColumn("q_temp",
        round(col("__w").cast("double") / col("__z").cast("double"), 9))
      .withColumn("boost", round(col("q_temp") / col("p_raw"), 9))
      .select("source", "n_rows", "p_raw", "q_temp", "boost")
  }

  /** Loss-aware mixture reweighting — ONE exponentiated-gradient step on
    * a measured per-domain hardness signal, smoothed toward uniform
    * (the DoReMi update rule, Xie et al. 2023 eq. 2-3: full DoReMi
    * re-measures excess loss against a retraining proxy each step;
    * given a FIXED hardness vector the EG iteration has the closed form
    * w ∝ exp(η·L), so the one-shot softmax IS the converged relational
    * answer — the retrain loop is a training-system concern, not a
    * query). The hardness input is a bounded per-domain relation (e.g.
    * [[graft.ops.TextAnalysis.domainHardness]]); everything here is
    * arithmetic on ≤ |domains| rows + two 1-row broadcasts.
    *
    * Determinism: exp is the one irrational per domain — its argument
    * η·(L − min L) is a product/difference of exact short-decimal
    * doubles, identical on both engines, and the output rounds to 9 dp
    * before the exact DECIMAL normalization sum (the PMI ln rule);
    * weights are one IEEE division each, 9 dp. Smoothing mixes toward
    * uniform with rational c = cNum/cDen:
    * mixture = (1 − c)·softmax + c/k.
    *
    * Overflow guard: exp(η·(L − min L)) must fit DECIMAL(28,9) —
    * beyond ~10¹⁹ (η·spread > ~43.7 bits) the cast would silently
    * yield NULL, nulling the normalization sum and EVERY weight. A
    * spread past the bound therefore fails LOUDLY via `raise_error`
    * (the [[graft.ops.Linkage]] minSeed discipline): the gate rides
    * the exp argument on the 1-row stats relation, so it costs no
    * extra pass and Catalyst cannot prune it.
    *
    * Returns (domainCol, bits, softmax_weight, mixture_weight).
    */
  def lossReweight(hardness: DataFrame, domainCol: String,
      bitsCol: String, eta: Double = 1.0, cNum: Int = 1, cDen: Int = 5)
      : DataFrame = {
    require(eta > 0 && cDen > 0 && cNum >= 0 && cNum <= cDen,
      "need eta > 0 and smoothing c in [0, 1]")
    val base = hardness.select(col(domainCol).as("__dom"),
      col(bitsCol).cast("double").as("__bits"))
    val stats = base.agg(min(col("__bits")).as("__mn"),
      max(col("__bits")).as("__mx"), count(lit(1)).as("__k"))
    // ln(10^19) ≈ 43.749; gate at 43.0 so the rounded exp stays strictly
    // inside DECIMAL(28,9)'s 10^19 integral range
    val mnGated = when(lit(eta) * (col("__mx") - col("__mn")) <= 43.0,
      col("__mn")).otherwise(raise_error(concat(
        lit("lossReweight: eta*(max-min) hardness spread "),
        round(lit(eta) * (col("__mx") - col("__mn")), 3),
        lit(" exceeds the DECIMAL(28,9) exp range (~43) — weights would" +
          " silently null; rescale eta or the hardness signal"))))
    val e = base.crossJoin(broadcast(stats))
      .withColumn("__e",
        round(exp(lit(eta) * (col("__bits") - mnGated)), 9)
          .cast(DecimalType(28, 9)))
    val z = e.agg(sum(col("__e")).as("__z"))
    e.crossJoin(broadcast(z))
      .withColumn("softmax_weight",
        round(col("__e").cast("double") / col("__z").cast("double"), 9))
      .withColumn("mixture_weight",
        round(lit((cDen - cNum).toDouble / cDen) * col("softmax_weight") +
          lit(cNum.toDouble) / (lit(cDen.toDouble) * col("__k")), 9))
      .select(col("__dom").as(domainCol), col("__bits").as("bits"),
        col("softmax_weight"), col("mixture_weight"))
  }
}
