package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Hashed-unigram token models — the bounded-vocabulary probabilistic
  * workhorses of corpus curation. Both operators here hash tokens into a
  * FIXED number of buckets ([[Prep.hashBucket]], md5-derived and
  * engine-portable), so the fitted model is a few-KB relation regardless
  * of corpus size: it broadcasts legitimately at 100 TB, unlike raw-vocab
  * models (the N42 TF-IDF lesson — a web corpus' vocabulary does not fit
  * a broadcast). The reference pipeline's quality checks stop at column
  * statistics (`ML Feature Store Pipeline.py:164-199`); these are the
  * corpus-level, model-based counterparts.
  *
  * Determinism discipline (shared with [[TextAnalysis.noveltyScore]]):
  * per-bucket log contributions round to 9 dp, scale by the doc's bucket
  * count in exact DECIMAL (the count multiplicand stays DECIMAL(10,0) —
  * a LONG would overflow precision 38 and Spark silently rounds the
  * product scale down), and sum exactly — scores are bit-identical on any
  * engine and partitioning.
  */
object TokenModels {

  private def toks(textCol: Column): Column =
    filter(split(textCol, " "), t => t =!= "")

  /** Per-doc (id, bucket, c) counts — ZERO-shuffle: the fused
    * [[graft.functions.BucketCounts]] kernel counts each doc's buckets
    * in one codegen'd pass (per-doc counting is local by construction),
    * so the classifier family's training plans carry no token-scale
    * exchange at all (the former `explode → groupBy(id, bucket)`
    * spelling shuffled every token of the corpus; bit-identical counts,
    * pinned by VectorExprsSpec).
    */
  private def bucketCounts(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        explode(call_function("graft_bucket_counts", col(textCol),
          lit(buckets))).as("__bc"))
      .select(col("id"), col("__bc.bucket").as("bucket"),
        col("__bc.c").as("c"))

  private val C10 = DecimalType(10, 0)

  private def bits9(x: Column): Column =
    round(log(x) / lit(math.log(2.0)), 9).cast(DecimalType(18, 9))

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): fit add-one-smoothed
    * hashed-unigram models of a TARGET distribution (the domain you want
    * more of — here any boolean target predicate over the corpus) and the
    * RAW distribution (everything else), then weight every raw-side
    * document by its log likelihood ratio
    * `log₂ p_target(doc) − log₂ p_raw(doc)`. Resampling the corpus
    * proportionally to these weights tilts a 100 TB crawl toward the
    * target domain without a trained classifier.
    *
    * Shape at scale: one (doc, bucket) count shuffle; both fitted models
    * are `buckets`-row aggregates broadcast back onto it; the weight is a
    * per-doc exact-DECIMAL sum. Returns
    * (idCol, is_target, n_tokens, log_weight) for docs with ≥ 1 token.
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 64): DataFrame = {
    val labeled = docs.select(col(idCol).as("id"),
      targetPred.cast("boolean").as("__t"), col(textCol).as("__text"))
    val occ = bucketCounts(labeled, "id", "__text", buckets)
      .join(labeled.select(col("id"), col("__t")), Seq("id"))
    // add-one-smoothed bucket log-probs per side, on a DENSE bucket grid
    // (absent buckets carry count 0, not a missing row)
    val grid = labeled.sparkSession.range(buckets)
      .select(col("id").cast("int").as("bucket"))
    val side = occ.groupBy("__t", "bucket").agg(sum(col("c")).as("n"))
    val totals = occ.groupBy("__t").agg(sum(col("c")).as("tot"))
    val model = totals.crossJoin(grid)
      .join(side, Seq("__t", "bucket"), "left")
      .select(col("__t"), col("bucket"),
        bits9((coalesce(col("n"), lit(0L)) + 1.0) / (col("tot") + buckets))
          .as("lp"))
    val target = model.filter(col("__t")).select(col("bucket"),
      col("lp").as("lp_t"))
    val raw = model.filter(!col("__t")).select(col("bucket"),
      col("lp").as("lp_r"))
    occ
      .join(broadcast(target), Seq("bucket"))
      .join(broadcast(raw), Seq("bucket"))
      .groupBy("id", "__t")
      .agg(sum(col("c")).as("n_tokens"),
        round(sum((col("lp_t") - col("lp_r")) * col("c").cast(C10))
          .cast("double"), 6).as("log_weight"))
      .select(col("id").as(idCol), col("__t").as("is_target"),
        col("n_tokens"), col("log_weight"))
  }

  /** Sign-explicit truncating integer division in nano units — Spark's
    * `div` truncates toward zero while DuckDB's `//` floors, so negative
    * numerators must never reach the division itself.
    */
  private def tdiv(x: Column, d: Column): Column =
    when(x < 0, -call_function("div", -x, d))
      .otherwise(call_function("div", x, d))

  /** Linear classifier trained by FIXED-ITERATION batch gradient descent
    * with the RATIONAL fast-sigmoid link σ(z) = ½ + z/(2(1+|z|))
    * (Elliott 1993's x/(1+|x|) squashing) — the trained-classifier
    * member of the curation family: [[naiveBayes]] fits by aggregation,
    * [[dsirWeights]] by likelihood ratio; this closes the GPT-3-style
    * "train a linear quality classifier over hashed features" loop with
    * an actual optimization loop (the
    * [[graft.ops.Similarity.kmeansFit]] bounded-round discipline applied
    * to supervised fitting).
    *
    * Exactness: weights live in NANO-UNIT integers. With per-doc margin
    * z = a/10⁹ (a = Σ_b w_nano(b)·c(d,b), exact) and B = 10⁹ + |a|,
    * σ(z) = (B+a)/(2B) EXACTLY — the fast-sigmoid link is chosen so the
    * logistic-style residual σ(z) − y keeps the single bounded
    * denominator 2B. The residual quantizes to nano units ONCE PER DOC
    * in one sign-explicit truncating division rq = tdiv((a ∓ B)·10⁹, 2B)
    * (y=1 ⇒ a−B, y=0 ⇒ a+B), so the per-(doc, bucket) gradient is the
    * exact integer product rq·c; gradient sums and the η = 2^−etaShift
    * averaged update w ← w − tdiv(Σ rq·c, n·2^etaShift) are exact
    * DECIMAL(38,0) arithmetic — every iteration replays bit-identically in the
    * oracle's unrolled MATERIALIZED CTEs, and the final per-doc
    * score_nano is an exact integer (no rounding surface at all).
    *
    * Shape at scale: the (doc, bucket) counts come from the fused
    * zero-shuffle [[graft.functions.BucketCounts]] kernel (no
    * token-scale exchange anywhere), are id-partitioned once (one
    * count-row-scale shuffle) and checkpointed, then reused by every
    * iteration (the checkpoint does not keep the hash layout, so the
    * rounds still exchange on id); each
    * iteration broadcasts the (buckets+1)-row weight relation onto the
    * counts and runs two map-side-combinable aggregations (per-doc
    * margin, per-bucket gradient) — no windows, no driver-side data,
    * and the model stays few-KB at any corpus size. Quantizing the
    * residual per DOC keeps all BigDecimal-boxed division work on the
    * doc-count relation; the wide (doc, bucket) relation only ever sees
    * compact long products (measured 8.7 → 1.2 s/round at 1M docs on
    * local[32], SURVEY §6.1 round-11 operators). The bias is bucket id
    * `buckets` with count `biasCount` on every doc (token-less docs still
    * train it) —
    * feature SCALING, not semantics: with unit bias against token
    * counts of ~50, the boundary offset learns ~50× slower than the
    * weights and batch GD oscillates around the origin (measured on the
    * documents corpus: unit bias never beat 0.52 accuracy at any η;
    * bias 32 reached 0.95 in 12 rounds).
    *
    * Returns per-doc (idCol, is_target, score_nano, predicted) under the
    * final weights, predicted = score_nano ≥ 0.
    */
  def sgdLinear(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 16, iters: Int = 12,
      etaShift: Int = 8, biasCount: Int = 32): DataFrame = {
    val occ = sgdCounts(docs, idCol, textCol, targetPred, buckets,
      biasCount)
    val w = sgdTrainWeights(occ, buckets, iters, etaShift)
    sgdMargins(occ, w).select(col("id").as(idCol),
      col("__t").as("is_target"),
      col("__a").cast("long").as("score_nano"),
      (col("__a") >= 0).as("predicted"))
  }

  /** Re-materializes a driver-bounded relation as a LocalRelation: one
    * collect, then the next round's broadcast builds straight from
    * driver rows. Replaces per-round `localCheckpoint()` on
    * weight/centroid-sized state (guide §2.4/§5): a checkpointed
    * iterate costs one materialization job per round PLUS a
    * broadcast-exchange scan of the checkpointed RDD in the next
    * round's plan, while the state never exceeds a few hundred rows by
    * construction. Values round-trip exactly (DECIMAL collects as
    * java.math.BigDecimal), so iterates are bit-identical to the
    * checkpointed spelling.
    */
  private[graft] def localized(df: DataFrame): DataFrame = {
    val rows = java.util.Arrays.asList(df.collect(): _*)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** The [[sgdLinear]] training loop, packaged so every round is ONE
    * job: the doc count n is loop-invariant and hoisted (the old
    * per-round `occ.agg(count_distinct(id))` re-scanned the count
    * relation through a distinct shuffle 12×), and the (buckets+1)-row
    * weight iterate stays on the driver between rounds ([[localized]])
    * instead of being localCheckpointed and re-broadcast from an RDD.
    * Arithmetic is EXACTLY [[sgdRound]]'s ([[sgdRoundN]] is the shared
    * body), so margins under the returned weights are bit-identical to
    * the checkpointed loop's — pinned by TokenModelsSpec.
    */
  private[graft] def sgdTrainWeights(occ: DataFrame, buckets: Int,
      iters: Int, etaShift: Int): DataFrame = {
    val n = occ.agg(count_distinct(col("id"))).collect()(0).getLong(0)
    var w = sgdInitWeights(occ.sparkSession, buckets)
    for (_ <- 1 to iters)
      w = localized(sgdRoundN(occ, w, etaShift, lit(n).cast(Dec38)))
    w
  }

  private val Dec38 = DecimalType(38, 0)
  private val NanoDec = lit(1000000000L).cast(Dec38)

  /** The (id, __t, bucket, c) count relation [[sgdLinear]] trains on —
    * hash-partitioned by id before the checkpoint. The checkpoint does
    * not keep that layout (a checkpointed relation reports
    * UnknownPartitioning; PlanSpec pins it), so the per-round margin
    * groupBy and the occ ⋈ residual gradient join still exchange on id;
    * the repartition spreads the rows over the shuffle partitions. Bias
    * rides as bucket `buckets` with count `biasCount`.
    */
  private[graft] def sgdCounts(docs: DataFrame, idCol: String,
      textCol: String, targetPred: Column, buckets: Int,
      biasCount: Int): DataFrame = {
    val labeled = docs.select(col(idCol).as("id"),
      targetPred.cast("boolean").as("__t"), col(textCol).as("__text"))
    bucketCounts(labeled, "id", "__text", buckets)
      .unionByName(labeled.select(col("id"), lit(buckets).as("bucket"),
        lit(biasCount.toLong).as("c")))
      .join(labeled.select(col("id"), col("__t")), Seq("id"))
      .select(col("id"), col("__t"), col("bucket"), col("c"))
      .repartition(col("id"))
      .localCheckpoint()
  }

  /** Zero weights on the dense bucket grid (bias = bucket `buckets`) —
    * a LocalRelation (driver rows), not a checkpointed range: the grid
    * is buckets+1 rows by construction and every consumer broadcasts it.
    */
  private[graft] def sgdInitWeights(
      spark: org.apache.spark.sql.SparkSession, buckets: Int): DataFrame =
    localized(spark.range(buckets + 1)
      .select(col("id").cast("int").as("bucket"),
        lit(0L).cast(Dec38).as("w_nano")))

  /** Per-doc exact margins a = Σ_b w_nano(b)·c(d,b) under `wRel`. */
  private[graft] def sgdMargins(occ: DataFrame, wRel: DataFrame)
      : DataFrame = occ
    .join(broadcast(wRel), Seq("bucket"))
    .groupBy("id", "__t")
    .agg(sum((col("c").cast(Dec38) * col("w_nano")).cast(Dec38)).cast(Dec38)
      .as("__a"))

  /** ONE batch-GD round: margins → per-doc quantized residual →
    * per-bucket gradient → averaged update. The residual quantizes ONCE
    * PER DOC — rq = tdiv((a ∓ B)·10⁹, 2B) is the only BigDecimal-heavy
    * work and runs on the doc-count relation; the per-(doc, bucket)
    * gradient is then the cheap integer product rq·c (rq ≤ 10⁹,
    * c ≤ 10⁶ — fits a LONG), cast compact for the exact decimal sum.
    * η averages over the docs in THIS `occ` — the same function serves
    * full-corpus iteration ([[sgdLinear]]) and per-micro-batch online
    * learning ([[graft.streaming.StreamingFeatures.sgdOnlineRound]]).
    */
  private[graft] def sgdRound(occ: DataFrame, w: DataFrame,
      etaShift: Int): DataFrame = {
    val nRel = occ.agg(count_distinct(col("id")).cast(Dec38).as("__n"))
    sgdRoundN(occ, w, etaShift, col("__n"), Some(nRel))
  }

  /** [[sgdRound]]'s body with the doc count supplied by the caller —
    * the loop-hoisted form [[sgdTrainWeights]] iterates (n is constant
    * across full-corpus rounds; only streaming micro-batches need the
    * per-call count relation).
    */
  private[graft] def sgdRoundN(occ: DataFrame, w: DataFrame,
      etaShift: Int, nCol: Column, nRel: Option[DataFrame] = None)
      : DataFrame = {
    val m = sgdMargins(occ, w)
      .select(col("id"),
        tdiv(when(col("__t"), col("__a") - (NanoDec + abs(col("__a"))))
            .otherwise(col("__a") + (NanoDec + abs(col("__a")))) * NanoDec,
          (NanoDec + abs(col("__a"))) * lit(2).cast(Dec38)).as("__rq"))
    val grads = occ.join(m, Seq("id"))
      .groupBy("bucket")
      .agg(sum((col("__rq") * col("c")).cast(Dec38)).cast(Dec38).as("__gs"))
    val joined = nRel.foldLeft(w.join(grads, Seq("bucket"), "left")) {
      (d, rel) => d.crossJoin(broadcast(rel))
    }
    joined.select(col("bucket"),
      (col("w_nano") - tdiv(coalesce(col("__gs"), lit(0L).cast(Dec38)),
        nCol * lit(1L << etaShift).cast(Dec38))).cast(Dec38)
        .as("w_nano"))
  }

  /** One-vs-rest MULTI-CLASS [[sgdLinear]] — every class's binary model
    * trained SIMULTANEOUSLY by adding the class as a key dimension
    * (weights live on a (class, bucket) grid; margins, residuals and
    * gradients carry the class key through the same aggregations), so k
    * classes cost k× the row volume of one binary fit and ZERO extra
    * passes — never a per-class driver loop. The arithmetic per class
    * is EXACTLY [[sgdLinear]]'s (nano-integer weights, per-doc rational
    * residual, sign-explicit truncating divisions), pinned by the spec's
    * equivalence property: each class's margins are bit-identical to an
    * independent binary [[sgdLinear]] run with target `label === c` —
    * which is what ties this to the oracle-verified binary trainer.
    *
    * Prediction = argmax margin over classes, ties to the
    * lexicographically LAST class via max-struct ([[naiveBayes]]'s
    * convention). Returns (idCol, label, predicted, score_nano) with
    * score_nano = the winning class's exact margin.
    */
  def sgdOneVsRest(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 16, iters: Int = 12,
      etaShift: Int = 8, biasCount: Int = 32): DataFrame = {
    val labeled = docs.select(col(idCol).as("id"),
      col(labelCol).cast("string").as("__y"), col(textCol).as("__text"))
    val occ = bucketCounts(labeled, "id", "__text", buckets)
      .unionByName(labeled.select(col("id"), lit(buckets).as("bucket"),
        lit(biasCount.toLong).as("c")))
      .join(labeled.select(col("id"), col("__y")), Seq("id"))
      .select(col("id"), col("__y"), col("bucket"), col("c"))
      .repartition(col("id"))
      .localCheckpoint()
    val spark = docs.sparkSession
    // class list, doc count and the (class × bucket) weight grid are all
    // driver-bounded relations — LocalRelations ([[localized]]) instead
    // of localCheckpoints, so each training round below is ONE job with
    // no checkpoint materialization or RDD-backed broadcast rebuild
    val classes = localized(occ.select(col("__y").as("__cls")).distinct())
    val nRel = localized(
      occ.agg(count_distinct(col("id")).cast(Dec38).as("__n")))
    var w = localized(spark.range(buckets + 1)
      .select(col("id").cast("int").as("bucket"))
      .crossJoin(classes)
      .select(col("__cls"), col("bucket"), lit(0L).cast(Dec38).as("w_nano")))

    def margins(wRel: DataFrame): DataFrame = occ
      .join(broadcast(wRel), Seq("bucket"))
      .groupBy("id", "__y", "__cls")
      .agg(sum((col("c").cast(Dec38) * col("w_nano")).cast(Dec38))
        .cast(Dec38).as("__a"))

    for (_ <- 1 to iters) {
      val m = margins(w)
        .select(col("id"), col("__cls"),
          tdiv(when(col("__y") === col("__cls"),
              col("__a") - (NanoDec + abs(col("__a"))))
              .otherwise(col("__a") + (NanoDec + abs(col("__a"))))
              * NanoDec,
            (NanoDec + abs(col("__a"))) * lit(2).cast(Dec38)).as("__rq"))
      val grads = occ.join(m, Seq("id"))
        .groupBy("__cls", "bucket")
        .agg(sum((col("__rq") * col("c")).cast(Dec38)).cast(Dec38)
          .as("__gs"))
      w = localized(w.join(grads, Seq("__cls", "bucket"), "left")
        .crossJoin(broadcast(nRel))
        .select(col("__cls"), col("bucket"),
          (col("w_nano") - tdiv(coalesce(col("__gs"), lit(0L).cast(Dec38)),
            col("__n") * lit(1L << etaShift).cast(Dec38))).cast(Dec38)
            .as("w_nano")))
    }
    margins(w)
      .groupBy("id", "__y")
      .agg(max(struct(col("__a"), col("__cls"))).as("__best"))
      .select(col("id").as(idCol), col("__y").as("label"),
        col("__best.__cls").as("predicted"),
        col("__best.__a").cast("long").as("score_nano"))
  }

  /** Learning curve for [[sgdLinear]] — the GD-classifier arm of the
    * [[naiveBayesLearningCurve]] question (held-out accuracy vs nested
    * training-set size): NESTED training subsets from the md5 stratum of
    * the doc id, test = the LAST stratum, level L trains on strata
    * 0..L−1. Unlike NB there is no count-cube shortcut (GD weights are
    * not sums over strata), so the LEVEL RIDES AS A KEY DIMENSION — the
    * [[sgdOneVsRest]] discipline: weights live on a (level, bucket)
    * grid; margins, residuals and gradients carry the level key through
    * the same aggregations, so all levels train SIMULTANEOUSLY in the
    * same fixed iteration count at Σ_L |strata<L|/|strata| ≈ 2× the row
    * volume of one binary fit — never a per-level driver loop, never a
    * per-level corpus pass. Each level's arithmetic is EXACTLY
    * [[sgdLinear]]'s on its subset (nano-integer weights, per-doc
    * rational residual, sign-explicit truncating divisions) — the
    * spec's equivalence property ties every level to the
    * oracle-verified binary trainer bit-for-bit.
    *
    * Test docs score once against every level's broadcast final weights
    * (levels × (buckets+1) rows, few KB). Accuracy is ONE IEEE division
    * of two exact integers. Returns one row per level:
    * (level, n_train, n_test, n_correct, accuracy).
    */
  def sgdLearningCurve(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 16, iters: Int = 12,
      etaShift: Int = 8, biasCount: Int = 32, strata: Int = 8,
      levels: Seq[Int] = Seq(1, 2, 4, 7)): DataFrame = {
    require(levels.nonEmpty && levels.forall(l => l >= 1 && l < strata),
      "levels must train on strata strictly below the held-out stratum")
    val spark = docs.sparkSession
    val labeled = docs.select(col(idCol).as("id"),
        targetPred.cast("boolean").as("__t"), col(textCol).as("__text"))
      .withColumn("stratum", Prep.hashBucket(col("id"), strata))
    val occ = bucketCounts(labeled, "id", "__text", buckets)
      .unionByName(labeled.select(col("id"), lit(buckets).as("bucket"),
        lit(biasCount.toLong).as("c")))
      .join(labeled.select(col("id"), col("__t"), col("stratum")),
        Seq("id"))
      .select(col("id"), col("__t"), col("stratum"), col("bucket"),
        col("c"))
      .repartition(col("id"))
      .localCheckpoint()
    import spark.implicits._
    val levelMap = levels.flatMap(l => (0 until l).map(s => (l, s)))
      .toDF("level", "stratum")
    // id-partitioned like occ (hash(id) co-locates the (level, id)
    // margin groupBy and the gradient join — HashPartitioning on a
    // subset of the clustering keys satisfies both)
    val occT = occ.join(broadcast(levelMap), Seq("stratum"))
      .select(col("level"), col("id"), col("__t"), col("bucket"),
        col("c"))
      .repartition(col("id"))
      .localCheckpoint()
    // per-level doc counts and the (level × bucket) weight grid are
    // driver-bounded — LocalRelations ([[localized]]), not checkpoints:
    // every round below becomes one job (see [[sgdTrainWeights]])
    val nRel = localized(occT.groupBy("level")
      .agg(count_distinct(col("id")).cast(Dec38).as("__n")))
    var w = localized(spark.range(buckets + 1)
      .select(col("id").cast("int").as("bucket"))
      .crossJoin(levels.toDF("level"))
      .select(col("level"), col("bucket"), lit(0L).cast(Dec38)
        .as("w_nano")))
    for (_ <- 1 to iters) {
      val m = occT.join(broadcast(w), Seq("level", "bucket"))
        .groupBy("level", "id", "__t")
        .agg(sum((col("c").cast(Dec38) * col("w_nano")).cast(Dec38))
          .cast(Dec38).as("__a"))
        .select(col("level"), col("id"),
          tdiv(when(col("__t"), col("__a") - (NanoDec + abs(col("__a"))))
              .otherwise(col("__a") + (NanoDec + abs(col("__a"))))
              * NanoDec,
            (NanoDec + abs(col("__a"))) * lit(2).cast(Dec38)).as("__rq"))
      val grads = occT.join(m, Seq("level", "id"))
        .groupBy("level", "bucket")
        .agg(sum((col("__rq") * col("c")).cast(Dec38)).cast(Dec38)
          .as("__gs"))
      w = localized(w.join(grads, Seq("level", "bucket"), "left")
        .join(broadcast(nRel), Seq("level"))
        .select(col("level"), col("bucket"),
          (col("w_nano") - tdiv(coalesce(col("__gs"),
            lit(0L).cast(Dec38)),
            col("__n") * lit(1L << etaShift).cast(Dec38))).cast(Dec38)
            .as("w_nano")))
    }
    val scored = occ.filter(col("stratum") === strata - 1)
      .join(broadcast(w), Seq("bucket"))
      .groupBy("id", "__t", "level")
      .agg(sum((col("c").cast(Dec38) * col("w_nano")).cast(Dec38))
        .cast(Dec38).as("__a"))
    scored.groupBy("level")
      .agg(count(lit(1)).as("n_test"),
        sum(((col("__a") >= 0) === col("__t")).cast("long"))
          .as("n_correct"))
      .join(broadcast(nRel.select(col("level"),
        col("__n").cast("long").as("n_train"))), Seq("level"))
      .select(col("level"), col("n_train"), col("n_test"),
        col("n_correct"),
        (col("n_correct").cast("double") / col("n_test").cast("double"))
          .as("accuracy"))
  }

  /** Per-doc linear attribution under the trained [[sgdLinear]] model —
    * the explainability read ("WHY was this doc kept/dropped?") that
    * linear quality classifiers are chosen for: each bucket's
    * contribution to the margin is exactly w_nano(b)·c(d,b), so the
    * dominant feature is an integer argmax, not an approximation.
    * Returns (idCol, is_target, score_nano, top_bucket, contrib_nano) —
    * the top bucket by (|contribution| desc, bucket asc), engine-exact;
    * bucket id `buckets` is the bias ("the prior dominates").
    *
    * Same shape as training plus ONE more broadcast-model join and a
    * max-struct argmax — no extra shuffle class.
    */
  def sgdAttribution(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 16, iters: Int = 12,
      etaShift: Int = 8, biasCount: Int = 32): DataFrame = {
    val occ = sgdCounts(docs, idCol, textCol, targetPred, buckets,
      biasCount)
    val w = sgdTrainWeights(occ, buckets, iters, etaShift)
    val contrib = (col("c").cast(Dec38) * col("w_nano")).cast(Dec38)
    occ.join(broadcast(w), Seq("bucket"))
      .select(col("id"), col("__t"), col("bucket"), contrib.as("__ct"))
      .groupBy("id", "__t")
      .agg(sum(col("__ct")).cast(Dec38).as("__a"),
        max(struct(abs(col("__ct")), (-col("bucket")).as("__nb"),
          col("bucket"), col("__ct"))).as("__top"))
      .select(col("id").as(idCol), col("__t").as("is_target"),
        col("__a").cast("long").as("score_nano"),
        col("__top.bucket").as("top_bucket"),
        col("__top.__ct").cast("long").as("contrib_nano"))
  }

  /** Fits recorded by [[fitOrLoadSgd]] (tests observe cache behavior). */
  val sgdFits = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Fingerprint binding a saved model to its training inputs and knobs
    * ([[graft.ops.Ivf.inputFingerprint]]): the corpus' input files, the
    * columns, the target predicate's SQL, and every hyperparameter.
    * A model written under one fingerprint is never served for another.
    */
  def modelFingerprint(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int, iters: Int, etaShift: Int,
      biasCount: Int): String =
    Ivf.inputFingerprint(docs, s"$idCol|$textCol|${targetPred.toString}" +
      s"|$buckets|$iters|$etaShift|$biasCount")

  /** Train-once / serve-many for the GD linear classifier: load the
    * weights at `path` if present, readable AND fingerprint-matched,
    * else train with [[sgdLinear]]'s loop and persist. Any
    * unreadable/corrupt/stale artifact falls through to a clean refit
    * (the [[graft.ops.Ivf]] artifact discipline — never fail the query,
    * never serve foreign weights). Returns the (bucket, w_nano)
    * relation; serve with [[sgdScore]].
    */
  def fitOrLoadSgd(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, path: String, buckets: Int = 16,
      iters: Int = 12, etaShift: Int = 8, biasCount: Int = 32)
      : DataFrame = {
    val spark = docs.sparkSession
    val fp = modelFingerprint(docs, idCol, textCol, targetPred, buckets,
      iters, etaShift, biasCount)
    val loaded =
      try {
        val w = spark.read.parquet(path).filter(col("fp") === fp)
          .select(col("bucket"), col("w_nano").cast(Dec38))
        if (w.count() == buckets + 1) Some(w.localCheckpoint()) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    loaded.getOrElse {
      sgdFits.incrementAndGet()
      val occ = sgdCounts(docs, idCol, textCol, targetPred, buckets,
        biasCount)
      val w = sgdTrainWeights(occ, buckets, iters, etaShift)
      w.withColumn("fp", lit(fp))
        .coalesce(1).write.mode("overwrite").parquet(path)
      w
    }
  }

  /** Label-free serving under trained weights: per-doc margin and
    * prediction for ANY corpus (not just the training one) — the
    * read path of the train-once/serve-many pair. One (doc, bucket)
    * count pass + the broadcast model join.
    */
  def sgdScore(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 16, biasCount: Int = 32)
      : DataFrame = {
    val named = docs.select(col(idCol).as("id"), col(textCol).as("__text"))
    val occ = bucketCounts(named, "id", "__text", buckets)
      .unionByName(named.select(col("id"), lit(buckets).as("bucket"),
        lit(biasCount.toLong).as("c")))
    occ.join(broadcast(weights.select(col("bucket"), col("w_nano"))),
        Seq("bucket"))
      .groupBy("id")
      .agg(sum((col("c").cast(Dec38) * col("w_nano")).cast(Dec38))
        .cast(Dec38).as("__a"))
      .select(col("id").as(idCol), col("__a").cast("long").as("score_nano"),
        (col("__a") >= 0).as("predicted"))
  }

  /** Multinomial Naive Bayes over hashed-unigram buckets — the GPT-3-style
    * quality/domain classifier (Brown et al. 2020 filtered CommonCrawl
    * with a linear classifier over hashed features; multinomial NB is its
    * aggregation-only twin: fitting IS a groupBy, no gradient loop).
    * Trained on a labeled column of the corpus itself, applied back to
    * every document: `score(d, y) = log₂ P(y) + Σ_b c(d,b)·log₂ P(b|y)`
    * with add-one smoothing on the dense (class × bucket) grid.
    *
    * Shape at scale: the fitted model is `classes × buckets` rows —
    * broadcast onto the (doc, bucket) counts — and scoring is one
    * groupBy (doc, class) exact-DECIMAL sum plus an argmax. Ties resolve
    * to the lexicographically LAST class (max over (score, class)
    * structs), mirrored in the oracle. Returns
    * (idCol, predicted, best_bits) for docs with ≥ 1 token.
    */
  def naiveBayes(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 64): DataFrame = {
    val labeled = docs.select(col(idCol).as("id"),
      col(labelCol).cast("string").as("__y"), col(textCol).as("__text"))
    val occ = bucketCounts(labeled, "id", "__text", buckets)
    val byClass = occ.join(labeled.select(col("id"), col("__y")), Seq("id"))
      .groupBy("__y", "bucket").agg(sum(col("c")).as("n"))
    val classTotals = byClass.groupBy("__y").agg(sum(col("n")).as("tot"))
    val grid = labeled.sparkSession.range(buckets)
      .select(col("id").cast("int").as("bucket"))
    val likelihood = classTotals.crossJoin(grid)
      .join(byClass, Seq("__y", "bucket"), "left")
      .select(col("__y"), col("bucket"),
        bits9((coalesce(col("n"), lit(0L)) + 1.0) / (col("tot") + buckets))
          .as("lp"))
    val nDocs = labeled.agg(count(lit(1)).as("n_all"))
    val priors = labeled.groupBy("__y").agg(count(lit(1)).as("n_y"))
      .crossJoin(broadcast(nDocs))
      .select(col("__y"), bits9(col("n_y") / col("n_all")).as("prior"))
    val scored = occ
      .join(broadcast(likelihood), Seq("bucket"))
      .groupBy("id", "__y")
      .agg(sum(col("lp") * col("c").cast(C10)).as("__s"))
      .join(broadcast(priors), Seq("__y"))
      // re-bound the sum's precision before the add: DECIMAL(38,9) + the
      // 9dp prior is precision 39, which Spark resolves by rounding the
      // result scale to 8dp — the same silent half-up bias as the
      // multiplicand trap above
      .select(col("id"), col("__y"),
        (col("__s").cast(DecimalType(28, 9)) + col("prior")).as("score"))
    scored.groupBy("id")
      .agg(max(struct(col("score"), col("__y"))).as("best"))
      .select(col("id").as(idCol),
        col("best.__y").as("predicted"),
        round(col("best.score").cast("double"), 6).as("best_bits"))
  }

  /** Leave-one-fold-out cross-validated [[naiveBayes]] — the model
    * selection loop ("is this classifier worth shipping?") as ONE
    * aggregation pass, no per-fold retraining: per-(fold, class, bucket)
    * counts aggregate once, and fold f's training model is the
    * SUBTRACTION total − fold-f counts (leave-one-fold-out by
    * arithmetic), with add-one smoothing applied to the subtracted
    * counts. Folds come from [[Prep.kfold]]'s md5 bucket of the doc id —
    * deterministic on any engine/partitioning, so the whole CV table is
    * hash-exact.
    *
    * Each test doc scores ONLY against its own fold's held-out model —
    * the fold id rides the (fold, bucket) join key onto the broadcast
    * likelihood grid (folds × classes × buckets rows, few KB). Accuracy
    * is ONE IEEE division of two exact integers (the [[graft.ops
    * .EventOps.olsTrend]] discipline — no display rounding, no
    * half-ulp surface). Docs with ≥ 1 token participate, as in
    * [[naiveBayes]].
    *
    * Shape at scale: the same ONE (doc, bucket) count shuffle as NB;
    * everything after is bounded — the count cube, the dense grid, the
    * priors — and the scoring join broadcasts. Returns one row per fold:
    * (fold, n_test, n_correct, accuracy).
    */
  def naiveBayesCrossVal(docs: DataFrame, idCol: String, textCol: String,
      labelCol: String, buckets: Int = 64, folds: Int = 5): DataFrame = {
    val (labeled, scored) = cvHeldOutScores(docs, idCol, textCol,
      labelCol, buckets, folds)
    val predicted = scored.groupBy("id", "fold")
      .agg(max(struct(col("score"), col("__cls"))).as("best"))
      .select(col("id"), col("fold"), col("best.__cls").as("__pred"))
    predicted
      .join(labeled.select(col("id"), col("__y")), Seq("id"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_test"),
        sum((col("__pred") === col("__y")).cast("long")).as("n_correct"))
      .select(col("fold"), col("n_test"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_test").cast("double"))
          .as("accuracy"))
  }

  /** Confident-learning-style label-noise audit (Northcutt et al. 2021,
    * "Confident Learning: Estimating Uncertainty in Dataset Labels"):
    * every doc scored by its OWN fold's held-out [[naiveBayesCrossVal]]
    * model, and docs whose held-out prediction disagrees with their
    * label surface as suspects, ranked by how many bits the model
    * prefers its alternative (`margin_bits` = best − own-label score,
    * an exact DECIMAL difference). A label class with zero training
    * docs for the fold cannot score its own label — those suspects
    * carry NULL label/margin bits (the trivially-unverifiable case).
    *
    * Same machinery, same cost as the CV itself: the ONE (doc, bucket)
    * count shuffle plus broadcast model joins. Returns
    * (idCol, label, predicted, label_bits, best_bits, margin_bits)
    * for suspects only.
    */
  def naiveBayesLabelAudit(docs: DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int = 64,
      folds: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val (labeled, scored) = cvHeldOutScores(docs, idCol, textCol,
      labelCol, buckets, folds)
    val best = scored.groupBy("id", "fold")
      .agg(max(struct(col("score"), col("__cls"))).as("best"))
      .select(col("id"), col("best.__cls").as("predicted"),
        col("best.score").as("__bs"))
    val own = scored.join(labeled.select(col("id"), col("__y")), Seq("id"))
      .filter(col("__cls") === col("__y"))
      .select(col("id"), col("score").as("__os"))
    best.join(labeled.select(col("id"), col("__y").as("label")), Seq("id"))
      .join(own, Seq("id"), "left")
      .filter(col("predicted") =!= col("label"))
      .select(col("id").as(idCol), col("label"), col("predicted"),
        round(col("__os").cast(DoubleType), 6).as("label_bits"),
        round(col("__bs").cast(DoubleType), 6).as("best_bits"),
        round((col("__bs") - col("__os")).cast(DoubleType), 6)
          .as("margin_bits"))
  }

  /** The shared CV core: labeled docs with their md5 fold, and every
    * doc's held-out score against EVERY class of its own fold's
    * leave-one-fold-out model — (id, fold, __cls, score).
    */
  private def cvHeldOutScores(docs: DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int, folds: Int)
      : (DataFrame, DataFrame) = {
    val labeled = docs.select(col(idCol).as("id"),
        col(labelCol).cast("string").as("__y"), col(textCol).as("__text"))
      .withColumn("fold", Prep.hashBucket(col("id"), folds))
    val occ = bucketCounts(labeled, "id", "__text", buckets)
      .join(labeled.select(col("id"), col("__y"), col("fold")), Seq("id"))
      .localCheckpoint()
    // per-(fold, class, bucket) token counts, once; class totals derive
    val cube = occ.groupBy("fold", "__y", "bucket").agg(sum(col("c")).as("n"))
      .localCheckpoint()
    val byClass = cube.groupBy("__y", "bucket").agg(sum(col("n")).as("nt"))
    val classTot = byClass.groupBy("__y").agg(sum(col("nt")).as("tot"))
    val foldClassTot = cube.groupBy("fold", "__y").agg(sum(col("n")).as("ft"))
    val spark = docs.sparkSession
    val grid = spark.range(folds).select(col("id").cast("int").as("fold"))
      .crossJoin(spark.range(buckets).select(col("id").cast("int")
        .as("bucket")))
      .crossJoin(labeled.select(col("__y")).distinct())
    val lik = grid
      .join(byClass, Seq("__y", "bucket"), "left")
      .join(cube, Seq("fold", "__y", "bucket"), "left")
      .join(classTot, Seq("__y"))
      .join(foldClassTot, Seq("fold", "__y"), "left")
      .select(col("fold"), col("__y"), col("bucket"),
        bits9((coalesce(col("nt"), lit(0L)) - coalesce(col("n"), lit(0L))
            + 1.0) /
          (col("tot") - coalesce(col("ft"), lit(0L)) + buckets)).as("lp"))
    // priors over TRAINING docs (docs with >= 1 token, as in naiveBayes)
    val docFold = occ.select("id", "__y", "fold").distinct()
    val docsByClass = docFold.groupBy("__y").agg(count(lit(1)).as("dc"))
    val docsByFoldClass = docFold.groupBy("fold", "__y")
      .agg(count(lit(1)).as("dfc"))
    val docsTot = docFold.agg(count(lit(1)).as("dtot"))
    val docsByFold = docFold.groupBy("fold").agg(count(lit(1)).as("df"))
    val priors = docsByClass
      .crossJoin(spark.range(folds).select(col("id").cast("int").as("fold")))
      .join(docsByFoldClass, Seq("fold", "__y"), "left")
      .crossJoin(broadcast(docsTot))
      .join(docsByFold, Seq("fold"))
      // a class with ZERO training docs for this fold cannot be
      // predicted — drop its (fold, class) row so the scoring join
      // never sees it (log 0 has no finite encoding)
      .filter(col("dc") > coalesce(col("dfc"), lit(0L)))
      .select(col("fold"), col("__y"),
        bits9((col("dc") - coalesce(col("dfc"), lit(0L))).cast("double") /
          (col("dtot") - col("df"))).as("prior"))
    val scored = occ.select(col("id"), col("fold"), col("bucket"), col("c"))
      .join(broadcast(lik.withColumnRenamed("__y", "__cls")),
        Seq("fold", "bucket"))
      .groupBy("id", "fold", "__cls")
      .agg(sum(col("lp") * col("c").cast(C10)).as("__s"))
      .join(broadcast(priors.select(col("fold"),
        col("__y").as("__cls"), col("prior"))), Seq("fold", "__cls"))
      .select(col("id"), col("fold"), col("__cls"),
        (col("__s").cast(DecimalType(28, 9)) + col("prior")).as("score"))
    (labeled, scored)
  }

  /** Learning curve for [[naiveBayes]] — held-out accuracy as a function
    * of training-set size, the "is more data still buying accuracy?"
    * question every data-curation budget decision hangs on (Hestness et
    * al. 2017, "Deep Learning Scaling is Predictable, Empirically" asks
    * it for deep nets; the NB curve is the cheap screening proxy).
    *
    * NESTED training subsets come from the md5 stratum of the doc id
    * (buckets 0..strata−1): the test set is the LAST stratum, and level L
    * trains on strata 0..L−1 — so each level's training set contains the
    * previous one, the property that makes the curve monotone-comparable.
    * Like [[naiveBayesCrossVal]], no per-level retraining: per-(stratum,
    * class, token-bucket) counts aggregate ONCE and level L's model is
    * the sum over its strata — the level→stratum mapping is a ≤
    * strata²-row relation joined onto the bounded count cube, never onto
    * rows. Priors count training docs (≥ 1 token, as everywhere in the
    * family); a (level, class) with zero training docs is dropped — it
    * cannot be predicted.
    *
    * Test docs score against EVERY level's broadcast model (levels ×
    * classes × buckets rows, few KB) in one join — the level id rides
    * the bucket key exactly like crossval's fold id. Accuracy is ONE
    * IEEE division of two exact integers. Returns one row per level:
    * (level, n_train, n_test, n_correct, accuracy).
    */
  def naiveBayesLearningCurve(docs: DataFrame, idCol: String,
      textCol: String, labelCol: String, buckets: Int = 64,
      strata: Int = 8, levels: Seq[Int] = Seq(1, 2, 4, 7)): DataFrame = {
    require(levels.nonEmpty && levels.forall(l => l >= 1 && l < strata),
      "levels must train on strata strictly below the held-out stratum")
    val spark = docs.sparkSession
    val labeled = docs.select(col(idCol).as("id"),
        col(labelCol).cast("string").as("__y"), col(textCol).as("__text"))
      .withColumn("stratum", Prep.hashBucket(col("id"), strata))
    val occ = bucketCounts(labeled, "id", "__text", buckets)
      .join(labeled.select(col("id"), col("__y"), col("stratum")),
        Seq("id"))
      .localCheckpoint()
    // per-(stratum, class, bucket) token counts, once; levels sum them
    val cube = occ.groupBy("stratum", "__y", "bucket")
      .agg(sum(col("c")).as("n"))
    import spark.implicits._
    val levelMap = levels.flatMap(l => (0 until l).map(s => (l, s)))
      .toDF("level", "stratum")
    val byLevel = cube.join(broadcast(levelMap), Seq("stratum"))
      .groupBy("level", "__y", "bucket").agg(sum(col("n")).as("n"))
    val levelTot = byLevel.groupBy("level", "__y")
      .agg(sum(col("n")).as("tot"))
    val grid = levels.toDF("level")
      .crossJoin(spark.range(buckets).select(col("id").cast("int")
        .as("bucket")))
      .crossJoin(labeled.select(col("__y")).distinct())
    val lik = grid
      .join(byLevel, Seq("level", "__y", "bucket"), "left")
      .join(levelTot, Seq("level", "__y"), "left")
      .select(col("level"), col("__y"), col("bucket"),
        bits9((coalesce(col("n"), lit(0L)) + 1.0) /
          (coalesce(col("tot"), lit(0L)) + buckets)).as("lp"))
    // priors over TRAINING docs (>= 1 token) per level
    val docStratum = occ.select("id", "__y", "stratum").distinct()
    val byLevelDocs = docStratum.join(broadcast(levelMap), Seq("stratum"))
      .groupBy("level", "__y").agg(count(lit(1)).as("dc"))
    val levelDocsTot = byLevelDocs.groupBy("level")
      .agg(sum(col("dc")).as("dtot"))
    val priors = byLevelDocs.join(levelDocsTot, Seq("level"))
      .filter(col("dc") > 0)
      .select(col("level"), col("__y"),
        bits9(col("dc").cast("double") / col("dtot")).as("prior"))
    val nTrain = levelDocsTot.select(col("level"), col("dtot").as("n_train"))
    val testOcc = occ.filter(col("stratum") === strata - 1)
    val scored = testOcc.select(col("id"), col("bucket"), col("c"))
      .join(broadcast(lik.withColumnRenamed("__y", "__cls")), Seq("bucket"))
      .groupBy("id", "level", "__cls")
      .agg(sum(col("lp") * col("c").cast(C10)).as("__s"))
      .join(broadcast(priors.select(col("level"),
        col("__y").as("__cls"), col("prior"))), Seq("level", "__cls"))
      .select(col("id"), col("level"), col("__cls"),
        (col("__s").cast(DecimalType(28, 9)) + col("prior")).as("score"))
    val predicted = scored.groupBy("id", "level")
      .agg(max(struct(col("score"), col("__cls"))).as("best"))
      .select(col("id"), col("level"), col("best.__cls").as("__pred"))
    predicted
      .join(labeled.select(col("id"), col("__y")), Seq("id"))
      .groupBy("level")
      .agg(count(lit(1)).as("n_test"),
        sum((col("__pred") === col("__y")).cast("long")).as("n_correct"))
      .join(broadcast(nTrain), Seq("level"))
      .select(col("level"), col("n_train"), col("n_test"), col("n_correct"),
        (col("n_correct").cast("double") / col("n_test").cast("double"))
          .as("accuracy"))
  }

  /** Tokenizer-vocabulary construction: terms with corpus count ≥
    * `minCount`, assigned CONTIGUOUS ids in (count desc, term asc) order —
    * the id layout every embedding table expects (frequent terms get small
    * ids; rank ≈ log-frequency under Zipf).
    *
    * Ranking a vocabulary-sized relation must not become one global
    * window: the two-phase trick (the [[graft.ops.Prep]] sample-rank
    * family) applies because the salt — the term's 2-char prefix — is a
    * PREFIX of the within-count sort order, so global id =
    * broadcast offset of the (count, salt) range + local row_number
    * within it. The per-(count,salt) offsets relation is tiny; the global
    * walk happens over THAT, never over terms. Returns
    * (term, term_count, term_id), ids 1-based.
    */
  def buildVocab(docs: DataFrame, textCol: String, minCount: Long)
      : DataFrame = {
    val counts = docs.select(explode(toks(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("term_count"))
      .filter(col("term_count") >= minCount)
      .withColumn("__salt", substring(col("term"), 1, 2))
    val offsets = counts.groupBy("term_count", "__salt")
      .agg(count(lit(1)).as("__c"))
      .withColumn("__offset", coalesce(sum("__c").over(
        Window.orderBy(col("term_count").desc, col("__salt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__c")
    val wLocal = Window.partitionBy(col("term_count"), col("__salt"))
      .orderBy(col("term"))
    counts
      .withColumn("__lrn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("term_count", "__salt"))
      .select(col("term"), col("term_count"),
        (col("__lrn") + col("__offset")).as("term_id"))
  }

  /** Encode documents against a [[buildVocab]] vocabulary: one row per
    * token position, OOV terms mapped to id 0. The vocabulary joins
    * BROADCAST by default (embedding-table-sized); pass
    * `broadcastVocab = false` for open-vocabulary corpora (the
    * [[graft.ops.Prep.tfidf]] fallback discipline). Returns
    * (id, pos, term, term_id).
    */
  def encodeDocs(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, broadcastVocab: Boolean = true): DataFrame = {
    val v = vocab.select(col("term"), col("term_id"))
    val exploded = docs.select(col(idCol).as("id"),
      posexplode(toks(col(textCol))).as(Seq("pos", "term")))
    exploded
      .join(if (broadcastVocab) broadcast(v) else v, Seq("term"), "left_outer")
      .select(col("id"), col("pos").cast("long").as("pos"), col("term"),
        coalesce(col("term_id"), lit(0L)).as("term_id"))
  }

  /** Apply a LEARNED BPE merges table (Sennrich et al. 2016; the greedy
    * scan order of GPT-2's encoder) — the actual LLM tokenizer-apply op,
    * where [[graft.ops.TextAnalysis.bpeishTokens]] stops at
    * pre-tokenization. Words ([a-z]+ runs of the lower-cased text) start
    * as character sequences; each round applies, per word, the
    * LOWEST-rank merge present anywhere in it to ALL its occurrences at
    * once, greedily left-to-right on overlaps (in a run of consecutive
    * occurrences only the 1st, 3rd, … merge — GPT-2's linear rescan
    * produces exactly this), then renumbers. `maxRounds` bounds the
    * rounds (each word consumes ≤ 1 rule per round; unmergeable words
    * finish early and pass through untouched), keeping the plan depth —
    * and the oracle's unrolled CTEs — fixed.
    *
    * Shape at scale: the whole bounded merge loop runs inside the native
    * codegen'd kernel [[graft.functions.BpeEncodeWord]] — ZERO shuffles,
    * zero joins, zero windows; one scan, one explode. The merges table
    * rides the expression as a reference object (a production
    * tokenizer's ~50k merges is a few MB — broadcast-equivalent). The
    * first formulation ran ~7 window passes over (doc, word) partitions
    * per round and an array/HOF rewrite evaluated interpreted — both
    * measured and recorded in SURVEY §6.0; the kernel replaces them at
    * identical semantics (same TokenModelsSpec fixtures, same
    * unrolled-CTE oracle). All arithmetic is string/integer — no
    * rounding discipline needed.
    *
    * Returns (doc_id, word_id, pos, sym) — the encoded symbol stream.
    */
  def bpeEncode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1: $maxRounds")
    require(merges.nonEmpty, "empty merges table")
    val enc = merges.map { case (a, b) => a + "\u0001" + b }
      .mkString("\u0002")
    docs.select(col(idCol).as("doc_id"),
        posexplode(expr(s"regexp_extract_all(lower(${textCol}), '[a-z]+', 0)"))
          .as(Seq("word_id", "__w")))
      .select(col("doc_id"), col("word_id"),
        posexplode(call_function("graft_bpe_word", col("__w"), lit(enc),
          lit(maxRounds))).as(Seq("pos", "sym")))
  }

  /** WordPiece encoding (Wu et al. 2016; the BERT tokenizer, Devlin
    * 2019 §A.2) against a FIXED vocabulary — the third member of the
    * kernel tokenizer family ([[bpeEncode]] merges-driven, the unigram
    * Viterbi in [[unigramFit]], and THIS greedy longest-match-first with
    * `##` continuations; a position with no matching piece makes the
    * whole word the single `unk` token). Same word pre-tokenization and
    * output contract as [[bpeEncode]]: (doc_id, word_id, pos, sym), one
    * zero-shuffle kernel call per word with the vocab riding as a
    * reference object. Fit-side kin: production WordPiece vocabularies
    * are learned by the likelihood variant of [[bpeLearn]]'s
    * count-argmax loop on a sample; encoding is the corpus-wide pass
    * that must stay cheap, and is.
    */
  def wordpieceEncode(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], maxPieceLen: Int, unk: String = "[UNK]")
      : DataFrame = {
    require(vocab.nonEmpty, "empty wordpiece vocabulary")
    docs.select(col(idCol).as("doc_id"),
        posexplode(expr(s"regexp_extract_all(lower(${textCol}), '[a-z]+', 0)"))
          .as(Seq("word_id", "__w")))
      .select(col("doc_id"), col("word_id"),
        posexplode(call_function("graft_wordpiece_word", col("__w"),
          lit(vocab.mkString("\u0002")), lit(maxPieceLen), lit(unk)))
          .as(Seq("pos", "sym")))
  }

  /** BPE merge LEARNING (Sennrich et al. 2016 fit-phase) — the other half
    * of [[bpeEncode]]: `rounds` iterations of count-all-adjacent-pairs →
    * take the global argmax → apply that single merge corpus-wide. Ties
    * on the count break to the lexicographically smallest (a, b) — pure
    * ASCII symbols, so Spark UTF8 and any oracle's binary collation
    * agree. Returns the learned table (merge_rank, a, b, pair_count)
    * with pair_count measured at selection time; if the corpus runs out
    * of repeatable pairs early the result simply has fewer rows.
    *
    * Shape at scale: pair counting is ONE partial-aggregable shuffle on
    * the (sym, nxt) pair (bounded by the live symbol-pair vocabulary,
    * never corpus size); the argmax is a 1-row TakeOrdered over that
    * bounded relation — kept as a 1-row DataFrame and broadcast into the
    * merge application, never collected to the driver; each round's state
    * is `localCheckpoint`ed (the PageRank lineage discipline). Production
    * tokenizer training runs tens of thousands of merges on a SAMPLED
    * corpus — at 100 TB the sampling step (hash-bucket, [[graft.ops.Prep
    * .hashBucket]] family) comes first and this loop runs on the sample;
    * the per-round cost is then sample-bounded while the learned table
    * applies corpus-wide via [[bpeEncode]].
    */
  def bpeLearn(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    // state is one symbol ARRAY per DISTINCT word, weighted by the word's
    // corpus count: merges are deterministic per symbol sequence and pair
    // counts are per-word-linear, so Σ_distinct cnt·pairs(word) equals the
    // per-occurrence count exactly — and every round's kernel pass,
    // checkpoint and pair shuffle runs at distinct-word volume instead of
    // corpus volume. Both per-round steps run in the native kernels
    // (graft_bpe_pairs / graft_bpe_apply) — the window formulation cost
    // ~7 passes per round, the HOF-lambda one evaluated interpreted
    // (both measured, SURVEY §6.0)
    var st = docs.select(
        explode(expr(s"regexp_extract_all(lower(${textCol}), '[a-z]+', 0)"))
          .as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__wcnt"))
      .select(filter(split(col("__w"), ""), s => s =!= "").as("syms"),
        col("__wcnt"))
      .localCheckpoint()
    var learned = Vector.empty[DataFrame]
    for (r <- 1 to rounds) {
      val best = st
        .select(col("__wcnt"),
          explode(call_function("graft_bpe_pairs", col("syms"))).as("__p"))
        .groupBy(col("__p.a").as("__a"), col("__p.b").as("__b"))
        .agg(sum(col("__wcnt")).as("__cnt"))
        .orderBy(col("__cnt").desc, col("__a"), col("__b"))
        .limit(1).localCheckpoint()
      learned = learned :+ best.select(lit(r - 1).as("merge_rank"),
        col("__a").as("a"), col("__b").as("b"),
        col("__cnt").as("pair_count"))
      st = st.crossJoin(broadcast(best.select("__a", "__b")))
        .select(call_function("graft_bpe_apply", col("syms"),
          col("__a"), col("__b")).as("syms"), col("__wcnt"))
        .localCheckpoint()
    }
    learned.reduce(_ unionByName _)
  }

  /** Unigram-LM (SentencePiece-style) tokenizer FIT — Kudo 2018's
    * subword model in its hard-EM (Viterbi) form, the T5/LLaMA-family
    * alternative to [[bpeLearn]]'s merge list: seed a candidate piece
    * inventory from corpus substrings, then iterate
    * "segment every word by minimum total cost → recount piece usage →
    * re-estimate piece costs" with add-one smoothing over the FIXED
    * candidate set (pieces are never dropped, which keeps the round
    * grid — and the oracle's replay — stationary).
    *
    *  - Candidates: all substrings (length ≤ `maxPieceLen`) of the
    *    corpus' `[a-z]+` words of length ≤ `maxWordLen`, weighted by
    *    word frequency; the `maxVocab` heaviest by (count desc, piece
    *    asc) plus ALL single characters (guaranteeing segmentability).
    *  - Costs: −log₂ p rounded to 9 dp (the [[bits9]] discipline), so
    *    DP sums are exact; the Viterbi kernel receives them as integer
    *    nano-bits and its long sums equal an oracle's exact DECIMAL
    *    sums. Cost ties break to the lexicographically smallest
    *    U+0001-joined piece path — composable, so the kernel's
    *    left-to-right DP equals the global (cost, path) minimum an
    *    oracle finds by enumerating all segmentations of the ≤
    *    `maxWordLen`-char word (a bounded recursion).
    *  - The whole per-word DP runs inside the native codegen'd
    *    [[graft.functions.UnigramSegmentWord]] kernel over the DISTINCT
    *    word relation — zero joins/windows per EM round; the only
    *    per-round actions are one vocab-sized collect (the piece table
    *    rides the kernel as a reference object — tokenizer-sized, the
    *    bounded fit-tail collect of the Ivf discipline) and one
    *    partial-aggregable usage count.
    *
    * Shape at scale: fit on a hash-bucket SAMPLE and apply corpus-wide
    * (the [[bpeLearn]] sampling discipline); per-round cost is
    * distinct-word-bounded, never corpus-bounded. Words longer than
    * `maxWordLen` are excluded from the FIT (segmenting them at apply
    * time uses the same kernel, which has no length cap).
    *
    * Returns (piece, piece_len, used_count, cost_bits) — the final
    * round's usage counts and the costs re-estimated from them.
    */
  def unigramFit(docs: DataFrame, textCol: String, maxPieceLen: Int = 4,
      maxVocab: Int = 64, rounds: Int = 2, maxWordLen: Int = 10)
      : DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1: $maxPieceLen")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    require(maxVocab >= 1, s"maxVocab must be >= 1: $maxVocab")
    val D9 = DecimalType(18, 9)
    val words = docs.select(explode(expr(
        s"regexp_extract_all(lower($textCol), '[a-z]+', 0)")).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .localCheckpoint()
    val cand = words
      .select(col("word"), col("wc"),
        explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("word"), col("wc"), col("s"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .filter(col("s") + col("l") - 1 <= length(col("word")))
      .select(expr("substr(word, s, l)").as("piece"), col("wc"))
      .groupBy("piece").agg(sum(col("wc")).as("cnt"))
      .localCheckpoint()
    val top = cand.orderBy(col("cnt").desc, col("piece")).limit(maxVocab)
    val voc = top.unionByName(cand.filter(length(col("piece")) === 1))
      .dropDuplicates("piece")
      .localCheckpoint()
    val vSize = voc.count()
    var vocab = voc
      .crossJoin(broadcast(voc.agg(sum(col("cnt")).as("__tot"))))
      .select(col("piece"),
        (bits9(col("cnt") / col("__tot")) * -1).cast(D9).as("cost"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      // the bounded fit-tail collect: the piece table IS the model
      val enc = vocab.collect().map { r =>
        val nanobits = r.getDecimal(1).movePointRight(9).longValueExact()
        r.getString(0) + "\u0001" + nanobits
      }.mkString("\u0002")
      val uses = words
        .select(col("wc"),
          explode(call_function("graft_unigram_segment", col("word"),
            lit(enc), lit(maxPieceLen))).as("piece"))
        .groupBy("piece").agg(sum(col("wc")).as("used"))
        .localCheckpoint()
      vocab = vocab.select("piece")
        .join(uses, Seq("piece"), "left_outer")
        .na.fill(0L, Seq("used"))
        .crossJoin(broadcast(uses.agg(sum(col("used")).as("__tu"))))
        .select(col("piece"),
          (bits9((col("used") + 1.0) / (col("__tu") + vSize)) * -1)
            .cast(D9).as("cost"),
          col("used"))
        .localCheckpoint()
    }
    vocab.select(col("piece"),
      length(col("piece")).cast("long").as("piece_len"),
      col("used").as("used_count"),
      col("cost").cast("double").as("cost_bits"))
  }

  /** Deterministic bigram-LM text generation — hash-sampled ancestral
    * sampling from the corpus-fitted bigram model: from each seed token,
    * step r draws the next token from the TRUE conditional distribution
    * P(w₂|cur) ∝ c(cur, w₂) by landing `md5(seed|r) mod c(cur)` inside
    * the next-token's cumulative-count range — exact categorical
    * sampling, engine-replayable with no RNG state (the [[graft.ops
    * .Graph.randomWalks]] indexed idiom, weighted by counts instead of
    * uniform over neighbors). The synthetic-data / LM-babble generator:
    * n-gram babble is the classic corpus-sanity read (a corpus whose
    * babble is loops and boilerplate has the duplication to match), and
    * the same machinery generates weak-augmentation text.
    *
    * Shape at scale: the model is ONE (w₁, w₂) count aggregate with
    * per-w₁ cumulative ranges (a window over the model relation, vocab²
    * bounded, never a corpus pass); each step joins the |seeds|-row
    * frontier against the model on the current token and keeps the
    * single row whose range contains the hash — dead ends (no outgoing
    * bigram) carry their prefix. `localCheckpoint` per step. Returns
    * (seed, generated, steps) where `generated` starts at the seed.
    */
  def generateBigram(docs: DataFrame, textCol: String, seeds: DataFrame,
      seedCol: String, length: Int): DataFrame = {
    require(length >= 1, s"length must be >= 1: $length")
    // tokens bound to a column FIRST: the old transform lambda ran
    // element_at over the raw toks() expression, re-evaluating the
    // split+filter per element — O(len²) per document in the model build
    val bigrams = docs
      .select(toks(col(textCol)).as("__t"))
      .select(explode(TextAnalysis.ngramZip(col("__t"), 2)).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("w1")).orderBy(col("w2"))
    val model = bigrams
      .withColumn("hi", sum(col("c")).over(w))
      .withColumn("lo", col("hi") - col("c"))
      // same (partition, order) spec as `hi` with an explicit full frame,
      // so both sums merge into ONE Window node (an orderless spec forced
      // a second Window pass over the bigram relation); w2 is unique per
      // w1 (grouped), so the full-frame ordered sum is the partition total
      .withColumn("tot", sum(col("c")).over(w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .localCheckpoint()
    var frontier = seeds.select(col(seedCol).cast("string").as("seed"))
      .distinct()
      .select(col("seed"), col("seed").as("cur"),
        col("seed").as("generated"), lit(0).as("steps"))
      .localCheckpoint()
    for (r <- 1 to length) {
      // raw 48-bit md5 value mod the context's total count — the
      // hashBucket idiom with a COLUMN modulus
      val h = conv(substring(
        md5(concat_ws("|", col("seed"), lit(r))), 1, 12), 16, 10)
        .cast("long")
      // ≤|seeds| rows (ranges are disjoint per w1 — each frontier row
      // matches at most one model row); broadcast back onto the frontier
      // as a LEFT OUTER + coalesce so the round reads the model ONCE —
      // the anti-join + union spelling referenced this subtree twice,
      // scanning the checkpointed model relation 2× per step
      val stepped = broadcast(frontier.join(model, col("cur") === col("w1"))
        .filter(pmod(h, col("tot")) >= col("lo") &&
          pmod(h, col("tot")) < col("hi"))
        .select(col("seed"), col("w2").as("__nx")))
      frontier = frontier.join(stepped, Seq("seed"), "left_outer")
        .select(col("seed"), coalesce(col("__nx"), col("cur")).as("cur"),
          when(col("__nx").isNull, col("generated"))
            .otherwise(concat_ws(" ", col("generated"), col("__nx")))
            .as("generated"),
          (col("steps") + when(col("__nx").isNull, 0).otherwise(1))
            .as("steps"))
        .localCheckpoint()
    }
    frontier.select("seed", "generated", "steps")
  }
}
