package graft.ops

import graft.functions.PqKernel
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Paths, in ascending scale:
  *  - [[bruteTopK]] — exact cosine top-k against a query vector: one pass,
  *    per-partition top-k heap (TakeOrderedAndProject), no shuffle of the
  *    corpus. The baseline and the correctness oracle.
  *  - [[nearDupPairs]] — exact all-pairs near-dup (quadratic; fine for
  *    calibration corpora, not for 100 TB).
  *  - [[lshBuckets]] / [[lshTopK]] — random-hyperplane LSH: ±1 plane
  *    components from a seeded PRNG inlined as literals (so the identical
  *    planes are reproducible in oracle SQL); bucket = sign bits. Search
  *    touches only the query's bucket — corpus-linear signature cost once,
  *    then per-bucket candidate scoring.
  *
  * All arithmetic is promoted to DOUBLE and summed left-to-right
  * (`aggregate` folds sequentially), matching DuckDB's `list_dot_product`
  * over `DOUBLE[]` for bit-stable oracle comparison.
  */
object Similarity {

  /** Sequential dot product of two array columns, in double. Resolves to
    * the codegen'd native expression ([[graft.functions.DotProduct]],
    * registered by [[graft.GraftExtensions]]) — bit-identical to the
    * `aggregate(zip_with(...))` fold ([[dotFold]]) it replaces, ~10× faster
    * on pair-scan hot paths because lambda higher-order functions are
    * CodegenFallback.
    */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a.cast("array<double>"), b.cast("array<double>"))

  /** Pure-builtin fold fallback for sessions without GraftExtensions. */
  def dotFold(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-pair cosine with PRE-COMPUTED per-vector norms. The plain
    * [[cosine]] spelling runs THREE dot kernels per pair — dot(a,b) plus
    * the two self-dots — although the self-dots are per-VECTOR
    * invariants: on a Σ bucket² candidate scan that is 3× the kernel
    * work the pair actually needs. Callers compute [[norm]] once per
    * vector on the pre-join relation and carry it through the pair join;
    * per-pair work drops to one kernel + one multiply + one division.
    * Bit-identical to [[cosine]]: the same sqrt(dot(v,v)) double rides a
    * column instead of being re-evaluated, and the `dot / (na * nb)`
    * operand order is unchanged.
    */
  def cosinePre(a: Column, b: Column, normA: Column, normB: Column)
      : Column = dot(a, b) / (normA * normB)

  /** Exact cosine top-k of the corpus against the single-row query relation
    * `queryVec(vecCol)`. Query side is broadcast; ranking rounds to 6 dp
    * with id tie-break so ordering is engine-stable.
    */
  def bruteTopK(
      emb: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // norms precomputed pre-join ([[cosinePre]]): the corpus self-dot runs
    // once per row (not re-spelled inside the pair expression) and the
    // query self-dot once per query row instead of once per corpus row
    val q = query.select(col(vecCol).as("__qvec"))
      .withColumn("__qnrm", norm(col("__qvec")))
    emb.withColumn("__vnrm", norm(col(vecCol)))
      .crossJoin(broadcast(q))
      .withColumn("cos", round(cosinePre(col(vecCol), col("__qvec"),
        col("__vnrm"), col("__qnrm")), 6))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("cos"))
  }

  /** (id, nv) relation of unit-normalized double vectors — one linear pass;
    * downstream pair scoring is then a single dot product per pair instead
    * of dot + two norms.
    */
  def normalized(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("id"), transform(col("v"), x => x / col("nrm")).as("nv"))

  /** Exact all-pairs cosine near-duplicates (cos ≥ threshold). Quadratic in
    * corpus size — the calibration/oracle path; use LSH buckets at scale.
    * Vectors are unit-normalized in a first linear pass so each pair costs
    * one dot product.
    */
  def nearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val n = normalized(emb, idCol, vecCol)
    val a = n.select(col("id").as("id_a"), col("nv").as("nv_a"))
    val b = n.select(col("id").as("id_b"), col("nv").as("nv_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("nv_a"), col("nv_b")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix recipe behind most public parallel-corpus
    * construction): candidate translation pairs are each x-side
    * document's cosine-best y-side document, scored by the RATIO margin
    * cos(x,y) / ((avgₖ(x→Y) + avgₖ(y→X)) / 2) — dividing by the local
    * similarity level makes a hub document that is "close to everything"
    * score low where raw cosine would flood the output. A pair mines
    * when margin ≥ `threshold`; `mutual` marks y's best-x agreeing
    * (the intersection strategy's high-precision subset).
    *
    * Determinism: cosines round to 6 dp (the [[knnJoin]] discipline);
    * the top-k means stay EXACT — DECIMAL(18,6) sums with the counts
    * carried, margin = 2·cos·nx·ny / (Σx·ny + Σy·nx) so no decimal
    * division ever happens (Spark and an oracle disagree on division
    * scales); one double division rounded 9 dp at the end.
    *
    * Scale shape: the within-slice cross is candidate generation and is
    * the part that swaps out at corpus scale — the ANN funnel
    * ([[Ivf.probeBatch]] / [[graft.ops.Pq]] codes) proposes each side's
    * top-k lists and THIS margin rescoring runs unchanged on the
    * k-bounded candidate relation; windows partition per document id,
    * never globally. Returns (x_id, y_id, cos, margin, mutual).
    */
  def bitextMargin(xs: DataFrame, ys: DataFrame, idCol: String,
      vecCol: String, k: Int, threshold: Double): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val a = xs.select(col(idCol).cast("long").as("x_id"),
      col(vecCol).as("__xv"))
    val b = ys.select(col(idCol).cast("long").as("y_id"),
      col(vecCol).as("__yv"))
    val cross = a.withColumn("__xnrm", norm(col("__xv")))
      .crossJoin(broadcast(b.withColumn("__ynrm", norm(col("__yv")))))
      .select(col("x_id"), col("y_id"),
        round(cosinePre(col("__xv"), col("__yv"),
          col("__xnrm"), col("__ynrm")), 6).cast(dec).as("cos"))
      .localCheckpoint()
    bitextMarginOnCandidates(cross, k, threshold)
  }

  /** The margin-rescoring TAIL of [[bitextMargin]] over an
    * already-generated candidate relation (x_id, y_id, cos with 6-dp
    * DECIMAL(18,6) cosines) — the form that actually runs at corpus
    * scale, where the candidates come k-bounded per id from the ANN
    * funnel ([[Ivf.probeBatch]] / [[graft.ops.Pq]] codes scored both
    * directions) instead of a within-slice cross. Margin semantics are
    * identical by construction (the cross path delegates here;
    * SimilaritySpec pins hand-computed values through BOTH entries) with
    * one stated difference: the top-k means average over each id's
    * PRESENT candidates, so an ANN candidate set must carry ≥ k
    * neighbors per id for the denominators to match the exact path —
    * the standard shortlist-k′ > k discipline.
    */
  def bitextMarginOnCandidates(cand: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    val wx = Window.partitionBy("x_id").orderBy(col("cos").desc, col("y_id"))
    val wy = Window.partitionBy("y_id").orderBy(col("cos").desc, col("x_id"))
    val xStat = cand.withColumn("__r", row_number().over(wx))
      .filter(col("__r") <= k).groupBy("x_id")
      .agg(sum("cos").as("__sx"), count(lit(1)).as("__nx"))
    val yStat = cand.withColumn("__r", row_number().over(wy))
      .filter(col("__r") <= k).groupBy("y_id")
      .agg(sum("cos").as("__sy"), count(lit(1)).as("__ny"))
    val best = cand.withColumn("__r", row_number().over(wx))
      .filter(col("__r") === 1).drop("__r")
    val yBest = cand.withColumn("__r", row_number().over(wy))
      .filter(col("__r") === 1).select(col("y_id"), col("x_id").as("__ybx"))
    best.join(xStat, Seq("x_id")).join(yStat, Seq("y_id"))
      .join(yBest, Seq("y_id"))
      .withColumn("margin",
        round((col("cos") * 2 * col("__nx") * col("__ny")).cast("double") /
          (col("__sx") * col("__ny") + col("__sy") * col("__nx"))
            .cast("double"), 9))
      .filter(col("margin") >= threshold)
      .select(col("x_id"), col("y_id"), col("cos").cast("double").as("cos"),
        col("margin"), (col("__ybx") === col("x_id")).as("mutual"))
  }

  /** Top-`nProbe` nearest-anchor cells (1-based ids) for a vector column,
    * nearest first — the multi-probe generalization of [[anchorCellExpr]]
    * (nProbe = 1 reproduces it exactly; [[anchorCell2Expr]]'s masked
    * second argmax is the nProbe = 2 ordering). Ranking sorts
    * (−score, idx) so ties break to the smaller anchor index at every
    * depth, matching `array_position`'s first-max semantics — engine-
    * stable, zero-shuffle, anchors are broadcast literals.
    */
  def topAnchorCellsExpr(vecCol: Column, anchors: Array[Array[Int]],
      nProbe: Int): Column = {
    require(nProbe >= 1 && nProbe <= anchors.length,
      s"nProbe must be in [1, ${anchors.length}]: $nProbe")
    val v = vecCol.cast("array<double>")
    val scores = array(anchors.toIndexedSeq.map { a =>
      val aLit = array(a.map(s => lit(s.toDouble)).toIndexedSeq: _*)
      val norm2 = a.map(x => x.toDouble * x).sum
      round(dot(v, aLit) / lit(math.sqrt(norm2)), 6)
    }: _*)
    val ranked = zip_with(scores,
      sequence(lit(1), lit(anchors.length)),
      (s, i) => struct((-s).as("ns"), i.as("i")))
    slice(transform(array_sort(ranked), e => e.getField("i").cast("int")),
      1, nProbe)
  }

  /** ANN-funnel candidate generation for [[bitextMarginFunnel]]: each
    * x-side document sits in its primary anchor cell; each y-side
    * document PROBES its `nProbe` nearest cells; candidates are the
    * (x, y) pairs meeting in a cell, scored with the pipeline's 6-dp
    * DECIMAL cosine. Each pair appears at most once (x has ONE cell; y
    * lists it at most once), so candidate volume is
    * Σ_cell |X_cell| · |Y probing cell| — sub-quadratic whenever the
    * probe depth is partial, and at `nProbe = anchors.length` every y
    * probes every cell, the relation degenerates to the EXACT cross
    * PROVABLY (not data-dependently), and the margin tail inherits the
    * exact path's oracle. The y side broadcasts here (k-bounded mining
    * batches); swap to a plain cell-key shuffle join when both sides are
    * corpus-scale — the Σ cell-product bound is the same.
    */
  def bitextCandidates(xs: DataFrame, ys: DataFrame, idCol: String,
      vecCol: String, anchors: Array[Array[Int]], nProbe: Int): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val xc = xs.select(col(idCol).cast("long").as("x_id"),
      col(vecCol).as("__xv"),
      anchorCellExpr(col(vecCol), anchors).as("__cell"))
    // full probe = membership in EVERY cell — no scoring needed (and the
    // top-cells ranking rides interpreted array HOFs, so skipping it
    // keeps the exact-witness configuration all-codegen)
    val probeCells =
      if (nProbe == anchors.length) sequence(lit(1), lit(anchors.length))
      else topAnchorCellsExpr(col(vecCol), anchors, nProbe)
    val yc = ys.select(col(idCol).cast("long").as("y_id"),
        col(vecCol).as("__yv"), probeCells.as("__cells"))
      .withColumn("__ynrm", norm(col("__yv")))
      .select(col("y_id"), col("__yv"), col("__ynrm"),
        explode(col("__cells")).as("__cell"))
    xc.withColumn("__xnrm", norm(col("__xv")))
      .join(broadcast(yc), Seq("__cell"))
      .select(col("x_id"), col("y_id"),
        round(cosinePre(col("__xv"), col("__yv"),
          col("__xnrm"), col("__ynrm")), 6).cast(dec).as("cos"))
  }

  /** [[bitextMargin]] through the ANN funnel: [[bitextCandidates]]
    * (cell-bounded candidate generation, the swap-in
    * [[bitextMargin]]'s scaladoc promises at corpus scale) feeding the
    * unchanged margin rescoring ([[bitextMarginOnCandidates]]). At
    * `nProbe = anchors.length` the output ≡ [[bitextMargin]] exactly
    * (full probe = exact cross, by construction — the
    * [[graft.ops.Ivf]] `sim_ivf_exact` witness pattern, so the
    * registered query stays hash-checked end-to-end through the funnel
    * machinery); partial probes trade boundary-pair recall for
    * Σ cell-product candidate work (round-12 funnel measurements,
    * SURVEY §6.1).
    */
  def bitextMarginFunnel(xs: DataFrame, ys: DataFrame, idCol: String,
      vecCol: String, k: Int, threshold: Double,
      anchors: Array[Array[Int]], nProbe: Int): DataFrame =
    bitextMarginOnCandidates(
      bitextCandidates(xs, ys, idCol, vecCol, anchors, nProbe)
        .localCheckpoint(),
      k, threshold)

  /** Exact k-NN join: for every row of the (small, broadcast) query
    * relation, the top-k most-cosine-similar corpus rows. One corpus scan;
    * ranking is a per-query-key window (shuffle on q_id — at scale the
    * query side is the small one, so the window partitions stay balanced).
    * Self-matches (same id) are excluded.
    */
  def knnJoin(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qvec"))
      .withColumn("__qnrm", norm(col("__qvec")))
    emb.withColumn("__vnrm", norm(col(vecCol)))
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("cos", round(cosinePre(col(vecCol), col("__qvec"),
        col("__vnrm"), col("__qnrm")), 6))
      .withColumn("rank", row_number()
        .over(Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col(idCol))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol), col("cos"))
  }

  /** Matryoshka-truncation fidelity (Kusupati et al. 2022 MRL): how
    * much of each query's FULL-dimension top-k survives when retrieval
    * runs on only the first `prefixDims` coordinates — the measurement
    * behind every "store d/2 dims, re-rank with full vectors" serving
    * plan. Per query: |topk_full ∩ topk_prefix| / k.
    *
    * Two [[knnJoin]] passes (the bounded query batch broadcasts — the
    * corpus never shuffles) + one per-query join of the two ≤k-row rank
    * lists; overlap is ONE IEEE division of exact integers. A LEFT join
    * from the full list keeps queries whose prefix list shares nothing
    * (overlap 0), so no silent drop can flatter the mean. Returns one
    * row per query: (q_id, k, n_common, overlap_at_k).
    */
  def mrlFidelity(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      prefixDims: Int): DataFrame = {
    require(k >= 1 && prefixDims >= 1,
      s"mrlFidelity: need k >= 1 and prefixDims >= 1, got $k/$prefixDims")
    def sliced(df: DataFrame) = df.select(col(idCol),
      slice(col(vecCol), 1, prefixDims).as(vecCol))
    val full = knnJoin(emb, queries, idCol, vecCol, k)
      .select(col("q_id"), col(idCol))
    val pref = knnJoin(sliced(emb), sliced(queries), idCol, vecCol, k)
      .select(col("q_id"), col(idCol), lit(1L).as("__hit"))
    full.join(pref, Seq("q_id", idCol), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_common"))
      .select(col("q_id"), lit(k.toLong).as("k"), col("n_common"),
        (col("n_common").cast("double") / k).as("overlap_at_k"))
  }

  /** k-NN majority-vote classification (Cover & Hart 1967) over the
    * embedding space — the non-parametric eval-batch classifier: each
    * query takes the majority label among its `k` nearest corpus
    * neighbors (self excluded), ties to the LARGEST label via
    * max-struct (the [[graft.ops.TokenModels.naiveBayes]] argmax
    * convention, mirrored in SQL). The `correct` bit against the
    * query's own label makes the output the confusion audit a
    * label-quality pass reads.
    *
    * Shape at scale: the [[knnJoin]] contract — the QUERY BATCH is the
    * bounded side (it broadcasts; the corpus never shuffles), so this
    * is the serving/eval shape; corpus-scale all-vs-all classification
    * routes through [[Ivf]] retrieval instead. The vote adds two
    * bounded group-bys on the (batch × k)-row neighbor relation.
    * Returns (idCol, label, predicted, n_votes, correct).
    */
  def knnClassify(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val nn = knnJoin(emb, queries, idCol, vecCol, k)
    val best = nn
      .join(emb.select(col(idCol), col(labelCol).as("__nl")), Seq(idCol))
      .groupBy(col("q_id"), col("__nl"))
      .agg(count(lit(1)).as("__c"))
      .groupBy("q_id")
      .agg(max(struct(col("__c"), col("__nl"))).as("__b"))
    queries.select(col(idCol).as("q_id"), col(labelCol).as("label"))
      .join(best, Seq("q_id"))
      .select(col("q_id").as(idCol), col("label"),
        col("__b.__nl").as("predicted"),
        col("__b.__c").as("n_votes"),
        (col("label") === col("__b.__nl")).as("correct"))
  }

  /** Hard-negative mining for contrastive training (the data-prep step
    * behind triplet/InfoNCE losses, Schroff et al. 2015): for each query,
    * the `k` most-similar corpus items whose label DIFFERS from the
    * query's — the negatives the model currently confuses. `maxCos` caps
    * similarity (semi-hard band: exclude near-duplicates that are likely
    * label noise rather than informative negatives).
    *
    * Same shape as [[knnJoin]]: the query batch broadcasts, the corpus
    * never shuffles, and the per-query top-k is a window over each query's
    * candidates. Label comparison is null-safe (a null-labeled corpus row
    * is a valid negative for a labeled query).
    */
  def hardNegatives(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      maxCos: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qvec"),
        col(labelCol).as("__qlabel"))
      .withColumn("__qnrm", norm(col("__qvec")))
    emb.withColumn("__vnrm", norm(col(vecCol)))
      .crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("q_id") &&
        !(col(labelCol) <=> col("__qlabel")))
      .withColumn("cos", round(cosinePre(col(vecCol), col("__qvec"),
        col("__vnrm"), col("__qnrm")), 6))
      .filter(col("cos") <= maxCos)
      .withColumn("rank", row_number()
        .over(Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col(idCol))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol), col(labelCol), col("cos"))
  }

  /** Nearest-neighbor label propagation (the one-hop transductive step —
    * Zhu & Ghahramani 2002's iteration truncated to a single round):
    * each UNLABELED row takes the majority label among labeled rows in
    * its coarse-quantizer cell with cosine ≥ `minCos` (ties → smallest
    * label; no qualifying neighbor → null). The weak-supervision shape:
    * a thin labeled seed set fans out over an embedding corpus without a
    * model in the loop.
    *
    * Scale shape is [[semanticDedup]]'s: the cell assignment is a
    * zero-shuffle codegen expression, the vote join shuffles once on the
    * cell key (Σ cell·cell work, never corpus²), and the majority vote is
    * one group-by plus a per-row window. Swap fitted [[Ivf]] centroids in
    * for the seeded anchors at scale — same plan.
    *
    * Returns (idCol, prop_label, n_votes) for every unlabeled row.
    */
  def labelPropagation(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      anchors: Array[Array[Int]],
      minCos: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = emb.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"),
      norm(col(vecCol).cast("array<double>")).as("__nm"),
      col(labelCol).as("__l"),
      anchorCellExpr(col(vecCol), anchors).as("cell"))
    val unlabeled = assigned.filter(col("__l").isNull)
      .select(col("cell"), col("__id"), col("__v"), col("__nm"))
    val labeled = assigned.filter(col("__l").isNotNull)
      .select(col("cell"), col("__l"), col("__v").as("__lv"),
        col("__nm").as("__lnm"))
    val votes = unlabeled.join(labeled, Seq("cell"))
      .filter(round(cosinePre(col("__v"), col("__lv"),
        col("__nm"), col("__lnm")), 6) >= minCos)
      .groupBy(col("__id"), col("__l"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__id"))
          .orderBy(col("__n").desc, col("__l"))))
      .filter(col("__rk") === 1)
      .select(col("__id"), col("__l").as("prop_label"),
        col("__n").as("n_votes"))
    assigned.filter(col("__l").isNull).select(col("__id"))
      .join(votes, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("prop_label"),
        coalesce(col("n_votes"), lit(0L)).as("n_votes"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversity pass between retrieval and serving: greedily pick `k`
    * of the top-`candidates` retrieval hits, each step maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` (ties → lowest id), so
    * the result covers the query's neighborhood instead of returning `k`
    * near-copies of the best hit. The first pick is the relevance argmax
    * (its diversity penalty is zero by definition).
    *
    * Two stages with very different scales, split accordingly:
    *  - retrieval — [[bruteTopK]], fully distributed (broadcast query,
    *    per-partition top-k heap over any corpus size);
    *  - greedy selection — inherently sequential in k, over a relation
    *    BOUNDED at `candidates` rows by construction, so it runs on the
    *    driver like the store's serve-tail slices (the only honest
    *    placement: k dependent tiny Spark jobs would add a scheduler
    *    round-trip per step and distribute nothing).
    *
    * Determinism discipline: relevances and pairwise similarities are
    * rounded to 6 dp (HALF_UP, matching `round()` on both engines); the
    * score is the same three IEEE ops on both sides; id contract is
    * LongType. Returns (rank, idCol, rel, mmr_score).
    */
  def mmrRerank(
      emb: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lambda: Double,
      candidates: Int): DataFrame = {
    require(k > 0 && candidates >= k, s"bad k=$k / candidates=$candidates")
    require(lambda >= 0 && lambda <= 1, s"bad lambda=$lambda")
    val mu = 1.0 - lambda
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val top = bruteTopK(emb, query, idCol, vecCol, candidates)
    val cand = emb
      .join(top.withColumnRenamed("cos", "rel"), Seq(idCol))
      .select(col(idCol).cast("long"), col("rel"),
        col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Double](2).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    def sim(a: Array[Double], b: Array[Double]): Double =
      round6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double)] // (id, rel, score)
    val picked = scala.collection.mutable.Set.empty[Long]
    while (selected.size < math.min(k, cand.length)) {
      val best = cand.iterator.filterNot(c => picked(c._1))
        .map { case (id, rel, vec) =>
          val maxSim = if (selected.isEmpty) 0.0
            else selected.map(s => sim(vec,
              cand.find(_._1 == s._1).get._3)).max
          (id, rel, lambda * rel - mu * maxSim)
        }
        // argmax score, ties to the LOWEST id (score desc, id asc)
        .reduceLeft((a, b) =>
          if (b._3 > a._3 || (b._3 == a._3 && b._1 < a._1)) b else a)
      selected += best
      picked += best._1
    }
    val spark = emb.sparkSession
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, rel, score), i) => (i + 1L, id, rel, score) }
      .toSeq.toDF("rank", idCol, "rel", "mmr_score")
  }

  /** Seeded ±1 random projection (Achlioptas 2003's database-friendly
    * Johnson–Lindenstrauss transform): project `dim`-dimensional embeddings
    * onto `signs.length` output coordinates, out_j = Σ_i signs(j)(i)·v_i —
    * the standard pre-ANN shrink (project 100 TB of wide embeddings down
    * once, then index the narrow ones). `signs` comes from
    * [[hyperplanes]], so the matrix inlines into the Spark plan AND the
    * oracle SQL — no side-channel state, any engine reproduces it from the
    * seed.
    *
    * Zero shuffle: each output coordinate is one codegen'd `graft_dot`
    * against a literal ±1 array. Both engines sum the dot sequentially in
    * array order, so values are bit-identical (rounded to 6 dp in the
    * output columns `p0..p{n-1}`).
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
      signs: Array[Array[Int]]): DataFrame = {
    require(signs.nonEmpty, "need at least one projection row")
    val v = col(vecCol).cast("array<double>")
    val outs = signs.zipWithIndex.map { case (row, j) =>
      val rowLit = array(row.map(s => lit(s.toDouble)).toIndexedSeq: _*)
      round(call_function("graft_dot", v, rowLit), 6).as(s"p$j")
    }
    emb.select(col(idCol) +: outs.toIndexedSeq: _*)
  }

  /** IVF (inverted-file) ANN — the other classic scale path beside
    * hyperplane LSH: a KMeans coarse quantizer partitions the corpus into
    * `nClusters` cells; a query scores only the `nProbe` cells whose
    * centroids are nearest. `nProbe = nClusters` degenerates to exact
    * brute force (the property IvfSpec pins).
    *
    * The quantizer fits on a BOUNDED sample ([[Ivf.fitModel]], `sampleCap`
    * rows) and the assignment is a single projection. This in-memory pair
    * is the calibration path; the serving path — assignment persisted
    * partitioned by `cluster` so probes are partition pruning, fit-once
    * across queries — is [[Ivf.build]] / [[Ivf.probe]].
    */
  def ivfAssign(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      seed: Long = 42L,
      maxIter: Int = 5,
      sampleCap: Int = 4096): (Array[Array[Double]], DataFrame) = {
    val centroids = Ivf.fitCentroids(emb, vecCol, nClusters, sampleCap, seed,
      maxIter)
    val assigned = emb.withColumn("cluster",
      Ivf.nearestCellExpr(col(vecCol), centroids))
    (centroids, assigned)
  }

  /** ANN top-k probing the `nProbe` nearest centroid cells (in-memory
    * fit+assign per call — see [[Ivf]] for the fit-once serving path).
    */
  def ivfTopK(
      emb: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nClusters: Int,
      nProbe: Int,
      seed: Long = 42L): DataFrame = {
    val (centroids, assigned) = ivfAssign(emb, idCol, vecCol, nClusters, seed)
    // single-vector query contract (same as Ivf.probe): non-empty, and cell
    // ranking + scoring agree on the one row they use
    val one = query.limit(1)
    val qRows = one.select(col(vecCol).cast("array<double>")).collect()
    require(qRows.nonEmpty, "ivfTopK requires a non-empty query relation")
    val qVec = qRows(0).getSeq[Double](0).toArray
    val probed = Ivf.nearestCells(centroids, qVec, nProbe)
    bruteTopK(assigned.filter(col("cluster").isin(probed.toIndexedSeq: _*)),
      one, idCol, vecCol, k)
  }

  /** Per-position means of an embedding column grouped by a label — the
    * centroid primitive (IVF cells, class prototypes, embedding drift).
    * One `posexplode` + one shuffle on (label, pos).
    *
    * Determinism discipline: double sums are order-dependent across
    * partitionings, so elements are rounded to 9 dp and summed in exact
    * DECIMAL; the mean divides back in double. Bit-stable on any engine,
    * any partitioning (the same rule as [[graft.functions.Exact]]).
    */
  def centroidMeans(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .withColumn("xd", round(col("x"), 9)
        .cast(org.apache.spark.sql.types.DecimalType(12, 9)))
      .groupBy("label", "pos")
      .agg((sum(col("xd")).cast("double") / count(lit(1))).as("m"),
        count(lit(1)).as("n"))

  /** Int8 scalar quantization of the embedding column, reported per
    * dimension — the storage-compression prep step for ANN serving (4×
    * smaller than float32; a quantized corpus is what actually ships to a
    * vector index at 100 TB). Asymmetric per-dimension min/max scaling:
    * `code = min(⌊(v − mn_d) · 256 / (mx_d − mn_d)⌋, 255)`.
    *
    * Plan shape: one posexplode of the corpus, one tiny per-dimension
    * min/max aggregate BROADCAST back (no collect), then a per-dimension
    * aggregate of the integer codes. All comparisons/floors run on exact
    * float-extended doubles, so code values — and their sums — are
    * bit-identical across engines; no floating-point aggregation appears in
    * the output (code sums are integer-exact).
    *
    * Returns (dim, n, mn, mx, code_sum, code_min, code_max), one row per
    * dimension.
    */
  def int8QuantStats(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dims = emb.select(col(idCol).as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "v")))
    val stats = dims.groupBy("dim").agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val code = when(col("mx") > col("mn"),
      least(floor((col("v") - col("mn")) * 256.0 / (col("mx") - col("mn"))),
        lit(255.0))).otherwise(lit(0.0)).cast("long")
    dims.join(broadcast(stats), Seq("dim"))
      .select(col("dim").cast("long").as("dim"), col("mn"), col("mx"), code.as("code"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        round(first(col("mn")), 6).as("mn"),
        round(first(col("mx")), 6).as("mx"),
        sum(col("code")).as("code_sum"),
        min(col("code")).as("code_min"),
        max(col("code")).as("code_max"))
      .select("dim", "n", "mn", "mx", "code_sum", "code_min", "code_max")
  }

  /** 1-bit binary quantization: bit d is set iff the vector's value at
    * dimension d exceeds the corpus mean of that dimension. 64 dims pack
    * into two 32-bit halves carried as BIGINTs (`code_lo` dims 0–31,
    * `code_hi` dims 32–63) — 32× smaller than float32, and Hamming
    * distance over the codes is two XOR+popcount instructions, which is
    * why binary codes are the first-stage filter of choice for
    * billion-vector search.
    *
    * Determinism: per-dim means sum exact DECIMAL(12,9) (rounded 9 dp)
    * and spend one IEEE division; the strict `v > m` compare and the bit
    * packing are then integer-exact on any engine.
    *
    * Plan shape at scale: one posexplode of the corpus, a ≤dim-row mean
    * relation broadcast back, one per-id re-aggregate — the same
    * two-shuffle discipline as [[int8QuantStats]]; at serving time codes
    * are computed once and persisted.
    */
  def binaryCodes(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // Contract: one row per id; >64 dims would silently alias bit
    // positions through `dim % 32`, so reject wide vectors at runtime
    // (raise_error keeps the check inside codegen — no extra action)
    val vec = col(vecCol).cast("array<double>")
    val checked = when(size(vec) <= 64, vec).otherwise(raise_error(
      format_string("graft.binaryCodes: vector width %d exceeds 64",
        size(vec))))
    val dims = emb.select(col(idCol).as("id"),
      posexplode(checked).as(Seq("dim", "v")))
    val means = dims
      .withColumn("vd", round(col("v"), 9)
        .cast(org.apache.spark.sql.types.DecimalType(12, 9)))
      .groupBy("dim")
      .agg((sum(col("vd")).cast("double") / count(lit(1))).as("m"))
    // bit_or (not sum) sets each bit idempotently, so an accidental
    // duplicate (id, dim) row cannot arithmetic-carry into a wrong code;
    // duplicate ids with DIFFERENT vectors still violate the one-row-per-
    // id contract (their codes OR together) — assert upstream if unsure
    dims.join(broadcast(means), Seq("dim"))
      .groupBy("id")
      .agg(
        expr("bit_or(CASE WHEN dim < 32 AND v > m THEN " +
          "shiftleft(CAST(1 AS BIGINT), CAST(dim % 32 AS INT)) " +
          "ELSE CAST(0 AS BIGINT) END)").as("code_lo"),
        expr("bit_or(CASE WHEN dim >= 32 AND v > m THEN " +
          "shiftleft(CAST(1 AS BIGINT), CAST(dim % 32 AS INT)) " +
          "ELSE CAST(0 AS BIGINT) END)").as("code_hi"))
  }

  /** Two-stage binary-code retrieval: Hamming distance over [[binaryCodes]]
    * selects `candidates` nearest codes (ties → id), then exact cosine
    * re-ranks the survivors to the final top `k`. The corpus-side work per
    * query is two XOR+popcounts per row; full float vectors are touched
    * only for the candidate set — the standard re-rank funnel for binary
    * embeddings.
    */
  def binaryHammingTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, candidates: Int, k: Int): DataFrame = {
    val codes = binaryCodes(emb, idCol, vecCol)
    val q = codes.filter(col("id") === queryId)
      .select(col("code_lo").as("__qlo"), col("code_hi").as("__qhi"))
    val cand = codes.filter(col("id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("hamming",
        bit_count(col("code_lo").bitwiseXOR(col("__qlo"))) +
          bit_count(col("code_hi").bitwiseXOR(col("__qhi"))))
      .orderBy(col("hamming"), col("id"))
      .limit(candidates)
      .select(col("id"), col("hamming").cast("long").as("hamming"))
    val qv = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"))
      .withColumn("__qnrm", norm(col("__qvec")))
    cand.join(emb.select(col(idCol).as("id"), col(vecCol)), Seq("id"))
      .withColumn("__vnrm", norm(col(vecCol)))
      .crossJoin(broadcast(qv))
      .withColumn("cos", round(cosinePre(col(vecCol), col("__qvec"),
        col("__vnrm"), col("__qnrm")), 6))
      .select(col("id"), col("hamming"), col("cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cos").desc, col("id"))).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("rank")
  }

  /** Matryoshka / truncated-dimension retrieval funnel (Kusupati et al.
    * 2022 trained the property; the funnel works for any embedding whose
    * leading dims carry most of the signal): coarse-rank the corpus by
    * cosine over the FIRST `prefixDims` dimensions — a prefixDims/dim
    * fraction of the arithmetic and, in a dimension-sliced layout, of the
    * bytes read — keep the top `candidates` (ties → id), then exact
    * full-dimension cosine re-ranks the survivors to top `k`.
    *
    * Same two-stage funnel discipline as [[binaryHammingTopK]]: the
    * corpus-wide stage is cheap per row and never shuffles (per-partition
    * top-C heap); full vectors are touched only for the C candidates.
    * Both stages round to 6 dp with id tie-breaks — engine-stable.
    */
  def prefixRerankTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, prefixDims: Int, candidates: Int, k: Int): DataFrame = {
    require(prefixDims >= 1, s"prefixDims must be >= 1: $prefixDims")
    val pre = slice(col(vecCol), 1, prefixDims)
    val base = emb.select(col(idCol).as("id"), col(vecCol),
      pre.as("__pvec"))
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qvec"), pre.as("__qpvec"))
      .withColumn("__qnrm", norm(col("__qvec")))
      .withColumn("__qpnrm", norm(col("__qpvec")))
    val cand = base.filter(col("id") =!= queryId)
      .withColumn("__pnrm", norm(col("__pvec")))
      .crossJoin(broadcast(q))
      .withColumn("cos_prefix",
        round(cosinePre(col("__pvec"), col("__qpvec"),
          col("__pnrm"), col("__qpnrm")), 6))
      .orderBy(col("cos_prefix").desc, col("id"))
      .limit(candidates)
    cand
      .withColumn("__vnrm", norm(col(vecCol)))
      .withColumn("cos", round(cosinePre(col(vecCol), col("__qvec"),
        col("__vnrm"), col("__qnrm")), 6))
      .select(col("id"), col("cos_prefix"), col("cos"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cos").desc, col("id"))).cast("long"))
      .filter(col("rank") <= k)
      .orderBy("rank")
  }

  /** Per-label centroid summary: vector count, centroid norm, and cosine
    * of the label centroid to the global centroid (embedding-drift shape:
    * a label whose centroid swings away from global is shifting).
    * Scalar outputs only — norms/cosines reduce over positions in exact
    * DECIMAL of rounded products, no array assembly needed.
    */
  def centroidSummary(emb: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 18)
    def sumD(c: Column) = sum(round(c, 18).cast(dec)).cast("double")
    val perLabel = centroidMeans(emb, labelCol, vecCol)
    val global = centroidMeans(emb.select(lit(0L).as("__g"), col(vecCol)),
        "__g", vecCol)
      .select(col("pos"), col("m").as("gm"))
    perLabel.join(global, Seq("pos"))
      .groupBy("label")
      .agg(max(col("n")).as("n_vecs"),
        sumD(col("m") * col("m")).as("norm2"),
        sumD(col("gm") * col("gm")).as("gnorm2"),
        sumD(col("m") * col("gm")).as("dotg"))
      .select(col("label"), col("n_vecs"),
        round(sqrt(col("norm2")), 6).as("centroid_norm"),
        round(col("dotg") / (sqrt(col("norm2")) * sqrt(col("gnorm2"))), 6)
          .as("cos_to_global"))
  }

  /** Deterministic ±1 hyperplanes: `planes × dim` matrix from a seeded
    * PRNG. Inlined as literals into both the Spark plan and generated
    * oracle SQL.
    */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Int]] = {
    val rnd = new Random(seed)
    Array.fill(planes, dim)(if (rnd.nextBoolean()) 1 else -1)
  }

  /** Sign-bit bucket id for a vector column under the given planes. Each
    * plane dot runs on the codegen'd native kernel (bit-identical to the
    * lambda fold it replaced, which was CodegenFallback).
    */
  def bucketExpr(vecCol: Column, planes: Array[Array[Int]]): Column = {
    val v = vecCol.cast("array<double>")
    val bits = planes.zipWithIndex.map { case (plane, p) =>
      val planeLit = array(plane.map(s => lit(s.toDouble)).toIndexedSeq: _*)
      val d = call_function("graft_dot", v, planeLit)
      when(d >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** (id, bucket) signature relation — one linear pass over the corpus. */
  def lshBuckets(emb: DataFrame, idCol: String, vecCol: String,
      planes: Array[Array[Int]]): DataFrame =
    emb.select(col(idCol), bucketExpr(col(vecCol), planes).as("bucket"))

  /** Scale-safe near-duplicate PAIRS — the embedding twin of
    * [[graft.ops.Dedup.minhashLshPairs]], replacing the corpus×corpus
    * cartesian of [[nearDupPairs]] as the headline path: `planeSets` is a
    * list of independent hyperplane BANDS; two vectors are candidates iff
    * they share a sign-bit bucket in ANY band, and every candidate pair is
    * verified with an exact cosine ≥ `threshold`.
    *
    * Plan shape at 100 TB: one linear signature pass (all band buckets per
    * row, native-kernel dots), one explode to (band, bucket), one
    * hash-partitioned self-join on (band, bucket) — work is Σ bucket², never
    * corpus², and bucket sizes shrink 2× per added plane. Pair uniqueness
    * across bands comes from the earlier-band-differs residual (a pair
    * colliding in band b is kept only if it did NOT collide in any band
    * < b), the same trick as the MinHash path — no distinct shuffle over
    * candidate pairs, and each pair is cosine-verified exactly once.
    *
    * Recall is the LSH trade: P(candidate) = 1 − Π_b (1 − p^planes_b) with
    * p = 1 − θ/π. Raise band count for recall, planes-per-band for
    * precision; [[nearDupPairs]] (spec-only) is the exact reference.
    */
  def lshNearDupPairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      planeSets: Seq[Array[Array[Int]]]): DataFrame = {
    val nBands = planeSets.length
    val sig = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"),
      norm(col(vecCol).cast("array<double>")).as("nm"),
      array(planeSets.map(p => bucketExpr(col(vecCol), p)): _*).as("bks"))
    val e = sig.select(col("id"), col("v"), col("nm"), col("bks"),
      posexplode(col("bks")).as(Seq("band", "bucket")))
    val a = e.select(col("band"), col("bucket"), col("id").as("id_a"),
      col("v").as("v_a"), col("nm").as("nm_a"), col("bks").as("bks_a"))
    val b = e.select(col("band"), col("bucket"), col("id").as("id_b"),
      col("v").as("v_b"), col("nm").as("nm_b"), col("bks").as("bks_b"))
    // keep a collision at `band` only if every earlier band differed
    val firstCollision = (0 until nBands - 1).map(k =>
        col("band") <= k ||
          element_at(col("bks_a"), k + 1) =!= element_at(col("bks_b"), k + 1))
      .reduceOption(_ && _).getOrElse(lit(true))
    // norms precomputed per vector ([[cosinePre]]) + the pushdown
    // barrier ([[Dedup]]'s __once discipline): one dot kernel per
    // candidate instead of up to six (the threshold filter otherwise
    // folds into the join condition and the output column re-evaluates)
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b") && firstCollision)
      .withColumn("cos", round(cosinePre(col("v_a"), col("v_b"),
        col("nm_a"), col("nm_b")), 6))
      .withColumn("__once", monotonically_increasing_id())
      .filter(col("cos") >= threshold &&
        col("__once") >= lit(Long.MinValue))
      .select("id_a", "id_b", "cos")
  }

  /** ANN top-k: score only vectors sharing the query's hyperplane bucket.
    * Recall < 1 by construction (single-probe); raise `planes` count or use
    * [[lshTopKMultiprobe]] for tighter recall at the same plane count.
    */
  def lshTopK(
      emb: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Array[Array[Int]]): DataFrame = {
    val q = query.select(col(vecCol).as("__qvec"),
        bucketExpr(col(vecCol), planes).as("bucket"))
      .withColumn("__qnrm", norm(col("__qvec")))
    // corpus norm computed AFTER the bucket join — rows outside the probed
    // bucket never pay a kernel (pre-join placement would dot every corpus
    // row); matching rows pay 2 kernels instead of 3
    emb.withColumn("bucket", bucketExpr(col(vecCol), planes))
      .join(broadcast(q), Seq("bucket"))
      .withColumn("__vnrm", norm(col(vecCol)))
      .withColumn("cos", round(cosinePre(col(vecCol), col("__qvec"),
        col("__vnrm"), col("__qnrm")), 6))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("bucket"), col("cos"))
  }

  /** Multiprobe ANN top-k: score the query's bucket PLUS its `planes.length`
    * Hamming-1 neighbor buckets (one sign bit flipped). A true neighbor on
    * the wrong side of exactly one hyperplane — the dominant single-probe
    * miss mode, since near vectors rarely disagree on many planes — is
    * recovered; candidate volume grows only (planes+1)×. The probe list is
    * deterministic (query bucket XOR each bit), so the identical search is
    * expressible in oracle SQL. The broadcast side stays tiny: one row per
    * probed bucket.
    */
  def lshTopKMultiprobe(
      emb: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Array[Array[Int]]): DataFrame = {
    val probeList = col("qb") +: planes.indices.map(p =>
      col("qb").bitwiseXOR(lit(1L << p)))
    val q = query.select(col(vecCol).as("__qvec"),
        bucketExpr(col(vecCol), planes).as("qb"))
      .withColumn("__qnrm", norm(col("__qvec")))
      .select(col("__qvec"), col("__qnrm"),
        explode(array(probeList: _*)).as("bucket"))
    emb.withColumn("bucket", bucketExpr(col(vecCol), planes))
      .join(broadcast(q), Seq("bucket"))
      .withColumn("__vnrm", norm(col(vecCol)))
      .withColumn("cos", round(cosinePre(col(vecCol), col("__qvec"),
        col("__vnrm"), col("__qnrm")), 6))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("bucket"), col("cos"))
  }

  /** BATCH multiprobe LSH k-NN — [[lshTopKMultiprobe]] for a whole query
    * RELATION (the serving shape, LSH twin of [[graft.ops.Ivf.probeBatch]]):
    * every query row derives its own Hamming-1 probe list in-plan, the
    * exploded (q_id, bucket) pairs broadcast onto the one-pass corpus
    * signatures, and ranking is a per-query-key window. One corpus scan for
    * ANY number of queries; candidates per query stay (planes+1) buckets.
    * Self-matches are excluded, matching [[knnJoin]].
    */
  def lshKnnJoin(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Array[Array[Int]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probeList = col("qb") +: planes.indices.map(p =>
      col("qb").bitwiseXOR(lit(1L << p)))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("__qvec"),
        bucketExpr(col(vecCol), planes).as("qb"))
      .withColumn("__qnrm", norm(col("__qvec")))
      .select(col("q_id"), col("__qvec"), col("__qnrm"),
        explode(array(probeList: _*)).as("bucket"))
    emb.withColumn("bucket", bucketExpr(col(vecCol), planes))
      .join(broadcast(q), Seq("bucket"))
      .filter(col(idCol) =!= col("q_id"))
      .withColumn("__vnrm", norm(col(vecCol)))
      .withColumn("cos", round(cosinePre(col(vecCol), col("__qvec"),
        col("__vnrm"), col("__qnrm")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col(idCol))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol), col("bucket"), col("cos"))
  }

  /** Nearest-anchor cell id (1-based) for a vector column: argmax of
    * cosine(v, anchor) over the anchor set. Anchors are ±1 literals from
    * [[hyperplanes]], so every anchor shares the same norm √dim and the
    * per-anchor score is one codegen'd [[dot]] + a constant divide —
    * zero-shuffle, whole-stage-codegen assignment. Scores round to 6 dp and
    * ties take the FIRST maximal index (`array_position` semantics), which
    * DuckDB's `list_indexof` mirrors, so the cell id is engine-stable.
    */
  def anchorCellExpr(vecCol: Column, anchors: Array[Array[Int]]): Column = {
    val v = vecCol.cast("array<double>")
    val scores = array(anchors.toIndexedSeq.map { a =>
      val aLit = array(a.map(s => lit(s.toDouble)).toIndexedSeq: _*)
      val norm2 = a.map(x => x.toDouble * x).sum // = dim for ±1 anchors
      round(dot(v, aLit) / lit(math.sqrt(norm2)), 6)
    }: _*)
    array_position(scores, array_max(scores)).cast("int")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): coarse-cluster the corpus, then drop every document
    * whose cosine to a lower-id document in the SAME cell reaches
    * `threshold`. Output = the surviving (id, cell) rows.
    *
    * Scale shape: assignment is a zero-shuffle codegen'd expression
    * (anchors are broadcast literals); the candidate join shuffles both
    * sides once on `cell`, so pair work is Σ cell² — never corpus² — and
    * each candidate pair costs one exact cosine. The fixed seeded anchors
    * here keep the quantizer data-independent (reproducible in oracle SQL);
    * a 100 TB run swaps in fitted centroids from [[graft.ops.Ivf]] for
    * balanced cells — the dedup shape is identical. Size the cell count to
    * the cluster, not the corpus constant here: post-shuffle parallelism
    * is min(cells, partitions), so at scale use ~√corpus cells (SemDeDup
    * runs 10⁴–10⁵) — more cells = more parallelism AND fewer candidate
    * pairs, at some recall cost. Dominance is
    * "duplicate-of-any-lower-id-neighbor" (one join, no iteration), the
    * ε-ball pruning variant of the paper — NOT transitive-closure
    * clustering, which [[graft.ops.Dedup.clusterDedup]] covers.
    */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      anchors: Array[Array[Int]]): DataFrame = {
    // per-vector norms ride the cell relation so the Σ cell² candidate
    // scan pays one dot kernel per pair instead of three ([[cosinePre]])
    val assigned = emb.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"),
      norm(col(vecCol).cast("array<double>")).as("__nm"),
      anchorCellExpr(col(vecCol), anchors).as("cell"))
    val a = assigned.select(col("cell"), col("__id").as("__id_a"),
      col("__v").as("__v_a"), col("__nm").as("__nm_a"))
    val b = assigned.select(col("cell"), col("__id").as("__id_b"),
      col("__v").as("__v_b"), col("__nm").as("__nm_b"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(round(cosinePre(col("__v_a"), col("__v_b"),
        col("__nm_a"), col("__nm_b")), 6) >= threshold)
      .select(col("__id_b").as("__id"))
      .distinct()
    assigned.join(dups, Seq("__id"), "left_anti")
      .select(col("__id").as(idCol), col("cell"))
  }

  /** DBSCAN density clustering (Ester et al. 1996, KDD) over the
    * cell-bounded cosine ε-graph: neighbors are documents sharing a
    * nearest-anchor cell with cos ≥ `tau` — the [[semanticDedup]]
    * candidate discipline, so pair work is Σ cell², never corpus².
    *
    * Deterministic variant: a point is CORE when it has ≥ `minPts`
    * neighbors (SELF EXCLUDED — the classic |N_ε| ≥ minPts+1 form).
    * NOTE the parameter mapping: sklearn/ELKI count the point itself in
    * |N_ε(p)| ≥ min_samples, so this variant is ONE STRICTER at equal
    * values — pass `minPts = min_samples − 1` to reproduce a clustering
    * tuned on those implementations. Cluster label = the MIN core id
    * reachable through core–core edges
    * ([[graft.ops.Dedup.connectedComponents]] — bounded label-propagation
    * rounds over the minPts-filtered core subgraph only); BORDER points
    * (non-core with ≥ 1 core neighbor) take the MIN label among their
    * core neighbors, removing classic DBSCAN's visit-order dependence
    * when a border point touches two clusters; everything else is NOISE
    * with cluster −1. Every decision is an integer or 6-dp-rounded
    * comparison, so the result is engine-exact and the DuckDB oracle
    * replays cells, degrees, the reachability walk and the border min
    * verbatim.
    *
    * Scale shape: cell assignment is a zero-shuffle broadcast-literal
    * expression; the ε-graph join shuffles both sides once on `cell`;
    * degree and border assignment are single groupBys on id; CC rounds
    * touch only the core subgraph. The ε-graph and core set are
    * `localCheckpoint`ed — each feeds ≥ 2 downstream passes. At 100 TB
    * swap the fixed seeded anchors for fitted IVF centroids exactly as
    * [[semanticDedup]] documents; the clustering shape is unchanged.
    *
    * Returns (idCol, role ∈ core|border|noise, cluster).
    */
  def dbscan(emb: DataFrame, idCol: String, vecCol: String, tau: Double,
      minPts: Int, anchors: Array[Array[Int]]): DataFrame =
    dbscanCore(emb.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"),
        norm(col(vecCol).cast("array<double>")).as("__nm"),
        anchorCellExpr(col(vecCol), anchors).as("__cell"))
      .localCheckpoint(), idCol, tau, minPts)

  /** [[dbscan]] over FITTED k-means cells instead of seeded anchors —
    * the backlog answer to the N251 recall audit (generic ±1 anchors
    * split weakly-clustered corpora across cell boundaries; cells that
    * FOLLOW the data's density keep ε-neighbors together). Same
    * self-excluded `minPts` convention as [[dbscan]] (pass
    * `min_samples − 1` to match sklearn/ELKI). The cells are
    * [[fittedCells]]: [[kmeansFit]]'s exact Lloyd (md5-smallest seeds,
    * bit-replayable rounds) and one more pass of its exact argmin, so
    * there is no new rounding surface anywhere: an oracle replays fit +
    * assignment + clustering bit-identically.
    *
    * Shape: each Lloyd round is one zero-shuffle kernel map plus one
    * (cid, dim) exchange (Σ N·k·d work, never N²); the assignment is one
    * more kernel map, with no join; the clustering core is [[dbscan]]'s
    * (pair work Σ cell², CC on the core subgraph only). Null and empty
    * vectors are left out. Returns (idCol, role, cluster).
    */
  def dbscanFitted(emb: DataFrame, idCol: String, vecCol: String,
      tau: Double, minPts: Int, k: Int, rounds: Int): DataFrame = {
    val assigned = fittedCells(emb, idCol, vecCol, k, rounds)
      .select(col("__id"), col("__v"), norm(col("__v")).as("__nm"),
        col("__cell"))
      .localCheckpoint()
    dbscanCore(assigned, idCol, tau, minPts)
  }

  /** (__id, __v) of the vectors that have a nearest centroid: `__v` is
    * `vecCol` as array<double>, and null and empty vectors are dropped.
    */
  private def nonEmptyVecs(emb: DataFrame, idCol: String, vecCol: String)
      : DataFrame =
    emb.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .filter(size(col("__v")) > 0)

  /** The FITTED cell assignment shared by [[dbscanFitted]] and the
    * fitted arm of [[dbscanEdgeRecall]]: [[kmeansFit]]'s final centroids,
    * quantized from its output doubles (round(centroid, 9)), then ONE
    * zero-shuffle kernel map over the non-empty vectors — the fit's own
    * exact argmin, ties to the smallest cid. Returns (__id, __cell, __v).
    */
  private[graft] def fittedCells(emb: DataFrame, idCol: String,
      vecCol: String, k: Int, rounds: Int): DataFrame = {
    val fit = kmeansFit(emb, idCol, vecCol, k, rounds)
      .select("cid", "dim", "centroid").collect()
    // with fewer than k ids the fit has fewer cids
    val nc = fit.map(_.getLong(0)).distinct.length
    val d = fit.length / nc
    val cb = new Array[Long](fit.length)
    fit.foreach(r => cb((r.getLong(0) * d + r.getLong(1)).toInt) =
      PqKernel.quantize(r.getDouble(2)))
    nonEmptyVecs(emb, idCol, vecCol)
      .select(col("__id"),
        element_at(Pq.assignCodes(col("__v"), cb, 1, nc), 1).as("__cell"),
        col("__v"))
  }

  /** The clustering core shared by [[dbscan]] and [[dbscanFitted]]:
    * `assigned` = a MATERIALIZED (__id, __v, __nm, __cell) relation
    * (__nm = the vector's precomputed [[norm]], so the ε-graph scan
    * pays one dot kernel per candidate pair — [[cosinePre]]).
    */
  private def dbscanCore(assigned: DataFrame, idCol: String, tau: Double,
      minPts: Int): DataFrame = {
    val a = assigned.select(col("__cell"), col("__id").as("__ia"),
      col("__v").as("__va"), col("__nm").as("__nma"))
    val b = assigned.select(col("__cell"), col("__id").as("__ib"),
      col("__v").as("__vb"), col("__nm").as("__nmb"))
    val edges = a.join(b, Seq("__cell"))
      .filter(col("__ia") < col("__ib"))
      .filter(round(cosinePre(col("__va"), col("__vb"),
        col("__nma"), col("__nmb")), 6) >= tau)
      .select(col("__ia"), col("__ib"))
      .localCheckpoint()
    val sym = edges.unionByName(
      edges.select(col("__ib").as("__ia"), col("__ia").as("__ib")))
    val core = sym.groupBy(col("__ia").as("__id"))
      .agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") >= minPts).select("__id")
      .localCheckpoint()
    val coreEdges = edges
      .join(core.select(col("__id").as("__ia")), Seq("__ia"), "left_semi")
      .join(core.select(col("__id").as("__ib")), Seq("__ib"), "left_semi")
    val comps = Dedup.connectedComponents(
      core.select(col("__id").as("id")),
      coreEdges.select(col("__ia").as("id_a"), col("__ib").as("id_b")))
    val coreOut = comps.select(col("id").as("__id"),
      col("component").as("__ccluster"))
    // border: non-core endpoint u of a (u, core v) edge → min over its
    // core neighbors' clusters
    val border = sym
      .join(core.select(col("__id").as("__ia")), Seq("__ia"), "left_anti")
      .join(coreOut.select(col("__id").as("__ib"), col("__ccluster")),
        Seq("__ib"))
      .groupBy(col("__ia").as("__id"))
      .agg(min(col("__ccluster")).as("__bcluster"))
    assigned.select("__id")
      .join(coreOut, Seq("__id"), "left")
      .join(border, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        when(col("__ccluster").isNotNull, lit("core"))
          .when(col("__bcluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("__ccluster"), col("__bcluster"), lit(-1L))
          .cast("long").as("cluster"))
  }

  /** Top-2 nearest-anchor cells as (primary, secondary) — the multi-probe
    * assignment for [[dbscanEdgeRecall]]: the secondary cell is the argmax
    * EXCLUDING the primary index (ties: first max, as `array_position`
    * breaks them), so boundary points participate in both neighborhoods.
    */
  private def anchorCell2Expr(vecCol: Column,
      anchors: Array[Array[Int]]): (Column, Column) = {
    val v = vecCol.cast("array<double>")
    val scores = array(anchors.toIndexedSeq.map { a =>
      val aLit = array(a.map(s => lit(s.toDouble)).toIndexedSeq: _*)
      val norm2 = a.map(x => x.toDouble * x).sum
      round(dot(v, aLit) / lit(math.sqrt(norm2)), 6)
    }: _*)
    val c1 = array_position(scores, array_max(scores)).cast("int")
    val masked = zip_with(scores,
      sequence(lit(1), lit(anchors.length)),
      (s, i) => when(i === c1, lit(Double.NegativeInfinity)).otherwise(s))
    val c2 = array_position(masked, array_max(masked)).cast("int")
    (c1, c2)
  }

  /** Recall audit of the cell-bounded ε-graph [[dbscan]] (and
    * [[semanticDedup]]) build on — the [[graft.ops.Ivf]] nProbe-recall
    * discipline applied to density clustering: count the TRUE cosine
    * edges (cos ≥ τ over all pairs — quadratic by construction, an
    * AUDIT-scale query exactly like `sim_ivf_recall`'s exact arm) and
    * how many survive the cell restriction at nProbe = 1 (same primary
    * cell — the production [[dbscan]] candidate set) and nProbe = 2
    * (any shared cell among each point's top-2 anchors — the multi-probe
    * variant, ≤ 4× the candidate work for the boundary-pair recall the
    * single cell loses), and — when `fittedK > 0` — the FITTED-cell
    * restriction ([[fittedCells]], the assignment [[dbscanFitted]]
    * actually clusters on), so the shipped variant's recall is measured,
    * not presumed. Returns one row per (method, probe depth):
    * (method ∈ anchored|fitted, n_probe, n_true, n_found, recall) —
    * recall is ONE IEEE division of two exact integers; n_true = 0
    * yields a null recall, not a crash.
    */
  def dbscanEdgeRecall(emb: DataFrame, idCol: String, vecCol: String,
      tau: Double, anchors: Array[Array[Int]],
      fittedK: Int = 0, fittedRounds: Int = 0): DataFrame = {
    val withFitted = fittedK > 0
    val vecs =
      if (withFitted) fittedCells(emb, idCol, vecCol, fittedK, fittedRounds)
        .withColumnRenamed("__cell", "__fc")
      else emb.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"), lit(0).as("__fc"))
    val (c1, c2) = anchorCell2Expr(col("__v"), anchors)
    val assigned = vecs.select(col("__id"), col("__v"),
        norm(col("__v")).as("__nm"), c1.as("__c1"), c2.as("__c2"),
        col("__fc"))
      .localCheckpoint()
    // true edges: all pairs, exact rounded cosine — audit-scale
    val x = assigned.select(col("__id").as("__ia"), col("__v").as("__va"),
      col("__nm").as("__nma"),
      col("__c1").as("__c1a"), col("__c2").as("__c2a"),
      col("__fc").as("__fca"))
    val y = assigned.select(col("__id").as("__ib"), col("__v").as("__vb"),
      col("__nm").as("__nmb"),
      col("__c1").as("__c1b"), col("__c2").as("__c2b"),
      col("__fc").as("__fcb"))
    val pairs = x.join(y, col("__ia") < col("__ib"))
      .filter(round(cosinePre(col("__va"), col("__vb"),
        col("__nma"), col("__nmb")), 6) >= tau)
      .select(col("__ia"), col("__ib"),
        (col("__c1a") === col("__c1b")).as("__hit1"),
        (col("__c1a") === col("__c1b") || col("__c1a") === col("__c2b") ||
          col("__c2a") === col("__c1b") || col("__c2a") === col("__c2b"))
          .as("__hit2"),
        (col("__fca") === col("__fcb")).as("__hitf"))
      .localCheckpoint()
    val stats = pairs.agg(count(lit(1)).as("n_true"),
      sum(col("__hit1").cast("long")).as("__f1"),
      sum(col("__hit2").cast("long")).as("__f2"),
      sum(col("__hitf").cast("long")).as("__ff"))
    def arm(method: String, nProbe: Int, f: String) =
      stats.select(lit(method).as("method"), lit(nProbe).as("n_probe"),
        col("n_true"), col(f).as("n_found"),
        when(col("n_true") > 0, col(f).cast("double") /
          col("n_true").cast("double")).as("recall"))
    val anchored = arm("anchored", 1, "__f1")
      .unionByName(arm("anchored", 2, "__f2"))
    if (withFitted) anchored.unionByName(arm("fitted", 1, "__ff"))
    else anchored
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher 2009) — the
    * standard hybrid-retrieval combiner: each input ranking contributes
    * `1/(rrfK + rank)` per document, scores sum across rankings. Rank
    * lists come from heterogeneous systems (BM25 lexical, embedding ANN,
    * recency…) whose raw scores are incomparable — RRF only consumes the
    * ORDER, which is why it wins the reranker bake-offs it keeps winning.
    *
    * Inputs are (idCol, rankCol) relations, already top-k-bounded by
    * their producers — so this is a union of small lists, one tiny
    * groupBy, never a corpus-scale operation. Contributions round to 9 dp
    * and sum in exact DECIMAL: a two-double FP sum would already be
    * order-stable, but ≥3 rankings would not be. Returns
    * (id, n_lists, rrf_score) ordered by (score desc, id).
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
      rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    import org.apache.spark.sql.types.DecimalType
    val unioned = rankings
      .map(_.select(col(idCol).as("id"), col(rankCol).as("rank")))
      .reduce(_ unionByName _)
    unioned
      .select(col("id"),
        round(lit(1.0) / (col("rank") + lit(rrfK)), 9)
          .cast(DecimalType(18, 9)).as("__w"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_lists"),
        sum(col("__w")).cast("double").as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("id"))
  }

  /** Upper-triangle covariance matrix of the first `dims` embedding
    * dimensions — the input to whitening / PCA / feature-decorrelation
    * decisions (the d×d eigen-solve itself is driver-side linear algebra
    * on this bounded relation, not a Spark job).
    *
    * Plan shape: one posexplode for per-dimension sums (d keys), a second
    * explode for pair products (d(d+1)/2 keys) — all row-local until the
    * tiny group-bys, with map-side combine collapsing each partition to
    * ≤ d² rows before the shuffle. cov(i,j) = Σxy/n − (Σx/n)(Σy/n) with
    * products rounded to 9 dp and summed in exact DECIMAL, final arithmetic
    * a fixed IEEE sequence — bit-identical across engines.
    * Returns (i, j, n, cov) for 1-based i ≤ j.
    */
  /** Project every embedding onto a component relation (pos, loading) —
    * the transform half of the PCA pair ([[topEigenvector]] is the fit):
    * score = Σ_d x_d·v_d, the 1-D coordinate used for ordering, binning
    * or whitening along the dominant axis. One posexplode + a ≤dims-row
    * broadcast join + per-id re-aggregate; contributions round 12 dp into
    * exact DECIMAL sums, the displayed score rounds 6 dp.
    */
  def projectOnto(emb: DataFrame, idCol: String, vecCol: String,
      component: DataFrame, posCol: String, loadingCol: String)
      : DataFrame = {
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val comp = broadcast(component.select(
      col(posCol).cast("long").as("__pos"),
      col(loadingCol).as("__load")))
    emb.select(col(idCol).as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__p", "__x")))
      .join(comp, (col("__p") + 1).cast("long") === col("__pos"))
      .groupBy("id")
      .agg(sum(round(col("__x") * col("__load"), 12).cast(d12)).as("__s"))
      .select(col("id"), round(col("__s").cast("double"), 6).as("score"))
  }

  /** Covariance on 6-dp integer micro-units — the all-integer hot path
    * [[topEigenvector]] feeds on: values quantize ONCE per (row, dim) to
    * `round(x, 6)·10⁶` longs, so the 10⁷-scale per-pair work is one
    * widened DECIMAL(38,0)·long multiply + an exact integer sum — wrap-
    * free for any input range (the [[embeddingCovariance]] pair
    * scan spends a per-row double-round + BigDecimal conversion instead —
    * measured 3-4× slower at the same row count). The single IEEE step is
    * the final `(n·Σxy − Σx·Σy) / (n²·10¹²)` division, rounded 9 dp.
    * Returns the upper triangle (i, j, cov), 1-based.
    */
  private def covarianceMicro(emb: DataFrame, vecCol: String, dims: Int)
      : DataFrame = {
    val decBig = org.apache.spark.sql.types.DecimalType(38, 0)
    val q6 = transform(slice(col(vecCol).cast("array<double>"), 1, dims),
      x => (round(x, 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
        .cast("long"))
    val rows = emb.select(q6.as("__x6"))
    val dimsRel = rows.select(posexplode(col("__x6")).as(Seq("pi", "xi")))
    val sums = dimsRel.groupBy((col("pi") + 1).cast("long").as("i"))
      .agg(sum(col("xi")).cast(decBig).as("sx"), count(lit(1)).as("n"))
    val pairs = rows
      .select(posexplode(col("__x6")).as(Seq("pi", "xi")), col("__x6"))
      .select(col("pi"), col("xi"),
        posexplode(col("__x6")).as(Seq("pj", "xj")))
      .filter(col("pj") >= col("pi"))
      .groupBy((col("pi") + 1).cast("long").as("i"),
        (col("pj") + 1).cast("long").as("j"))
      // widen BEFORE the multiply (mirrors the oracle's
      // CAST(x6 AS HUGEINT) * x6): Long*Long wraps for |x| > ~3035
      .agg(sum(col("xi").cast(decBig) * col("xj")).as("sxy"))
    val si = broadcast(sums.select(col("i"), col("sx").as("__si"),
      col("n").as("__n")))
    val sj = broadcast(sums.select(col("i").as("j"), col("sx").as("__sj")))
    pairs.join(si, Seq("i")).join(sj, Seq("j"))
      .select(col("i"), col("j"),
        round(
          (col("__n").cast(decBig) * col("sxy")
            - col("__si") * col("__sj")).cast("double")
            / (col("__n").cast("double") * col("__n")
              * lit(1000000000000.0)), 9).as("cov"))
  }

  /** Top principal component by fixed-iteration power method over the
    * [[embeddingCovariance]] relation — PCA's first axis WITHOUT MLlib
    * and without ever materializing a matrix outside a relation: the
    * iteration state v is a (dim)-row DECIMAL(18,9) vector, each step is
    * one join-aggregate (w = C·v, contributions rounded 12 dp into exact
    * DECIMAL sums) + one normalization (norm is a sqrt of an exact sum —
    * correctly rounded on any IEEE engine, and irrational, so the 9-dp
    * state rounding never sits on a boundary). The [[graft.ops.Graph
    * .pageRank]] discipline: every iteration's state is an exact DECIMAL
    * relation an oracle replays as unrolled CTEs.
    *
    * v₀ is uniform 1/√dims — pass a `dims` whose 1/√dims is exactly
    * representable (powers of 4: 64 → 0.125) so both engines start from
    * the identical literal. Eigenvalue estimate = ‖C·v‖ of the last
    * round. Returns (pos, loading, eigenvalue).
    */
  def topEigenvector(emb: DataFrame, vecCol: String, dims: Int,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    val d9 = org.apache.spark.sql.types.DecimalType(18, 9)
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val d18 = org.apache.spark.sql.types.DecimalType(38, 18)
    // checkpoint BEFORE the symmetrizing union — both union branches read
    // `upper`, and without the cut each branch recomputes the full
    // covariance (measured: 2× the dominant cost of the whole operator)
    val upper = covarianceMicro(emb, vecCol, dims)
      .localCheckpoint()
    val full = upper
      .union(upper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov")))
    val v0Lit = new java.math.BigDecimal(1.0 / math.sqrt(dims.toDouble),
      java.math.MathContext.DECIMAL64).setScale(9,
      java.math.RoundingMode.HALF_UP)
    // NO checkpoint inside the loop: the state is a ≤dims-row relation and
    // `iterations` is a small fixed budget, so the (bounded) lineage is
    // cheaper than `iterations` eager materialization jobs (measured:
    // 8.0 s → ~4 s at sf0.1); `full` above carries the one real checkpoint
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    var v = full.select(col("i").as("j")).distinct()
      .select(col("j"), lit(v0Lit).cast(d9).as("v"),
        lit(null).cast("double").as("__nrm"))
    for (_ <- 1 to iterations) {
      val w = full.join(v.select("j", "v"), Seq("j"))
        .groupBy(col("i"))
        .agg(sum(round(col("cov") * col("v"), 12).cast(d12)).as("w"))
      // norm via a window over the ≤dims-row relation — same exact sum as
      // a separate aggregate, one job instead of two
      v = w
        .withColumn("__nrm",
          sqrt(sum(round(col("w").cast("double") * col("w").cast("double"),
            18).cast(d18)).over(all).cast("double")))
        .select(col("i").as("j"),
          round(col("w").cast("double") / col("__nrm"), 9).cast(d9)
            .as("v"),
          col("__nrm"))
    }
    v.select(col("j").as("pos"), col("v").cast("double").as("loading"),
      round(col("__nrm"), 9).as("eigenvalue"))
  }

  def embeddingCovariance(emb: DataFrame, vecCol: String, dims: Int)
      : DataFrame = {
    val Exact9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val v = slice(col(vecCol).cast("array<double>"), 1, dims)
    val means = emb.select(posexplode(v).as(Seq("pi", "xi")))
      .groupBy((col("pi") + 1).cast("long").as("i"))
      .agg(sum(round(col("xi"), 9).cast(Exact9)).as("s"))
    val pairs = emb.select(posexplode(v).as(Seq("pi", "xi")), v.as("__v"))
      .select(col("pi"), col("xi"),
        posexplode(col("__v")).as(Seq("pj", "xj")))
      .filter(col("pj") >= col("pi"))
      .groupBy((col("pi") + 1).cast("long").as("i"),
        (col("pj") + 1).cast("long").as("j"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("xi") * col("xj"), 9).cast(Exact9)).as("sp"))
    val mi = broadcast(means.select(col("i"), col("s").as("__si")))
    val mj = broadcast(means.select(col("i").as("j"), col("s").as("__sj")))
    pairs.join(mi, Seq("i")).join(mj, Seq("j"))
      .select(col("i"), col("j"), col("n"),
        round(
          col("sp").cast("double") / col("n") -
            (col("__si").cast("double") / col("n")) *
            (col("__sj").cast("double") / col("n")), 9).as("cov"))
  }

  /** Fixed-round Lloyd's k-means over the WHOLE embedding corpus (Lloyd
    * 1982) — the cluster-structure read that
    * [[graft.ops.Ivf.fitCentroids]]'s bounded-sample driver fit
    * deliberately is not: assignment and centroid update run on the
    * cluster, so the pass scales with the corpus, not the driver.
    * Semantic-clustering curation (cluster-balanced sampling, SemDeDup
    * cell structure, topic buckets) wants exactly this corpus-wide pass.
    *
    * Determinism discipline (the [[graft.ops.Graph.pageRank]] replay
    * rules): elements round to 9 dp once; distances are EXACT — the
    * [[graft.functions.PqAssignCodes]] kernel with m = 1 sums squared
    * nano-unit differences in 128-bit integers, the same values as a
    * DECIMAL sum of (x9 − c)² — and per-point argmin ties break to the
    * smallest cluster id; centroid update = exact DECIMAL sum, ONE IEEE
    * division, round 9 — so a DuckDB oracle replays every round
    * bit-identically. Seeds are the k ids smallest by md5(id)
    * ([[Pq.md5Seeds]], the library-wide sampling rule). Empty clusters
    * keep their previous centroid. With fewer than k distinct ids there
    * are only that many seeds, so the fit has one cluster per id (cids 0
    * until #ids, each centroid its own point) — never a centroid-less
    * cid. Null and empty vectors take no part; a corpus whose vectors
    * differ in length raises, naming both lengths.
    *
    * Per round: one zero-shuffle kernel map (the nc·d centroids ride as
    * a literal codebook) + ONE partial-aggregable (cid, dim) exchange
    * whose k·d-row result is collected — 2 Spark jobs. The vectors are
    * spread over `spark.sql.shuffle.partitions` partitions and
    * checkpointed once, so the map runs on every core. Σ work = N·k·d —
    * the canonical Lloyd cost, never quadratic in N.
    *
    * Returns (cid, dim, centroid, n_members): the final centroid relation
    * in long form with final-assignment member counts (0 for clusters
    * that emptied).
    */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    import org.apache.spark.sql.types._
    val spark = emb.sparkSession
    // an explicit count: AQE coalesces a count-less repartition of a
    // small corpus back to one partition
    val vecs = nonEmptyVecs(emb, idCol, vecCol)
      .select(col("__id").cast("long").as("id"), col("__v"))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .localCheckpoint()
    val seeds = Pq.md5Seeds(vecs, k)
    require(seeds.nonEmpty, "kmeansFit: no non-empty vector to fit")
    val nc = seeds.length
    val d = seeds.head._2.length
    seeds.foreach { case (id, v) =>
      require(v.length == d,
        s"kmeansFit: vector $id has length ${v.length}, the seeds have $d")
    }
    // centroid state on the driver: cents(cid·d + dim), 9-dp decimals
    var cents: Array[java.math.BigDecimal] = seeds.flatMap(_._2.map(x =>
      java.math.BigDecimal.valueOf(x)
        .setScale(9, java.math.RoundingMode.HALF_UP)))
    // per-cid member count of the LAST round (its dim-0 rows: every
    // non-empty vector has a dim 0)
    var sizes = Map.empty[Int, Long]
    for (_ <- 1 to rounds) {
      val cb = cents.map(_.unscaledValue.longValueExact + PqKernel.Shift)
      // the kernel binds in its own projection BEFORE the explode, else
      // it re-evaluates per generated row (see Pq.pqFit)
      val fresh = vecs
        .select(col("__v"), element_at(Pq.assignCodes(col("__v"), cb, 1, nc),
          1).as("cid"))
        .select(col("cid"), posexplode(col("__v")).as(Seq("dim", "__xd")))
        .groupBy("cid", "dim")
        .agg(round(sum(round(col("__xd"), 9).cast(DecimalType(12, 9)))
            .cast("double") / count(lit(1)), 9)
            .cast(DecimalType(18, 9)).as("__cn"),
          count(lit(1)).as("__cnt"))
        .collect()
      val next = cents.clone() // a centroid nobody picked keeps its value
      fresh.foreach(r => next(r.getInt(0) * d + r.getInt(1)) = r.getDecimal(2))
      cents = next
      sizes = fresh.filter(_.getInt(1) == 0)
        .map(r => r.getInt(0) -> r.getLong(3)).toMap
    }
    val out = for (c <- 0 until nc; j <- 0 until d) yield Row(c.toLong,
      j.toLong, cents(c * d + j).doubleValue(), sizes.getOrElse(c, 0L))
    spark.createDataFrame(java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("cid", LongType, nullable = false),
        StructField("dim", LongType, nullable = false),
        StructField("centroid", DoubleType),
        StructField("n_members", LongType, nullable = false))))
  }
}
