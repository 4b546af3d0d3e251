package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Histogram-based gradient-boosted decision stumps — the LightGBM-style
  * split search (Ke et al., NeurIPS 2017, "LightGBM: A Highly Efficient
  * Gradient Boosting Decision Tree") re-expressed as relational algebra.
  * The reference ships feature ENGINEERING but no trainer beyond what a
  * notebook would bolt on (`ML Feature Store Pipeline.py:225-309` stops at
  * feature groups); a feature store that cannot cheaply fit a baseline
  * model on its own training matrix pushes that cost to every consumer,
  * so the trainer rides here as a first-class operator.
  *
  * Squared-error boosting, depth-1 trees (stumps; [[gbmTree2]] adds a
  * second level), learning rate 1/2:
  *
  *   1. BIN once: each feature maps to `bins` fixed-width buckets via
  *      exact integer arithmetic on the feature's global [min, max] —
  *      `(x − mn)·B div (mx − mn + 1)` — so the histogram grid is
  *      engine-portable (no float bin edges, no quantile sketch drift).
  *   2. Per round: residuals against the current prediction are EXACT
  *      DECIMAL(28,9); ONE shuffle aggregates (feature, bin) → (Σg, n)
  *      over the stacked features; prefix sums over the bins give every
  *      candidate split's left/right mass from one tiny relation
  *      (features × bins rows, never row-scale).
  *   3. Split gain `G_L²/n_L + G_R²/n_R` is IEEE double computed from the
  *      exact sums, rounded to 6 dp; argmax is a lexicographic struct max
  *      with (−feature, −bin) tie-breaks — fully deterministic, mirrored
  *      verbatim in the DuckDB oracle.
  *   4. Leaf values `η·G/n` round to 9 dp (the [[graft.ops.TokenModels]]
  *      bits9 discipline) and fold into the prediction as an exact
  *      DECIMAL add, so round t+1's residuals are bit-identical on any
  *      engine/partitioning.
  *
  * Shape at scale: the row-scale work per round is one map (residual +
  * stack) and one bounded aggregation — the classic distributed-GBM
  * layout where only histograms cross the wire, never rows. The chosen
  * split is a 1-row broadcast back onto the data, and each round's
  * prediction update is checkpointed — under AQE a stump round is 6
  * Spark jobs and a depth-2 round 12 (BoostSpec pins both); no driver
  * collect anywhere.
  */
object Boost {

  private val P = DecimalType(28, 9) // prediction / leaf-value carrier

  /** Exact floor division for BIGINT columns (any-sign numerator):
    * `(n − pmod(n, d)) / d` — both operands of the final `/` are exact
    * doubles below 2⁵³ whose quotient is an exact integer, so the IEEE
    * division is lossless; DuckDB spells the same thing `n // d`.
    */
  private def floorDiv(n: Column, d: Column): Column =
    ((n - pmod(n, d)) / d).cast("long")

  /** Fitted state: the scored base (idCol, label, pred), plus the
    * per-round model rows.
    */
  private[graft] case class Fit(scored: DataFrame, model: DataFrame)

  /** The binned training relation (`__id`, `__y`, `__pred` = p₀,
    * `__b0..__b{nf−1}`), checkpointed — the shared preamble of every
    * tree depth: exact integer binning plus the broadcast 9-dp base
    * prediction.
    */
  private def binnedBase(base: DataFrame, idCol: String, labelCol: String,
      featCols: Seq[String], bins: Int): DataFrame = {
    // per-feature min/max AND the base prediction in ONE aggregate —
    // a separate p0 agg cost a second full scan of the training relation
    val mmAggs = featCols.zipWithIndex.flatMap { case (f, i) =>
      Seq(min(col(f)).as(s"__mn$i"), max(col(f)).as(s"__mx$i")) } :+
      round(sum(col(labelCol)).cast(DoubleType) / count(lit(1)), 9)
        .cast(P).as("__p0")
    val minmax = base.agg(mmAggs.head, mmAggs.tail: _*)
    val binCols = featCols.zipWithIndex.map { case (f, i) =>
      least(lit(bins - 1), floorDiv((col(f) - col(s"__mn$i")) * bins,
        col(s"__mx$i") - col(s"__mn$i") + 1)).cast("int").as(s"__b$i") }
    base.crossJoin(broadcast(minmax))
      .select(Seq(col(idCol).as("__id"),
        col(labelCol).cast(P).as("__y"), col("__p0").as("__pred")) ++
        binCols: _*)
      .localCheckpoint()
  }

  /** Best split per `keys` group over the current residuals: ONE stacked
    * (keys…, feature, bin) histogram shuffle, bin prefix sums over the
    * bounded (keys × features × bins) relation, 6-dp double gains from
    * the exact DECIMAL sums, and the (gain, −feature, −bin) struct
    * argmax per group. With empty `keys` this is the stump's global
    * best (one row, NULL-fielded when no candidate exists); with a leaf
    * key it is the level-wise tree search — the leaf id rides the
    * groupBy exactly like fold/level ids do in the CV/learning-curve
    * family, so ONE bounded shuffle serves every leaf of the level.
    * Returns keys… ++ (__nf = −feature, __nb = −bin, __vl, __vr,
    * __gain); groups with no valid candidate produce NO row (empty keys:
    * one NULL-fielded row).
    */
  private def bestSplits(rows: DataFrame, keys: Seq[String], nf: Int,
      bins: Int): DataFrame = {
    val kc = keys.map(col)
    val stacked = rows.select(kc ++ Seq(col("__y"), col("__pred"),
        posexplode(array((0 until nf).map(i => col(s"__b$i")): _*))
          .as(Seq("__f", "__b"))): _*)
      .groupBy((kc :+ col("__f")) :+ col("__b"): _*)
      .agg(sum(col("__y") - col("__pred")).as("__g"),
        count(lit(1)).as("__n"))
    val part = keys :+ "__f"
    val w = Window.partitionBy(part.map(col): _*).orderBy("__b")
    // right-side residual mass as its own following-frame window sum —
    // NOT total − left (DECIMAL(38,9) − DECIMAL(38,9) rescales to 8 dp)
    val wAfter = Window.partitionBy(part.map(col): _*).orderBy("__b")
      .rowsBetween(1, Window.unboundedFollowing)
    val tot = Window.partitionBy(part.map(col): _*)
    val pf = stacked.select(kc ++ Seq(col("__f"), col("__b"),
      sum(col("__g")).over(w).as("__gl"),
      sum(col("__n")).over(w).as("__nl"),
      sum(col("__g")).over(wAfter).as("__gr"),
      sum(col("__n")).over(tot).as("__nt")): _*)
    val cand = pf.filter(col("__b") < bins - 1 &&
        col("__nl") > 0 && col("__nt") - col("__nl") > 0)
      .select(kc ++ Seq(col("__f"), col("__b"),
        round(col("__gl").cast(DoubleType) * col("__gl").cast(DoubleType)
            / col("__nl") +
          col("__gr").cast(DoubleType) * col("__gr").cast(DoubleType)
            / (col("__nt") - col("__nl")), 6).as("__gain"),
        round(col("__gl").cast(DoubleType) / (col("__nl") * 2), 9)
          .cast(P).as("__vl"),
        round(col("__gr").cast(DoubleType) /
          ((col("__nt") - col("__nl")) * 2), 9).cast(P).as("__vr")): _*)
    cand.groupBy(kc: _*)
      .agg(max(struct(col("__gain"), (-col("__f")).as("__mf"),
        (-col("__b")).as("__mb"), col("__vl"), col("__vr"))).as("__s"))
      .select(kc ++ Seq(col("__s.__mf").as("__nf"),
        col("__s.__mb").as("__nb"), col("__s.__vl").as("__vl"),
        col("__s.__vr").as("__vr"), col("__s.__gain").as("__gain")): _*)
  }

  /** Fit `rounds` boosted trees of `depth` 1 (stumps) or 2 over BIGINT
    * features `featCols` of `base` (columns `idCol`, `labelCol` ∈ {0,1}
    * or any small numeric, and the features).
    *
    * Each round splits the root on the current residuals. At depth 2 it
    * then splits each root leaf — the LightGBM level-wise layout where
    * level 2 costs ONE extra keyed histogram shuffle (the leaf id rides
    * the (feature, bin) groupBy), never a per-leaf pass; a leaf with no
    * valid split stays TERMINAL and contributes its own stump value
    * η·G/n (the root's left/right value). A round with NO valid root
    * split (every feature constant on the residuals' support) is
    * SKIPPED — zero contribution and no model row — instead of
    * propagating the empty-argmax NULL struct into every prediction.
    * Returns the scored base (idCol, label, pred) and the model: per
    * round the root split and, at depth 2, each splitting leaf's
    * (round, node ∈ root|left|right, feature, split_bin, left_value,
    * right_value, gain).
    */
  private[graft] def fit(base: DataFrame, idCol: String, labelCol: String,
      featCols: Seq[String], bins: Int, rounds: Int, depth: Int): Fit = {
    require(featCols.nonEmpty && bins >= 2 && rounds >= 1,
      "gbm needs >=1 feature, >=2 bins, >=1 round")
    val nf = featCols.length
    val binCols = (0 until nf).map(i => col(s"__b$i"))
    // a row goes left of split (feature −nfc, bin −nbc); NULL when the
    // split is the empty argmax
    def goesLeft(nfc: String, nbc: String): Column = (0 until nf).map(i =>
      col(nfc) === -i && col(s"__b$i") <= -col(nbc)).reduce(_ || _)
    def modelRows(t: Int, split: DataFrame, node: Column) = split
      .filter(col("__nf").isNotNull)
      .select(lit(t).as("round"), node.as("node"),
        element_at(array(featCols.map(lit): _*), -col("__nf") + 1)
          .as("feature"),
        (-col("__nb")).cast("int").as("split_bin"),
        // re-round post-cast: the decimal value sits ON the 1e-9 grid, so
        // rounding the double normalizes any 1-ulp cast asymmetry between
        // engines (mirrored in the oracle's round(CAST(...), 9))
        round(col("__vl").cast(DoubleType), 9).as("left_value"),
        round(col("__vr").cast(DoubleType), 9).as("right_value"),
        col("__gain").as("gain"))
    var cur = binnedBase(base, idCol, labelCol, featCols, bins)
    val models = (1 to rounds).map { t =>
      // ONE bounded shuffle: stacked (feature, bin, residual) histogram,
      // prefix sums, 6-dp gains, struct argmax — see [[bestSplits]]
      val root = bestSplits(cur, Seq.empty, nf, bins).localCheckpoint()
      // leaf 0 = left of the root split, 1 = right; a degenerate root
      // NULLs the condition → everyone lands in leaf 1, whose NULL value
      // coalesces to a zero contribution below
      val assigned = cur.crossJoin(broadcast(root))
        .withColumn("__leaf", when(goesLeft("__nf", "__nb"), 0).otherwise(1))
      val stump = when(col("__leaf") === 0, col("__vl"))
        .otherwise(col("__vr"))
      val (routed, contrib, model) =
        if (depth == 1) (assigned, stump, modelRows(t, root, lit("root")))
        else {
          val child = bestSplits(
              assigned.select(Seq(col("__leaf"), col("__y"), col("__pred")) ++
                binCols: _*),
              Seq("__leaf"), nf, bins)
            .localCheckpoint() // ≤ 2 rows
          val childR = child.select(col("__leaf"), col("__nf").as("__cnf"),
            col("__nb").as("__cnb"), col("__vl").as("__cvl"),
            col("__vr").as("__cvr"))
          (assigned.join(broadcast(childR), Seq("__leaf"), "left"),
            when(col("__cnf").isNotNull, when(goesLeft("__cnf", "__cnb"),
              col("__cvl")).otherwise(col("__cvr"))).otherwise(stump),
            modelRows(t, root, lit("root")).unionByName(modelRows(t, child,
              when(col("__leaf") === 0, "left").otherwise("right"))))
        }
      cur = routed.select(Seq(col("__id"), col("__y"),
          (col("__pred") + coalesce(contrib, lit(0).cast(P))).cast(P)
            .as("__pred")) ++ binCols: _*)
        .localCheckpoint()
      model
    }
    Fit(cur.select(col("__id").as(idCol), col("__y").cast(DoubleType)
        .as("label"), round(col("__pred").cast(DoubleType), 9).as("pred")),
      models.reduce(_ unionByName _))
  }

  /** The fitted depth-2 model, ≤ 3 rows per boosting round — the root
    * split plus each root leaf's own split (absent when that leaf is
    * terminal): (round, node ∈ root|left|right, feature, split_bin,
    * left_value, right_value, gain).
    */
  def gbmTree2(base: DataFrame, idCol: String, labelCol: String,
      featCols: Seq[String], bins: Int = 16, rounds: Int = 3): DataFrame =
    fit(base, idCol, labelCol, featCols, bins, rounds, depth = 2).model

  /** Final depth-2 boosted predictions, shaped like [[gbmScore]]. */
  def gbmTree2Score(base: DataFrame, idCol: String, labelCol: String,
      featCols: Seq[String], bins: Int = 16, rounds: Int = 3): DataFrame =
    fit(base, idCol, labelCol, featCols, bins, rounds, depth = 2).scored

  /** The fitted model, one row per boosting round:
    * (round, feature, split_bin, left_value, right_value, gain).
    */
  def gbmStumps(base: DataFrame, idCol: String, labelCol: String,
      featCols: Seq[String], bins: Int = 16, rounds: Int = 3): DataFrame =
    fit(base, idCol, labelCol, featCols, bins, rounds, depth = 1).model
      .drop("node")

  /** Final boosted predictions: (idCol, label, pred). `pred` is the exact
    * DECIMAL accumulation of p₀ + the chosen leaf values, cast to double.
    */
  def gbmScore(base: DataFrame, idCol: String, labelCol: String,
      featCols: Seq[String], bins: Int = 16, rounds: Int = 3): DataFrame =
    fit(base, idCol, labelCol, featCols, bins, rounds, depth = 1).scored
}
