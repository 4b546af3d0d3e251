package graft.quality

import graft.model.DataQualityMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, NumericType}

import scala.collection.mutable.ListBuffer

/** Data-quality scan mirroring the reference validator
  * (`ML Feature Store Pipeline.py:113-161`): global null-cell ratio,
  * duplicate-row ratio, IQR outlier ratio over numeric columns, pluggable
  * boolean checks (an exception inside a check counts as a violation,
  * `:147-149`), and the composite score
  * `max(0, 1 − (null% + dup% + outlier% + 0.1·violations))` (`:152`).
  *
  * Execution shape (scale-aware): the whole scan is three Spark actions
  * regardless of column count —
  *   1. one multi-aggregate pass computing row count, per-column null
  *      counts, and per-numeric-column Q1/Q3 + non-null counts together;
  *   2. one `dropDuplicates().count()` (shuffle on all columns) for the
  *      duplicate ratio;
  *   3. one pass counting IQR outliers with the quantile bounds inlined as
  *      literals.
  * AQE runs every shuffle map stage of an action as a job of its own, so
  * on an input with no exchange of its own the actions are 2 + 3 + 2 =
  * 7 jobs (QualitySpec pins this). Each action re-reads the input, so
  * an input whose own plan shuffles adds jobs for its stages on top: a
  * one-groupBy input measured 9, and a traced perfbench `store_serve`
  * run, validating an unpersisted feature extract, reads 11. Nothing is
  * collected except the aggregate rows. The
  * default checks are answered from action 1's row count and null
  * counts, so they add no jobs. Checks added with [[addCheck]] are
  * arbitrary `DataFrame => Boolean` and may run their own actions.
  */
final class DataQualityValidator {
  import DataQualityValidator.{ScanStats, defaultChecks}

  private val checks = ListBuffer[(String, DataFrame => Boolean)]()

  /** Register a custom check (reference `add_check`, `:114-119`). It runs
    * its own closure, even when its name matches a default check's.
    */
  def addCheck(name: String, check: DataFrame => Boolean): this.type = {
    checks += (name -> check); this
  }

  def checkNames: Seq[String] = defaultChecks.map(_._1) ++ checks.map(_._1)

  def validate(df: DataFrame): DataQualityMetrics = {
    val cols = df.columns.toSeq
    val numericCols = df.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq

    // Action 1: count + null counts + quantiles + numeric non-null counts.
    val nullAggs = cols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__null_$c"))
    val quantAggs = numericCols.flatMap { c =>
      Seq(percentile(col(c), lit(0.25)).as(s"__q1_$c"),
          percentile(col(c), lit(0.75)).as(s"__q3_$c"),
          count(col(c)).as(s"__n_$c"))
    }
    val statsRow: Row =
      df.agg(count(lit(1)).as("__rows"), (nullAggs ++ quantAggs): _*).head()
    val rows = statsRow.getAs[Long]("__rows")
    val stats = ScanStats(rows,
      cols.map(c => c -> statsRow.getAs[Long](s"__null_$c")))
    val nullCells = stats.nulls.map(_._2).sum
    val nullPct =
      if (rows == 0 || cols.isEmpty) 0.0
      else nullCells.toDouble / (rows * cols.length)

    // Action 2: duplicate-row ratio — pandas `duplicated()` marks all-but-first,
    // so dup% = (n − n_distinct) / n (`:123`, SURVEY A15).
    val dupPct =
      if (rows == 0) 0.0
      else (rows - df.dropDuplicates().count()).toDouble / rows

    // Action 3: IQR outliers with bounds inlined as literals (`:130-138`).
    val (outliers, numericValues) =
      if (numericCols.isEmpty || rows == 0) (0L, 0L)
      else {
        val outlierAggs = numericCols.map { c =>
          val q1 = anyToDouble(statsRow.getAs[Any](s"__q1_$c"))
          val q3 = anyToDouble(statsRow.getAs[Any](s"__q3_$c"))
          val iqr = q3 - q1
          val pred = col(c) < lit(q1 - 1.5 * iqr) || col(c) > lit(q3 + 1.5 * iqr)
          sum(when(pred, 1L).otherwise(0L)).as(s"__out_$c")
        }
        val r = df.agg(outlierAggs.head, outlierAggs.tail: _*).head()
        (numericCols.map(c => r.getAs[Long](s"__out_$c")).sum,
         numericCols.map(c => statsRow.getAs[Long](s"__n_$c")).sum)
      }
    val outlierPct = outliers.toDouble / math.max(numericValues, 1L)

    // Checks: exception ⇒ violation (`:147-149`).
    val violations = defaultChecks.count { case (_, pass) => !pass(stats) } +
      checks.count { case (_, check) =>
        try !check(df) catch { case scala.util.control.NonFatal(_) => true }
      }

    val score = math.max(0.0,
      1.0 - (nullPct + dupPct + outlierPct + 0.1 * violations))
    DataQualityMetrics(nullPct, dupPct, outlierPct, violations.toLong, score)
  }

  private def anyToDouble(a: Any): Double = a match {
    case null => 0.0
    case n: Number => n.doubleValue()
  }
}

object DataQualityValidator {

  /** Benford first-digit expected share log10(1 + 1/d) as a 9-dp DECIMAL
    * literal, fixed at library level (the DCG-weight discipline — no
    * runtime log10 on either engine). */
  def benfordShare(digit: Int): java.math.BigDecimal = {
    require(digit >= 1 && digit <= 9, s"digit must be 1..9, got $digit")
    new java.math.BigDecimal(math.log10(1.0 + 1.0 / digit),
      java.math.MathContext.DECIMAL64)
      .setScale(9, java.math.RoundingMode.HALF_UP)
  }

  /** Benford's-law first-digit audit of a positive ≤2-dp money column —
    * the forensic data-quality check for fabricated or truncated numeric
    * feeds (naturally-grown magnitudes follow P(d) = log10(1+1/d);
    * synthetic, capped, or copy-pasted ones don't — Benford 1938, Nigrini
    * 1996). Emits per digit the observed count/share, the expected
    * Benford share, and the χ² contribution; Σ chi2 against the 8-dof
    * table is the alarm.
    *
    * Engine-exactness: the first digit comes from INTEGER-cents string
    * formatting (exact and identical on any engine — never floor(log10)
    * whose last ulp flips at exact powers of ten); expected shares are
    * 9-dp DECIMAL literals; expected counts are BIGINT × DECIMAL exact
    * products; χ² = one fixed IEEE sequence rounded 9 dp. ONE group-by
    * over ≤9 digit values (map-side combined), 1-row total broadcast.
    * Returns (digit, n_obs, obs_share, exp_share, chi2).
    */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val cents = col(valueCol).cast(DecimalType(18, 2)).*(lit(100))
      .cast("long")
    val digit = substring(cents.cast("string"), 1, 1).cast("int")
    val counts = df.filter(cents > 0)
      .groupBy(digit.as("digit"))
      .agg(count(lit(1)).as("n_obs"))
    val expShare = (1 to 9).foldLeft(lit(null).cast(DecimalType(10, 9))) {
      (acc, d) =>
        when(col("digit") === d,
          lit(benfordShare(d)).cast(DecimalType(10, 9))).otherwise(acc)
    }
    val expN = col("__n") * col("exp_share") // BIGINT × DECIMAL, exact
    val diff = (col("n_obs") - expN).cast("double")
    // total via a window over the ≤9-row counts relation — a second
    // aggregate would recompute the counts from a second table scan
    counts
      .withColumn("__n", sum(col("n_obs")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .withColumn("exp_share", expShare)
      .withColumn("obs_share",
        round(col("n_obs").cast("double") / col("__n"), 9))
      .withColumn("chi2",
        round(diff * diff / expN.cast("double"), 9))
      .select(col("digit"), col("n_obs"), col("obs_share"),
        col("exp_share").cast("double").as("exp_share"), col("chi2"))
  }

  /** Robust per-group outlier profile via median absolute deviation — the
    * IQR check's heavy-tail-safe sibling (MAD has a 50% breakdown point;
    * IQR fences move with the outliers they're fencing). A value is an
    * outlier when `|x − median| > k·1.4826·MAD` (1.4826 ≈ 1/Φ⁻¹(3/4)
    * scales MAD to σ under normality — Rousseeuw & Croux 1993).
    *
    * Engine-exactness: the ≤2-dp value column and the 6-dp-rounded
    * median/MAD compare in DECIMAL, and the `k·1.4826` factor multiplies
    * as an exact DECIMAL literal — a threshold comparison can never flip
    * on a last-ulp double. Two tiny per-group aggregates broadcast back
    * (no collect); exact `percentile` is the oracle-parity choice, with
    * `percentile_approx` as the documented 100 TB swap.
    *
    * Returns (groupCol, n, median, mad, n_outliers).
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 3.0): DataFrame = {
    val d6 = DecimalType(18, 6)
    val xd = col(valueCol).cast(DecimalType(18, 2)).cast(d6)
    val med = df.groupBy(col(groupCol))
      .agg(round(percentile(col(valueCol), lit(0.5)), 6).cast(d6).as("median"))
    val dev = df.join(broadcast(med), Seq(groupCol))
      .withColumn("__adev", abs(xd - col("median")))
    val mad = dev.groupBy(col(groupCol))
      .agg(round(percentile(col("__adev").cast("double"), lit(0.5)), 6)
        .cast(d6).as("mad"))
    val scale = lit((BigDecimal("1.4826") * BigDecimal(k)).underlying())
    dev.join(broadcast(mad), Seq(groupCol))
      .groupBy(col(groupCol), col("median"), col("mad"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__adev") > col("mad") * scale, 1L).otherwise(0L))
          .as("n_outliers"))
      .select(col(groupCol), col("n"),
        col("median").cast("double").as("median"),
        col("mad").cast("double").as("mad"), col("n_outliers"))
  }

  /** Histogram-Based Outlier Score top-k (Goldstein & Dengel 2012) —
    * the scalable unsupervised anomaly ranking: per feature an
    * equal-width histogram over [min, max], per row
    * HBOS = Σ_f −ln(c_bin(f)/n) (rare joint bins score high). Assumes
    * feature independence by construction — that's what makes it one
    * pass — and is the standard cheap screen before anything
    * tree/distance-based.
    *
    * Engine-exactness: bin ids come from the shared exact-DECIMAL
    * [[graft.sources.Layout.binId]] (the z-order/Hilbert oracle-proven
    * binning); each per-feature contribution −ln(c/n) rides its ln to a
    * safe 9-dp round (c/n rational, ln irrational; c = n gives exactly
    * 0) and the per-row sum is a FIXED-ORDER double chain — every
    * addend is the same 9-dp-rounded double on both engines and the
    * oracle adds in the same left-assoc order, so the sum is
    * bit-identical without paying a per-row DECIMAL round-trip.
    *
    * Scale shape: one 1-row stats broadcast (min/max/n), ONE
    * (feature, bin) group-by over the exploded bin pairs (k·B rows —
    * map-side combined), then the whole k·B histogram rides back as a
    * single broadcast MAP — scoring is a pure per-row map lookup (no
    * join materialization at all; measured 2.8× over the k-broadcast-
    * join formulation at 10M rows (min-of-runs 15.8 s vs 44.5 s)) — and TakeOrderedAndProject takes
    * the top-k. No data-scale shuffle anywhere.
    * Returns (keyCols…, hbos) — the k highest scores, ties broken by
    * the keys.
    */
  def hbosTopK(df: DataFrame, featureCols: Seq[String],
      keyCols: Seq[String], bins: Int = 16, k: Int = 100): DataFrame = {
    require(featureCols.nonEmpty, "need at least one feature")
    require(bins >= 2 && k >= 1, s"bad parameters bins=$bins k=$k")
    val money = DecimalType(18, 2)
    val statAggs = featureCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c).cast(money)).as(s"__mn$i"),
        max(col(c).cast(money)).as(s"__mx$i"))
    } :+ count(lit(1)).as("__n")
    val stats = df.agg(statAggs.head, statAggs.tail: _*)
    val binCols = featureCols.zipWithIndex.map { case (c, i) =>
      graft.sources.Layout.binId(col(c).cast(money),
        col(s"__mn$i"), col(s"__mx$i"), bins).as(s"__b$i")
    }
    val binned = df.crossJoin(broadcast(stats))
      .select(keyCols.map(col) ++ binCols :+ col("__n"): _*)
    val hist = binned
      .select(explode(array(featureCols.indices.map(i =>
        struct(lit(i).as("f"), col(s"__b$i").as("bin"))): _*)).as("fb"))
      .groupBy(col("fb.f").as("f"), col("fb.bin").as("bin"))
      .agg(count(lit(1)).as("c"))
    val histMap = hist.agg(map_from_entries(collect_list(
      struct(struct(col("f"), col("bin")).as("key"), col("c"))))
      .as("__m"))
    val scored = binned.crossJoin(broadcast(histMap))
    val contribs = featureCols.indices.map(i =>
      round(-log(
        element_at(col("__m"), struct(lit(i).as("f"),
          col(s"__b$i").as("bin"))).cast(DoubleType) / col("__n")), 9))
    // fixed-order per-row double chain — deterministic on any engine
    // (each addend is a shared 9-dp-rounded double; the oracle adds in
    // the same left-assoc order), and ~2x cheaper than a DECIMAL
    // round-trip per row at 10M-row scale
    scored
      .select(keyCols.map(col) :+
        contribs.reduce(_ + _).as("hbos"): _*)
      .orderBy(col("hbos").desc +: keyCols.map(col): _*)
      .limit(k)
  }

  /** What the validator's first job knows about a frame: its row count
    * and the null count of each column, in column order.
    */
  final case class ScanStats(rows: Long, nulls: Seq[(String, Long)])

  /** Default checks registered by the reference store ctor (`:246-258`),
    * answered from [[ScanStats]], so they run no Spark job.
    */
  val defaultChecks: Seq[(String, ScanStats => Boolean)] = Seq(
    "non_empty" -> (_.rows > 0),
    // vacuously true for a frame with no columns
    "no_all_null_columns" -> (s => s.nulls.forall(_._2 < s.rows)),
    "has_user_id" -> (_.nulls.exists(_._1 == "user_id")))
}
