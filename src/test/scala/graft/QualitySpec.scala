package graft

import graft.quality.DataQualityValidator
import org.scalatest.funsuite.AnyFunSuite

class QualitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("clean data scores 1.0") {
    val df = Seq((1L, 10.0), (2L, 11.0), (3L, 12.0))
      .toDF("user_id", "value")
    val m = new DataQualityValidator().validate(df)
    assert(m.nullPercentage == 0.0)
    assert(m.duplicatePercentage == 0.0)
    assert(m.outlierPercentage == 0.0)
    assert(m.schemaViolations == 0L)
    assert(m.overallScore == 1.0)
  }

  test("null ratio counts cells, duplicate ratio marks all-but-first") {
    val df = Seq(
      (Some(1L), Some(10.0)), (Some(1L), Some(10.0)), (Some(1L), Some(10.0)),
      (None, None)
    ).toDF("user_id", "value")
    val m = new DataQualityValidator().validate(df)
    assert(m.nullPercentage == 2.0 / 8) // 2 null cells of 4 rows × 2 cols
    assert(m.duplicatePercentage == 2.0 / 4) // rows 2,3 are repeats
  }

  test("IQR outliers: extreme value flagged, nulls not counted") {
    // 11 values ~10 plus one at 1000: Q1/Q3 tight around 10 → 1000 is
    // outside Q3 + 1.5·IQR.
    val vals = (1 to 11).map(i => (i.toLong, Some(9.0 + (i % 3)))) :+
      (12L, Some(1000.0)) :+ (13L, Option.empty[Double])
    val df = vals.toDF("user_id", "value")
    val m = new DataQualityValidator().validate(df)
    // denominator counts non-null numeric cells over both numeric columns
    // (user_id: 13 values, value: 12 values)
    assert(m.outlierPercentage > 0.0)
    assert(m.outlierPercentage == 1.0 / 25)
  }

  test("empty relation: guarded ratios, non_empty + all-null checks fail") {
    val df = Seq.empty[(Long, Double)].toDF("user_id", "value")
    val m = new DataQualityValidator().validate(df)
    assert(m.nullPercentage == 0.0 && m.duplicatePercentage == 0.0)
    assert(m.schemaViolations == 2L) // non_empty, no_all_null_columns
    assert(m.overallScore == 1.0 - 0.2)
  }

  test("missing user_id column fails the has_user_id check") {
    val df = Seq((1L, 2.0)).toDF("id", "value")
    val m = new DataQualityValidator().validate(df)
    assert(m.schemaViolations == 1L)
  }

  test("a check that throws counts as a violation") {
    val df = Seq((1L, 2.0)).toDF("user_id", "value")
    val v = new DataQualityValidator()
      .addCheck("explodes", _ => throw new RuntimeException("boom"))
    assert(v.validate(df).schemaViolations == 1L)
  }

  test("score clamps at 0") {
    val df = Seq.empty[(Long, Double)].toDF("a", "b")
    val v = new DataQualityValidator()
    (1 to 12).foreach(i => v.addCheck(s"fail_$i", _ => false))
    assert(v.validate(df).overallScore == 0.0)
  }

  test("default checks answer from the stats scan: metrics on degenerate " +
      "frames match the closure-based defaults they replace") {
    import graft.model.DataQualityMetrics
    def score(nullPct: Double, dupPct: Double, violations: Long) =
      DataQualityMetrics(nullPct, dupPct, 0.0, violations,
        math.max(0.0, 1.0 - (nullPct + dupPct + 0.0 + 0.1 * violations)))
    def metrics(df: org.apache.spark.sql.DataFrame) =
      new DataQualityValidator().validate(df)
    // empty: non_empty and no_all_null_columns fail
    assert(metrics(Seq.empty[(Long, Double)].toDF("user_id", "value")) ==
      score(0.0, 0.0, 2L))
    // an all-null column fails no_all_null_columns only
    assert(metrics(Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]))
      .toDF("user_id", "value")) == score(0.5, 0.0, 1L))
    // zero columns: vacuously no all-null column, but no user_id; the
    // column-less rows all dedup to one
    assert(metrics(spark.range(3).select()) == score(0.0, 2.0 / 3, 1L))
    assert(metrics(spark.emptyDataFrame) == score(0.0, 0.0, 2L))
    // a user check named like a default runs its own closure, beside the
    // default rather than instead of it
    val clean = Seq((1L, 10.0), (2L, 11.0)).toDF("user_id", "value")
    assert(new DataQualityValidator().addCheck("non_empty", _ => false)
      .validate(clean) == score(0.0, 0.0, 1L))
    val v = new DataQualityValidator().addCheck("non_empty", _ => true)
    assert(v.validate(Seq.empty[(Long, Double)].toDF("user_id", "value")) ==
      score(0.0, 0.0, 2L))
    assert(v.checkNames ==
      Seq("non_empty", "no_all_null_columns", "has_user_id", "non_empty"))
  }

  test("validate: its three actions run as 7 Spark jobs under AQE") {
    // one shuffle stage per aggregate action runs as its own job before
    // the action's result job: the stats aggregate (1 exchange) and the
    // outlier count (1) take 2 jobs each, the distinct count (2) takes 3
    val df = Seq((1L, 10.0), (2L, 11.0), (2L, 11.0), (3L, 1000.0))
      .toDF("user_id", "value")
    val (m, jobs) = TestSpark.jobsIn(new DataQualityValidator().validate(df))
    assert(m.duplicatePercentage == 1.0 / 4)
    assert(jobs == 7, s"$jobs jobs")
  }

  test("madOutliers: the far point is the only outlier; a shifted-scale " +
      "group keeps its own fences") {
    // group A: nine values near 10 plus one at 1000; median 10, MAD small
    val a = (1 to 9).map(i => ("A", 9.5 + i * 0.1)) :+ (("A", 1000.0))
    // group B: same shape 100× — outlier-ness must be judged per group
    val b = (1 to 9).map(i => ("B", 950.0 + i * 10.0)) :+ (("B", 100000.0))
    val df = (a ++ b).toDF("g", "v")
    val out = quality.DataQualityValidator.madOutliers(df, "g", "v")
      .collect().map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("n"), r.getAs[Double]("median"),
          r.getAs[Long]("n_outliers"))).toMap
    assert(out("A")._1 == 10L && out("A")._3 == 1L)
    assert(out("B")._3 == 1L)
    // interpolated medians: A = (10.0+10.1)/2, B = (1000+1010)/2
    assert(out("A")._2 == 10.05 && out("B")._2 == 1005.0)
    // identical values: MAD = 0 → any deviation flags, equal values don't
    val flat = Seq(("C", 5.0), ("C", 5.0), ("C", 5.0), ("C", 6.0))
      .toDF("g", "v")
    val fo = quality.DataQualityValidator.madOutliers(flat, "g", "v")
      .collect().head
    assert(fo.getAs[Double]("mad") == 0.0 && fo.getAs[Long]("n_outliers") == 1L)
  }

  test("benfordProfile: integer-cents first digits, shares sum to 1, " +
      "zero/negative rows excluded, χ² closed-form") {
    import org.apache.spark.sql.functions.col
    // values 1.00..9.00 once each + one extra 1.00 → digit 1 twice
    val vals = (1 to 9).map(_.toDouble) ++ Seq(1.0, 0.0, -5.0)
    val df = vals.toDF("v")
    val rows = DataQualityValidator.benfordProfile(df, "v")
      .orderBy(col("digit")).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    assert(rows.map(_.getAs[Long]("n_obs")).sum == 10) // 0 and −5 dropped
    val shares = rows.map(_.getAs[Double]("obs_share"))
    assert(math.abs(shares.sum - 1.0) < 1e-8)
    assert(rows.head.getAs[Long]("n_obs") == 2) // digit 1 twice
    // digit 1: exp_n = 10·0.301029996; chi2 = (2−exp)²/exp
    val expN = BigDecimal(10) *
      BigDecimal(DataQualityValidator.benfordShare(1))
    val diff = (BigDecimal(2) - expN).toDouble
    val want = BigDecimal(diff * diff / expN.toDouble)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows.head.getAs[Double]("chi2") == want)
  }

  test("Profiler.entropyProfile: uniform = log2(k) bits, constant = 0") {
    import org.apache.spark.sql.functions.col
    // a: 4 equally-likely values → 2 bits; b: constant → 0 bits, gini 0;
    // c: unique per row → log2(8) = 3 bits, gini = 1 − 8/64
    val df = (0 until 8).map(i => (i % 4, "x", i)).toDF("a", "b", "c")
    val m = quality.Profiler.entropyProfile(df, Seq("a", "b", "c"))
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    assert(m("a").getAs[Double]("entropy_bits") == 2.0)
    assert(m("a").getAs[Long]("n_distinct") == 4)
    assert(m("b").getAs[Double]("entropy_bits") == 0.0)
    assert(m("b").getAs[Double]("gini") == 0.0)
    assert(m("c").getAs[Double]("entropy_bits") == 3.0)
    assert(m("c").getAs[Double]("gini") == 1.0 - 8.0 / 64)
    // null values are excluded, not a category
    val withNull = Seq(Some("p"), Some("p"), None).map(Tuple1(_)).toDF("a")
    val r = quality.Profiler.entropyProfile(withNull, Seq("a"))
      .collect()(0)
    assert(r.getAs[Long]("n") == 2 && r.getAs[Double]("entropy_bits") == 0.0)
  }

  test("Profiler: exact per-column stats in one pass, approx swap works") {
    val df = Seq[(java.lang.Double, java.lang.Double)](
      (1.0, 10.0), (2.0, 10.0), (3.0, null), (1.0, 20.0))
      .toDF("a", "b")
    val p = quality.Profiler.profile(df, Seq("a", "b"))
      .collect().map(r => r.getAs[String]("col_name") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"),
          r.getAs[Long]("n_distinct"), r.getAs[Double]("min_v"),
          r.getAs[Double]("max_v"), r.getAs[Double]("mean_v"))).toMap
    assert(p("a") == ((4L, 0L, 3L, 1.0, 3.0, 1.75)))
    assert(p("b") == ((4L, 1L, 2L, 10.0, 20.0, (10.0 + 10.0 + 20.0) / 3)))
    // approx path: same shape, HLL cardinality within tolerance
    val ap = quality.Profiler.profile(df, Seq("a", "b"), approx = true)
      .collect().map(r => r.getAs[String]("col_name") ->
        r.getAs[Long]("n_distinct")).toMap
    assert(math.abs(ap("a") - 3L) <= 1 && math.abs(ap("b") - 2L) <= 1)
  }

  test("profileDrift: per-column deltas; degenerate sides give NULL " +
      "ratios, not division errors") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq((1.0, Some(10.0)), (2.0, None), (3.0, Some(20.0)),
      (3.0, Some(10.0))).toDF("x", "y")
    val b = Seq((2.0, Some(30.0)), (4.0, Some(30.0))).toDF("x", "y")
    val d = quality.Profiler.profileDrift(a, b, Seq("x", "y"))
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    val x = d("x")
    assert(x.getAs[Long]("a_rows") == 4 && x.getAs[Long]("b_rows") == 2)
    assert(x.getAs[Double]("a_null_rate") == 0.0)
    // distinct 3 → 2, means 2.25 → 3.0, max 3 → 4
    assert(x.getAs[Double]("distinct_ratio") == 0.666666667)
    assert(x.getAs[Double]("mean_delta") == 0.75)
    assert(x.getAs[Double]("max_delta") == 1.0)
    val y = d("y")
    assert(y.getAs[Double]("a_null_rate") == 0.25 &&
      y.getAs[Double]("b_null_rate") == 0.0)
    // all-null side: 0 distinct → NULL ratio; NULL mean → NULL delta
    val an = Seq(Option.empty[Double], None).toDF("y")
    val dd = quality.Profiler.profileDrift(an,
      Seq(Some(1.0)).toDF("y"), Seq("y")).collect()(0)
    assert(dd.isNullAt(dd.fieldIndex("distinct_ratio")))
    assert(dd.isNullAt(dd.fieldIndex("mean_delta")))
  }

  test("datasetCard: hand-computed one-pager on a tiny corpus") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "en", "a b c"), (2L, "en", "a b c"), // exact dup pair
      (3L, "fr", "d e"), (4L, "fr", "")).toDF("doc_id", "lang", "text")
    val card = quality.Profiler
      .datasetCard(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getAs[String]("metric") ->
        r.getAs[Double]("value")).toMap
    assert(card("n_docs") == 4.0 && card("n_tokens") == 8.0)
    assert(card("vocab_size") == 5.0)
    assert(card("mean_tokens_per_doc") == 2.0)
    assert(card("empty_doc_share") == 0.25)
    assert(card("exact_dup_share") == 0.25) // 4 docs, 3 distinct texts
    assert(card("lang_share:en") == 0.5 && card("lang_share:fr") == 0.5)
    assert(card.size == 8)
  }

  test("hbosTopK: matches a scalar reference on a hand fixture, the " +
      "planted joint outlier ranks first, constant features score 0") {
    val rows = Seq(
      (1L, 10.0, 5.0), (2L, 10.5, 5.0), (3L, 10.0, 5.5), (4L, 11.0, 5.0),
      (5L, 10.5, 5.5), (6L, 10.0, 5.0), (7L, 10.5, 5.0), (8L, 99.0, 50.0))
    val got = DataQualityValidator.hbosTopK(
        rows.toDF("id", "a", "b").repartition(3),
        Seq("a", "b"), Seq("id"), bins = 4, k = 8)
      .as[(Long, Double)].collect().toSeq

    // scalar reference mirroring the exact op sequence
    def binId(v: Double, mn: Double, mx: Double, bins: Int): Long =
      if (mx - mn > 0)
        math.min(math.floor((v - mn) * bins / (mx - mn)).toLong, bins - 1L)
      else 0L
    def binsOf(vs: Seq[Double]): Seq[Long] = {
      val mn = vs.min; val mx = vs.max
      vs.map(binId(_, mn, mx, 4))
    }
    val ba = binsOf(rows.map(_._2)); val bb = binsOf(rows.map(_._3))
    val ca = ba.groupBy(identity).view.mapValues(_.size).toMap
    val cb = bb.groupBy(identity).view.mapValues(_.size).toMap
    def contrib(c: Int): Double =
      BigDecimal(-math.log(c.toDouble / rows.size))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = rows.indices.map { i =>
      rows(i)._1 -> (contrib(ca(ba(i))) + contrib(cb(bb(i))))
    }.sortBy { case (id, s) => (-s, id) }
    assert(got == expected)
    // the planted (99, 50) joint outlier is rank 1
    assert(got.head._1 == 8L)
    // constant features: every bin holds all rows, every score exactly 0
    val const = Seq((1L, 3.0), (2L, 3.0), (3L, 3.0)).toDF("id", "a")
    val gc = DataQualityValidator.hbosTopK(const, Seq("a"), Seq("id"),
        bins = 4, k = 3)
      .as[(Long, Double)].collect()
    assert(gc.toSeq == Seq((1L, 0.0), (2L, 0.0), (3L, 0.0)))
  }

  test("textEmbedDrift: a text-near pair whose embedding row is MISSING " +
      "is emitted with NULL cos and is_missing/is_drift TRUE, not " +
      "silently inner-joined away") {
    import org.apache.spark.sql.functions._
    // docs 1=2 (identical text → LSH pair, jaccard 1) and 3=4 likewise
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words occupy this other document body"),
      (4L, "completely different words occupy this other document body"))
      .toDF("doc_id", "text")
    // doc 2's embedding row is MISSING (the id-misalignment failure)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val rows = graft.queries.QualityQueries
      .textEmbedDriftFrom(docs, emb)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.isNullAt(r.fieldIndex("cos")), r.getAs[Boolean]("is_missing"),
        r.getAs[Boolean]("is_drift")))
    assert(rows.toSeq == Seq(
      (1L, 2L, true, true, true), // missing embedding → flagged
      (3L, 4L, false, false, false))) // both present, cos 1 → no drift
  }
}
