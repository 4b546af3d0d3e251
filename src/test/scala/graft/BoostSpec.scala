package graft

import graft.ops.Boost
import org.scalatest.funsuite.AnyFunSuite

class BoostSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Plain-Scala replay of the relational boosting loop: same integer
    * binning, exact BigDecimal residuals, 6-dp double gains with
    * (−feature, −bin) tie-breaks, 9-dp leaf values.
    */
  private def referenceGbm(rows: Seq[(Long, Int, Seq[Long])], bins: Int,
      rounds: Int): (Seq[(Int, Int, Int, Double, Double, Double)],
      Map[Long, BigDecimal]) = {
    val nf = rows.head._3.length
    val mn = (0 until nf).map(i => rows.map(_._3(i)).min)
    val mx = (0 until nf).map(i => rows.map(_._3(i)).max)
    def bin(i: Int, x: Long): Int =
      math.min(bins - 1, ((x - mn(i)) * bins / (mx(i) - mn(i) + 1)).toInt)
    // Spark's round(double, s) — like DuckDB's — rounds the SHORTEST
    // decimal string of the double (BigDecimal.decimal semantics), which
    // scala's BigDecimal(double) matches. The fixture lands leaf values
    // exactly on .5e-9 boundaries, so it pins this (and caught the
    // DECIMAL(38,9)−DECIMAL(38,9) silent rescale-to-8dp in an earlier
    // right-mass-by-subtraction plan).
    def r9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val p0 = r9(rows.map(_._2).sum.toDouble / rows.size)
    var pred = rows.map(r => r._1 -> p0).toMap
    val model = (1 to rounds).map { t =>
      val g = rows.map(r => r._1 -> (BigDecimal(r._2) - pred(r._1))).toMap
      val cands = for {
        f <- 0 until nf
        s <- 0 until bins - 1
        left = rows.filter(r => bin(f, r._3(f)) <= s)
        right = rows.filter(r => bin(f, r._3(f)) > s)
        if left.nonEmpty && right.nonEmpty
      } yield {
        val gl = left.map(r => g(r._1)).sum.toDouble
        val gr = right.map(r => g(r._1)).sum.toDouble
        val gain = r6(gl * gl / left.size + gr * gr / right.size)
        (gain, -f, -s, r9(gl / (2 * left.size)), r9(gr / (2 * right.size)))
      }
      val best = cands.max
      val (f, s, vl, vr) = (-best._2, -best._3, best._4, best._5)
      pred = rows.map { r =>
        r._1 -> (pred(r._1) + (if (bin(f, r._3(f)) <= s) vl else vr))
      }.toMap
      (t, f, s, vl.toDouble, vr.toDouble, best._1)
    }
    (model, pred)
  }

  private def toDf(rows: Seq[(Long, Int, Seq[Long])]) =
    rows.map(r => (r._1, r._2, r._3(0), r._3(1))).toDF("id", "y", "fa", "fb")

  test("gbmStumps: model and predictions match the plain-Scala replay " +
      "of binning, gains, tie-breaks and 9-dp leaf values") {
    // fa carries the label signal, fb is noise — the stump should cut fa
    val rows = (0 until 48).map { i =>
      val fa = (i * 37L) % 101
      (i.toLong, if (fa > 50) 1 else 0, Seq(fa, (i % 7).toLong))
    }
    val (refModel, refPred) = referenceGbm(rows, bins = 8, rounds = 3)
    val model = Boost.gbmStumps(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 8, rounds = 3)
      .orderBy("round")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    val featName = Seq("fa", "fb")
    assert(model == refModel.map(m =>
      (m._1, featName(m._2), m._3, m._4, m._5, m._6)))
    assert(model.head._2 == "fa") // the signal feature wins round 1
    val preds = Boost.gbmScore(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 8, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      assert(preds(r._1) == refPred(r._1).toDouble,
        s"id ${r._1}: ${preds(r._1)} vs ${refPred(r._1)}")
    }
  }

  test("gbmStumps: equal gains tie-break to the smaller feature then " +
      "the smaller bin; boosting never increases training SSE") {
    // fb is an exact copy of fa: every split gain ties across features
    val rows = (0 until 30).map { i =>
      val v = (i * 11L) % 64
      (i.toLong, if (v >= 32) 1 else 0, Seq(v, v))
    }
    val model = Boost.gbmStumps(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 4, rounds = 2)
      .collect().map(_.getString(1)).toSeq
    assert(model.forall(_ == "fa"), s"tie must pick feature 0: $model")

    val scored = Boost.gbmScore(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 4, rounds = 2)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val mean = rows.map(_._2).sum.toDouble / rows.size
    val sse0 = scored.map { case (y, _) => (y - mean) * (y - mean) }.sum
    val sseT = scored.map { case (y, p) => (y - p) * (y - p) }.sum
    assert(sseT <= sse0 + 1e-9, s"SSE $sse0 -> $sseT")
  }

  /** Plain-Scala replay of the DEPTH-2 level-wise loop: root best split
    * on the round's residuals, then each root leaf's own best split on
    * the SAME residuals; a leaf with no candidate stays terminal with
    * the root's stump value; a round with no root split is skipped.
    */
  private def referenceTree2(rows: Seq[(Long, Int, Seq[Long])], bins: Int,
      rounds: Int): (Seq[(Int, String, Int, Int, Double, Double, Double)],
      Map[Long, BigDecimal]) = {
    val nf = rows.head._3.length
    val mn = (0 until nf).map(i => rows.map(_._3(i)).min)
    val mx = (0 until nf).map(i => rows.map(_._3(i)).max)
    def bin(i: Int, x: Long): Int =
      math.min(bins - 1, ((x - mn(i)) * bins / (mx(i) - mn(i) + 1)).toInt)
    def r9(x: Double): BigDecimal =
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val p0 = r9(rows.map(_._2).sum.toDouble / rows.size)
    var pred = rows.map(r => r._1 -> p0).toMap
    val model = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Int, Int, Double, Double, Double)]
    (1 to rounds).foreach { t =>
      val g = rows.map(r => r._1 -> (BigDecimal(r._2) - pred(r._1))).toMap
      def bestOf(sub: Seq[(Long, Int, Seq[Long])])
          : Option[(Double, Int, Int, BigDecimal, BigDecimal)] = {
        val cands = for {
          f <- 0 until nf
          s <- 0 until bins - 1
          left = sub.filter(r => bin(f, r._3(f)) <= s)
          right = sub.filter(r => bin(f, r._3(f)) > s)
          if left.nonEmpty && right.nonEmpty
        } yield {
          val gl = left.map(r => g(r._1)).sum.toDouble
          val gr = right.map(r => g(r._1)).sum.toDouble
          (r6(gl * gl / left.size + gr * gr / right.size), -f, -s,
            r9(gl / (2 * left.size)), r9(gr / (2 * right.size)))
        }
        if (cands.isEmpty) None
        else { val b = cands.max; Some((b._1, -b._2, -b._3, b._4, b._5)) }
      }
      bestOf(rows) match {
        case None => () // degenerate round: zero contribution, no rows
        case Some((gain, f, s, vl, vr)) =>
          model += ((t, "root", f, s, vl.toDouble, vr.toDouble, gain))
          val leaf0 = rows.filter(r => bin(f, r._3(f)) <= s)
          val leaf1 = rows.filterNot(r => bin(f, r._3(f)) <= s)
          val c0 = bestOf(leaf0)
          val c1 = bestOf(leaf1)
          c0.foreach { case (cg, cf, cs, cvl, cvr) =>
            model += ((t, "left", cf, cs, cvl.toDouble, cvr.toDouble, cg)) }
          c1.foreach { case (cg, cf, cs, cvl, cvr) =>
            model += ((t, "right", cf, cs, cvl.toDouble, cvr.toDouble, cg)) }
          def contrib(r: (Long, Int, Seq[Long])): BigDecimal = {
            val (child, fallback) =
              if (bin(f, r._3(f)) <= s) (c0, vl) else (c1, vr)
            child match {
              case None => fallback
              case Some((_, cf, cs, cvl, cvr)) =>
                if (bin(cf, r._3(cf)) <= cs) cvl else cvr
            }
          }
          pred = rows.map(r => r._1 -> (pred(r._1) + contrib(r))).toMap
      }
    }
    (model.toSeq, pred)
  }

  test("gbmTree2: model and predictions match the plain-Scala depth-2 " +
      "replay on an XOR-interaction label stumps cannot express") {
    // label = (fa > 50) XOR (fb > 3): round 1's root cuts one feature,
    // and the CHILD splits must cut the other to reduce SSE
    val rows = (0 until 60).map { i =>
      val fa = (i * 37L) % 101
      val fb = (i % 8).toLong
      (i.toLong, if ((fa > 50) ^ (fb > 3)) 1 else 0, Seq(fa, fb))
    }
    val (refModel, refPred) = referenceTree2(rows, bins = 8, rounds = 2)
    val model = Boost.gbmTree2(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 8, rounds = 2)
      .orderBy("round", "node")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    val featName = Seq("fa", "fb")
    assert(model == refModel.sortBy(m => (m._1, m._2)).map(m =>
      (m._1, m._2, featName(m._3), m._4, m._5, m._6, m._7)))
    // each round: root + two child splits on this data
    assert(model.count(_._1 == 1) == 3)
    val preds = Boost.gbmTree2Score(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 8, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      assert(preds(r._1) == refPred(r._1).toDouble,
        s"id ${r._1}: ${preds(r._1)} vs ${refPred(r._1)}")
    }
    // depth-2 must beat the depth-1 fit on the XOR label
    val stumpPred = Boost.gbmScore(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 8, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def sse(p: Map[Long, Double]) =
      rows.map(r => math.pow(r._2 - p(r._1), 2)).sum
    assert(sse(preds) < sse(stumpPred),
      s"tree2 ${sse(preds)} vs stump ${sse(stumpPred)}")
  }

  test("gbm degenerate rounds: constant features skip with zero " +
      "contribution instead of NULLing every prediction") {
    val rows = (0 until 10).map(i =>
      (i.toLong, i % 2, Seq(7L, 7L))) // both features constant
    val p0 = BigDecimal(0.5)
    assert(Boost.gbmStumps(toDf(rows), "id", "y", Seq("fa", "fb"),
      bins = 4, rounds = 2).count() == 0L)
    val sPred = Boost.gbmScore(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 4, rounds = 2)
      .collect().map(r => r.getDouble(2))
    assert(sPred.length == 10 && sPred.forall(_ == p0.toDouble))
    assert(Boost.gbmTree2(toDf(rows), "id", "y", Seq("fa", "fb"),
      bins = 4, rounds = 2).count() == 0L)
    val tPred = Boost.gbmTree2Score(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 4, rounds = 2)
      .collect().map(r => r.getDouble(2))
    assert(tPred.length == 10 && tPred.forall(_ == p0.toDouble))
  }

  test("gbmTree2: a leaf with no valid split stays terminal with the " +
      "root stump value — the tree degrades to the stump exactly") {
    // fa ∈ {0, 10} with 2 bins and fb constant: both root leaves are
    // single-bin regions, so neither child can split
    val rows = (0 until 12).map { i =>
      val fa = if (i % 3 == 0) 0L else 10L
      (i.toLong, if (fa == 0L) 1 else 0, Seq(fa, 5L))
    }
    val model = Boost.gbmTree2(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 2, rounds = 2)
      .collect().map(_.getString(1)).toSeq
    assert(model.forall(_ == "root"), s"children must be terminal: $model")
    val tree = Boost.gbmTree2Score(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val stump = Boost.gbmScore(toDf(rows), "id", "y", Seq("fa", "fb"),
        bins = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(tree == stump)
  }

  test("gbm: jobs per round and set-up jobs of the stump and the depth-2 " +
      "fit on a 61-row base") {
    val rows = (0 until 61).map { i =>
      val fa = (i * 37L) % 101
      (i.toLong, if ((fa > 50) ^ (i % 8 > 3)) 1 else 0, Seq(fa, i % 8L))
    }
    import TestSpark.roundJobs
    assert(roundJobs(Boost.gbmScore(toDf(rows), "id", "y", Seq("fa", "fb"),
      8, _)) == ((4, 6)))
    assert(roundJobs(Boost.gbmTree2Score(toDf(rows), "id", "y",
      Seq("fa", "fb"), 8, _)) == ((4, 12)))
  }

  test("gbm degenerate bases: an empty base fits nothing; a one-row " +
      "base has no split and scores its own label") {
    val feats = Seq("fa", "fb")
    val empty = toDf(Seq.empty)
    assert(Boost.gbmStumps(empty, "id", "y", feats).count() == 0)
    assert(Boost.gbmScore(empty, "id", "y", feats).count() == 0)
    assert(Boost.gbmTree2(empty, "id", "y", feats).count() == 0)
    assert(Boost.gbmTree2Score(empty, "id", "y", feats).count() == 0)
    val one = toDf(Seq((1L, 1, Seq(3L, 4L))))
    assert(Boost.gbmStumps(one, "id", "y", feats).count() == 0)
    assert(Boost.gbmTree2Score(one, "id", "y", feats)
      .as[(Long, Double, Double)].collect().toSeq == Seq((1L, 1.0, 1.0)))
  }
}
