package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3-dim toy corpus: 1 ∥ 2 (same direction), 3 orthogonal, 4 opposite
  private lazy val emb = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(2.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(-1.0f, 0.0f, 0.0f)),
    (5L, Array(1.0f, 1.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("dot / norm / cosine basics") {
    val r = emb.filter($"vec_id" === 5L)
      .select(Similarity.dot(col("embedding"), col("embedding")).as("d"),
        Similarity.norm(col("embedding")).as("n"))
      .head()
    assert(r.getAs[Double]("d") == 2.0)
    assert(math.abs(r.getAs[Double]("n") - math.sqrt(2)) < 1e-12)
  }

  test("brute top-k ranks parallel first, opposite last, ties by id") {
    val q = emb.filter($"vec_id" === 1L)
    val top = Similarity.bruteTopK(emb, q, "vec_id", "embedding", 5)
      .select("vec_id").as[Long].collect().toSeq
    // cos: 1→1.0, 2→1.0, 5→0.707…, 3→0.0, 4→−1.0; tie 1 vs 2 by id
    assert(top == Seq(1L, 2L, 5L, 3L, 4L))
  }

  test("near-dup pairs at 0.99 finds exactly the parallel pair") {
    val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L)))
  }

  test("knn join excludes self and respects k") {
    val out = Similarity.knnJoin(emb, emb.filter($"vec_id" === 1L),
      "vec_id", "embedding", 2).collect()
    assert(out.length == 2)
    assert(!out.exists(_.getAs[Long]("vec_id") == 1L))
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(2L, 5L))
  }

  test("lsh: parallel vectors share a bucket, opposite vectors do not") {
    val planes = Similarity.hyperplanes(4, 3)
    val b = Similarity.lshBuckets(emb, "vec_id", "embedding", planes)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket"))
      .toMap
    assert(b(1L) == b(2L))
    assert(b(1L) != b(4L))
    // topk within the query's bucket at least finds the parallel twin
    val top = Similarity.lshTopK(emb, emb.filter($"vec_id" === 1L),
      "vec_id", "embedding", 5, planes)
      .select("vec_id").as[Long].collect().toSet
    assert(top.contains(2L))
    assert(!top.contains(4L))
  }

  test("lshNearDupPairs: subset of exact pairs, each found pair exact-valued," +
    " parallel twin recovered") {
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables.embeddings(spark, dir)
    val bands = graft.queries.SimilarityQueries.bandPlanes
    val exact = Similarity.nearDupPairs(corpus, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshNearDupPairs(corpus, "vec_id", "embedding", 0.35,
        bands)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    // every LSH pair is a true pair with the identical exact cosine (the
    // verify step is exact; LSH only prunes candidates) and appears ONCE
    assert(lsh.nonEmpty)
    assert(lsh.length == lsh.map(_._1).distinct.length, "duplicate pairs")
    lsh.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos), s"$pair not an exact near-dup")
    }
    info(f"LSH recall at 0.35 = ${lsh.length.toDouble / exact.size}%.3f " +
      s"(${lsh.length}/${exact.size})")
  }

  test("centroid summary: equal labels → cos 1; orthogonal labels → 1/√2") {
    val e = Seq(
      (0, Array(1.0f, 0.0f)), (0, Array(1.0f, 0.0f)),
      (1, Array(0.0f, 1.0f)), (1, Array(0.0f, 1.0f))
    ).toDF("label", "embedding")
    val out = Similarity.centroidSummary(e, "label", "embedding")
      .collect().map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Double]("centroid_norm"),
          r.getAs[Double]("cos_to_global"))).toMap
    assert(out(0)._1 == 2L && out(0)._2 == 1.0)
    // global centroid = (0.5, 0.5); cos(e1, global) = 1/√2
    assert(math.abs(out(0)._3 - 1.0 / math.sqrt(2)) < 1e-6)
    assert(math.abs(out(1)._3 - 1.0 / math.sqrt(2)) < 1e-6)
  }

  test("multiprobe recall@k ≥ single-probe recall@k, both vs brute force") {
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables.embeddings(spark, dir)
    val planes = Similarity.hyperplanes(4, 64)
    val k = 10
    def recallFor(qid: Long): (Double, Double) = {
      val q = corpus.filter($"vec_id" === qid)
      val truth = Similarity.bruteTopK(corpus, q, "vec_id", "embedding", k)
        .select("vec_id").as[Long].collect().toSet
      val single = Similarity.lshTopK(corpus, q, "vec_id", "embedding", k, planes)
        .select("vec_id").as[Long].collect().toSet
      val multi = Similarity.lshTopKMultiprobe(corpus, q, "vec_id", "embedding", k, planes)
        .select("vec_id").as[Long].collect().toSet
      // multiprobe candidates are a superset of single-probe candidates, so
      // per-query recall can only go up
      ((truth & single).size.toDouble / k, (truth & multi).size.toDouble / k)
    }
    val (singles, multis) = (0L until 8L).map(recallFor).unzip
    val (rs, rm) = (singles.sum / singles.size, multis.sum / multis.size)
    info(f"recall@$k single-probe=$rs%.3f multiprobe=$rm%.3f")
    assert(rm >= rs)
    assert(rm > 0.5, "multiprobe should recover most true neighbors here")
  }

  test("lshKnnJoin: batch result per query equals the single-query multiprobe") {
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables.embeddings(spark, dir)
    val planes = Similarity.hyperplanes(4, 64)
    val k = 5
    val batch = Similarity.lshKnnJoin(corpus,
        corpus.filter($"vec_id" < 4L), "vec_id", "embedding", k, planes)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
      .toMap
    (0L until 4L).foreach { qid =>
      val single = Similarity.lshTopKMultiprobe(corpus,
          corpus.filter($"vec_id" === qid), "vec_id", "embedding", k + 1, planes)
        .collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
        .filter(_._1 != qid) // batch excludes self; single-query does not
        .take(k)
      single.zipWithIndex.foreach { case (exp, i) =>
        assert(batch((qid, i + 1L)) == exp, s"query $qid rank ${i + 1}")
      }
    }
  }

  test("int8 quant stats: codes span [0,255], extremes map to endpoints") {
    val out = Similarity.int8QuantStats(emb, "vec_id", "embedding")
      .orderBy("dim")
      .as[(Long, Long, Double, Double, Long, Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(out.forall(_._2 == 5L)) // every dim sees all 5 vectors
    out.foreach { case (d, _, mn, mx, sum, cmin, cmax) =>
      assert(cmin >= 0L && cmax <= 255L, s"dim $d codes out of range")
      if (mx > mn) { assert(cmin == 0L && cmax == 255L, s"dim $d endpoints") }
      else { assert(cmin == 0L && cmax == 0L && sum == 0L, s"dim $d const") }
    }
    // dim 0: values (1,2,0,-1,1), range [-1,2] → codes floor((v+1)*256/3)
    val d0 = out.find(_._1 == 0L).get
    val expect = Seq(1.0, 2.0, 0.0, -1.0, 1.0)
      .map(v => math.min(math.floor((v + 1.0) * 256.0 / 3.0), 255.0).toLong)
    assert(d0._5 == expect.sum)
  }

  test("hyperplanes are seed-deterministic") {
    assert(Similarity.hyperplanes(4, 8).map(_.toSeq).toSeq ==
      Similarity.hyperplanes(4, 8).map(_.toSeq).toSeq)
  }

  test("semanticDedup equals the brute-force cell + dominance reference") {
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.sources.Tables.embeddings(spark, dir)
    val anchors = Similarity.hyperplanes(8, 64, seed = 44L)
    val threshold = 0.35

    // driver-side reference: same rounded normalized-dot argmax, same
    // duplicate-of-any-lower-id-neighbor rule
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = corpus.select("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val cells = rows.map { case (id, v) =>
      val scores = anchors.map(a =>
        round6(dot(v, a.map(_.toDouble)) / math.sqrt(a.length.toDouble)))
      id -> (scores.indexOf(scores.max) + 1)
    }.toMap
    val expectSurvivors = rows.filter { case (id, v) =>
      !rows.exists { case (oid, ov) =>
        oid < id && cells(oid) == cells(id) &&
          round6(dot(ov, v) / (math.sqrt(dot(ov, ov)) * math.sqrt(dot(v, v)))) >= threshold
      }
    }.map { case (id, _) => id -> cells(id) }.toSeq

    val got = Similarity.semanticDedup(corpus, "vec_id", "embedding",
        threshold, anchors)
      .orderBy("vec_id")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell"))
      .toSeq
    assert(got == expectSurvivors)
    assert(got.size < rows.size, "threshold 0.35 should drop something here")
  }

  test("hardNegatives: never returns the query's own label, respects the " +
      "semi-hard cos cap, ranks by similarity") {
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f), 0),  // same label — excluded
      (3L, Array(0.8f, 0.2f, 0.0f), 1),  // closest negative
      (4L, Array(0.0f, 1.0f, 0.0f), 1),
      (5L, Array(1.0f, 0.0f, 0.0f), 2)   // cos 1.0 — above the 0.99 cap
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(labeled,
        labeled.filter($"vec_id" === 1L), "vec_id", "embedding", "label",
        k = 3, maxCos = 0.99)
      .select("rank", "vec_id", "label").as[(Long, Long, Int)].collect()
    assert(out.forall(_._3 != 0), "a same-label row leaked through")
    assert(!out.exists(_._2 == 5L), "cos cap failed")
    assert(out.toSeq == Seq((1L, 3L, 1), (2L, 4L, 1)))
  }

  test("labelPropagation: majority label among close same-cell neighbors, " +
      "isolated rows stay null with zero votes") {
    val anchors = Similarity.hyperplanes(4, 3, seed = 9L)
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.05f), Some(7)),
      (2L, Array(1.0f, 0.01f, 0.0f), Some(7)),
      (3L, Array(1.0f, 0.02f, 0.01f), Some(8)),
      (4L, Array(0.99f, 0.01f, 0.02f), Option.empty[Int]), // → majority 7
      (5L, Array(-1.0f, 0.0f, 0.0f), Option.empty[Int]))   // isolated
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelPropagation(corpus, "vec_id", "embedding",
        "label", anchors, minCos = 0.9)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        r.getLong(2))).toSeq
    // vote count depends on how the anchor cells carve the near-tie
    // directions, so pin the label and the null case, not the tally
    assert(out.map(r => (r._1, r._2)) == Seq((4L, Some(7)), (5L, None)),
      out.toString)
    assert(out.head._3 >= 1L && out(1)._3 == 0L, out.toString)
  }

  test("mmrRerank: picks the relevance argmax first, then trades a " +
      "near-duplicate for a diverse hit at low lambda") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f)),   // top hit
      (2L, Array(1.0f, 0.12f, 0.0f)),  // near-duplicate of 1
      (3L, Array(0.9f, 0.6f, 0.0f)))   // diverse, lower relevance
      .toDF("vec_id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val diversified = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
        k = 2, lambda = 0.3, candidates = 3)
      .select("rank", "vec_id").as[(Long, Long)].collect().toSeq
    assert(diversified == Seq((1L, 1L), (2L, 3L)),
      s"expected 1 then 3, got $diversified")
    // at lambda = 1 MMR degenerates to pure relevance order
    val pure = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
        k = 2, lambda = 1.0, candidates = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(pure == Seq(1L, 2L))
  }

  test("randomProject: equals the hand-computed signed sums; " +
      "partitioning-independent") {
    val signs = Similarity.hyperplanes(4, 3, seed = 7L)
    val expected = emb.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      r.getLong(0) -> signs.map(row =>
        v.indices.foldLeft(0.0)((s, i) => s + row(i) * v(i)))
    }.toMap
    Seq(emb, emb.repartition(5)).foreach { d =>
      val got = Similarity.randomProject(d, "vec_id", "embedding", signs)
        .collect()
      got.foreach { r =>
        val id = r.getLong(0)
        (0 until 4).foreach { j =>
          assert(math.abs(r.getDouble(j + 1) - expected(id)(j)) < 1e-6,
            s"vec $id dim $j")
        }
      }
    }
  }

  test("rrfFuse: doc in both lists outranks single-list docs; " +
      "hand-computed 1/(60+rank) sums") {
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), "id", "rank")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("n_lists"), r.getAs[Double]("rrf_score"))).toMap
    def w(rank: Long): Double =
      BigDecimal(1.0 / (60 + rank))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(20L) == ((2L, w(2) + w(1))))
    assert(out(10L) == ((1L, w(1))))
    assert(out(40L) == ((1L, w(2))))
    // consensus doc 20 beats even the top single-list doc 10
    assert(out(20L)._2 > out(10L)._2)
  }

  test("binaryCodes: bit set iff value above per-dim mean, halves packed") {
    // dim 0 values (1,3): mean 2 → only id 1 above. dim 32 values (5,1):
    // mean 3 → only id 0 above.
    val emb = Seq(
      (0L, Array.tabulate(64)(d => if (d == 0) 1.0f else if (d == 32) 5.0f else 0.0f)),
      (1L, Array.tabulate(64)(d => if (d == 0) 3.0f else if (d == 32) 1.0f else 0.0f))
    ).toDF("vec_id", "embedding")
    val m = Similarity.binaryCodes(emb, "vec_id", "embedding")
      .collect().map(r => r.getAs[Long]("id") ->
        (r.getAs[Long]("code_lo"), r.getAs[Long]("code_hi"))).toMap
    assert(m(0L) == (0L, 1L)) // dim 32 → bit 0 of the hi half
    assert(m(1L) == (1L, 0L)) // dim 0 → bit 0 of the lo half
  }

  test("binaryCodes: >64-dim vectors are rejected, not silently aliased") {
    val wide = Seq((0L, Array.fill(65)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.binaryCodes(wide, "vec_id", "embedding").collect()
    }
    assert(e.getMessage.contains("exceeds 64") ||
      Option(e.getCause).exists(_.getMessage.contains("exceeds 64")))
  }

  test("binaryCodes: duplicate (id, dim) rows OR bits idempotently") {
    // same row twice: with arithmetic sum the bit would double-carry;
    // bit_or keeps the code identical to the single-row code
    val one = Seq((0L, Array.tabulate(64)(d => if (d == 3) 9.0f else 0.0f)),
      (1L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val dup = one.union(one.filter(col("vec_id") === 0L))
    val codeOf = (df: org.apache.spark.sql.DataFrame) =>
      Similarity.binaryCodes(df, "vec_id", "embedding")
        .filter(col("id") === 0L).collect().head.getAs[Long]("code_lo")
    assert(codeOf(dup) == codeOf(one))
  }

  test("binaryHammingTopK with candidates = corpus matches brute-force " +
      "cosine order") {
    val emb = Tables64(8)
    val bin = Similarity.binaryHammingTopK(emb, "vec_id", "embedding",
      queryId = 0L, candidates = 8, k = 3).collect()
    val brute = Similarity.bruteTopK(emb,
        emb.filter(col("vec_id") === 0L), "vec_id", "embedding", 4)
      .filter(col("vec_id") =!= 0L).orderBy(col("cos").desc, col("vec_id"))
      .collect()
    assert(bin.map(_.getAs[Long]("id")).toSeq ==
      brute.take(3).map(_.getAs[Long]("vec_id")).toSeq)
    assert(bin.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
  }

  test("prefixRerankTopK with candidates = corpus matches brute-force " +
      "cosine order; prefix stage really uses the prefix") {
    val emb = Tables64(8)
    val out = Similarity.prefixRerankTopK(emb, "vec_id", "embedding",
      queryId = 0L, prefixDims = 16, candidates = 8, k = 3).collect()
    val brute = Similarity.bruteTopK(emb,
        emb.filter(col("vec_id") === 0L), "vec_id", "embedding", 4)
      .filter(col("vec_id") =!= 0L).orderBy(col("cos").desc, col("vec_id"))
      .collect()
    assert(out.map(_.getAs[Long]("id")).toSeq ==
      brute.take(3).map(_.getAs[Long]("vec_id")).toSeq)
    // two vectors identical on the first 16 dims but different after must
    // share cos_prefix and differ on cos
    val twin = Seq(
      (0L, Array.tabulate(64)(d => 1.0f)),
      (1L, Array.tabulate(64)(d => if (d < 16) 1.0f else 2.0f)),
      (2L, Array.tabulate(64)(d => if (d < 16) 1.0f else 0.5f))
    ).toDF("vec_id", "embedding")
    val t = Similarity.prefixRerankTopK(twin, "vec_id", "embedding",
      0L, 16, 2, 2).collect()
    assert(t.map(_.getAs[Double]("cos_prefix")).distinct.length == 1)
    assert(t.map(_.getAs[Double]("cos")).distinct.length == 2)
  }

  /** Deterministic 64-dim corpus: id 0's vector plus rotations. */
  private def Tables64(n: Int) = {
    val rnd = new scala.util.Random(7)
    Seq.tabulate(n) { i =>
      (i.toLong, Array.tabulate(64)(d => (rnd.nextFloat() + (if ((d + i) % 5 == 0) 1.0f else 0.0f))))
    }.toDF("vec_id", "embedding")
  }

  test("topEigenvector: variance concentrated on one axis recovers that " +
      "axis; unit norm") {
    // dim 0 carries all the variance (values 0..3), dims 1-3 constant
    val emb = (0 until 4).map(i =>
      (i.toLong, Array(i.toFloat, 1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.topEigenvector(emb, "embedding", dims = 4,
        iterations = 3)
      .orderBy("pos").collect()
    val loadings = out.map(_.getAs[Double]("loading"))
    assert(math.abs(loadings(0)) > 0.999, s"dim-1 loading ${loadings(0)}")
    assert(loadings.drop(1).forall(l => math.abs(l) < 1e-3))
    val norm = math.sqrt(loadings.map(l => l * l).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    // eigenvalue ~ population variance of 0,1,2,3 = 1.25
    assert(math.abs(out(0).getAs[Double]("eigenvalue") - 1.25) < 1e-3)
  }

  test("projectOnto: scores are the dot with the component; PCA pair " +
      "orders points along the dominant axis") {
    val emb = (0 until 4).map(i =>
      (i.toLong, Array(i.toFloat, 1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val unit = Seq((1L, 1.0), (2L, 0.0), (3L, 0.0), (4L, 0.0))
      .toDF("pos", "loading")
    val s = Similarity.projectOnto(emb, "vec_id", "embedding", unit,
        "pos", "loading")
      .orderBy("id").collect().map(_.getAs[Double]("score"))
    assert(s.toSeq == Seq(0.0, 1.0, 2.0, 3.0))
    // with the FITTED component the order along dim 0 is preserved
    val fit = Similarity.topEigenvector(emb, "embedding", 4, 3)
    val proj = Similarity.projectOnto(emb, "vec_id", "embedding", fit,
        "pos", "loading")
      .orderBy("id").collect().map(_.getAs[Double]("score"))
    assert(proj.sliding(2).forall(p => (p(1) - p(0)).abs > 0.9) ||
      proj.sliding(2).forall(p => p(1) > p(0)) ||
      proj.sliding(2).forall(p => p(1) < p(0)))
  }

  test("embeddingCovariance: hand-checked 2-d case, upper triangle only") {
    val emb = Seq(
      (0L, Array(1.0, 0.0)), (1L, Array(0.0, 1.0)),
      (2L, Array(1.0, 1.0)), (3L, Array(0.0, 0.0))).toDF("vec_id", "embedding")
    val rows = Similarity.embeddingCovariance(emb, "embedding", 2)
      .orderBy("i", "j").collect()
    assert(rows.map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).toSeq ==
      Seq((1L, 1L), (1L, 2L), (2L, 2L)))
    val m = rows.map(r =>
      (r.getAs[Long]("i"), r.getAs[Long]("j")) -> r.getAs[Double]("cov")).toMap
    // means (0.5, 0.5): var = E[x²]−m² = 0.25; cov12 = E[xy]−m² = 0
    assert(m((1L, 1L)) == 0.25 && m((2L, 2L)) == 0.25)
    assert(m((1L, 2L)) == 0.0)
    assert(rows.forall(_.getAs[Long]("n") == 4))
  }

  test("kmeansFit: hand-computed 1-D clusters with md5-smallest seeds") {
    val spark2 = spark
    import spark2.implicits._
    // md5("1") < md5("2") < md5("0") < md5("3") → seeds: id 1 (cid 0,
    // c=1.0), id 2 (cid 1, c=10.0). Round 1: {0,1}→cid0, {10,11}→cid1;
    // centroids 0.5 / 10.5; rounds 2-3 stable.
    val emb = Seq((0L, Seq(0.0f)), (1L, Seq(1.0f)),
      (2L, Seq(10.0f)), (3L, Seq(11.0f))).toDF("vec_id", "embedding")
    val r = Similarity.kmeansFit(emb, "vec_id", "embedding", 2, 3)
      .orderBy("cid").collect()
    assert(r.length == 2)
    assert(r(0).getAs[Double]("centroid") == 0.5 &&
      r(0).getAs[Long]("n_members") == 2)
    assert(r(1).getAs[Double]("centroid") == 10.5 &&
      r(1).getAs[Long]("n_members") == 2)
  }

  test("kmeansFit: distance ties assign to the smallest cid; emptied " +
      "clusters keep their previous centroid with n_members 0") {
    val spark2 = spark
    import spark2.implicits._
    // both points sit at 0 → both seed clusters start at 0, every
    // assignment ties → argmin cid 0 wins; cid 1 empties but keeps c=0
    val emb = Seq((0L, Seq(0.0f)), (1L, Seq(0.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.kmeansFit(emb, "vec_id", "embedding", 2, 2)
      .orderBy("cid").collect()
    assert(r(0).getAs[Long]("n_members") == 2)
    assert(r(1).getAs[Long]("n_members") == 0 &&
      r(1).getAs[Double]("centroid") == 0.0)
  }

  test("kmeansFit: k above the distinct-id count fits one cluster per " +
      "id; fittedCells and dbscanFitted assign only to those cells") {
    val spark2 = spark
    import spark2.implicits._
    // 3 ids, k = 5: only 3 seeds exist, so only cids 0..2 may receive
    // points — a centroid-less cid must never win the argmin
    val pts = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 2.0f)),
      (2L, Seq(-3.0f, 0.5f)))
    val emb = pts.toDF("vec_id", "embedding")
    val fit = Similarity.kmeansFit(emb, "vec_id", "embedding", 5, 3)
      .collect().map(r => (r.getAs[Long]("cid"), r.getAs[Long]("dim"),
        r.getAs[Double]("centroid"), r.getAs[Long]("n_members")))
    assert(fit.map(_._1).toSet == Set(0L, 1L, 2L))
    assert(fit.forall(_._4 == 1L))
    // each centroid is its own point
    val centroid = fit.groupBy(_._1).map { case (c, rs) =>
      c -> rs.sortBy(_._2).map(_._3.toFloat).toSeq }
    assert(centroid.values.toSet == pts.map(_._2).toSet)
    val cells = Similarity.fittedCells(emb, "vec_id", "embedding", 5, 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells.keySet == Set(0L, 1L, 2L))
    assert(cells.values.toSet == Set(0, 1, 2))
    pts.foreach { case (id, v) => assert(centroid(cells(id).toLong) == v) }
    val db = Similarity.dbscanFitted(emb, "vec_id", "embedding",
        tau = 0.5, minPts = 1, k = 5, rounds = 3)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(db == Set(0L, 1L, 2L))
  }

  test("kmeansFit: result is invariant to input partitioning") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0L until 40L).map(i =>
      (i, Seq(((i % 7).toFloat - 3f) / 3f, (i % 5).toFloat / 5f)))
      .toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      Similarity.kmeansFit(df, "vec_id", "embedding", 3, 2)
        .orderBy("cid", "dim").collect()
        .map(x => (x.getAs[Long]("cid"), x.getAs[Long]("dim"),
          x.getAs[Double]("centroid"), x.getAs[Long]("n_members"))).toSeq
    assert(run(emb.repartition(13)) == run(emb.coalesce(1)))
  }

  private def kmeansRows(df: org.apache.spark.sql.DataFrame, k: Int,
      rounds: Int) =
    Similarity.kmeansFit(df, "vec_id", "embedding", k, rounds)
      .orderBy("cid", "dim").collect()
      .map(x => (x.getAs[Long]("cid"), x.getAs[Long]("dim"),
        x.getAs[Double]("centroid"), x.getAs[Long]("n_members"))).toSeq

  test("kmeansFit: each extra Lloyd round launches exactly 2 Spark jobs " +
      "(one kernel map + one (cid, dim) exchange, collected)") {
    val spark2 = spark
    import spark2.implicits._
    val emb = (0L until 40L).map(i =>
      (i, Seq(((i % 7).toFloat - 3f) / 3f, (i % 5).toFloat / 5f)))
      .toDF("vec_id", "embedding")
    def jobs(rounds: Int) = TestSpark.jobsIn(
      Similarity.kmeansFit(emb, "vec_id", "embedding", 3, rounds))._2
    val one = jobs(1)
    val three = jobs(3)
    assert(three - one == 4, s"rounds=1: $one jobs, rounds=3: $three jobs")
  }

  test("kmeansFit: ragged vector lengths raise, naming both lengths") {
    val spark2 = spark
    import spark2.implicits._
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    // md5("1") < md5("2") < md5("0") < md5("3"): with k = 1 the seed is
    // id 1, so id 3's longer vector meets the 2-long codebook in the map
    val emb = Seq((0L, Seq(0.0f, 1.0f)), (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(10.0f, 1.0f)), (3L, Seq(11.0f, 0.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val inMap = intercept[Exception](
      Similarity.kmeansFit(emb, "vec_id", "embedding", 1, 2))
    assert(messages(inMap).contains(
      "vector length 3 differs from the codebook's 2"), messages(inMap))
    // with k = 4 the ragged vector is a seed: the driver names both
    val inSeeds = intercept[Exception](
      Similarity.kmeansFit(emb, "vec_id", "embedding", 4, 2))
    assert(messages(inSeeds).contains("vector 3 has length 3, the seeds " +
      "have 2"), messages(inSeeds))
  }

  test("kmeansFit: null and empty vectors are skipped — the fit equals " +
      "the fit without them") {
    val spark2 = spark
    import spark2.implicits._
    val pts = (0L until 30L).map(i =>
      (i, Seq((i % 4).toFloat, (i % 3).toFloat / 2f)))
    val holes = (100L until 110L).map(i =>
      (i, if (i % 2 == 0) null else Seq.empty[Float]))
    val clean = pts.toDF("vec_id", "embedding")
    val withHoles = (pts ++ holes).toDF("vec_id", "embedding")
    assert(kmeansRows(withHoles, 3, 3) == kmeansRows(clean, 3, 3))
    val cells = Similarity.fittedCells(withHoles, "vec_id", "embedding", 3,
      3).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells == Similarity.fittedCells(clean, "vec_id", "embedding", 3,
      3).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
  }

  test("bitextMargin: hand-computed ratio margins, mutual-best flags, " +
      "threshold filters") {
    val spark2 = spark
    import spark2.implicits._
    // cos: x1·y1=1.0 x1·y2=0.6 x2·y1=0.0 x2·y2=0.8 (unit vectors)
    // k=2 means: x1→Y 0.8, x2→Y 0.4, y1→X 0.5, y2→X 0.7
    // margin(x1,y1) = 1.0/0.65 = 1.538461538; mutual (y1's best is x1)
    // margin(x2,y2) = 0.8/0.55 = 1.454545455; mutual (0.8 > 0.6)
    val xs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("doc_id", "embedding")
    val ys = Seq((10L, Seq(1.0, 0.0)), (20L, Seq(0.6, 0.8)))
      .toDF("doc_id", "embedding")
    val out = Similarity.bitextMargin(xs, ys, "doc_id", "embedding",
        k = 2, threshold = 1.02)
      .orderBy("x_id").collect()
      .map(r => (r.getAs[Long]("x_id"), r.getAs[Long]("y_id"),
        r.getAs[Double]("margin"), r.getAs[Boolean]("mutual")))
    assert(out.toSeq == Seq((1L, 10L, 1.538461538, true),
      (2L, 20L, 1.454545455, true)))
    // a high threshold drops the weaker pair, keeps the stronger
    val strict = Similarity.bitextMargin(xs, ys, "doc_id", "embedding",
        k = 2, threshold = 1.5)
      .collect().map(_.getAs[Long]("x_id"))
    assert(strict.toSeq == Seq(1L))
    // the candidate-relation entry (the ANN-funnel serving form) gives
    // the same answer when fed the full candidate set
    import org.apache.spark.sql.functions.{broadcast, col, round}
    val cand = xs.select(col("doc_id").cast("long").as("x_id"),
        col("embedding").as("__xv"))
      .crossJoin(broadcast(ys.select(col("doc_id").cast("long").as("y_id"),
        col("embedding").as("__yv"))))
      .select(col("x_id"), col("y_id"),
        round(Similarity.cosine(col("__xv"), col("__yv")), 6)
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("cos"))
    val viaCand = Similarity.bitextMarginOnCandidates(cand, k = 2,
        threshold = 1.02)
      .orderBy("x_id").collect()
      .map(r => (r.getAs[Long]("x_id"), r.getAs[Long]("y_id"),
        r.getAs[Double]("margin"), r.getAs[Boolean]("mutual")))
    assert(viaCand.toSeq == out.toSeq)
  }

  test("bitextMarginFunnel: full probe is EXACTLY bitextMargin (the " +
      "witness the registered query rides); partial probes nest and " +
      "bound candidate volume") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(91)
    def side(n: Int, off: Long) = (0 until n).map(i =>
        (off + i, Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
      .toDF("doc_id", "embedding")
    val xs = side(30, 0L)
    val ys = side(30, 100L)
    val anchors = Similarity.hyperplanes(4, 8, seed = 7L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val exact = rows(Similarity.bitextMargin(xs, ys, "doc_id",
      "embedding", k = 3, threshold = 1.0))
    val full = rows(Similarity.bitextMarginFunnel(xs, ys, "doc_id",
      "embedding", k = 3, threshold = 1.0, anchors, nProbe = 4))
    assert(full == exact && exact.nonEmpty)
    // candidate volume: monotone in nProbe, |X|·|Y| at full probe,
    // strictly smaller at single probe; partial candidates nest
    val cands = (1 to 4).map(np => Similarity.bitextCandidates(
      xs, ys, "doc_id", "embedding", anchors, np)
      .select("x_id", "y_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(cands(3).size == 30 * 30)
    assert(cands(0).size < cands(3).size)
    (0 to 2).foreach(i => assert(cands(i).subsetOf(cands(i + 1))))
    // nProbe=1 candidates = pairs sharing the PRIMARY cell
    val xCell = xs.select(col("doc_id"),
        Similarity.anchorCellExpr(col("embedding"), anchors).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val yCell = ys.select(col("doc_id"),
        Similarity.anchorCellExpr(col("embedding"), anchors).as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want1 = (for { x <- xCell.keys; y <- yCell.keys
      if xCell(x) == yCell(y) } yield (x, y)).toSet
    assert(cands(0) == want1)
  }

  test("dbscan: hand-computed clusters, border takes the min core " +
      "neighbor's label, isolated point is noise") {
    // unit circle at fixed angles; one anchor => one cell => the full
    // cosine graph. τ=0.97 ≈ cos 14°: A = {0°,2°,4°,6°} and
    // B = {60°,62°,64°,66°} are 4-cliques (all cores at minPts=3);
    // 78° reaches only 66° (12°) and 64° (14°) => border of B;
    // 120° reaches nothing => noise.
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    val pts = Seq(1L -> 0.0, 2L -> 2.0, 3L -> 4.0, 4L -> 6.0,
      5L -> 60.0, 6L -> 62.0, 7L -> 64.0, 8L -> 66.0,
      9L -> 78.0, 10L -> 120.0)
    val emb2 = pts.map { case (id, d) => (id, v(d)) }
      .toDF("vec_id", "embedding")
    val oneCell = Array(Array(1, 1))
    val out = Similarity.dbscan(emb2, "vec_id", "embedding",
        tau = 0.97, minPts = 3, anchors = oneCell)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("role"),
        r.getAs[Long]("cluster"))).toSeq
    assert(out == Seq(
      (1L, "core", 1L), (2L, "core", 1L), (3L, "core", 1L),
      (4L, "core", 1L), (5L, "core", 5L), (6L, "core", 5L),
      (7L, "core", 5L), (8L, "core", 5L), (9L, "border", 5L),
      (10L, "noise", -1L)))
  }

  test("dbscan: the ε-graph is cell-bounded — near-identical vectors in " +
      "different cells never edge (the documented SemDeDup contract)") {
    // anchors [1,1] and [1,-1]: (1, +ε) lands in cell 1, (1, −ε) in
    // cell 2; cos ≈ 0.9998 but the pair is never a candidate
    val emb2 = Seq((1L, Array(1.0f, 0.01f)), (2L, Array(1.0f, -0.01f)))
      .toDF("vec_id", "embedding")
    val anchors = Array(Array(1, 1), Array(1, -1))
    val out = Similarity.dbscan(emb2, "vec_id", "embedding",
        tau = 0.5, minPts = 1, anchors = anchors)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[String]("role"), r.getAs[Long]("cluster"))).toSeq
    assert(out == Seq(("noise", -1L), ("noise", -1L)))
  }

  test("dbscanEdgeRecall: same-cell clones recall 1.0 at both probes; a " +
      "boundary pair is recovered only by the second probe") {
    // anchors [1,1] and [1,-1] in 2D: (1, +eps) -> primary cell 1,
    // (1, -eps) -> primary cell 2; both have the OTHER cell as their
    // second-nearest anchor, so the near-identical boundary pair is
    // missed at nProbe=1 and recovered at nProbe=2. The (0,1)/(0,1)
    // clone pair shares cell 1 at both depths.
    val emb2 = Seq(
      (1L, Array(1.0f, 0.01f)), (2L, Array(1.0f, -0.01f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val anchors = Array(Array(1, 1), Array(1, -1))
    val out = Similarity.dbscanEdgeRecall(emb2, "vec_id", "embedding",
        tau = 0.9, anchors = anchors)
      .orderBy("n_probe").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    // true edges at cos >= 0.9: (1,2) boundary pair + (3,4) clones = 2
    assert(out == Seq(("anchored", 1, 2L, 1L, 0.5),
      ("anchored", 2, 2L, 2L, 1.0)))
  }

  test("dbscanEdgeRecall fitted arm: cells that follow two tight planted " +
      "clusters keep every true edge (recall 1.0) where the generic " +
      "anchors may split them") {
    // the dbscanFitted fixture: two tight clusters + two isolated points;
    // at tau=0.995 true edges exist only WITHIN the tight clusters, and
    // the k=2 Lloyd fit maps each cluster into one cell
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val pts = (Seq(0.0, 1.0, 2.0, 3.0, 4.0, 2.5) ++
      Seq(180.0, 181.0, 182.0, 183.0, 184.0, 182.5) ++
      Seq(90.0, 270.0)).zipWithIndex
      .map { case (d, i) => (i.toLong + 1L, v(d).map(_.toFloat)) }
    val emb2 = pts.toDF("vec_id", "embedding")
    val anchors = Array(Array(1, 1), Array(1, -1))
    val out = Similarity.dbscanEdgeRecall(emb2, "vec_id", "embedding",
        tau = 0.995, anchors = anchors, fittedK = 2, fittedRounds = 4)
      .orderBy("method", "n_probe").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.length == 3)
    val fitted = out.find(_._1 == "fitted").get
    assert(fitted._3 == 30L) // 2 x C(6,2) true edges
    assert(fitted._5 == 1.0) // every true edge survives the fitted cells
    // the anchored single-probe arm audits the same 30 edges
    val anch1 = out.find(r => r._1 == "anchored" && r._2 == 1).get
    assert(anch1._3 == 30L)
  }

  test("dbscanFitted: fitted cells keep a tight planted cluster together " +
      "that seeded anchors split; assignment replays kmeansFit's argmin") {
    // two tight clusters on the unit circle, 6 points each at <= 4
    // degrees spread, plus two isolated points; k=2 Lloyd from
    // md5-smallest seeds converges to the two cluster directions, so
    // every within-cluster pair shares a fitted cell
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val pts = (Seq(0.0, 1.0, 2.0, 3.0, 4.0, 2.5).map(d => d) ++
      Seq(180.0, 181.0, 182.0, 183.0, 184.0, 182.5) ++
      Seq(90.0, 270.0)).zipWithIndex
      .map { case (d, i) => (i.toLong + 1L, v(d).map(_.toFloat)) }
    val emb2 = pts.toDF("vec_id", "embedding")
    val out = Similarity.dbscanFitted(emb2, "vec_id", "embedding",
        tau = 0.995, minPts = 3, k = 2, rounds = 4)
      .orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("role"),
        r.getAs[Long]("cluster"))).toSeq
    // both 6-point arcs are 4-degree tight (cos 4deg = 0.99756 >= tau),
    // so every point has >= 3 within-arc neighbors => all core;
    // clusters labeled by min id: 1 and 7; isolated points are noise
    assert(out.take(6).forall { case (_, r, c) => r == "core" && c == 1L })
    assert(out.slice(6, 12).forall { case (_, r, c) =>
      r == "core" && c == 7L })
    assert(out.drop(12).forall { case (_, r, c) =>
      r == "noise" && c == -1L })
  }

  test("mrlFidelity: full-width prefix overlaps exactly 1 everywhere; " +
      "a signal-free prefix degrades overlap; zero-overlap queries " +
      "are kept at 0") {
    // signal lives ONLY in dim 3: prefix of 2 dims is pure noise-free
    // CONSTANT direction → prefix ranking collapses to id ties
    val sig = Seq(
      (1L, Array(1.0f, 0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f, 0.9f)),
      (3L, Array(1.0f, 0.0f, -1.0f)),
      (4L, Array(1.0f, 0.0f, -0.9f)),
      (5L, Array(1.0f, 0.0f, 0.8f))
    ).toDF("vec_id", "embedding")
    // prefixDims = full width reproduces the full ranking: overlap 1
    val fullW = Similarity.mrlFidelity(sig, sig, "vec_id", "embedding",
      k = 2, prefixDims = 3).collect()
    assert(fullW.length == 5 &&
      fullW.forall(_.getAs[Double]("overlap_at_k") == 1.0))
    // 2-dim prefix: all prefix cosines are 1 (identical direction), so
    // prefix top-2 = two smallest OTHER ids — query 5's full top-2
    // ({1, 2}) survives, query 3's ({4, ...}) does not fully
    val pre = Similarity.mrlFidelity(sig, sig, "vec_id", "embedding",
        k = 2, prefixDims = 2)
      .collect().map(r => r.getAs[Long]("q_id") ->
        r.getAs[Double]("overlap_at_k")).toMap
    assert(pre(5L) == 1.0) // full top-2 {1,2} == prefix top-2 {1,2}
    assert(pre(3L) < 1.0)  // full {4,...} vs prefix {1,2}
    assert(pre.values.forall(v => v >= 0.0 && v <= 1.0))
  }
}
