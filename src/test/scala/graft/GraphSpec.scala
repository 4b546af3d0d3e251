package graft

import graft.ops.Graph
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // star toward "hub" plus one off-path edge; "lone" only points outward
  private lazy val edges = Seq(
    ("a", "hub"), ("b", "hub"), ("c", "hub"), ("lone", "a"))
    .toDF("src", "dst")

  test("pageRank: heavily-linked node outranks everything; ranks are " +
      "positive; two runs are bit-identical") {
    val r = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .collect().map(x => x.getAs[String]("node") -> x.getAs[Double]("rank"))
      .toMap
    assert(r.size == 5)
    assert(r("hub") == r.values.max)
    // "a" has one in-link, "b"/"c" have none → a outranks them
    assert(r("a") > r("b") && r("b") == r("c"))
    assert(r.values.forall(_ > 0.0))
    val r2 = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .collect().map(x => x.getAs[String]("node") -> x.getAs[Double]("rank"))
      .toMap
    assert(r == r2)
  }

  test("pageRank: ranks are a probability distribution — dangling mass " +
      "redistributes, total = 1 up to the per-node 9-dp rounding") {
    // rounding budget: each round rounds one 9-dp value per edge
    // (contribution) and per node (new rank), |err| <= 5e-10 each
    def tol(nEdges: Long, nNodes: Long) = (nEdges + nNodes) * 3 * 5e-10
    val r = Graph.pageRank(edges, "src", "dst", iterations = 3)
      .collect().map(_.getAs[Double]("rank"))
    assert(math.abs(r.sum - 1.0) <= tol(4, r.length),
      s"mass ${r.sum} leaked despite dangling redistribution")
    // and on the sf0.001 purchase graph, where EVERY supplier node is
    // dangling (no out-edges) — the case the leak used to be worst in
    val dir = "/root/testdata/sf0.001"
    val big = graft.queries.FeatureQueries.pageRankSuppliers(spark, dir)
      .collect().map(_.getAs[Double]("rank"))
    val nEdges = graft.sources.Tables.orders(spark, dir)
      .join(graft.sources.Tables.lineitem(spark, dir),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      .select("o_custkey", "l_suppkey").distinct().count()
    assert(math.abs(big.sum - 1.0) <= tol(nEdges, big.length),
      s"purchase-graph mass ${big.sum} (n=${big.length}, e=$nEdges)")
  }

  test("degreeStats: per-direction counts with zero-fill") {
    val d = Graph.degreeStats(edges, "src", "dst")
      .collect().map(x => x.getAs[String]("node") ->
        (x.getAs[Long]("out_deg"), x.getAs[Long]("in_deg"))).toMap
    assert(d("hub") == ((0L, 3L)))
    assert(d("a") == ((1L, 1L)))
    assert(d("lone") == ((1L, 0L)))
  }

  test("triangles: hand-checked counts, duplicates and orientation collapse") {
    // triangle {1,2,3} + dangling edge 3-4, with duplicate and reversed
    // spellings of the same edges
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L), (3L, 4L),
      (4L, 4L)) // self-loop dropped
      .toDF("a", "b")
    val r = Graph.triangles(e, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_nodes") == 4 && r.getAs[Long]("n_edges") == 4)
    assert(r.getAs[Long]("n_triangles") == 1)
    // 4-clique: C(4,3) = 4 triangles, every vertex bounded outdeg
    val k4 = (for { i <- 1L to 4L; j <- 1L to 4L if i < j } yield (i, j))
      .toDF("a", "b")
    assert(Graph.triangles(k4, "a", "b").collect()(0)
      .getAs[Long]("n_triangles") == 4)
    // star (hub to 5 leaves): degree orientation points every edge INTO
    // the hub, so the celebrity vertex generates ZERO wedges — the exact
    // skew-immunity the orientation exists for
    val star = (1L to 5L).map(i => (0L, i)).toDF("a", "b")
    val s = Graph.triangles(star, "a", "b").collect()(0)
    assert(s.getAs[Long]("n_triangles") == 0)
    assert(s.getAs[Long]("n_wedges") == 0)
  }

  test("kcorePeel: 2-core strips the tail, keeps the triangle; cascade " +
      "needs a second round") {
    // triangle 1-2-3 with a chain 3-4-5: peeling at k=2 drops 5 (deg 1)
    // in round 1, which drops 4 in round 2 — the cascade a single pass
    // misses
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    val oneRound = Graph.kcorePeel(edges, "a", "b", k = 2, rounds = 1)
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("degree"), r.getAs[Boolean]("in_core"))).toMap
    // after one round node 4 survives with residual degree 1 → flagged
    assert(oneRound.keySet == Set(1L, 2L, 3L, 4L))
    assert(oneRound(4L) == ((1L, false)))
    val converged = Graph.kcorePeel(edges, "a", "b", k = 2, rounds = 2)
      .collect().map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("degree"), r.getAs[Boolean]("in_core"))).toMap
    assert(converged.keySet == Set(1L, 2L, 3L))
    assert(converged.values.forall(_ == ((2L, true))))
  }

  test("randomWalks: deterministic under repartitioning, walks have the " +
      "requested length, edges are real") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (2L, 4L))
      .toDF("a", "b")
    val adj: Map[String, Set[String]] = {
      val e = Seq(1 -> 2, 2 -> 3, 3 -> 4, 1 -> 4, 2 -> 4)
        .map { case (x, y) => (x.toString, y.toString) }
      (e ++ e.map(_.swap)).groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).toSet }
    }
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.randomWalks(df, "a", "b", 3).orderBy("start").collect()
        .map(r => (r.getAs[String]("start"), r.getAs[String]("path"),
          r.getAs[Long]("steps")))
    val w1 = run(edges)
    val w2 = run(edges.repartition(5))
    assert(w1.toSeq == w2.toSeq)
    assert(w1.length == 4 && w1.forall(_._3 == 3L))
    w1.foreach { case (start, path, _) =>
      val hops = path.split(">")
      assert(hops.head == start && hops.length == 4)
      hops.sliding(2).foreach { p =>
        assert(adj(p(0)).contains(p(1)), s"fake edge in $path") }
    }
  }

  test("lpaCommunities: hand-traced synchronous rounds on two bridged " +
      "triangles; deterministic under repartitioning") {
    val spark2 = spark
    import spark2.implicits._
    // triangles {a,b,c} and {d,e,f} bridged by c—d; 3 synchronous rounds
    // with smallest-label ties trace to: {a,b,c}→a, d→c, {e,f}→c
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c"),
      ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")).toDF("x", "y")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.lpaCommunities(df, "x", "y", 3).collect()
        .map(r => r.getAs[String]("node") -> r.getAs[String]("community"))
        .toMap
    val out = run(edges)
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "c", "e" -> "c", "f" -> "c"), out.toString)
    assert(run(edges.repartition(5)) == out)
  }

  test("hits: star fixed point — authority 1 at the center, hubs 1/√3; " +
      "no-in-edge nodes have authority 0") {
    val spark2 = spark
    import spark2.implicits._
    val star = Seq(("c1", "s1"), ("c2", "s1"), ("c3", "s1"))
      .toDF("src", "dst")
    val r = Graph.hits(star, "src", "dst", iterations = 3).collect()
      .map(x => x.getAs[String]("node") ->
        (x.getAs[Double]("hub"), x.getAs[Double]("authority"))).toMap
    val invSqrt3 = BigDecimal(1.0 / math.sqrt(3.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r("s1") == ((0.0, 1.0)), r.toString)
    assert(Seq("c1", "c2", "c3").forall(c => r(c) == ((invSqrt3, 0.0))),
      r.toString)
  }

  test("hits: hand-traced first iteration on the 2-authority fixture; " +
      "L2 norms stay 1 up to rounding; deterministic under repartitioning") {
    val spark2 = spark
    import spark2.implicits._
    // c1→{s1,s2}, c2→s1: after the a-step a(s1)=2/√5, a(s2)=1/√5
    val edges = Seq(("c1", "s1"), ("c1", "s2"), ("c2", "s1"))
      .toDF("src", "dst")
    def dp9(x: Double) = BigDecimal(x)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val one = Graph.hits(edges, "src", "dst", iterations = 1).collect()
      .map(x => x.getAs[String]("node") ->
        (x.getAs[Double]("hub"), x.getAs[Double]("authority"))).toMap
    assert(one("s1")._2 == dp9(2.0 / math.sqrt(5.0)), one.toString)
    assert(one("s2")._2 == dp9(1.0 / math.sqrt(5.0)), one.toString)
    // h-step: raw h(c1)=a(s1)+a(s2), h(c2)=a(s1), over the ROUNDED a's
    val a1 = dp9(2.0 / math.sqrt(5.0)); val a2 = dp9(1.0 / math.sqrt(5.0))
    val nrm = math.sqrt((a1 + a2) * (a1 + a2) + a1 * a1)
    assert(one("c1")._1 == dp9((a1 + a2) / nrm), one.toString)
    assert(one("c2")._1 == dp9(a1 / nrm), one.toString)
    val three = Graph.hits(edges, "src", "dst", iterations = 3)
    val rows = three.collect().map(x =>
      (x.getAs[Double]("hub"), x.getAs[Double]("authority")))
    // each of the 6 normalizations rounds ≤ n values to 9 dp
    val tol = rows.length * 4 * 5e-10
    assert(math.abs(rows.map(r => r._1 * r._1).sum - 1.0) <= tol)
    assert(math.abs(rows.map(r => r._2 * r._2).sum - 1.0) <= tol)
    val rep = Graph.hits(edges.repartition(5), "src", "dst", 3).collect()
      .map(x => (x.getAs[String]("node"), x.getAs[Double]("hub"),
        x.getAs[Double]("authority"))).sortBy(_._1)
    val base = three.collect().map(x => (x.getAs[String]("node"),
      x.getAs[Double]("hub"), x.getAs[Double]("authority"))).sortBy(_._1)
    assert(rep.toSeq == base.toSeq)
  }

  test("modularity: barbell graph hits the textbook 70/196; the " +
      "all-in-one-community partition scores exactly 0") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d"))
      .toDF("src", "dst")
    val good = Seq("a", "b", "c").map((_, "x")) ++
      Seq("d", "e", "f").map((_, "y"))
    val gm = graft.ops.Graph.modularity(edges.repartition(3), "src",
        "dst", good.toDF("node", "community"))
      .orderBy("community")
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // per community: 3 nodes, degree mass 7, 3 internal edges
    assert(gm.map(t => (t._2, t._3, t._4)) == Seq((3L, 7L, 3L), (3L, 7L, 3L)))
    assert(gm.forall(_._5 == 70.0 / 196.0))
    val all = Seq("a", "b", "c", "d", "e", "f").map((_, "z"))
    val gz = graft.ops.Graph.modularity(edges, "src", "dst",
        all.toDF("node", "community"))
      .as[(String, Long, Long, Long, Double)].head()
    assert(gz._5 == 0.0)
  }

  test("personalizedPageRank: seeds = all nodes degenerates to plain " +
      "pageRank (within a rounding ulp); components unreachable from " +
      "the seeds hold rank exactly 0") {
    val edges = Seq(("s", "a"), ("a", "s"), ("s", "b"), ("b", "a"),
      ("x", "y")).toDF("src", "dst")
    val allNodes = Seq("s", "a", "b", "x", "y").toDF("node")
    val ppr = graft.ops.Graph.personalizedPageRank(edges, "src", "dst",
        allNodes, 3)
      .orderBy("node").as[(String, Double)].collect().toMap
    val pr = graft.ops.Graph.pageRank(edges, "src", "dst", 3)
      .orderBy("node").as[(String, Double)].collect().toMap
    assert(ppr.keySet == pr.keySet)
    // integer half-up recursion vs pageRank's double path: each round
    // can differ by one nano-ulp before amplification
    ppr.foreach { case (n, r) =>
      assert(math.abs(r - pr(n)) <= 1e-8, s"$n: $r vs ${pr(n)}") }
    // seed only at s: the x->y component never receives mass
    val seeded = graft.ops.Graph.personalizedPageRank(
        edges.repartition(3), "src", "dst", Seq("s").toDF("node"), 3)
      .as[(String, Double)].collect().toMap
    assert(seeded("x") == 0.0 && seeded("y") == 0.0)
    assert(seeded("s") > seeded("a") && seeded("a") > 0.0)
    // a seed outside the graph is ignored; an all-outside set throws
    val ok = graft.ops.Graph.personalizedPageRank(edges, "src", "dst",
      Seq("s", "zzz").toDF("node"), 1)
    assert(ok.count() == 5)
    intercept[IllegalArgumentException] {
      graft.ops.Graph.personalizedPageRank(edges, "src", "dst",
        Seq("zzz").toDF("node"), 1).count()
    }
  }

  test("ariPartitions: identical (even relabeled) partitions score " +
      "exactly 1; a hand contingency matches the pair-count formula; " +
      "degenerate pairings yield null") {
    import graft.ops.Graph
    import org.apache.spark.sql.functions.{col, concat, lit}
    val pa = Seq(("n1", "x"), ("n2", "x"), ("n3", "y"), ("n4", "y"),
      ("n5", "z")).toDF("node", "a")
    val relabeled = pa.select(col("node"),
      concat(lit("grp_"), col("a")).as("b"))
    val same = Graph.ariPartitions(pa, relabeled)
      .as[(Long, Long, Long, Long, Long, Option[Double])].head()
    assert(same._1 == 5 && same._6.contains(1.0))

    // hand case: A = {1,2,3|4,5,6}, B = {1,2|3,4|5,6}
    val a2 = Seq("n1" -> "p", "n2" -> "p", "n3" -> "p",
      "n4" -> "q", "n5" -> "q", "n6" -> "q").toDF("node", "a")
    val b2 = Seq("n1" -> "u", "n2" -> "u", "n3" -> "v",
      "n4" -> "v", "n5" -> "w", "n6" -> "w").toDF("node", "b")
    val got = Graph.ariPartitions(a2.repartition(3), b2)
      .as[(Long, Long, Long, Long, Long, Option[Double])].head()
    // contingency: p:(u2,v1) q:(v1,w2) -> sum_comb = 1+0+0+1 = 2
    // sum_a = 2*C(3,2)=6, sum_b = 3*C(2,2)=3, tot = C(6,2)=15
    assert(got._3 == 2 && got._4 == 6 && got._5 == 3)
    val ari = (2.0 * 2 * 15 - 2 * 6 * 3) / ((6 + 3) * 15.0 - 2 * 6 * 3)
    assert(got._6.contains(ari))

    // one-cluster vs singletons is chance level: ARI exactly 0
    val onec = Seq("n1", "n2", "n3").map((_, "all")).toDF("node", "a")
    val singl = Seq("n1", "n2", "n3").map(n => (n, n)).toDF("node", "b")
    val g0 = Graph.ariPartitions(onec, singl)
      .as[(Long, Long, Long, Long, Long, Option[Double])].head()
    assert(g0._6.contains(0.0))
    // BOTH one-cluster: the chance correction vanishes -> null
    val whole = Seq("n1", "n2", "n3").map((_, "whole")).toDF("node", "b")
    val gd = Graph.ariPartitions(onec, whole)
      .as[(Long, Long, Long, Long, Long, Option[Double])].head()
    assert(gd._6.isEmpty)
  }

  test("ktruss: K4 survives k=4 with support 2 everywhere; a pendant " +
      "edge and a triangle-poor tail peel away at k=3") {
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"))
    val g = (k4 ++ Seq(("d", "e"), ("e", "f"))).toDF("x", "y")
    val t3 = Graph.ktruss(g.repartition(3), "x", "y", k = 3, rounds = 2)
      .orderBy("u", "v").as[(String, String, Long)].collect().toSeq
    // K4 edges each sit in 2 triangles; the d-e and e-f tail has none
    assert(t3.map(e => (e._1, e._2)) == k4.sorted)
    assert(t3.forall(_._3 == 2L))
    val t4 = Graph.ktruss(g, "x", "y", k = 4, rounds = 2)
      .as[(String, String, Long)].collect()
    assert(t4.length == 6 && t4.forall(_._3 == 2L))
    // k=5 needs support 3: K4 can't provide it -> empty
    assert(Graph.ktruss(g, "x", "y", k = 5, rounds = 2).count() == 0)
  }

  // 61 nodes "0".."60", out-edges i→i+1 and i→7i+1 (mod 61): no node is
  // dangling (one that is adds a job per PageRank round) and "10"→"10"
  // is a self-loop
  private lazy val ring61 = (0 until 61).flatMap { i =>
    Seq(i -> (i + 1) % 61, i -> (7 * i + 1) % 61)
  }.map { case (a, b) => (a.toString, b.toString) }.toDF("src", "dst")

  test("pageRank, personalizedPageRank and hits: jobs per round and " +
      "set-up jobs on the 61-node fixture") {
    import TestSpark.roundJobs
    val seeds = Seq("0", "5").toDF("node")
    assert(roundJobs(Graph.pageRank(ring61, "src", "dst", _)) == ((14, 7)))
    assert(roundJobs(Graph.personalizedPageRank(ring61, "src", "dst", seeds,
      _)) == ((19, 7)))
    assert(roundJobs(Graph.hits(ring61, "src", "dst", _)) == ((8, 14)))
  }

  test("degenerate graphs: an empty edge relation and a graph of " +
      "self-loops only") {
    val none = Seq.empty[(String, String)].toDF("src", "dst")
    assert(Graph.pageRank(none, "src", "dst").count() == 0)
    assert(Graph.hits(none, "src", "dst").count() == 0)
    assert(Graph.ktruss(none, "src", "dst", k = 3, rounds = 2).count() == 0)
    assert(Graph.kcorePeel(none, "src", "dst", k = 2, rounds = 2)
      .count() == 0)
    assert(Graph.lpaCommunities(none, "src", "dst", 2).count() == 0)
    assert(Graph.triangles(none, "src", "dst")
      .as[(Long, Long, Long, Long)].collect().toSeq == Seq((0L, 0L, 0L, 0L)))
    val noSeed = intercept[IllegalArgumentException](
      Graph.personalizedPageRank(none, "src", "dst", Seq("a").toDF("node")))
    assert(noSeed.getMessage.contains("no seed node appears in the graph"),
      noSeed.getMessage)
    // pageRank keeps self-loops, hits drops them
    val loops = Seq(("a", "a"), ("b", "b")).toDF("src", "dst")
    assert(Graph.pageRank(loops, "src", "dst").as[(String, Double)]
      .collect().toMap == Map("a" -> 0.5, "b" -> 0.5))
    assert(Graph.hits(loops, "src", "dst").count() == 0)
  }
}
