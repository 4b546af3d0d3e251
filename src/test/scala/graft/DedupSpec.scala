package graft

import graft.ops.Dedup
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps"),
    (2L, "the quick brown fox jumps"),       // exact dup of 1
    (3L, "the quick brown fox leaps"),       // near dup of 1 (4/6 tokens)
    (4L, "completely different words here"),
    (5L, "")                                  // empty doc
  ).toDF("doc_id", "text")

  test("exact dedup keeps the minimum id per content group") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L, 4L, 5L))
    val groups = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(groups.find(_.getAs[Long]("canonical_id") == 1L)
      .get.getAs[Long]("group_size") == 2L)
  }

  test("tokens: distinct, empty-token-free; empty doc yields no rows") {
    val t = Dedup.tokens(docs, "doc_id", "text")
    assert(t.filter($"id" === 5L).count() == 0)
    assert(t.filter($"id" === 1L).count() == 5)
    assert(t.filter($"token" === "").count() == 0)
  }

  test("verifySets ≡ tokenSets verify columns; empty/null docs absent") {
    val withNull = docs.unionByName(
      Seq((6L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    for (n <- Seq(1, 2)) {
      val full = Dedup.tokenSets(withNull, "doc_id", "text", n)
        .select("id", "toks_v", "n_tokens")
      val fast = Dedup.verifySets(withNull, "doc_id", "text", n)
      assert(fast.unionAll(full).except(fast.intersect(full)).count() == 0,
        s"verifySets diverges from tokenSets at n=$n")
      assert(fast.count() == full.count())
      assert(fast.filter($"id".isin(5L, 6L)).count() == 0)
    }
  }

  test("2-gram shingles slide over adjacent tokens") {
    val g = Dedup.shingles(docs.filter($"doc_id" === 1L), "doc_id", "text", 2)
      .select("token").as[String].collect().sorted
    assert(g.toSeq == Seq("brown fox", "fox jumps", "quick brown", "the quick"))
    // short docs produce nothing rather than a reversed-sequence artifact
    val short = Seq((9L, "single")).toDF("doc_id", "text")
    assert(Dedup.shingles(short, "doc_id", "text", 2).count() == 0)
  }

  test("connected components: chains merge, singletons stay") {
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val comps = graft.ops.Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component"))
      .toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L))
  }

  test("alternating-star CC ≡ union-find on random graphs and a deep chain") {
    def unionFind(n: Long, pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]() ++
        (0L until n).map(i => i -> i)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // roots are component minima (unions point larger roots at smaller),
      // so find(i) is exactly the operator's min-id component label
      (0L until n).map(i => i -> find(i)).toMap
    }
    val rnd = new scala.util.Random(11)
    val cases: Seq[(Long, Seq[(Long, Long)])] = Seq(
      // sparse random graph
      (80L, Seq.fill(60)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter { case (a, b) => a != b }),
      // chain of diameter 59 — deeper than label-prop's default round budget
      (60L, (0L until 59L).map(i => (i, i + 1))),
      // two cliques + isolated nodes
      (20L, (for (i <- 0 until 8; j <- i + 1 until 8) yield (i.toLong, j.toLong)) ++
        (for (i <- 10 until 16; j <- i + 1 until 16) yield (i.toLong, j.toLong))))
    cases.foreach { case (n, pairs) =>
      val expected = unionFind(n, pairs)
      val ids = (0L until n).toDF("id")
      val pairsDf = pairs.toDF("id_a", "id_b")
      val stars = graft.ops.Dedup.connectedComponentsStars(ids, pairsDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stars == expected)
    }
    // union-find path compression sanity: find(i) is the component min
    // because unions always point the larger root at the smaller one
  }

  test("near-dup cluster dedup keeps one survivor per cluster") {
    val survivors = graft.ops.Dedup.nearDupDedup(docs, "doc_id", "text", 0.9)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 1 and 2 are exact dups (one cluster → keep 1); 3,4,5 survive
    assert(survivors == Seq(1L, 3L, 4L, 5L))
  }

  test("fast cluster dedup: exact dups collapse; unique docs survive") {
    val survivors = graft.ops.Dedup.nearDupDedupFast(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 1 and 2 are identical → same signature in every band → one survivor;
    // unverified LSH may or may not merge near-dup 3, never unrelated 4/5
    assert(survivors.head == 1L && !survivors.contains(2L))
    assert(survivors.contains(4L) && survivors.contains(5L))
    // verified stars: only true ≥ 0.9 edges survive → near-dup 3 (J=2/3)
    // cannot be merged even when it shares a bucket
    val verified = graft.ops.Dedup.nearDupDedupFast(docs, "doc_id", "text",
        threshold = 0.9)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(verified == Seq(1L, 3L, 4L, 5L))
  }

  test("jaccard pairs: exact dup scores 1.0, near dup 4/6, disjoint absent") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(math.abs(pairs((1L, 3L)) - 4.0 / 6) < 1e-12)
    assert(math.abs(pairs((2L, 3L)) - 4.0 / 6) < 1e-12)
    assert(pairs.size == 3)
  }

  test("maxDf cap drops hot tokens from candidates but keeps true jaccard") {
    // token 'x' is in every doc (hot); pairs must still be found via rare
    // tokens, and the reported jaccard must use the FULL token sets.
    val d = Seq(
      (1L, "x a b c"), (2L, "x a b c"), (3L, "x z z2 z3")
    ).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(d, "doc_id", "text", threshold = 0.9, maxDf = 2)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Double]("jaccard") == 1.0) // full sets incl. 'x'
  }

  test("minhash LSH finds exact dups; candidates verified with true jaccard") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
      threshold = 0.99, numHashes = 12, bands = 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.toSeq == Seq((1L, 2L))) // identical docs always collide
  }

  // full-corpus pair-graph survivors from the SAME machinery the
  // incremental path uses — incrementalState over the whole corpus already
  // labels every doc with its component = survivor id
  private def fullSurvivors(df: org.apache.spark.sql.DataFrame,
      threshold: Double): Set[Long] =
    Dedup.incrementalState(df, "doc_id", "text", threshold)
      .select("component").distinct().as[Long].collect().toSet

  test("incremental dedup ≡ full recompute, including an old-cluster bridge") {
    // two old clusters {1,2} and {3,4} at threshold 0.5; batch doc 5 is the
    // union of both token sets → J(5,·) = 0.5 to members of BOTH clusters.
    // A full recompute merges everything into one component; the
    // incremental path must reproduce that via contraction, not keep the
    // two old survivors separate.
    val old = Seq(
      (1L, "a b c d"), (2L, "a b c d e"),
      (3L, "w x y z"), (4L, "w x y z v")).toDF("doc_id", "text")
    val batch = Seq((5L, "a b c d w x y z"), (6L, "totally new thing")
      ).toDF("doc_id", "text")
    val full = fullSurvivors(old.unionByName(batch), 0.5)
    val state = Dedup.incrementalState(old, "doc_id", "text", 0.5)
    val inc = Dedup.incrementalDedup(batch, "doc_id", "text", state, 0.5)
      .as[Long].collect().toSet
    assert(inc == full)
    // whatever LSH found, doc 6 is always a singleton survivor
    assert(inc.contains(6L))
  }

  test("incremental dedup on the corpus: state round-trips through parquet" +
    " carrying no raw text, survivors equal the full recompute") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val isBatch = org.apache.spark.sql.functions.pmod(
      $"doc_id", org.apache.spark.sql.functions.lit(4)) === 3
    val statePath = s"/tmp/graft_inc_state_${System.nanoTime()}"
    Dedup.incrementalState(docs.filter(!isBatch), "doc_id", "text", 0.9)
      .write.parquet(statePath)
    val state = spark.read.parquet(statePath)
    // the persisted index is signatures + sets + labels — no text column,
    // so the old corpus is not (and cannot be) re-read by the batch run
    assert(!state.columns.contains("text"))
    val inc = Dedup.incrementalDedup(docs.filter(isBatch), "doc_id", "text",
        state, 0.9)
      .as[Long].collect().toSet
    assert(inc == fullSurvivors(docs, 0.9))
  }

  test("incremental-dedup state key: derived from the compiled bytes of " +
      "the operator and its kernels, so a change to any of them gets a new key") {
    import graft.queries.DedupQueries
    val dir = java.nio.file.Files.createTempDirectory("graft-statekey").toString
    docs.write.mode("overwrite").parquet(dir)
    val old = spark.read.parquet(dir)
    val classes = DedupQueries.StateClasses
    assert(classes.contains("graft/ops/Dedup$.class") &&
      classes.contains("graft/functions/NgramHashes.class"))
    val code = classes.map(DedupQueries.classBytes)
    assert(code.forall(_.nonEmpty))
    val key = DedupQueries.stateKey(old, code)
    // the same bytes give the same key
    assert(DedupQueries.stateKey(old, code.map(_.clone())) == key)
    // one changed byte in any one class, a new key
    code.indices.foreach { c =>
      val edited = code.map(_.clone())
      val b = edited(c)
      b(b.length / 2) = (b(b.length / 2) ^ 1).toByte
      assert(DedupQueries.stateKey(old, edited) != key, classes(c))
    }
    // so does another compiled class standing in for an edited Dedup
    assert(DedupQueries.stateKey(old,
      DedupQueries.classBytes("graft/ops/Ivf$.class") +: code.tail) != key)
  }

  test("containmentPairs: fragment-in-superset is directed (a→b only); " +
      "output equals the brute-force quadratic join on the corpus") {
    val frag = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "intro words alpha beta gamma delta and a very long tail of " +
        "unrelated content keeps jaccard low"),
      (3L, "totally different text with nothing shared here at all"))
      .toDF("doc_id", "text")
    val dir1 = Dedup.containmentPairs(frag, "doc_id", "text", 0.9, n = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(dir1.contains((1L, 2L)), "fragment → superset missed")
    assert(!dir1.contains((2L, 1L)), "containment must be asymmetric")
    // and the corpus-wide result is exactly the naive quadratic join's
    val corpus = graft.sources.Tables.documents(spark,
      "/root/testdata/sf0.001")
    def grams(t: String): Set[String] = {
      val ts = t.split(" ").filter(_.nonEmpty)
      if (ts.length < 3) Set.empty[String]
      else ts.sliding(3).map(_.mkString(" ")).toSet
    }
    val gs = corpus.select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => id -> grams(t) }.filter(_._2.nonEmpty)
    val brute = (for {
      (a, ga) <- gs; (b, gb) <- gs if a != b
      if (ga & gb).size.toDouble / ga.size >= 0.8 - 1e-12
    } yield (a, b)).toSet
    val got = Dedup.containmentPairs(corpus, "doc_id", "text", 0.8, n = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == brute)
  }

  test("simhash: identical docs share hash; pairs report hamming 0") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(1L) == sh(2L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << 32)))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("hamming")))
    assert(pairs.contains((1L, 2L, 0)))
  }

  test("chunkDedup: first chunk occurrence survives, later copies drop; " +
      "a fully-duplicated doc reassembles to NULL") {
    val d = Seq(
      (1L, "a b c d"),   // chunks (size 2): "a b", "c d"
      (2L, "a b x y"),   // "a b" seen in doc 1 → only "x y" survives
      (3L, "c d"),       // fully covered by doc 1 → NULL
      (4L, "p q r"))     // "p q", "r" — tail chunk shorter than size
      .toDF("doc_id", "text")
    val m = Dedup.chunkDedup(d, "doc_id", "text", chunkSize = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("n_kept_chunks"),
          r.getAs[String]("dedup_text"))).toMap
    assert(m(1L) == ((2L, 2L, "a b c d")))
    assert(m(2L) == ((2L, 1L, "x y")))
    assert(m(3L) == ((1L, 0L, null)))
    assert(m(4L) == ((2L, 2L, "p q r")))
  }

  test("spanRemoval: cross-doc and intra-doc duplicated spans removed " +
      "from ALL copies; overlapping covers union; unique docs untouched") {
    val docs = Seq(
      (1L, "a b c d e f"),   // shares 3-gram "a b c" with doc 2
      (2L, "x y a b c q"),
      (3L, "g h i g h i"),   // intra-doc: "g h i" at 0 and 3 -> fully gone
      (4L, "m n o p"))       // unique -> untouched
      .toDF("doc_id", "text")
    val m = graft.ops.Dedup.spanRemoval(docs, "doc_id", "text", minTokens = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"),
          r.getAs[String]("clean_text")))).toMap
    assert(m(1L) == ((6L, 3L, "d e f")))
    assert(m(2L) == ((6L, 3L, "x y q")))
    assert(m(3L) == ((6L, 6L, null)))
    assert(m(4L) == ((4L, 0L, "m n o p")))
  }

  test("spanRemoval: a k > minTokens duplicated run is removed wholesale " +
      "via its overlapping grams") {
    // the shared 5-token run spans 3 overlapping 3-grams in each doc
    val docs = Seq(
      (1L, "u v w x y z1"),
      (2L, "z2 u v w x y"))
      .toDF("doc_id", "text")
    val m = graft.ops.Dedup.spanRemoval(docs, "doc_id", "text", minTokens = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(m(1L) == ((5L, "z1")))
    assert(m(2L) == ((5L, "z2")))
  }

  test("crossSlice leakage: one shared content per label pair counted " +
      "once regardless of copy multiplicity") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "en", "shared text"), (2L, "fr", "shared text"),
      (3L, "fr", "shared text"), // second fr copy must not double-count
      (4L, "en", "only english"), (5L, "de", "nur deutsch"))
      .toDF("doc_id", "lang", "text")
    docs.createOrReplaceTempView("documents_fixture")
    // drive the same shape the registered query uses, over the fixture
    import org.apache.spark.sql.functions._
    val norm = concat_ws(" ", array_sort(array_distinct(
      filter(split(col("text"), " "), t => t =!= ""))))
    val d = docs.select(md5(norm).as("__h"),
      col("lang").as("__l")).distinct()
    val out = d.select(col("__h"), col("__l").as("lang_a"))
      .join(d.select(col("__h"), col("__l").as("lang_b")), Seq("__h"))
      .filter(col("lang_a") < col("lang_b"))
      .groupBy("lang_a", "lang_b").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[String]("lang_a"),
        r.getAs[String]("lang_b")) -> r.getAs[Long]("n")).toMap
    assert(out == Map(("en", "fr") -> 1L))
  }

  test("editDistanceJoin: equals brute-force levenshtein pairs on random " +
      "small-alphabet strings (q-gram filter + short-string band are " +
      "jointly lossless)") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new scala.util.Random(7)
    val vocab = (1 to 60).map(_ =>
      (1 to (1 + rng.nextInt(6))).map(_ => "ab" (rng.nextInt(2))).mkString)
      .distinct
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      a <- vocab; b <- vocab if a < b
      dd = lev(a, b) if dd <= 2 && math.abs(a.length - b.length) <= 2
    } yield (a, b, dd)).toSet
    val got = graft.ops.Dedup
      .editDistanceJoin(vocab.toDF("s"), "s", maxDist = 2)
      .collect().map(r => (r.getAs[String]("s_a"), r.getAs[String]("s_b"),
        r.getAs[Int]("dist"))).toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("exactKeepBest: highest score survives per content group, ties " +
      "to the smallest id; singletons untouched") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "same text", 0.4), (2L, "same text", 0.9),
      (3L, "same text", 0.9), // ties 2 at 0.9 → smaller id 2 wins
      (4L, "unique", 0.1)).toDF("doc_id", "text", "score")
    val out = graft.ops.Dedup.exactKeepBest(df, "doc_id", "text", "score")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("group_size"))).toSeq.sorted
    assert(out == Seq((2L, 3L), (4L, 1L)))
  }

  test("lshPlan: S-curve error masses behave (r=1 all-fp, b=1 all-fn), " +
      "exactly one winner, winner beats both extremes") {
    val rows = Dedup.lshPlan(spark, numHashes = 128, threshold = 0.8)
      .collect().map(r => (r.getAs[Int]("bands"),
        r.getAs[Double]("fp_mass"), r.getAs[Double]("fn_mass"),
        r.getAs[Double]("total_error"), r.getAs[Boolean]("chosen")))
      .sortBy(_._1)
    assert(rows.length == 8) // divisors of 128
    val byBands = rows.map(r => r._1 -> r).toMap
    // b=128, r=1: P = 1-(1-s)^128 ≈ 1 everywhere → huge fp, zero fn
    assert(byBands(128)._2 > 0.5 && byBands(128)._3 == 0.0)
    // b=1, r=128: P = s^128 ≈ 0 below 1 → zero fp, large fn
    assert(byBands(1)._2 == 0.0 && byBands(1)._3 > 0.1)
    val winners = rows.filter(_._5)
    assert(winners.length == 1)
    assert(winners.head._4 < byBands(1)._4 &&
      winners.head._4 < byBands(128)._4)
    // the textbook answer for t=0.8 at 128 perms
    assert(winners.head._1 == 8)
  }
}
