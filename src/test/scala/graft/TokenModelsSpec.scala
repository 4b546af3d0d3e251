package graft

import graft.ops.TokenModels
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TokenModelsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // two separable "domains": a/b tokens vs x/y tokens, one mixed doc
  private lazy val docs = Seq(
    (1L, "a b a b", "en"),
    (2L, "a a b b", "en"),
    (3L, "x y x y", "zz"),
    (4L, "x x y y", "zz"),
    (5L, "a b x y", "en"))
    .toDF("doc_id", "text", "lang")

  test("dsirWeights: target-looking docs get higher log weight than " +
      "raw-looking ones; weights are finite and deterministic") {
    val w = TokenModels.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_target"), r.getAs[Double]("log_weight"))).toMap
    assert(w.size == 5)
    // pure-target-vocabulary docs score above pure-raw-vocabulary docs
    assert(w(1L)._2 > w(3L)._2)
    assert(w(2L)._2 > w(4L)._2)
    // the mixed doc sits between the pure extremes
    assert(w(5L)._2 < w(1L)._2 && w(5L)._2 > w(3L)._2)
    assert(w(1L)._1 && !w(3L)._1)
    // second run is bit-identical (md5 bucketing, exact DECIMAL sums)
    val w2 = TokenModels.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("log_weight")).toMap
    assert(w.view.mapValues(_._2).toMap == w2)
  }

  test("naiveBayes: separable classes classify correctly; scores are " +
      "log-probabilities (negative); every doc gets exactly one row") {
    val out = TokenModels.naiveBayes(docs, "doc_id", "text", "lang",
        buckets = 16)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("predicted"), r.getAs[Double]("best_bits"))).toMap
    assert(out.size == 5)
    assert(out(1L)._1 == "en" && out(2L)._1 == "en")
    assert(out(3L)._1 == "zz" && out(4L)._1 == "zz")
    assert(out.values.forall(_._2 < 0.0))
  }

  test("naiveBayes: argmax ties resolve to the lexicographically last " +
      "class") {
    // perfectly symmetric two-class corpus: every doc scores equally under
    // both classes → the max-struct tie-break must pick 'b' every time
    val sym = Seq((1L, "t t", "a"), (2L, "t t", "b")).toDF("doc_id", "text", "lang")
    val out = TokenModels.naiveBayes(sym, "doc_id", "text", "lang", 8)
      .collect().map(r => r.getAs[String]("predicted")).distinct.toSeq
    assert(out == Seq("b"))
  }

  test("buildVocab: two-phase ids ≡ global (count desc, term) row_number") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val docs = Seq.tabulate(80)(i =>
      (i.toLong, Seq.fill(12)(s"w${rnd.nextInt(30)}").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TokenModels.buildVocab(docs, "text", minCount = 2L)
    val naive = got.select("term", "term_count")
      .withColumn("ref_id", row_number().over(
        Window.orderBy(col("term_count").desc, col("term"))).cast("long"))
    val joined = got.join(naive, Seq("term", "term_count")).collect()
    assert(joined.nonEmpty)
    assert(joined.forall(r =>
      r.getAs[Long]("term_id") == r.getAs[Long]("ref_id")))
    // ids are contiguous 1..|V|
    val ids = joined.map(_.getAs[Long]("term_id")).sorted
    assert(ids.head == 1L && ids.last == ids.length.toLong)
    // encode: OOV term maps to 0, in-vocab keeps its id and position
    val enc = TokenModels.encodeDocs(
      Seq((99L, "w0 zzz-never-seen")).toDF("doc_id", "text"),
      "doc_id", "text", got).collect()
      .map(r => r.getAs[Long]("pos") -> r.getAs[Long]("term_id")).toMap
    assert(enc(1L) == 0L && enc(0L) > 0L)
  }

  private def bpeSyms(df: org.apache.spark.sql.DataFrame)
      : Map[Int, Seq[String]] =
    df.collect()
      .map(r => (r.getAs[Int]("word_id"), r.getAs[Int]("pos"),
        r.getAs[String]("sym")))
      .groupBy(_._1).map { case (w, rows) =>
        w -> rows.sortBy(_._2).map(_._3).toSeq }

  test("bpeEncode: GPT-2-style fixture — rank precedence and multi-level " +
      "merges reach the hand-computed fixpoint") {
    // BpeMerges ranks: (t,h)=0 (th,e)=1 (a,t)=2 (a,n)=3 (o,r)=4 (j,o)=5
    // (i,n)=6 (jo,in)=7 (s,c)=8 (sc,an)=9 (d,at)=10 (dat,a)=11
    val doc = Seq((1L, "the data join scan that attt")).toDF("doc_id", "text")
    val out = bpeSyms(graft.ops.TokenModels.bpeEncode(doc, "doc_id", "text",
      graft.queries.TextQueries.BpeMerges,
      graft.queries.TextQueries.BpeRounds))
    // "the":  t h e  -(t,h)-> th e -(th,e)-> the
    assert(out(0) == Seq("the"))
    // "data": d a t a -(a,t)-> d at a -(d,at)-> dat a -(dat,a)-> data
    assert(out(1) == Seq("data"))
    // "join": j o i n -(j,o) beats (i,n)-> jo i n -(i,n)-> jo in
    //         -(jo,in)-> join
    assert(out(2) == Seq("join"))
    // "scan": s c a n -(a,n) beats (s,c)-> s c an -(s,c)-> sc an
    //         -(sc,an)-> scan
    assert(out(3) == Seq("scan"))
    // "that": t h a t -(t,h) rank 0 beats (a,t) rank 2-> th a t
    //         -(a,t)-> th at; (th,at) unlearned -> fixpoint
    assert(out(4) == Seq("th", "at"))
    // "attt": a t t t -(a,t)-> at t t; (at,t) unlearned -> fixpoint
    assert(out(5) == Seq("at", "t", "t"))
  }

  test("wordpieceEncode: BERT greedy longest-match — classic unaffable " +
      "split, longest-first beats shorter prefixes, maxPieceLen caps, " +
      "unmatchable word collapses to one [UNK]") {
    val vocab = Seq("un", "##aff", "##able", "ab", "abc", "##d", "a",
      "##b", "##c", "q", "##u")
    val doc = Seq((1L, "unaffable abcd abba zebra")).toDF("doc_id", "text")
    val out = bpeSyms(graft.ops.TokenModels.wordpieceEncode(doc, "doc_id",
      "text", vocab, maxPieceLen = 4))
    // the canonical BERT example
    assert(out(0) == Seq("un", "##aff", "##able"))
    // "abcd": longest first — abc (not ab), then ##d
    assert(out(1) == Seq("abc", "##d"))
    // "abba": ab, then ##b ##a fails (no ##a)... greedy takes ##b,
    // then stuck at 'a' with only bare 'a' in vocab → whole word UNK
    assert(out(2) == Seq("[UNK]"))
    // "zebra": 'z' unmatched at position 0 → [UNK]
    assert(out(3) == Seq("[UNK]"))
    // maxPieceLen: with cap 2 the abc piece is out of reach
    val capped = bpeSyms(graft.ops.TokenModels.wordpieceEncode(
      Seq((1L, "abcd")).toDF("doc_id", "text"), "doc_id", "text", vocab,
      maxPieceLen = 2))
    assert(capped(0) == Seq("ab", "##c", "##d"))
  }

  test("bpeEncode: overlapping occurrences merge greedily left-to-right " +
      "(run parity), all occurrences of the chosen pair in one round") {
    val doc = Seq((1L, "aaa aaaa aaaaa anananx")).toDF("doc_id", "text")
    val out = bpeSyms(graft.ops.TokenModels.bpeEncode(doc, "doc_id", "text",
      Seq(("a", "a"), ("a", "n")), maxRounds = 2))
    assert(out(0) == Seq("aa", "a"))         // occ run 0,1 -> merge 0 only
    assert(out(1) == Seq("aa", "aa"))        // occ run 0,1,2 -> merge 0, 2
    assert(out(2) == Seq("aa", "aa", "a"))   // occ run 0,1,2,3 -> 0, 2
    // non-consecutive occurrences all merge in ONE round: a n a n a n x
    // -(a,n) at 0,2,4 (separate runs)-> an an an x
    assert(out(3) == Seq("an", "an", "an", "x"))
  }

  test("bpeEncode: words with no applicable merges pass through as " +
      "characters; non-letter runs are not words") {
    val doc = Seq((1L, "zzz 123 qq")).toDF("doc_id", "text")
    val out = bpeSyms(graft.ops.TokenModels.bpeEncode(doc, "doc_id", "text",
      graft.queries.TextQueries.BpeMerges,
      graft.queries.TextQueries.BpeRounds))
    assert(out.size == 2) // "123" is not a [a-z]+ word
    assert(out(0) == Seq("z", "z", "z"))
    assert(out(1) == Seq("q", "q"))
  }

  test("generateBigram: every generated bigram exists in the corpus, " +
      "dead ends carry, and partitioning cannot move a token") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b a c a b d"), (2L, "b a c c a"), (3L, "x y"))
      .toDF("doc_id", "text")
    val seeds = Seq("a", "y").toDF("tok")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.TokenModels.generateBigram(df, "text", seeds, "tok", 5)
        .collect().map(r => r.getAs[String]("seed") ->
          (r.getAs[String]("generated"), r.getAs[Int]("steps"))).toMap
    val out = run(docs)
    // "y" has no outgoing bigram: prefix carries untouched
    assert(out("y") == ("y", 0))
    val (gen, steps) = out("a")
    val toksOut = gen.split(" ").toSeq
    assert(toksOut.head == "a" && toksOut.size == steps + 1)
    assert(steps == 5) // 'a' never dead-ends in this corpus... and every
    // adjacent generated pair is a real corpus bigram
    val corpusBigrams = docs.collect().flatMap { r =>
      val t = r.getAs[String]("text").split(" ")
      t.zip(t.drop(1))
    }.toSet
    toksOut.zip(toksOut.drop(1)).foreach(p =>
      assert(corpusBigrams.contains(p), s"fabricated bigram $p in $gen"))
    assert(run(docs.repartition(7)) == out)
  }

  test("bpeLearn: count-argmax-merge rounds reach the hand-computed " +
      "merges and stop early when pairs run out") {
    val spark2 = spark
    import spark2.implicits._
    // "aba aba cab": (a,b)=3 (b,a)=2 (c,a)=1 → learn (a,b);
    // state ab|a, ab|a, c|ab → (ab,a)=2 (c,ab)=1 → learn (ab,a);
    // state aba, aba, c|ab → learn (c,ab) cnt 1; round 4 has no pairs
    val doc = Seq((1L, "aba aba cab")).toDF("doc_id", "text")
    val m = graft.ops.TokenModels.bpeLearn(doc, "doc_id", "text", 4)
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[Int]("merge_rank"), r.getAs[String]("a"),
        r.getAs[String]("b"), r.getAs[Long]("pair_count"))).toSeq
    assert(m == Seq((0, "a", "b", 3L), (1, "ab", "a", 2L),
      (2, "c", "ab", 1L)))
  }

  test("bpeLearn: count ties break to the lexicographically smallest " +
      "pair; learned merges replay through bpeEncode") {
    val spark2 = spark
    import spark2.implicits._
    val doc = Seq((1L, "xy yx xy yx")).toDF("doc_id", "text")
    val m = graft.ops.TokenModels.bpeLearn(doc, "doc_id", "text", 1)
      .collect().map(r => (r.getAs[Int]("merge_rank"),
        r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("pair_count"))).toSeq
    assert(m == Seq((0, "x", "y", 2L))) // (x,y) and (y,x) tie at 2
    // applying the learned table reproduces the learner's final state
    val learned = m.map { case (_, a, b, _) => (a, b) }
    val out = bpeSyms(graft.ops.TokenModels.bpeEncode(doc, "doc_id",
      "text", learned, maxRounds = 1))
    assert(out(0) == Seq("xy") && out(1) == Seq("y", "x"))
    assert(out(2) == Seq("xy") && out(3) == Seq("y", "x"))
  }

  private def bits9d(x: Double): Double =
    BigDecimal(math.log(x) / math.log(2.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("unigramFit: hand-computed two-round hard-EM on a 3-piece corpus") {
    val spark2 = spark
    import spark2.implicits._
    // words: ab (x2), b (x1); candidates a:2, b:3, ab:2 → tot 7
    // round-1 costs: a=-log2(2/7), b=-log2(3/7), ab=-log2(2/7)
    // "ab" segments as [ab] (1.807 < a+b = 3.03); "b" as [b]
    // uses: ab=2, b=1 → tu=3, V=3 → final costs over (used+1)/(tu+V):
    // ab=-log2(3/6)=1, b=-log2(2/6), a=-log2(1/6)
    val docs = Seq((1L, "ab ab b")).toDF("doc_id", "text")
    val got = graft.ops.TokenModels.unigramFit(docs, "text",
        maxPieceLen = 4, maxVocab = 64, rounds = 2, maxWordLen = 10)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet == Set("a", "b", "ab"))
    assert(got("ab") == ((2L, 2L, 1.0)))
    assert(got("b") == ((1L, 1L, -bits9d(2.0 / 6))))
    assert(got("a") == ((1L, 0L, -bits9d(1.0 / 6))))
  }

  test("unigram kernel: cost ties break to the lexicographically " +
      "smallest separator-joined path; unsegmentable words return empty") {
    import graft.functions.UnigramKernel
    import org.apache.spark.unsafe.types.UTF8String
    def seg(word: String, costs: Map[String, Long]): Seq[String] = {
      val t = new java.util.HashMap[String, java.lang.Long]()
      costs.foreach { case (k, v) => t.put(k, java.lang.Long.valueOf(v)) }
      val arr = UnigramKernel.segmentWord(UTF8String.fromString(word), t, 4)
      (0 until arr.numElements()).map(arr.getUTF8String(_).toString)
    }
    // [a,a] costs 2c, [aa] costs 2c → tie → "a␁a" < "aa" → two pieces
    assert(seg("aa", Map("a" -> 1000L, "aa" -> 2000L)) == Seq("a", "a"))
    // cheaper whole piece wins outright
    assert(seg("aa", Map("a" -> 1000L, "aa" -> 1999L)) == Seq("aa"))
    // missing character → unsegmentable → empty
    assert(seg("axa", Map("a" -> 1000L)) == Seq.empty)
    // longest-match via cost, not greed: [ab][cd] beats [abc][d]
    assert(seg("abcd", Map("ab" -> 10L, "cd" -> 10L, "abc" -> 5L,
      "d" -> 100L, "a" -> 50L, "b" -> 50L, "c" -> 50L)) == Seq("ab", "cd"))
  }

  test("sgdLinear: bit-exact BigInt replay, separable fixture classified, " +
      "partitioning-invariant") {
    val fix = Seq(
      (1L, "good good", true), (2L, "good", true),
      (3L, "good good good", true), (4L, "bad bad", false),
      (5L, "bad", false), (6L, "bad bad bad", false)
    ).toDF("doc_id", "text", "lab")
    val buckets = 4
    val out = TokenModels.sgdLinear(fix, "doc_id", "text", col("lab"),
        buckets = buckets, iters = 3, etaShift = 2, biasCount = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_target"),
        r.getAs[Long]("score_nano"), r.getAs[Boolean]("predicted"))).toSeq

    // pure-Scala BigInt replay of the documented arithmetic
    def bucket(tok: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12)
      (java.lang.Long.parseLong(hex, 16) % buckets).toInt
    }
    val docs6 = Seq(
      (1L, "good good", 1), (2L, "good", 1), (3L, "good good good", 1),
      (4L, "bad bad", 0), (5L, "bad", 0), (6L, "bad bad bad", 0))
    val counts = docs6.map { case (id, text, y) =>
      val cs = text.split(" ").filter(_.nonEmpty).map(bucket)
        .groupBy(identity).map { case (b, a) => b -> BigInt(a.length) }
      (id, y, cs + (buckets -> BigInt(1)))
    }
    def tdiv(x: BigInt, d: BigInt): BigInt =
      if (x < 0) -((-x) / d) else x / d
    val nano = BigInt(1000000000L)
    val n = BigInt(docs6.size)
    var w = Array.fill(buckets + 1)(BigInt(0))
    for (_ <- 1 to 3) {
      val g = Array.fill(buckets + 1)(BigInt(0))
      for ((_, y, cs) <- counts) {
        val a = cs.map { case (b, c) => w(b) * c }.sum
        val bb = nano + a.abs
        // residual quantized ONCE per doc; gradients are exact rq*c
        val rq = tdiv((if (y == 1) a - bb else a + bb) * nano, 2 * bb)
        for ((b, c) <- cs) g(b) += rq * c
      }
      for (b <- 0 to buckets) w(b) -= tdiv(g(b), n * 4)
    }
    val expect = counts.map { case (id, y, cs) =>
      val a = cs.map { case (b, c) => w(b) * c }.sum
      (id, y == 1, a.toLong, a >= 0)
    }
    assert(out == expect)
    // all docs separable => classified correctly after 3 iterations
    assert(out.forall { case (_, t, _, p) => t == p })
    // partitioning invariance: the arithmetic has no order dependence
    val out2 = TokenModels.sgdLinear(fix.repartition(7), "doc_id", "text",
        col("lab"), buckets = buckets, iters = 3, etaShift = 2,
        biasCount = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("is_target"),
        r.getAs[Long]("score_nano"), r.getAs[Boolean]("predicted"))).toSeq
    assert(out2 == out)
  }
  test("naiveBayesCrossVal: disjoint-vocab classes score perfectly, a " +
      "mislabeled doc costs exactly its fold, zero-train classes drop") {
    // md5-bucket folds (k=2): ids 2,3,5,6 land in fold 0; 1,4,9,12 in
    // fold 1 (computed from the same 48-bit md5 prefix the op uses)
    val docs = Seq(
      (2L, "good good", "A"), (3L, "good", "A"),
      (5L, "bad bad", "B"), (6L, "bad", "B"),
      (1L, "good good good", "A"), (4L, "bad bad bad", "B"),
      (9L, "good", "A"),
      // mislabeled: B text, labeled A — its fold (12 -> fold 1) loses one
      (12L, "bad bad", "A")
    ).toDF("doc_id", "text", "lang")
    val out = TokenModels.naiveBayesCrossVal(docs, "doc_id", "text",
        "lang", buckets = 8, folds = 2)
      .orderBy("fold").collect()
      .map(r => (r.getAs[Long]("fold"), r.getAs[Long]("n_test"),
        r.getAs[Long]("n_correct"), r.getAs[Double]("accuracy"))).toSeq
    // fold 1 test docs (1,4,9,12) score against the CLEAN fold-0 model:
    // 1,4,9 correct; 12 says "bad bad" so the model calls it B while the
    // label reads A => 3/4.
    // fold 0 test docs (2,3,5,6) score against the POISONED fold-1 model
    // (doc 12 put two "bad" tokens into class A, and A holds a 3/4
    // prior): hand-computed, "bad bad" scores A -4.860 vs B -4.919 bits
    // and "bad" scores A -2.637 vs B -3.459 => docs 5,6 flip to A => 2/4.
    // Label noise propagating through the held-out models is exactly
    // what CV exists to surface.
    assert(out == Seq((0L, 4L, 2L, 0.5), (1L, 4L, 3L, 0.75)))

    // a class present in only ONE fold: its test docs can never be
    // predicted (zero training docs) but still count in n_test
    val docs2 = Seq(
      (2L, "good good", "A"), (5L, "bad bad", "B"),
      (1L, "good", "A"), (4L, "bad", "B"),
      (3L, "weird weird", "C") // C exists only in fold 0
    ).toDF("doc_id", "text", "lang")
    val out2 = TokenModels.naiveBayesCrossVal(docs2, "doc_id", "text",
        "lang", buckets = 8, folds = 2)
      .orderBy("fold").collect()
      .map(r => (r.getAs[Long]("fold"), r.getAs[Long]("n_test"),
        r.getAs[Long]("n_correct"))).toSeq
    val fold0 = out2.find(_._1 == 0L).get
    assert(fold0._2 == 3L) // 2, 5, 3 all tested
    assert(fold0._3 <= 2L) // doc 3 cannot be correct: C has no train docs
  }

  test("fitOrLoadSgd: second call serves from disk (no refit), stale or " +
      "corrupt artifacts refit cleanly, served scores match training") {
    val fix = Seq(
      (1L, "good good", true), (2L, "good", true),
      (3L, "bad bad", false), (4L, "bad", false)
    ).toDF("doc_id", "text", "lab")
    val path = java.nio.file.Files.createTempDirectory("graft_sgd_model")
      .resolve("w.parquet").toString
    val before = TokenModels.sgdFits.get()
    val w1 = TokenModels.fitOrLoadSgd(fix, "doc_id", "text", col("lab"),
      path, buckets = 4, iters = 3, etaShift = 2, biasCount = 1)
    assert(TokenModels.sgdFits.get() == before + 1)
    val w2 = TokenModels.fitOrLoadSgd(fix, "doc_id", "text", col("lab"),
      path, buckets = 4, iters = 3, etaShift = 2, biasCount = 1)
    assert(TokenModels.sgdFits.get() == before + 1) // loaded, not refit
    def wseq(w: org.apache.spark.sql.DataFrame) = w.orderBy("bucket")
      .collect().map(r => (r.getInt(0), r.getDecimal(1).toBigInteger)).toSeq
    assert(wseq(w1) == wseq(w2))
    // served scores equal the trainer's margins
    val scored = TokenModels.sgdScore(fix, "doc_id", "text", w2,
        buckets = 4, biasCount = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_nano"))).toSeq
    val trained = TokenModels.sgdLinear(fix, "doc_id", "text", col("lab"),
        buckets = 4, iters = 3, etaShift = 2, biasCount = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_nano"))).toSeq
    assert(scored == trained)
    // a DIFFERENT hyperparameter fingerprint refits instead of serving
    TokenModels.fitOrLoadSgd(fix, "doc_id", "text", col("lab"),
      path, buckets = 4, iters = 2, etaShift = 2, biasCount = 1)
    assert(TokenModels.sgdFits.get() == before + 2)
    // a corrupt artifact refits instead of failing
    val dir = new java.io.File(path)
    dir.listFiles().foreach(_.delete())
    java.nio.file.Files.write(java.nio.file.Paths.get(path, "part-0.parquet"),
      "garbage".getBytes)
    TokenModels.fitOrLoadSgd(fix, "doc_id", "text", col("lab"),
      path, buckets = 4, iters = 3, etaShift = 2, biasCount = 1)
    assert(TokenModels.sgdFits.get() == before + 3)
  }

  test("sgdAttribution: contributions sum to the margin, top bucket is " +
      "|contribution| argmax with smallest-bucket ties") {
    val fix = Seq(
      (1L, "good good", true), (2L, "good", true),
      (3L, "bad bad", false), (4L, "bad", false)
    ).toDF("doc_id", "text", "lab")
    val att = TokenModels.sgdAttribution(fix, "doc_id", "text", col("lab"),
        buckets = 4, iters = 3, etaShift = 2, biasCount = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_nano"),
        r.getAs[Int]("top_bucket"), r.getAs[Long]("contrib_nano")))
    val scores = TokenModels.sgdLinear(fix, "doc_id", "text", col("lab"),
        buckets = 4, iters = 3, etaShift = 2, biasCount = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("score_nano")))
    // margins agree with the trainer (same arithmetic, one more join)
    assert(att.map(a => (a._1, a._2)).toSeq == scores.toSeq)
    // the top contribution's magnitude dominates the residual margin:
    // |contrib| >= |score - contrib| / 4 buckets is loose; assert the
    // sharp property instead — no other bucket can beat it, so
    // |contrib| * (buckets + 1) >= |score| (triangle inequality)
    att.foreach { case (_, sc, _, ct) =>
      assert(math.abs(ct).toLong * 5L >= math.abs(sc), s"$sc $ct") }
    // all-zero weights edge: zero iterations => every contribution is 0
    // and the tie resolves to the smallest bucket id
    val zero = TokenModels.sgdAttribution(fix, "doc_id", "text", col("lab"),
        buckets = 4, iters = 0, etaShift = 2, biasCount = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Int]("top_bucket"), r.getAs[Long]("contrib_nano")))
    assert(zero.forall(_._2 == 0L))
    assert(zero.forall(_._1 >= 0))
  }

  test("sgdOneVsRest: per-class margins bit-identical to independent " +
      "binary runs; separable 3-class fixture fully classified") {
    val fix = Seq(
      (1L, "red red", "r"), (2L, "red", "r"), (3L, "red red red", "r"),
      (4L, "green green", "g"), (5L, "green", "g"),
      (6L, "blue blue", "b"), (7L, "blue", "b"), (8L, "blue blue blue", "b")
    ).toDF("doc_id", "text", "lab")
    val ovr = TokenModels.sgdOneVsRest(fix, "doc_id", "text", "lab",
        buckets = 8, iters = 4, etaShift = 2, biasCount = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("label"),
        r.getAs[String]("predicted"), r.getAs[Long]("score_nano"))).toSeq
    // separable vocab => every doc classified correctly
    assert(ovr.forall { case (_, l, p, _) => l == p })
    // equivalence: the winning margin equals the INDEPENDENT binary
    // model's score for that class (same arithmetic, class as a key)
    for (cls <- Seq("r", "g", "b")) {
      val bin = TokenModels.sgdLinear(fix, "doc_id", "text",
          col("lab") === cls, buckets = 8, iters = 4, etaShift = 2,
          biasCount = 1)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Long]("score_nano")).toMap
      ovr.filter(_._3 == cls).foreach { case (id, _, _, sc) =>
        assert(sc == bin(id), s"doc $id class $cls") }
    }
  }

  test("naiveBayesLabelAudit: the planted mislabel surfaces with a " +
      "positive margin; suspects are exactly the CV's incorrect docs") {
    // the naiveBayesCrossVal fixture: doc 12 carries B text labeled A
    val docs = Seq(
      (2L, "good good", "A"), (3L, "good", "A"),
      (5L, "bad bad", "B"), (6L, "bad", "B"),
      (1L, "good good good", "A"), (4L, "bad bad bad", "B"),
      (9L, "good", "A"), (12L, "bad bad", "A")
    ).toDF("doc_id", "text", "lang")
    val suspects = TokenModels.naiveBayesLabelAudit(docs, "doc_id",
        "text", "lang", buckets = 8, folds = 2)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("label"),
        r.getAs[String]("predicted"), r.getAs[Double]("margin_bits")))
      .toSeq.sortBy(_._1)
    // doc 12 must be flagged: the clean fold-0 model reads "bad bad" as B
    val planted = suspects.find(_._1 == 12L).get
    assert(planted._2 == "A" && planted._3 == "B" && planted._4 > 0.0)
    // every suspect margin is strictly positive (argmax beat the label)
    assert(suspects.forall(_._4 > 0.0), suspects.toString)
    // invariant: suspects == the CV's incorrect docs, fold by fold
    val cv = TokenModels.naiveBayesCrossVal(docs, "doc_id", "text",
        "lang", buckets = 8, folds = 2)
      .collect().map(r => r.getAs[Long]("n_test") -
        r.getAs[Long]("n_correct")).sum
    assert(suspects.size.toLong == cv)
  }

  test("naiveBayesLearningCurve: nested strata fixture — a class absent " +
      "below its level cannot be predicted, then the curve saturates") {
    // md5 strata (n=4, from the op's own 48-bit prefix): ids 2,3,6 -> 0;
    // 1,9,12 -> 1; 5,7,11 -> 2; 4,25,26 -> 3 (the held-out stratum).
    // "good" hashes to bucket 3, "bad" to bucket 4 (disjoint, k=8).
    val docs = Seq(
      (2L, "good good", "A"), (3L, "good", "A"), (6L, "good", "A"),
      (1L, "bad bad", "B"), (9L, "bad", "B"), (12L, "bad", "B"),
      (5L, "good", "A"), (7L, "bad", "B"), (11L, "bad", "B"),
      (4L, "good", "A"), (25L, "good good", "A"), (26L, "bad", "B")
    ).toDF("doc_id", "text", "lang")
    val out = TokenModels.naiveBayesLearningCurve(docs, "doc_id", "text",
        "lang", buckets = 8, strata = 4, levels = Seq(1, 2, 3))
      .orderBy("level").collect()
      .map(r => (r.getAs[Int]("level"), r.getAs[Long]("n_train"),
        r.getAs[Long]("n_test"), r.getAs[Long]("n_correct"),
        r.getAs[Double]("accuracy"))).toSeq
    // level 1 trains on stratum 0 only (pure A): B is dropped from the
    // priors, every test doc predicts A => 2/3. Levels 2 and 3 see both
    // disjoint vocabularies => perfect.
    assert(out == Seq(
      (1, 3L, 3L, 2L, 2.0 / 3.0),
      (2, 6L, 3L, 3L, 1.0),
      (3, 9L, 3L, 3L, 1.0)))
  }

  test("sgdLearningCurve: every level bit-identical to an independent " +
      "binary fit on its nested stratum subset; n_train nests") {
    // the NB learning-curve fixture's md5 strata (n=4): ids 2,3,6 -> 0;
    // 1,9,12 -> 1; 5,7,11 -> 2; 4,25,26 -> 3 (held out)
    val docs = Seq(
      (2L, "good good", "A"), (3L, "good", "A"), (6L, "good", "A"),
      (1L, "bad bad", "B"), (9L, "bad", "B"), (12L, "bad", "B"),
      (5L, "good", "A"), (7L, "bad", "B"), (11L, "bad", "B"),
      (4L, "good", "A"), (25L, "good good", "A"), (26L, "bad", "B")
    ).toDF("doc_id", "text", "lang")
    val pred = col("lang") === "B"
    val (buckets, iters, etaShift, bias) = (8, 6, 2, 1)
    val out = TokenModels.sgdLearningCurve(docs, "doc_id", "text", pred,
        buckets, iters, etaShift, bias, strata = 4, levels = Seq(1, 2, 3))
      .orderBy("level").collect()
      .map(r => (r.getAs[Int]("level"), r.getAs[Long]("n_train"),
        r.getAs[Long]("n_test"), r.getAs[Long]("n_correct"),
        r.getAs[Double]("accuracy"))).toSeq
    assert(out.map(_._2) == Seq(3L, 6L, 9L), "nested training sizes")
    assert(out.forall(_._3 == 3L))
    // level 1 trains on pure-A strata: the all-negative fit predicts
    // not-B everywhere => the 2 A test docs are right; levels seeing
    // both vocabularies separate perfectly
    assert(out.map(_._4) == Seq(2L, 3L, 3L), out.toString)
    // bit-equivalence: each level == an INDEPENDENT binary GD run on
    // strata < level, its final weights scoring the held-out stratum
    val strataOf = Map(2L -> 0, 3L -> 0, 6L -> 0, 1L -> 1, 9L -> 1,
      12L -> 1, 5L -> 2, 7L -> 2, 11L -> 2, 4L -> 3, 25L -> 3, 26L -> 3)
    val testDocs = docs.filter(col("doc_id").isin(
      strataOf.filter(_._2 == 3).keys.toSeq: _*))
    val occTest = TokenModels.sgdCounts(testDocs, "doc_id", "text", pred,
      buckets, bias)
    for ((level, _, _, nCorrect, _) <- out) {
      val trainIds = strataOf.filter(_._2 < level).keys.toSeq
      val occL = TokenModels.sgdCounts(
        docs.filter(col("doc_id").isin(trainIds: _*)), "doc_id", "text",
        pred, buckets, bias)
      var w = TokenModels.sgdInitWeights(spark, buckets)
      for (_ <- 1 to iters)
        w = TokenModels.sgdRound(occL, w, etaShift).localCheckpoint()
      val m = TokenModels.sgdMargins(occTest, w).collect()
        .map(r => (r.getAs[Boolean]("__t"),
          r.getAs[java.math.BigDecimal]("__a").longValueExact()))
      assert(m.count { case (t, a) => (a >= 0) == t } == nCorrect,
        s"level $level replay mismatch")
    }
  }

  test("sgd trainer: each extra round launches exactly 7 Spark jobs, " +
      "for the unkeyed fit and for the level-keyed learning curve") {
    val fix = Seq(
      (1L, "good good", true), (2L, "good", true),
      (3L, "good good good", true), (4L, "bad bad", false),
      (5L, "bad", false), (6L, "bad bad bad", false)
    ).toDF("doc_id", "text", "lab")
    // training runs eagerly inside the call: the jobs counted are the
    // count step, the doc count and the rounds, not the returned scoring
    def fit(iters: Int) = TestSpark.jobsIn(TokenModels.sgdLinear(fix,
      "doc_id", "text", col("lab"), buckets = 4, iters = iters,
      etaShift = 2, biasCount = 1))._2
    def curve(iters: Int) = TestSpark.jobsIn(TokenModels.sgdLearningCurve(
      fix, "doc_id", "text", col("lab"), buckets = 4, iters = iters,
      etaShift = 2, biasCount = 1, strata = 2, levels = Seq(1)))._2
    val (f1, f3, c1, c3) = (fit(1), fit(3), curve(1), curve(3))
    assert((f3 - f1, c3 - c1) == (2 * 7, 2 * 7),
      s"fit: $f1 jobs at iters=1, $f3 at 3; curve: $c1 and $c3")
  }

  test("sgd trainer: an empty corpus and a learning-curve level with no " +
      "training doc raise, naming the empty fit") {
    val empty = Seq.empty[(Long, String, Boolean)]
      .toDF("doc_id", "text", "lab")
    val noDocs = intercept[IllegalArgumentException](
      TokenModels.sgdLinear(empty, "doc_id", "text", col("lab"),
        buckets = 4, iters = 2, etaShift = 2, biasCount = 1))
    assert(noDocs.getMessage.contains("sgd fit has no training doc"),
      noDocs.getMessage)
    // the learning-curve fixture's md5 strata (n=4) without stratum 0
    // (ids 2, 3, 6): level 1 trains on strata < 1, which hold no doc
    val docs = Seq(
      (1L, "bad bad", "B"), (9L, "bad", "B"), (12L, "bad", "B"),
      (5L, "good", "A"), (7L, "bad", "B"), (11L, "bad", "B"),
      (4L, "good", "A"), (25L, "good good", "A"), (26L, "bad", "B")
    ).toDF("doc_id", "text", "lang")
    val noLevel = intercept[IllegalArgumentException](
      TokenModels.sgdLearningCurve(docs, "doc_id", "text",
        col("lang") === "B", buckets = 8, iters = 2, etaShift = 2,
        biasCount = 1, strata = 4, levels = Seq(1, 2, 3)))
    assert(noLevel.getMessage.contains(
      "sgd fit at level=1 has no training doc"), noLevel.getMessage)
  }
}
