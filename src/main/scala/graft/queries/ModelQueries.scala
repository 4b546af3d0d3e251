package graft.queries

import graft.ops.Boost
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked model-training family over the tabular star schema —
  * the trainer that consumes what the feature store serves. The reference
  * stops at feature retrieval (`ML Feature Store Pipeline.py:286-309`);
  * [[graft.ops.Boost]] closes the loop with histogram gradient-boosted
  * stumps whose every training round is an exact relational replay, so
  * the DuckDB oracle re-derives the same model bit-for-bit from the same
  * parquet.
  */
object ModelQueries {

  private val GbmBins = 16
  private val GbmRounds = 3
  private val GbmTreeRounds = 2 // depth-2 × 2 rounds ≈ the stump unroll cost
  private val ScoreMod = 101 // scored-sample stride for the preds query

  private val RidgeLambda = 1000000L
  private val KnnClassBatch = 200L
  private val KnnClassK = 5
  private val BtItems = 8
  private val BtIters = 8

  /** Deterministic synthetic preference log over 8 items, planted
    * BT-consistently: contestants a ≠ b are md5-drawn per document, and
    * a wins with probability s_a/(s_a+s_b) under planted strengths
    * s_i = i+1 — decided by one more md5 draw modulo (s_a+s_b), the
    * [[graft.ops.Prep.hashBucket]] idiom with a per-row modulus. The
    * fit must (and does — ModelSpec-adjacent pins live in
    * PreferenceSpec) recover the planted order at any SF.
    */
  private def btPairs(spark: SparkSession, dir: String): DataFrame = {
    def h(parts: Column*): Column =
      graft.functions.Kernels.md5hash48(concat(parts: _*))
    val d = col("doc_id").cast("string")
    val a = pmod(h(d, lit("|a")), lit(BtItems.toLong))
    val bRaw = pmod(h(d, lit("|b")), lit((BtItems - 1).toLong))
    Tables.documents(spark, dir)
      .select(col("doc_id"), a.as("__a"),
        when(bRaw >= a, bRaw + 1L).otherwise(bRaw).as("__b"))
      .select(col("doc_id"), col("__a"), col("__b"),
        (pmod(h(d, lit("|w")), col("__a") + col("__b") + 2L) <
          col("__a") + 1L).as("__aw"))
      .select(
        when(col("__aw"), col("__a")).otherwise(col("__b")).as("winner"),
        when(col("__aw"), col("__b")).otherwise(col("__a")).as("loser"))
  }

  /** Bradley–Terry strength fit over the synthetic preference log
    * ([[graft.ops.Preference.btStrength]], 8 MM iterations) — per-item
    * strength, game/win counts and the fitted ranking.
    */
  def btStrength(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Preference.btStrength(btPairs(spark, dir), "winner",
        "loser", BtIters)
      .orderBy("item")

  /** Per-pair observed-vs-fitted win rates under the same fit
    * ([[graft.ops.Preference.btPairStats]]) — the goodness-of-fit
    * residuals that flag intransitive preference structure.
    */
  def btPairs2(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Preference.btPairStats(btPairs(spark, dir), "winner",
        "loser", BtIters)
      .orderBy("item_a", "item_b")

  /** Majority-cycle census of the same preference log
    * ([[graft.ops.Preference.majorityCycles]]) — cyclic triads are the
    * direct Condorcet evidence against any one-scalar reward model.
    */
  def btCycles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Preference.majorityCycles(btPairs(spark, dir), "winner",
      "loser")

  /** The [[btPairs]] fixture with its PRESENTATION order retained: one
    * more md5 draw decides which contestant was shown first — by
    * construction independent of the outcome draw, so the planted log
    * is position-UNBIASED and the audit's z statistic reads the
    * finite-sample fluctuation, not an effect.
    */
  private def btPresentLog(spark: SparkSession, dir: String): DataFrame = {
    def h(parts: Column*): Column =
      graft.functions.Kernels.md5hash48(concat(parts: _*))
    val d = col("doc_id").cast("string")
    val a = pmod(h(d, lit("|a")), lit(BtItems.toLong))
    val bRaw = pmod(h(d, lit("|b")), lit((BtItems - 1).toLong))
    Tables.documents(spark, dir)
      .select(col("doc_id"), a.as("__a"),
        when(bRaw >= a, bRaw + 1L).otherwise(bRaw).as("__b"))
      .select(col("doc_id"), col("__a"), col("__b"),
        (pmod(h(d, lit("|w")), col("__a") + col("__b") + 2L) <
          col("__a") + 1L).as("__aw"),
        (pmod(h(d, lit("|s")), lit(2L)) === 0).as("__af"))
      .select(
        when(col("__af"), col("__a")).otherwise(col("__b")).as("first"),
        when(col("__af"), col("__b")).otherwise(col("__a")).as("second"),
        when(col("__aw"), col("__a")).otherwise(col("__b")).as("winner"))
  }

  /** Position-bias audit over the presentation-ordered preference log
    * ([[graft.ops.Preference.positionBias]]) — first-side win rate and
    * the exact two-proportion z, the "judge prefers whichever answer is
    * shown first" reward-hacking screen.
    */
  def prefPositionBias(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Preference.positionBias(btPresentLog(spark, dir),
      "first", "second", "winner")

  private val LenBiasBuckets = 8

  /** Length-bias audit ([[graft.ops.Preference.lengthBias]]) over a
    * document-pair judgment log riding `documents.n_chars`: docs 2k and
    * 2k+1 are compared with a PLANTED length-proportional outcome
    * (first wins with probability (len_first+1)/(len_first+len_second+2)
    * by md5 draw), so the audit's per-delta-bin win rates climb across
    * bins — the monotone signature a length-hacked reward model leaves.
    */
  def prefLengthBias(spark: SparkSession, dir: String): DataFrame = {
    def h(parts: Column*): Column =
      graft.functions.Kernels.md5hash48(concat(parts: _*))
    val docs = Tables.documents(spark, dir)
    val e = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      .select(expr("doc_id DIV 2").as("k"),
        col("n_chars").as("len_first"))
    val o = docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
      .select(expr("doc_id DIV 2").as("k"),
        col("n_chars").as("len_second"))
    val log = e.join(o, Seq("k"))
      .withColumn("first_wins",
        pmod(h(col("k").cast("string"), lit("|lw")),
          col("len_first") + col("len_second") + 2L) <
          col("len_first") + 1L)
    graft.ops.Preference.lengthBias(log, "len_first", "len_second",
      "first_wins", "k", LenBiasBuckets)
  }

  /** Ridge regression by exact normal equations on the [[base]]
    * features ([[graft.ops.LinearModel.ridgeNormal]], λ = 10⁶): price
    * cents on (order day, balance cents) — the one-pass closed-form
    * regressor beside [[gbmStumps]]'s boosted trees and the GD loop.
    */
  def ridgeNormal(spark: SparkSession, dir: String): DataFrame =
    graft.ops.LinearModel.ridgeNormal(base(spark, dir), "price_c",
      "order_day", "acctbal_c", RidgeLambda)

  /** k-NN majority-vote classification of a 200-vector eval batch over
    * the embeddings corpus ([[graft.ops.Similarity.knnClassify]],
    * k = 5) — predicted label, vote count and the correctness bit per
    * batch vector.
    */
  def knnClass(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    graft.ops.Similarity.knnClassify(emb,
        emb.filter(col("vec_id") < KnnClassBatch),
        "vec_id", "embedding", "label", KnnClassK)
      .orderBy("vec_id")
  }

  def gbmStumps(spark: SparkSession, dir: String): DataFrame =
    Boost.gbmStumps(base(spark, dir), "o_orderkey", "urgent",
        Seq("price_c", "order_day", "acctbal_c"), GbmBins, GbmRounds)
      .orderBy("round")

  def gbmScore(spark: SparkSession, dir: String): DataFrame =
    Boost.gbmScore(base(spark, dir), "o_orderkey", "urgent",
        Seq("price_c", "order_day", "acctbal_c"), GbmBins, GbmRounds)
      .filter(pmod(col("o_orderkey"), lit(ScoreMod)) === 0)
      .orderBy("o_orderkey")

  /** Depth-2 boosted trees on the same base — root split plus each root
    * leaf's own split per round ([[graft.ops.Boost.gbmTree2]]); the
    * interaction-capable upgrade of [[gbmStumps]] at ONE extra keyed
    * histogram shuffle per round.
    */
  def gbmTrees(spark: SparkSession, dir: String): DataFrame =
    Boost.gbmTree2(base(spark, dir), "o_orderkey", "urgent",
        Seq("price_c", "order_day", "acctbal_c"), GbmBins, GbmTreeRounds)
      .orderBy("round", "node")

  /** The depth-2 model's final predictions on the [[gbmScore]] sample
    * stride — exercises the per-round leaf routing (root split → child
    * split or terminal fallback) end to end.
    */
  def gbmTreesScore(spark: SparkSession, dir: String): DataFrame =
    Boost.gbmTree2Score(base(spark, dir), "o_orderkey", "urgent",
        Seq("price_c", "order_day", "acctbal_c"), GbmBins, GbmTreeRounds)
      .filter(pmod(col("o_orderkey"), lit(ScoreMod)) === 0)
      .orderBy("o_orderkey")

  /** GBM base: orders × customer (broadcast dim join), label "is this
    * order URGENT", three BIGINT features — price cents, order epoch
    * day, customer balance cents. Exact integer features make the
    * histogram grid engine-portable.
    */
  private[graft] def base(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
          .select(col("c_custkey"),
            (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
              .as("acctbal_c"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"),
        (col("o_orderpriority") === "1-URGENT").cast("int").as("urgent"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("price_c"),
        // o_orderdate is parquet NTZ; the session tz is pinned UTC, so
        // the cast reads the stored µs instant (= DuckDB's epoch_us);
        // dates sit exactly on day boundaries so the division is exact
        floor(unix_micros(col("o_orderdate").cast("timestamp")) /
          86400000000L).cast("long").as("order_day"),
        col("acctbal_c"))

  /** The 3×3 Cramer determinant with [[graft.ops.LinearModel]]'s exact
    * operation sequence — the SQL twin must share the parse tree so the
    * unrounded doubles agree bitwise.
    */
  private def det3Sql(m00: String, m01: String, m02: String, m10: String,
      m11: String, m12: String, m20: String, m21: String, m22: String)
      : String =
    s"$m00 * ($m11 * $m22 - $m12 * $m21) - $m01 * ($m10 * $m22 - " +
      s"$m12 * $m20) + $m02 * ($m10 * $m21 - $m11 * $m20)"

  /** The MM recursion unrolled in exact HUGEINT (the Spark twin is
    * DECIMAL(38,0)): per round the per-item denominator
    * Σ ⌊n·10¹⁸/(p_a+p_b)⌋, the raw update ⌊W·10¹⁸/denom⌋ and the
    * renormalization ⌊raw·k·10⁹/Σraw⌋ — all operands non-negative, so
    * DuckDB's truncating `//` IS the pmod-floor division. Per-round
    * CTEs MATERIALIZED (each round reads its predecessor twice).
    */
  private lazy val btCtes: String = {
    val I = BtItems
    def hb(expr: String) = s"('0x' || substr(md5($expr), 1, 12))::BIGINT"
    val rounds = (1 to BtIters).map { r =>
      s"""d$r AS (SELECT g.a AS item,
         |    sum((CAST(g.n AS HUGEINT) * 1000000000000000000)
         |      // greatest(pa.p + pb.p, 1)) AS dn
         |  FROM g JOIN p${r - 1} pa ON g.a = pa.item
         |    JOIN p${r - 1} pb ON g.b = pb.item GROUP BY 1),
         |r$r AS (SELECT d.item,
         |    (CAST(it.n_wins AS HUGEINT) * 1000000000000000000)
         |      // greatest(d.dn, 1) AS raw
         |  FROM d$r d JOIN it ON it.item = d.item),
         |s$r AS (SELECT CAST(sum(raw) AS HUGEINT) AS z, count(*) AS k
         |  FROM r$r),
         |p$r AS MATERIALIZED (SELECT item,
         |    (raw * k * 1000000000) // greatest(z, 1) AS p
         |  FROM r$r, s$r)""".stripMargin
    }.mkString(",\n")
    s"""b1 AS (SELECT doc_id, ${hb("doc_id || '|a'")} % $I AS a,
       |    ${hb("doc_id || '|b'")} % ${I - 1} AS br FROM documents),
       |b2 AS (SELECT doc_id, a,
       |    CASE WHEN br >= a THEN br + 1 ELSE br END AS b FROM b1),
       |pr AS (SELECT CASE WHEN w THEN a ELSE b END AS winner,
       |    CASE WHEN w THEN b ELSE a END AS loser
       |  FROM (SELECT doc_id, a, b,
       |          ${hb("doc_id || '|w'")} % (a + b + 2) < a + 1 AS w
       |        FROM b2)),
       |g AS MATERIALIZED (SELECT a, b, count(*) AS n FROM (
       |    SELECT winner AS a, loser AS b FROM pr
       |    UNION ALL SELECT loser, winner FROM pr) GROUP BY 1, 2),
       |wn AS (SELECT winner AS item, count(*) AS w FROM pr GROUP BY 1),
       |ga AS (SELECT a AS item, CAST(sum(n) AS BIGINT) AS n_games
       |  FROM g GROUP BY 1),
       |it AS MATERIALIZED (SELECT ga.item, ga.n_games,
       |    coalesce(wn.w, 0) AS n_wins FROM ga LEFT JOIN wn USING (item)),
       |p0 AS (SELECT item, CAST(1000000000 AS HUGEINT) AS p FROM it),
       |$rounds""".stripMargin
  }

  private lazy val btOracleSql: String =
    s"""WITH $btCtes
       |SELECT it.item, it.n_games, it.n_wins,
       |  CAST(p.p AS BIGINT) AS strength_nano,
       |  CAST(row_number() OVER (ORDER BY p.p DESC, it.item) AS INTEGER)
       |    AS rank
       |FROM it JOIN p$BtIters p USING (item) ORDER BY it.item""".stripMargin

  /** Per-pair replay on the same fit: canonical (a < b) game/win
    * counts, both rates as single divisions of exact integers, the
    *  residual their fixed-order difference.
    */
  private lazy val btPairsOracleSql: String =
    s"""WITH $btCtes,
       |cn AS (SELECT least(winner, loser) AS item_a,
       |    greatest(winner, loser) AS item_b,
       |    count(*) AS n_games,
       |    CAST(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_wins_a
       |  FROM pr GROUP BY 1, 2)
       |SELECT cn.item_a, cn.item_b, cn.n_games, cn.n_wins_a,
       |  CAST(cn.n_wins_a AS DOUBLE) / cn.n_games AS win_rate_a,
       |  CASE WHEN pa.p + pb.p > 0 THEN
       |    CAST(CAST(pa.p AS BIGINT) AS DOUBLE)
       |      / CAST(CAST(pa.p AS BIGINT) + CAST(pb.p AS BIGINT)
       |        AS DOUBLE) END AS fitted_rate_a,
       |  CAST(cn.n_wins_a AS DOUBLE) / cn.n_games
       |    - (CASE WHEN pa.p + pb.p > 0 THEN
       |        CAST(CAST(pa.p AS BIGINT) AS DOUBLE)
       |          / CAST(CAST(pa.p AS BIGINT) + CAST(pb.p AS BIGINT)
       |            AS DOUBLE) END) AS residual
       |FROM cn JOIN p$BtIters pa ON pa.item = cn.item_a
       |JOIN p$BtIters pb ON pb.item = cn.item_b
       |ORDER BY cn.item_a, cn.item_b""".stripMargin

  /** The cycle census replay: strict-majority edges from the canonical
    * pair counts, cyclic triads anchored at the minimum node.
    */
  private lazy val btCyclesOracleSql: String =
    s"""WITH $btCtes,
       |cn AS (SELECT least(winner, loser) AS a,
       |    greatest(winner, loser) AS b, count(*) AS n,
       |    CAST(sum(CASE WHEN winner < loser THEN 1 ELSE 0 END)
       |      AS BIGINT) AS na
       |  FROM pr GROUP BY 1, 2),
       |ed AS (SELECT CASE WHEN 2 * na > n THEN a ELSE b END AS u,
       |    CASE WHEN 2 * na > n THEN b ELSE a END AS v
       |  FROM cn WHERE 2 * na <> n),
       |ni AS (SELECT count(DISTINCT i) AS n_items FROM (
       |    SELECT a AS i FROM cn UNION ALL SELECT b FROM cn)),
       |ne AS (SELECT count(*) AS n_edges FROM ed),
       |nt AS (SELECT CAST(sum(CASE WHEN 2 * na = n THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_ties FROM cn),
       |cy AS (SELECT count(*) AS n_cyclic_triads
       |  FROM ed e1 JOIN ed e2 ON e1.v = e2.u AND e1.u < e2.u
       |  JOIN ed e3 ON e2.v = e3.u AND e3.v = e1.u AND e1.u < e3.u)
       |SELECT n_items, n_edges, n_ties, n_cyclic_triads
       |FROM ni, ne, nt, cy""".stripMargin

  val registry: Map[String, Query] = Map(
    "model_bt_strength" -> Query(btStrength, Some(btOracleSql)),
    "model_bt_pairs" -> Query(btPairs2, Some(btPairsOracleSql)),
    "model_bt_cycles" -> Query(btCycles, Some(btCyclesOracleSql)),
    // presentation-side replay of the btPairs fixture (one extra md5
    // draw); z = (2W − N)/√N is ONE IEEE division of exact integers by
    // an IEEE sqrt — engine-bit-identical
    "model_pref_position_bias" -> Query(prefPositionBias, Some({
      def hb(expr: String) = s"('0x' || substr(md5($expr), 1, 12))::BIGINT"
      val I = BtItems
      s"""WITH b1 AS (SELECT doc_id, ${hb("doc_id || '|a'")} % $I AS a,
         |    ${hb("doc_id || '|b'")} % ${I - 1} AS br FROM documents),
         |b2 AS (SELECT doc_id, a,
         |    CASE WHEN br >= a THEN br + 1 ELSE br END AS b FROM b1),
         |w3 AS (SELECT doc_id, a, b,
         |    ${hb("doc_id || '|w'")} % (a + b + 2) < a + 1 AS w,
         |    ${hb("doc_id || '|s'")} % 2 = 0 AS af
         |  FROM b2),
         |lg AS (SELECT CASE WHEN af THEN a ELSE b END AS fst,
         |    CASE WHEN w THEN a ELSE b END AS winner FROM w3),
         |ag AS (SELECT count(*) AS n,
         |    CAST(sum(CASE WHEN winner = fst THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wf
         |  FROM lg)
         |SELECT n AS n_pairs, wf AS n_first_wins,
         |  n - wf AS n_second_wins,
         |  CAST(wf AS DOUBLE) / CAST(n AS DOUBLE) AS first_win_rate,
         |  CAST(2 * wf - n AS DOUBLE) / sqrt(CAST(n AS DOUBLE))
         |    AS z_position
         |FROM ag""".stripMargin
    })),
    // even/odd document pairing, planted length-proportional outcome,
    // ntile(8) over (signed delta, pair key) — the identical banding
    // rule on both engines — then exact counts + one division per bin
    "model_pref_length_bias" -> Query(prefLengthBias, Some({
      def hb(expr: String) = s"('0x' || substr(md5($expr), 1, 12))::BIGINT"
      s"""WITH e AS (SELECT doc_id // 2 AS k, n_chars AS lf
         |  FROM documents WHERE doc_id % 2 = 0),
         |o AS (SELECT doc_id // 2 AS k, n_chars AS ls
         |  FROM documents WHERE doc_id % 2 = 1),
         |lg AS (SELECT e.k, lf, ls,
         |    ${hb("e.k || '|lw'")} % (lf + ls + 2) < lf + 1 AS fw
         |  FROM e JOIN o USING (k)),
         |bnd AS (SELECT ntile($LenBiasBuckets)
         |      OVER (ORDER BY lf - ls, k) AS delta_bin,
         |    lf - ls AS d, fw
         |  FROM lg)
         |SELECT delta_bin, count(*) AS n_pairs,
         |  CAST(sum(CASE WHEN fw THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_first_wins,
         |  CAST(sum(CASE WHEN fw THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS first_win_rate,
         |  min(d) AS min_delta, max(d) AS max_delta
         |FROM bnd GROUP BY delta_bin ORDER BY delta_bin""".stripMargin
    })),
    // exact HUGEINT moments (the Spark twin is DECIMAL(38,0)), then the
    // identical fixed-sequence double algebra: Cramer determinants,
    // SSE/SST, everything unrounded
    "model_ridge_normal" -> Query(ridgeNormal, Some({
      val L = RidgeLambda
      val det = det3Sql("a", "b", "c", "b", "e", "f", "c", "f", "i")
      s"""WITH base AS (SELECT
         |    (CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT AS y,
         |    epoch_us(o.o_orderdate) // 86400000000 AS x1,
         |    (CAST(c.c_acctbal AS DECIMAL(18,2)) * 100)::BIGINT AS x2
         |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |    CAST(sum(x1) AS HUGEINT) AS s1, CAST(sum(x2) AS HUGEINT) AS s2,
         |    CAST(sum(y) AS HUGEINT) AS sy,
         |    sum(CAST(x1 AS HUGEINT) * x1) AS s11,
         |    sum(CAST(x1 AS HUGEINT) * x2) AS s12,
         |    sum(CAST(x2 AS HUGEINT) * x2) AS s22,
         |    sum(CAST(x1 AS HUGEINT) * y) AS s1y,
         |    sum(CAST(x2 AS HUGEINT) * y) AS s2y,
         |    sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM base),
         |d AS (SELECT CAST(n AS DOUBLE) AS a, CAST(s1 AS DOUBLE) AS b,
         |    CAST(s2 AS DOUBLE) AS c, CAST(s11 + $L AS DOUBLE) AS e,
         |    CAST(s12 AS DOUBLE) AS f, CAST(s22 + $L AS DOUBLE) AS i,
         |    CAST(sy AS DOUBLE) AS ry, CAST(s1y AS DOUBLE) AS r1,
         |    CAST(s2y AS DOUBLE) AS r2v, CAST(syy AS DOUBLE) AS syyd,
         |    CAST(s11 AS DOUBLE) AS s11d, CAST(s22 AS DOUBLE) AS s22d,
         |    CAST(n AS BIGINT) AS nn
         |  FROM m),
         |sol AS (SELECT nn, a, b, c, f, ry, r1, r2v, syyd, s11d, s22d,
         |    ($det) AS det,
         |    (${det3Sql("ry", "b", "c", "r1", "e", "f", "r2v", "f", "i")})
         |      / ($det) AS b0,
         |    (${det3Sql("a", "ry", "c", "b", "r1", "f", "c", "r2v", "i")})
         |      / ($det) AS b1,
         |    (${det3Sql("a", "b", "ry", "b", "e", "r1", "c", "f", "r2v")})
         |      / ($det) AS b2
         |  FROM d)
         |SELECT nn AS n,
         |  CASE WHEN det <> 0 THEN b0 END AS b0,
         |  CASE WHEN det <> 0 THEN b1 END AS b1,
         |  CASE WHEN det <> 0 THEN b2 END AS b2,
         |  CASE WHEN det <> 0 AND syyd - ry * ry / a > 0 THEN
         |    1.0 - (syyd - 2.0 * (b0 * ry + b1 * r1 + b2 * r2v)
         |      + (b0 * b0 * a + b1 * b1 * s11d + b2 * b2 * s22d
         |        + 2.0 * (b0 * b1 * b + b0 * b2 * c + b1 * b2 * f)))
         |      / (syyd - ry * ry / a) END AS r2
         |FROM sol""".stripMargin
    })),
    // the knn-join replay (6-dp cosine, rank ties to the smaller id)
    // plus the vote: max-struct (count, label) — ties to the larger
    // label, the naiveBayes argmax convention
    "model_knn_class" -> Query(knnClass, Some(
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS ql
         |  FROM embeddings WHERE vec_id < $KnnClassBatch),
         |s AS (SELECT q_id,  vec_id,
         |    ${graft.queries.SimilarityQueries.cosineSql("embedding",
              "qv")} AS cos
         |  FROM embeddings, q WHERE vec_id <> q_id),
         |r AS (SELECT q_id, vec_id, row_number()
         |    OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |  FROM s),
         |nb AS (SELECT r.q_id, e.label AS nl FROM r
         |  JOIN embeddings e USING (vec_id) WHERE rank <= $KnnClassK),
         |v AS (SELECT q_id, nl, count(*) AS c FROM nb GROUP BY 1, 2),
         |bst AS (SELECT q_id, max(struct_pack(c := c, l := nl)) AS b
         |  FROM v GROUP BY 1)
         |SELECT q.q_id AS vec_id, q.ql AS label, bst.b.l AS predicted,
         |  CAST(bst.b.c AS BIGINT) AS n_votes,
         |  q.ql = bst.b.l AS correct
         |FROM q JOIN bst ON bst.q_id = q.q_id ORDER BY vec_id""".stripMargin)),
    "model_gbm_stumps" -> Query(gbmStumps, Some(s"""$gbmCtes
       |${(1 to GbmRounds).map(r =>
            s"""SELECT $r AS round,
               |  CASE WHEN -(s.mf) = 0 THEN 'price_c'
               |       WHEN -(s.mf) = 1 THEN 'order_day'
               |       ELSE 'acctbal_c' END AS feature,
               |  CAST(-(s.mb) AS INTEGER) AS split_bin,
               |  round(CAST(s.vl AS DOUBLE), 9) AS left_value,
               |  round(CAST(s.vr AS DOUBLE), 9) AS right_value,
               |  s.gain AS gain
               |FROM best$r""".stripMargin)
          .mkString("\nUNION ALL\n")}
       |ORDER BY round""".stripMargin)),
    "model_gbm_score" -> Query(gbmScore, Some(s"""$gbmCtes
       |SELECT id AS o_orderkey, CAST(y AS DOUBLE) AS label,
       |  round(CAST(pred AS DOUBLE), 9) AS pred
       |FROM pr$GbmRounds WHERE id % $ScoreMod = 0 ORDER BY id""".stripMargin)),
    "model_gbm_trees" -> Query(gbmTrees, Some({
      val featCase = "CASE WHEN -(s.mf) = 0 THEN 'price_c' " +
        "WHEN -(s.mf) = 1 THEN 'order_day' ELSE 'acctbal_c' END"
      s"""$gbmTreeCtes
         |SELECT * FROM (
         |${(1 to GbmTreeRounds).map(r =>
              s"""SELECT $r AS round, 'root' AS node, $featCase AS feature,
                 |  CAST(-(s.mb) AS INTEGER) AS split_bin,
                 |  round(CAST(s.vl AS DOUBLE), 9) AS left_value,
                 |  round(CAST(s.vr AS DOUBLE), 9) AS right_value,
                 |  s.gain AS gain
                 |FROM best$r
                 |UNION ALL
                 |SELECT $r, CASE WHEN leaf = 0 THEN 'left' ELSE 'right' END,
                 |  $featCase, CAST(-(s.mb) AS INTEGER),
                 |  round(CAST(s.vl AS DOUBLE), 9),
                 |  round(CAST(s.vr AS DOUBLE), 9), s.gain
                 |FROM cbest$r""".stripMargin)
            .mkString("\nUNION ALL\n")}
         |) ORDER BY round, node""".stripMargin
    })),
    "model_gbm_trees_score" -> Query(gbmTreesScore, Some(s"""$gbmTreeCtes
       |SELECT id AS o_orderkey, CAST(y AS DOUBLE) AS label,
       |  round(CAST(pred AS DOUBLE), 9) AS pred
       |FROM pr$GbmTreeRounds WHERE id % $ScoreMod = 0
       |ORDER BY id""".stripMargin)))

  /** Shared replay prologue: the joined base, per-feature min/max, the
    * 9-dp base prediction and the binned pr0 relation (MATERIALIZED —
    * every round's stacked union references its predecessor three
    * times, and DuckDB inlines CTEs per reference).
    */
  private lazy val gbmPrologue: String = {
    val b1 = GbmBins - 1
    s"""WITH base AS (SELECT o.o_orderkey AS id,
       |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
       |    (CAST(o.o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT AS f0,
       |    epoch_us(o.o_orderdate) // 86400000000 AS f1,
       |    (CAST(c.c_acctbal AS DECIMAL(18,2)) * 100)::BIGINT AS f2
       |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
       |mm AS (SELECT min(f0) AS mn0, max(f0) AS mx0, min(f1) AS mn1,
       |    max(f1) AS mx1, min(f2) AS mn2, max(f2) AS mx2 FROM base),
       |p0 AS (SELECT CAST(round(sum(y)::DOUBLE / count(*), 9)
       |    AS DECIMAL(28,9)) AS p FROM base),
       |pr0 AS MATERIALIZED (SELECT id, y,
       |    least($b1, ((f0 - mn0) * $GbmBins) // (mx0 - mn0 + 1)) AS b0,
       |    least($b1, ((f1 - mn1) * $GbmBins) // (mx1 - mn1 + 1)) AS b1,
       |    least($b1, ((f2 - mn2) * $GbmBins) // (mx2 - mn2 + 1)) AS b2,
       |    p0.p AS pred
       |  FROM base, mm, p0)""".stripMargin
  }

  /** One level-1 split search on `src`'s residuals: stacked histogram,
    * bin prefix sums, 6-dp gains, struct argmax — the stump round's
    * CTE chain, shared verbatim by the depth-2 unroll's root level.
    */
  private def levelOneCtes(r: Int, src: String): String = {
    val b1 = GbmBins - 1
    s"""s$r AS (SELECT 0 AS f, b0 AS bin,
       |    CAST(y AS DECIMAL(28,9)) - pred AS g FROM $src
       |  UNION ALL SELECT 1, b1, CAST(y AS DECIMAL(28,9)) - pred
       |    FROM $src
       |  UNION ALL SELECT 2, b2, CAST(y AS DECIMAL(28,9)) - pred
       |    FROM $src),
       |h$r AS (SELECT f, bin, sum(g) AS g, count(*) AS n
       |  FROM s$r GROUP BY 1, 2),
       |pf$r AS (SELECT f, bin,
       |    sum(g) OVER (PARTITION BY f ORDER BY bin) AS gl,
       |    sum(n) OVER (PARTITION BY f ORDER BY bin) AS nl,
       |    sum(g) OVER (PARTITION BY f ORDER BY bin
       |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS gr,
       |    sum(n) OVER (PARTITION BY f) AS nt
       |  FROM h$r),
       |cand$r AS (SELECT f, bin,
       |    round(CAST(gl AS DOUBLE) * CAST(gl AS DOUBLE) / nl
       |      + CAST(gr AS DOUBLE) * CAST(gr AS DOUBLE)
       |        / (nt - nl), 6) AS gain,
       |    CAST(round(CAST(gl AS DOUBLE) / (nl * 2), 9)
       |      AS DECIMAL(28,9)) AS vl,
       |    CAST(round(CAST(gr AS DOUBLE) / ((nt - nl) * 2), 9)
       |      AS DECIMAL(28,9)) AS vr
       |  FROM pf$r WHERE bin < $b1 AND nl > 0 AND nt - nl > 0),
       |best$r AS (SELECT max(struct_pack(gain := gain, mf := -f,
       |    mb := -bin, vl := vl, vr := vr)) AS s FROM cand$r)""".stripMargin
  }

  /** The stump boosting loop unrolled: per round r the [[levelOneCtes]]
    * chain (stacked histogram, prefix sums, 6-dp gains, struct argmax
    * with (−feature, −bin) tie-breaks) and the updated predictions
    * pr{r} — every value either exact or rounded to a fixed grid at the
    * same point as the Spark plan, so the replay is engine-portable.
    */
  private lazy val gbmCtes: String = {
    val rounds = (1 to GbmRounds).map { r =>
      s"""${levelOneCtes(r, s"pr${r - 1}")},
         |pr$r AS MATERIALIZED (SELECT id, y, b0, b1, b2,
         |    CAST(pred + COALESCE(CASE
         |      WHEN (s.mf = 0 AND b0 <= -(s.mb))
         |        OR (s.mf = -1 AND b1 <= -(s.mb))
         |        OR (s.mf = -2 AND b2 <= -(s.mb)) THEN s.vl
         |      ELSE s.vr END, 0) AS DECIMAL(28,9)) AS pred
         |  FROM pr${r - 1}, best$r)""".stripMargin
    }.mkString(",\n")
    s"""$gbmPrologue,
       |$rounds""".stripMargin
  }

  /** The depth-2 loop unrolled: per round the root split (the
    * [[levelOneCtes]] chain), the MATERIALIZED leaf assignment, the
    * leaf-keyed level-2 histogram/prefix/cand chain, the per-leaf
    * struct argmax, and the prediction update where a leaf with no
    * candidate falls back to the root's own stump value — mirroring
    * [[graft.ops.Boost.fit]] at depth 2 value for value. A fully
    * degenerate round (empty ROOT candidate set → best is NULL) coalesces the
    * whole contribution to 0, exactly as the Spark side's
    * constant-feature skip does — without it the oracle's pred would
    * go NULL on any data where a round finds no valid split.
    */
  private lazy val gbmTreeCtes: String = {
    val b1 = GbmBins - 1
    val rounds = (1 to GbmTreeRounds).map { r =>
      s"""${levelOneCtes(r, s"pr${r - 1}")},
         |lf$r AS MATERIALIZED (SELECT p.id, p.y, p.b0, p.b1, p.b2, p.pred,
         |    CASE WHEN (s.mf = 0 AND p.b0 <= -(s.mb))
         |      OR (s.mf = -1 AND p.b1 <= -(s.mb))
         |      OR (s.mf = -2 AND p.b2 <= -(s.mb)) THEN 0 ELSE 1 END AS leaf
         |  FROM pr${r - 1} p, best$r),
         |s2$r AS (SELECT leaf, 0 AS f, b0 AS bin,
         |    CAST(y AS DECIMAL(28,9)) - pred AS g FROM lf$r
         |  UNION ALL SELECT leaf, 1, b1, CAST(y AS DECIMAL(28,9)) - pred
         |    FROM lf$r
         |  UNION ALL SELECT leaf, 2, b2, CAST(y AS DECIMAL(28,9)) - pred
         |    FROM lf$r),
         |h2$r AS (SELECT leaf, f, bin, sum(g) AS g, count(*) AS n
         |  FROM s2$r GROUP BY 1, 2, 3),
         |pf2$r AS (SELECT leaf, f, bin,
         |    sum(g) OVER (PARTITION BY leaf, f ORDER BY bin) AS gl,
         |    sum(n) OVER (PARTITION BY leaf, f ORDER BY bin) AS nl,
         |    sum(g) OVER (PARTITION BY leaf, f ORDER BY bin
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS gr,
         |    sum(n) OVER (PARTITION BY leaf, f) AS nt
         |  FROM h2$r),
         |cand2$r AS (SELECT leaf, f, bin,
         |    round(CAST(gl AS DOUBLE) * CAST(gl AS DOUBLE) / nl
         |      + CAST(gr AS DOUBLE) * CAST(gr AS DOUBLE)
         |        / (nt - nl), 6) AS gain,
         |    CAST(round(CAST(gl AS DOUBLE) / (nl * 2), 9)
         |      AS DECIMAL(28,9)) AS vl,
         |    CAST(round(CAST(gr AS DOUBLE) / ((nt - nl) * 2), 9)
         |      AS DECIMAL(28,9)) AS vr
         |  FROM pf2$r WHERE bin < $b1 AND nl > 0 AND nt - nl > 0),
         |cbest$r AS MATERIALIZED (SELECT leaf,
         |    max(struct_pack(gain := gain, mf := -f, mb := -bin,
         |      vl := vl, vr := vr)) AS s
         |  FROM cand2$r GROUP BY leaf),
         |pr$r AS MATERIALIZED (SELECT lf.id, lf.y, lf.b0, lf.b1, lf.b2,
         |    CAST(lf.pred + COALESCE(CASE
         |      WHEN cb.s IS NULL THEN
         |        (CASE WHEN lf.leaf = 0 THEN b.s.vl ELSE b.s.vr END)
         |      WHEN (cb.s.mf = 0 AND lf.b0 <= -(cb.s.mb))
         |        OR (cb.s.mf = -1 AND lf.b1 <= -(cb.s.mb))
         |        OR (cb.s.mf = -2 AND lf.b2 <= -(cb.s.mb)) THEN cb.s.vl
         |      ELSE cb.s.vr END, 0) AS DECIMAL(28,9)) AS pred
         |  FROM lf$r lf CROSS JOIN best$r b
         |  LEFT JOIN cbest$r cb ON lf.leaf = cb.leaf)""".stripMargin
    }.mkString(",\n")
    s"""$gbmPrologue,
       |$rounds""".stripMargin
  }

}
