package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization (Jégou, Douze & Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search") — the middle rung of the
  * ANN quantization ladder between int8 scalar codes
  * ([[Similarity.int8QuantStats]]) and 1-bit binary codes
  * ([[Similarity.binaryCodes]]): split each d-dim vector into `m`
  * subvectors, fit an independent k-centroid codebook per subspace
  * (kernel Lloyd rounds, keyed by subspace; [[Similarity.kmeansFit]] runs
  * the same round shape with m = 1), and store each vector as `m` small
  * integer codes. A query
  * is answered by ASYMMETRIC DISTANCE COMPUTATION: one tiny
  * (m × k)-row table of exact query-subvector→centroid distances is
  * broadcast, and a vector's approximate distance is the SUM of its m
  * table lookups — the corpus is never read as floats at serve time.
  *
  * Scale shape: fitting is sample-friendly Lloyd (fit on a hash-bucket
  * sample, encode corpus-wide — the [[TokenModels.bpeLearn]] discipline)
  * whose rounds are one zero-shuffle kernel map plus one partial-
  * aggregable (sub, cid, dim) exchange each; encoding is one zero-shuffle
  * kernel map; serving joins the (id, sub, code) relation against the
  * broadcast ADC table and folds with ONE partial-aggregable groupBy —
  * memory per vector is m·log₂k bits instead of d doubles.
  *
  * Determinism discipline — INTEGER end to end (one step past the
  * kmeansFit replay argument, whose round(mean, 9) double division can
  * land on a round-half boundary; measured doing exactly that here with
  * 256 centroids × 3 rounds of dice rolls): coordinates quantize to 9 dp
  * and then to SHIFTED NANO-UNIT LONGS (+8·10⁹, making every value
  * positive so round-half-up mean division is pure positive integer
  * arithmetic that Spark `div` and any oracle's `//` agree on; the shift
  * cancels in every distance difference). Centroid state is nano longs;
  * distances are exact atto (10⁻¹⁸) DECIMAL(38,0) integers; argmins
  * break ties by min-struct (distance, cid); the only doubles are the
  * final display division by the exactly-representable 10¹⁸ — zero
  * round() calls and zero IEEE arithmetic anywhere in fit, encode or
  * serve.
  */
object Pq {

  private val Atto = DecimalType(38, 0)

  /** Nano-unit shift making every quantized coordinate positive
    * (requires |x| < 8 after 9-dp rounding — unit-ish embedding space).
    */
  private val Shift = 8000000000L

  /** (id, sub, dim, xn) long form of the corpus: global dimension i maps
    * to subspace i / (dims/m) and local dim i % (dims/m); xn is the
    * shifted nano-unit integer coordinate.
    */
  private def longForm(emb: DataFrame, idCol: String, vecCol: String,
      dims: Int, m: Int): DataFrame = {
    val subDim = dims / m
    emb.select(col(idCol).cast("long").as("id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__i", "__xd")))
      .select(col("id"),
        (col("__i") / subDim).cast("long").as("sub"),
        (col("__i") % subDim).cast("long").as("dim"),
        ((round(col("__xd"), 9).cast(DecimalType(12, 9)) *
          lit(1000000000L)).cast("long") + Shift).as("xn"))
  }

  /** Exact atto-unit squared difference of two nano-long coordinates —
    * the shift cancels; the square re-bounds to DECIMAL(38,0) (a nano
    * diff can reach ~1.6·10¹⁰, whose square overflows a long).
    */
  private def attoSq(a: Column, b: Column): Column = {
    val dn = (a - b).cast(DecimalType(19, 0))
    (dn * dn).cast(Atto)
  }

  /** Attos → distance as an unrounded double: both engines cast the SAME
    * exact integer and divide by the exactly-representable 10¹⁸ — bit-
    * identical with no round() call.
    */
  private def attoToDouble(attos: Column): Column =
    attos.cast("double") / lit(1.0e18)

  /** The whole-vector argmin as ONE codegen'd kernel call
    * ([[graft.functions.PqAssignCodes]]) with the flattened codebook
    * (`[sub][cid][localDim]` shifted nano longs) riding as a literal —
    * the fit-object discipline of the BPE/unigram kernels. Identical
    * arithmetic to the original coordinate-long-form join (exact integer
    * squared distances, ties to the smaller cid) but ZERO shuffles: the
    * relational form multiplied every corpus coordinate by every
    * centroid, an N·dims·k-row exchange per pass (measured 14 s fit +
    * 4.5 s encode at sf0.1 — pure plan overhead on 2 000 vectors, and
    * the non-scalable term at a corpus-wide 100 TB encode).
    */
  private[ops] def assignCodes(vec: Column, cb: Array[Long], m: Int, k: Int)
      : Column =
    call_function("graft_pq_assign", vec.cast("array<double>"),
      lit(cb.mkString(",")), lit(m), lit(k))

  /** The library's Lloyd seed rule, shared by [[pqFit]] and
    * [[Similarity.kmeansFit]]: the k distinct ids smallest by md5(id)
    * (ties by id), in rank order (cid = rank), each with its vector.
    * `vecs` is (id long, __v array<double>); fewer than k distinct ids
    * give that many seeds. Two bounded collects: `orderBy` + `limit` for
    * the ids, `isInCollection` for their vectors.
    */
  private[ops] def md5Seeds(vecs: DataFrame, k: Int)
      : Array[(Long, Seq[Double])] = {
    val ids = vecs.select("id").distinct()
      .withColumn("__h", md5(col("id").cast("string")))
      .orderBy(col("__h"), col("id")).limit(k)
      .select("id").collect().map(_.getLong(0))
    val byId = vecs.filter(col("id").isInCollection(ids))
      .select("id", "__v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    ids.map(id => id -> byId(id))
  }

  /** Per-subspace Lloyd fit: `k` centroids per subspace, seeded by the
    * md5-smallest ids' subvectors (the same seed rows in every subspace),
    * `rounds` iterations. The centroid mean is round-half-up POSITIVE
    * integer division `(2·Σxn + n) div (2n)` — no IEEE op, identical in
    * any engine. Each round is one zero-shuffle kernel assignment plus
    * ONE partial-aggregable (sub, cid, dim) collapse; the codebook state
    * (m·k·subDim longs — model-sized by construction, the
    * [[Ivf]]-quantizer collect discipline) lives on the driver between
    * rounds. Returns the codebook (sub, cid, dim, cn) with dims local to
    * the subspace and cn in shifted nano units.
    */
  def pqFit(emb: DataFrame, idCol: String, vecCol: String, dims: Int,
      m: Int, k: Int, rounds: Int): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1, s"rounds must be >= 1: $rounds")
    val spark = emb.sparkSession
    import spark.implicits._
    val subDim = dims / m
    val vecs = emb.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("__v")).localCheckpoint()
    val seeds = md5Seeds(vecs, k)
    var cb = new Array[Long](m * k * subDim)
    for (c <- seeds.indices; s <- 0 until m; d <- 0 until subDim)
      cb((s * k + c) * subDim + d) =
        graft.functions.PqKernel.quantize(seeds(c)._2(s * subDim + d))
    for (_ <- 1 to rounds) {
      // assigned code for coordinate i = codes[i div subDim]; the means
      // collapse is partial-aggregable and the ONLY exchange per round.
      // __codes MUST bind in its own projection BEFORE the explode —
      // expressions sharing a select with a generator are moved ABOVE
      // the Generate and re-evaluate per GENERATED row (the kernel ran
      // dims× per vector: measured 4 s/round → 0.4 s/round at sf0.1)
      val fresh = vecs
        .select(col("__v"), assignCodes(col("__v"), cb, m, k).as("__codes"))
        .select(posexplode(col("__v")).as(Seq("__i", "__xd")),
          col("__codes"))
        .select((col("__i") / subDim).cast("long").as("sub"),
          (col("__i") % subDim).cast("long").as("dim"),
          element_at(col("__codes"),
            (col("__i") / subDim).cast("int") + 1).cast("long").as("cid"),
          ((round(col("__xd"), 9).cast(DecimalType(12, 9)) *
            lit(1000000000L)).cast("long") + Shift).as("xn"))
        .groupBy("sub", "cid", "dim")
        .agg(expr("(2 * sum(xn) + count(1)) div (2 * count(1))").as("cn"))
        .collect()
      val next = cb.clone() // a centroid nobody picked keeps its value
      fresh.foreach { r =>
        next(((r.getLong(0) * k + r.getLong(1)) * subDim +
          r.getLong(2)).toInt) = r.getLong(3)
      }
      cb = next
    }
    (for (s <- 0 until m; c <- 0 until k; d <- 0 until subDim)
      yield (s.toLong, c.toLong, d.toLong, cb((s * k + c) * subDim + d)))
      .toDF("sub", "cid", "dim", "cn")
  }

  /** Flatten a fitted (sub, cid, dim, cn) codebook relation back to the
    * kernel layout — bounded at m·k·subDim rows by construction.
    */
  private def flattenCodebook(codebook: DataFrame, m: Int)
      : (Array[Long], Int) = {
    val rows = codebook.select("sub", "cid", "dim", "cn").collect()
    val k = rows.map(_.getLong(1)).max.toInt + 1
    val subDim = rows.map(_.getLong(2)).max.toInt + 1
    require(rows.length == m * k * subDim,
      s"codebook has ${rows.length} rows, expected ${m * k * subDim}")
    val cb = new Array[Long](m * k * subDim)
    rows.foreach { r =>
      cb(((r.getLong(0) * k + r.getLong(1)) * subDim +
        r.getLong(2)).toInt) = r.getLong(3)
    }
    (cb, k)
  }

  /** Encode the corpus against a fitted codebook: one ZERO-SHUFFLE kernel
    * assignment pass against the final centroids. Returns (id, sub,
    * code) — the m·log₂k bits per vector the serving tier stores.
    */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String, dims: Int,
      m: Int, codebook: DataFrame): DataFrame = {
    val (cb, k) = flattenCodebook(codebook, m)
    emb.select(col(idCol).cast("long").as("id"),
        posexplode(assignCodes(col(vecCol), cb, m, k))
          .as(Seq("__s", "__c")))
      .select(col("id"), col("__s").cast("long").as("sub"),
        col("__c").cast("long").as("code"))
  }

  /** ADC lookup table for one query vector: the exact atto-integer
    * squared distance of each query subvector to each codebook centroid —
    * m × k rows, broadcastable by construction.
    */
  def adcTable(query: DataFrame, vecCol: String, dims: Int, m: Int,
      codebook: DataFrame): DataFrame = {
    val q = longForm(query.select(lit(0L).as("__qid"), col(vecCol)),
      "__qid", vecCol, dims, m)
    q.join(codebook, Seq("sub", "dim"))
      .groupBy("sub", "cid")
      .agg(sum(attoSq(col("xn"), col("cn"))).as("d"))
  }

  /** Full ADC score relation for one query: fit per-subspace codebooks,
    * encode the corpus, build the query's ADC table, and score EVERY
    * vector by the summed broadcast-table lookups — corpus floats are
    * touched only by fit/encode, never at serve time. Returns
    * (idCol, adc_dist); [[pqAdcTopK]] and the shortlist→exact-rerank
    * funnel ([[pqRerankTopK]]) both read off this relation.
    */
  def pqAdcScores(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, dims: Int, m: Int, k: Int, rounds: Int): DataFrame = {
    val codebook = pqFit(emb, idCol, vecCol, dims, m, k, rounds)
      .localCheckpoint()
    val codes = pqEncode(emb, idCol, vecCol, dims, m, codebook)
    val adt = adcTable(emb.filter(col(idCol) === queryId), vecCol, dims, m,
      codebook)
    codes.join(broadcast(adt),
        codes("sub") === adt("sub") && codes("code") === adt("cid"))
      .groupBy("id")
      .agg(sum(col("d")).as("__adc"))
      .select(col("id").as(idCol), attoToDouble(col("__adc")).as("adc_dist"))
  }

  /** PQ top-k serve: ADC scores ranked ascending, id tie-break. */
  def pqAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, dims: Int, m: Int, k: Int, rounds: Int, topK: Int)
      : DataFrame =
    pqAdcScores(emb, idCol, vecCol, queryId, dims, m, k, rounds)
      .orderBy(col("adc_dist"), col(idCol))
      .limit(topK)

  /** The production PQ funnel: ADC shortlist of `candidates`, then EXACT
    * squared-L2 rerank of only those rows to `topK` — the
    * [[Similarity.prefixRerankTopK]] two-stage shape with PQ codes as the
    * coarse stage; the exact pass touches `candidates` vectors, never the
    * corpus. Returns (idCol, l2sq) ascending, id tie-break.
    */
  def pqRerankTopK(adcScores: DataFrame, emb: DataFrame, idCol: String,
      vecCol: String, queryId: Long, dims: Int, candidates: Int,
      topK: Int): DataFrame = {
    val short = adcScores.orderBy(col("adc_dist"), col(idCol))
      .limit(candidates).select(col(idCol))
    exactL2Scores(emb, idCol, vecCol, queryId, dims)
      .join(short, Seq(idCol), "left_semi")
      .orderBy(col("l2sq"), col(idCol))
      .limit(topK)
  }

  /** IVFADC (Jégou 2011 §IV): the coarse-cell + PQ-residual composition
    * a production ANN serving stack actually deploys — IVF cells bound
    * WHICH vectors a query touches (partition pruning over `nProbe` of
    * the cells), PQ codes bound WHAT is read per vector (m·log₂k bits of
    * RESIDUAL v − anchor(cell), which quantizes far tighter than raw
    * coordinates because residuals concentrate near 0).
    *
    *  - assignment: cells via [[Ivf.nearestCellExpr]] over FIXED literal
    *    anchors (replayable, the `sim_ivf_recall` discipline); residuals
    *    by one broadcast join on the |anchors|-row table. ONE codebook is
    *    fitted over all residuals ([[pqFit]] — kernel assignment, driver
    *    codebook state) and the corpus encodes in one zero-shuffle
    *    kernel pass.
    *  - serve: the query ranks cells (|anchors| rows), takes `nProbe`,
    *    and needs a PER-CELL ADC table (its residual differs per probed
    *    cell) — nProbe·m·k rows, broadcast; scoring filters codes to the
    *    probed cells FIRST (the filter that becomes partition pruning in
    *    the [[Ivf]] disk layout) and folds with one partial-aggregable
    *    groupBy.
    *
    * Exactness: anchors are ±1 integers so the residual subtraction is
    * IEEE-exact and the 9-dp quantization commutes; cell argmins replay
    * as `norm² − 2·dot` first-min in any engine. Returns (idCol, cell,
    * adc_dist) — the query's own row included, like [[pqAdcTopK]].
    */
  /** A fitted IVFADC index: the per-id cell + residual relation, the
    * residual codebook and the corpus codes (all checkpointed) — fit
    * ONCE, serve many ([[ivfPqScores]]); the recall audit reuses one
    * build across its nProbe sweep.
    */
  final case class IvfPqModel(resid: DataFrame, codebook: DataFrame,
      codes: DataFrame)

  private def ivfAnchorDf(emb: DataFrame, anchors: Array[Array[Double]])
      : DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    broadcast(anchors.zipWithIndex
      .map { case (a, i) => (i, a.toSeq, a.map(x => x * x).sum) }.toSeq
      .toDF("cell", "__avec", "__an2"))
  }

  /** Fit the IVFADC index: fixed-anchor cells, residuals, ONE residual
    * codebook (kernel Lloyd), corpus codes. See [[ivfAdcTopK]].
    */
  def ivfPqFit(emb: DataFrame, idCol: String, vecCol: String,
      anchors: Array[Array[Double]], dims: Int, m: Int, k: Int,
      rounds: Int): IvfPqModel = {
    val v = col(vecCol).cast("array<double>")
    val resid = emb
      .select(col(idCol).cast("long").as("id"), v.as("__v"),
        Ivf.nearestCellExpr(v, anchors).as("cell"))
      .join(ivfAnchorDf(emb, anchors), Seq("cell"))
      .select(col("id"), col("cell"),
        zip_with(col("__v"), col("__avec"), (x, a) => x - a).as("__r"))
      .localCheckpoint()
    val codebook = pqFit(resid, "id", "__r", dims, m, k, rounds)
      .localCheckpoint()
    // cell rides the code rows from the fit on: every serve needs
    // (code, cell) together, and attaching it per-serve re-joined two
    // corpus-scale relations once per nProbe setting (the recall audit
    // serves three times per fit)
    val codes = pqEncode(resid, "id", "__r", dims, m, codebook)
      .join(resid.select(col("id"), col("cell")), Seq("id"))
      .localCheckpoint()
    IvfPqModel(resid, codebook, codes)
  }

  /** Serve one query against a fitted [[IvfPqModel]]: rank cells over
    * the |anchors|-row table, build the PER-PROBED-CELL ADC tables
    * (nProbe·m·k rows, broadcast), filter codes to probed cells FIRST
    * (partition pruning in the [[Ivf]] disk layout) and fold. Returns
    * (idCol, cell, adc_dist) for every vector in a probed cell.
    */
  def ivfPqScores(model: IvfPqModel, emb: DataFrame, idCol: String,
      vecCol: String, anchors: Array[Array[Double]], queryId: Long,
      dims: Int, m: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= anchors.length,
      s"nProbe=$nProbe out of range for ${anchors.length} anchors")
    val v = col(vecCol).cast("array<double>")
    val qv = emb.filter(col(idCol) === queryId)
      .select(v.as("__qv")).limit(1)
    val probed = ivfAnchorDf(emb, anchors).crossJoin(broadcast(qv))
      .select(col("cell"), col("__avec"), col("__qv"),
        (col("__an2") -
          lit(2.0) * call_function("graft_dot", col("__qv"), col("__avec")))
          .as("__d"))
      .withColumn("__crk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__d"), col("cell"))))
      .filter(col("__crk") <= nProbe)
      .select(col("cell"),
        zip_with(col("__qv"), col("__avec"), (x, a) => x - a).as("__qr"))
    val qLong = probed
      .select(col("cell"), posexplode(col("__qr")).as(Seq("__i", "__xd")))
      .select(col("cell"),
        (col("__i") / (dims / m)).cast("long").as("sub"),
        (col("__i") % (dims / m)).cast("long").as("dim"),
        ((round(col("__xd"), 9).cast(DecimalType(12, 9)) *
          lit(1000000000L)).cast("long") + Shift).as("qn"))
    val adt = qLong.join(model.codebook, Seq("sub", "dim"))
      .groupBy("cell", "sub", "cid")
      .agg(sum(attoSq(col("qn"), col("cn"))).as("d"))
    // codes carry their cell from the fit ([[ivfPqFit]]) — no per-serve
    // corpus join
    val withCell = model.codes
    withCell.join(broadcast(adt),
        withCell("cell") === adt("cell") && withCell("sub") === adt("sub") &&
          withCell("code") === adt("cid"))
      .select(withCell("id"), withCell("cell"), adt("d"))
      .groupBy("id", "cell")
      .agg(sum(col("d")).as("__adc"))
      .select(col("id").as(idCol), col("cell"),
        attoToDouble(col("__adc")).as("adc_dist"))
  }

  def ivfAdcTopK(emb: DataFrame, idCol: String, vecCol: String,
      anchors: Array[Array[Double]], queryId: Long, dims: Int, m: Int,
      k: Int, rounds: Int, nProbe: Int, topK: Int): DataFrame = {
    val model = ivfPqFit(emb, idCol, vecCol, anchors, dims, m, k, rounds)
    ivfPqScores(model, emb, idCol, vecCol, anchors, queryId, dims, m,
        nProbe)
      .orderBy(col("adc_dist"), col(idCol))
      .limit(topK)
  }

  /** Exact squared-L2 scores against one query under the SAME shifted
    * nano-unit quantization as the PQ pipeline — ground truth for the
    * recall audit and the rerank stage. Returns (idCol, l2sq).
    */
  def exactL2Scores(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, dims: Int): DataFrame = {
    val x = longForm(emb, idCol, vecCol, dims, 1)
    val q = longForm(emb.filter(col(idCol) === queryId), idCol, vecCol,
      dims, 1).select(col("dim"), col("xn").as("qn"))
    x.join(broadcast(q), Seq("dim"))
      .groupBy("id")
      .agg(sum(attoSq(col("xn"), col("qn"))).as("__d"))
      .select(col("id").as(idCol), attoToDouble(col("__d")).as("l2sq"))
  }

  /** Exact squared-L2 top-k ([[exactL2Scores]] ranked). */
  def exactL2TopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, dims: Int, topK: Int): DataFrame =
    exactL2Scores(emb, idCol, vecCol, queryId, dims)
      .orderBy(col("l2sq"), col(idCol))
      .limit(topK)
}
