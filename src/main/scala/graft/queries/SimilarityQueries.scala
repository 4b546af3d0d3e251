package graft.queries

import graft.ops.{Eval, Ivf, IvfIndex, Similarity}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked similarity-search family over the embeddings corpus
  * (north-star operators; see [[graft.ops.Similarity]] for the scale
  * design): exact brute-force cosine top-k (the baseline), exact all-pairs
  * near-dup (embedding-cosine dedup), random-hyperplane LSH bucketed ANN,
  * and a k-NN join of a query set against the corpus.
  *
  * The hyperplane literals are generated from one seeded PRNG and inlined
  * into BOTH the Spark plan and the DuckDB SQL, so the two engines evaluate
  * the identical model. Cosines are rounded to 6 dp with id tie-breaks —
  * products and sequential sums of the same doubles are bit-identical
  * across engines, rounding just guards the display/compare boundary.
  */
object SimilarityQueries {

  private val K = 20
  private val KnnQueries = 5
  private val KnnK = 3
  private val NearDupThreshold = 0.35
  private val DbscanTau = 0.3
  private val DbscanMinPts = 3

  /** The sim_kmeans replay as a reusable WITH-body: x (9-dp coords),
    * md5-smallest seeds, c0, and `rounds` exact-DECIMAL Lloyd rounds —
    * ends at relation c<rounds>. Shared by the kmeans query and the
    * fitted-cell DBSCAN oracle (both replay the SAME fit).
    */
  private def kmeansCtesSql(k: Int, rounds: Int): String = {
    val roundsSql = (1 to rounds).map { r =>
      s"""d$r AS (SELECT x.id, c.cid,
         |    sum(CAST((x.x9 - c.c) AS DECIMAL(14,9)) *
         |        CAST((x.x9 - c.c) AS DECIMAL(14,9))) AS dist
         |  FROM x JOIN c${r - 1} c USING (dim) GROUP BY 1, 2),
         |a$r AS (SELECT id,
         |    struct_extract(min(struct_pack(d := dist, c := cid)), 'c')
         |      AS cid
         |  FROM d$r GROUP BY id),
         |f$r AS (SELECT a.cid, x.dim,
         |    CAST(round(CAST(sum(x.x9) AS DOUBLE) / count(*), 9)
         |      AS DECIMAL(18,9)) AS cn
         |  FROM a$r a JOIN x USING (id) GROUP BY 1, 2),
         |c$r AS (SELECT p.cid, p.dim, coalesce(f.cn, p.c) AS c
         |  FROM c${r - 1} p LEFT JOIN f$r f
         |    ON f.cid = p.cid AND f.dim = p.dim)""".stripMargin
    }.mkString(",\n")
    s"""x AS (
       |  SELECT vec_id AS id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(round(embedding[i]::DOUBLE, 9) AS DECIMAL(12,9)) AS x9
       |  FROM embeddings, UNNEST(generate_series(1, $Dim)) u(i)),
       |sd AS (SELECT id,
       |    row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1
       |      AS cid
       |  FROM (SELECT DISTINCT id FROM x)
       |  QUALIFY row_number()
       |    OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) <= $k),
       |c0 AS (SELECT sd.cid, x.dim, CAST(x.x9 AS DECIMAL(18,9)) AS c
       |  FROM sd JOIN x USING (id)),
       |$roundsSql""".stripMargin
  }
  private val NumPlanes = 4
  private val Dim = 64

  /** Seeded ±1 hyperplanes shared by the Spark plan and the oracle SQL. */
  val planes: Array[Array[Int]] = Similarity.hyperplanes(NumPlanes, Dim)

  /** Independent hyperplane bands for the near-dup-pairs headline: band 0
    * reuses [[planes]] (seed 42), band 1 draws from seed 43. Both inline
    * into the Spark plan AND the oracle SQL.
    */
  val bandPlanes: Seq[Array[Array[Int]]] =
    Seq(planes, Similarity.hyperplanes(NumPlanes, Dim, seed = 43L))

  /** Seeded ±1 coarse-quantizer anchors for the SemDeDup query (seed 44 —
    * independent of both LSH bands); inlined into plan AND oracle SQL.
    */
  val semAnchors: Array[Array[Int]] =
    Similarity.hyperplanes(8, Dim, seed = 44L)

  /** Seeded ±1 Johnson–Lindenstrauss projection rows (seed 45 — independent
    * of every hash family above); inlined into plan AND oracle SQL.
    */
  val projSigns: Array[Array[Int]] =
    Similarity.hyperplanes(8, Dim, seed = 45L)

  /** Seeded ±1 coarse-quantizer anchors for the IVF recall audit (seed 46
    * — independent of every family above). FIXED anchors, not a KMeans
    * fit, so both the cell assignment and the partial-probe retrieval are
    * exactly replayable in the oracle SQL.
    */
  val ivfAnchors: Array[Array[Int]] =
    Similarity.hyperplanes(8, Dim, seed = 46L)

  private val NegK = 5
  private val NegMaxCos = 0.999

  private val MmrK = 5
  private val MmrLambda = 0.7
  private val MmrCandidates = 20

  private val LabelPropMinCos = 0.3

  def bruteTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteTopK(emb, emb.filter(col("vec_id") === 0L),
      "vec_id", "embedding", K)
  }

  /** Hybrid retrieval: RRF fusion ([[graft.ops.Similarity.rrfFuse]]) of
    * the BM25 lexical top-20 ([[TextQueries.bm25]]) and the cosine top-20
    * against query vector 0 — `vec_id` and `doc_id` share the id space.
    * Both rank lists are 20-row relations before the window touches them.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lexical = TextQueries.bm25(spark, dir)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("id"))))
    val semantic = bruteTopK(spark, dir)
      .select(col("vec_id").as("id"), col("cos"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("id"))))
    Similarity.rrfFuse(Seq(lexical, semantic), "id", "rank")
  }

  /** Spec-only exact reference ([[SimilaritySpec]]): the all-pairs cartesian
    * is quadratic by construction, so it is NOT a registered query — the
    * registered near-dup-pairs headline is [[lshNearDupPairs]].
    */
  def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(Tables.embeddings(spark, dir),
        "vec_id", "embedding", NearDupThreshold)
      .orderBy("id_a", "id_b")

  /** The scale-safe near-dup-pairs headline: 2-band hyperplane LSH
    * candidates, each exactly cosine-verified — Σ bucket² work instead of
    * corpus² (the embedding twin of `dedup_minhash_lsh`).
    */
  def lshNearDupPairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairs(Tables.embeddings(spark, dir),
        "vec_id", "embedding", NearDupThreshold, bandPlanes)
      .orderBy("id_a", "id_b")

  /** Triangle census of the near-dup similarity graph
    * ([[graft.ops.Graph.triangles]] over [[lshNearDupPairs]] edges) — the
    * cluster-cohesion read on dedup candidates: triangle-rich components
    * are true duplicate clusters, triangle-free stars are often one hub
    * matching many unrelated docs.
    */
  def neardupTriangles(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangles(
        Similarity.lshNearDupPairs(Tables.embeddings(spark, dir),
          "vec_id", "embedding", NearDupThreshold, bandPlanes),
        "id_a", "id_b")
      .orderBy("n_nodes")

  private val CovDims = 16

  /** Upper-triangle covariance of the first 16 embedding dimensions
    * ([[graft.ops.Similarity.embeddingCovariance]]) — the
    * whitening/decorrelation input, d² bounded regardless of corpus size.
    */
  def embeddingCov(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingCovariance(Tables.embeddings(spark, dir),
        "embedding", CovDims)
      .orderBy("i", "j")

  /** SemDeDup-style semantic dedup: nearest-anchor cells, then
    * drop-if-near-a-lower-id-neighbor within each cell — survivors with
    * their cell id ([[graft.ops.Similarity.semanticDedup]]).
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(Tables.embeddings(spark, dir),
        "vec_id", "embedding", NearDupThreshold, semAnchors)
      .orderBy("vec_id")

  /** DBSCAN over the cell-bounded cosine ε-graph — deterministic
    * core/border/noise roles + min-id cluster labels
    * ([[graft.ops.Similarity.dbscan]]). τ below the near-dup threshold:
    * density clustering looks for NEIGHBORHOODS, not duplicates.
    * minPts counts SELF-EXCLUDED neighbors (sklearn's min_samples − 1).
    */
  def dbscanClusters(spark: SparkSession, dir: String): DataFrame =
    Similarity.dbscan(Tables.embeddings(spark, dir),
        "vec_id", "embedding", DbscanTau, DbscanMinPts, semAnchors)
      .orderBy("vec_id")

  /** Recall audit of the cell-bounded ε-graph at anchored nProbe 1 vs 2
    * AND the fitted k-means cells `sim_dbscan_fitted` actually clusters
    * on ([[graft.ops.Similarity.dbscanEdgeRecall]]) — quantifies the
    * boundary-pair loss each candidate set accepts, against the exact
    * quadratic edge set (audit-scale, the `sim_ivf_recall` pattern).
    * The fitted arm replays the SAME Lloyd fit + assignment as the
    * clustering query, so the shipped variant's recall is the measured
    * one.
    */
  def dbscanRecall(spark: SparkSession, dir: String): DataFrame =
    Similarity.dbscanEdgeRecall(Tables.embeddings(spark, dir),
        "vec_id", "embedding", DbscanTau, semAnchors,
        fittedK = KmeansK, fittedRounds = KmeansRounds)
      .orderBy("method", "n_probe")

  /** DBSCAN over FITTED k-means cells
    * ([[graft.ops.Similarity.dbscanFitted]]) — cells that follow the
    * data's density instead of seeded anchors, the N251 audit's
    * prescription; same τ/minPts as `sim_dbscan` for comparability
    * (self-excluded minPts — sklearn's min_samples − 1).
    */
  def dbscanFittedQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.dbscanFitted(Tables.embeddings(spark, dir),
        "vec_id", "embedding", DbscanTau, DbscanMinPts,
        KmeansK, KmeansRounds)
      .orderBy("vec_id")

  def lshTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopK(emb, emb.filter(col("vec_id") === 0L),
      "vec_id", "embedding", K, planes)
  }

  def lshTopKMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopKMultiprobe(emb, emb.filter(col("vec_id") === 0L),
      "vec_id", "embedding", K, planes)
  }

  /** Recall@K audit of the LSH retrieval paths against the brute-force
    * ground truth — the measurement that justifies (or vetoes) an ANN
    * swap at scale: |approx top-K ∩ exact top-K| / K for the single-probe
    * and Hamming-1 multiprobe variants. All three retrieval relations are
    * already K-row-bounded before the semi-joins touch them, so the audit
    * itself is driver-trivial regardless of corpus size.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = bruteTopK(spark, dir).select(col("vec_id"))
    def recallOf(method: String, d: DataFrame): DataFrame = {
      val retrieved = d.select(col("vec_id"))
      retrieved.agg(count(lit(1)).as("n_retrieved"))
        .crossJoin(retrieved.join(truth, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits")))
        .select(lit(method).as("method"), col("n_retrieved"), col("n_hits"),
          round(col("n_hits").cast("double") / K, 9).as("recall"))
    }
    recallOf("lsh_multiprobe", lshTopKMultiprobe(spark, dir))
      .unionByName(recallOf("lsh_single_probe", lshTopK(spark, dir)))
      .orderBy("method")
  }

  def knnJoin(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.knnJoin(emb, emb.filter(col("vec_id") < KnnQueries),
        "vec_id", "embedding", KnnK)
      .orderBy("q_id", "rank")
  }

  /** Top-5 different-label near neighbors per query (semi-hard band
    * cos ≤ 0.999) — contrastive-training hard-negative mining
    * ([[graft.ops.Similarity.hardNegatives]]).
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < KnnQueries),
        "vec_id", "embedding", "label", NegK, NegMaxCos)
      .orderBy("q_id", "rank")
  }

  /** 64 → 8 dim seeded ±1 Johnson–Lindenstrauss projection of the corpus
    * ([[graft.ops.Similarity.randomProject]] over [[projSigns]]).
    */
  def randomProjection(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(Tables.embeddings(spark, dir), "vec_id",
        "embedding", projSigns)
      .orderBy("vec_id")

  /** One-hop label propagation onto the 10% synthetically-unlabeled slice
    * (vec_id ≡ 0 mod 10): majority label among same-cell neighbors at
    * cos ≥ 0.3 ([[graft.ops.Similarity.labelPropagation]] over
    * [[semAnchors]]).
    */
  def labelProp(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("label_m",
        when(pmod(col("vec_id"), lit(10)) === 0, lit(null).cast("int"))
          .otherwise(col("label")))
    Similarity.labelPropagation(emb, "vec_id", "embedding", "label_m",
        semAnchors, LabelPropMinCos)
      .orderBy("vec_id")
  }

  /** MMR-diversified top-5 for query vec 0 (λ = 0.7 over the top-20
    * retrieval candidates) — [[graft.ops.Similarity.mmrRerank]]; the
    * oracle replays the greedy selection as 5 chained argmax CTEs.
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.mmrRerank(emb.filter(col("vec_id") =!= 0L),
        emb.filter(col("vec_id") === 0L), "vec_id", "embedding",
        MmrK, MmrLambda, MmrCandidates)
      .orderBy("rank")
  }

  /** Batch multiprobe-LSH k-NN: a 5-query relation, each probing its own
    * bucket + Hamming-1 neighbors, ranked per query — one corpus signature
    * pass for the whole batch.
    */
  def lshKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshKnnJoin(emb, emb.filter(col("vec_id") < KnnQueries),
        "vec_id", "embedding", KnnK, planes)
      .orderBy("q_id", "rank")
  }

  /** IVF ANN — KMeans quantizer has no SQL twin → rows-only check here;
    * exactness when probing all cells is pinned by IvfSpec. PROBE-ONLY:
    * the index (sampled fit + cluster-partitioned assignment) builds at
    * most once per sf dir ([[graft.ops.Ivf.buildCached]] — in-JVM cache,
    * disk reuse across JVMs); the registered query just ranks cells and
    * reads the 4 nearest partitions.
    */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ivf.probe(fittedIvf(emb, dir), emb.filter(col("vec_id") === 0L), K,
      nProbe = 4)
  }

  /** Disk location of an IVF index over `dir`'s embeddings, keyed on the
    * index fingerprint (input files + params): a regenerated or rewritten
    * dataset, or different knobs, lands in a DIFFERENT directory, so /tmp
    * can never serve stale or foreign centroids. The build additionally
    * validates the fingerprint stored beside the centroids.
    */
  private def ivfIndexPath(dir: String, tag: String, fp: String): String =
    "/tmp/graft_ivf/" + dir.replaceAll("[^A-Za-z0-9._-]", "_") + tag +
      fp.take(16)

  /** The 16-cell fitted index shared by [[ivfTopK]], [[ivfExact]] and
    * [[ivfKnn]] — built at most once per dataset. */
  private def fittedIvf(emb: DataFrame, dir: String): IvfIndex = {
    val fp = Ivf.indexFingerprint(emb, "vec_id", "embedding",
      nClusters = 16, sampleCap = 4096, seed = 42L)
    Ivf.buildCached(emb, "vec_id", "embedding", nClusters = 16,
      path = ivfIndexPath(dir, "_", fp))
  }

  /** IVF probing EVERY cell — degenerates to exact brute-force top-k by
    * construction, so unlike [[ivfTopK]] (partial probe, approximate, no
    * SQL twin) this one is hash-checked against the brute-force oracle:
    * the fit → assign → partition-pruned-probe machinery itself gets an
    * end-to-end DuckDB-verified row, not just a spec.
    */
  def ivfExact(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val index = fittedIvf(emb, dir)
    Ivf.probe(index, emb.filter(col("vec_id") === 0L), K,
      nProbe = index.centroids.length)
  }

  /** BATCH ANN against the persisted IVF index: a 5-query relation ranks
    * its cells in-plan ([[graft.ops.Ivf.probeBatch]] — no per-query driver
    * collect) and probes ALL cells, so the result is exactly the brute-force
    * k-NN join and the `sim_knn_join` oracle hash-checks the whole
    * fit → assign → batch-probe machinery; partial-probe recall is pinned
    * in IvfSpec.
    */
  def ivfKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val index = fittedIvf(emb, dir)
    Ivf.probeBatch(index, emb.filter(col("vec_id") < KnnQueries), "vec_id",
        KnnK, nProbe = index.centroids.length)
      .orderBy("q_id", "rank")
  }

  /** Recall@[[K]] audit of the PARTIAL-probe IVF path ([[graft.ops.Ivf
    * .probeBatch]]) against the per-query brute-force truth, at
    * nProbe ∈ {1, 2, all} — the quantitative gate on the probe knob that
    * [[annRecall]] provides for LSH. The index here quantizes over FIXED
    * seeded ±1 anchors ([[ivfAnchors]], [[graft.ops.Ivf
    * .buildCachedFixed]]) instead of the fitted KMeans quantizer, so the
    * assignment argmin, each query's cell ranking, the partial-probe
    * candidate sets and the recall counts are all hash-exactly replayable
    * in the DuckDB oracle; the FITTED quantizer's recall curve is pinned
    * spec-side (IvfSpec monotonicity) and its all-cells exactness by
    * `sim_ivf_knn`. Monotonicity in nProbe is a theorem (candidate sets
    * are nested, and a global-top-K member always survives any candidate
    * top-K it appears in), and the all-cells row must read recall = 1.0.
    *
    * All relations after the probe are (queries × K)-bounded, so the
    * audit costs one partition-pruned probe per nProbe value regardless
    * of corpus size.
    */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = ivfAnchors.map(_.map(_.toDouble))
    val fp = Ivf.fixedFingerprint(emb, "vec_id", "embedding", cents)
    val index = Ivf.buildCachedFixed(emb, "vec_id", "embedding", cents,
      ivfIndexPath(dir, "_fx_", fp))
    val qs = emb.filter(col("vec_id") < KnnQueries)
    val truth = Similarity.knnJoin(emb, qs, "vec_id", "embedding", K)
      .select(col("q_id"), col("vec_id"))
    Seq(1, 2, ivfAnchors.length).map { np =>
      val ret = Ivf.probeBatch(index, qs, "vec_id", K, np)
        .select(col("q_id"), col("vec_id"))
      ret.agg(count(lit(1)).as("n_retrieved"))
        .crossJoin(ret.join(truth, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits")))
        .select(lit(np).as("n_probe"), col("n_retrieved"), col("n_hits"),
          round(col("n_hits").cast("double") / (KnnQueries * K), 9)
            .as("recall"))
    }.reduce(_ unionByName _).orderBy("n_probe")
  }

  /** Per-label centroid norms + cosine to the global centroid
    * (embedding-drift shape; element-wise vector aggregation).
    */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    Similarity.centroidSummary(Tables.embeddings(spark, dir),
        "label", "embedding")
      .orderBy("label")

  /** Per-dimension int8 scalar-quantization stats (min/max scaling; code
    * sums are integer-exact so the hash compare is airtight).
    */
  def int8Quant(spark: SparkSession, dir: String): DataFrame =
    Similarity.int8QuantStats(Tables.embeddings(spark, dir),
        "vec_id", "embedding")
      .orderBy("dim")

  private val BinaryCandidates = 50
  private val BinaryK = 10

  /** Binary-code retrieval funnel ([[graft.ops.Similarity
    * .binaryHammingTopK]]): 1-bit mean-threshold codes, Hamming top-50
    * candidates, exact cosine re-rank to top-10 for query vector 0.
    */
  def binaryTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.binaryHammingTopK(Tables.embeddings(spark, dir),
      "vec_id", "embedding", queryId = 0L,
      candidates = BinaryCandidates, k = BinaryK)

  private val PrefixDims = 16
  private val EigDims = 64 // 1/sqrt(64) = 0.125, exactly representable
  private val EigIters = 3

  /** Top principal component of the embedding covariance
    * ([[graft.ops.Similarity.topEigenvector]]): 3 power-method rounds,
    * DECIMAL(18,9) state per round, unrolled-CTE oracle.
    */
  def topEigvec(spark: SparkSession, dir: String): DataFrame =
    Similarity.topEigenvector(Tables.embeddings(spark, dir), "embedding",
        EigDims, EigIters)
      .orderBy("pos")

  /** PCA transform ([[graft.ops.Similarity.projectOnto]]): every vector's
    * coordinate along the fitted top component — fit + transform in one
    * registered plan.
    */
  def pcaProject(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.projectOnto(emb, "vec_id", "embedding",
        Similarity.topEigenvector(emb, "embedding", EigDims, EigIters),
        "pos", "loading")
      .orderBy("id")
  }

  /** Matryoshka prefix-dimension funnel ([[graft.ops.Similarity
    * .prefixRerankTopK]]): 16-dim coarse cosine → top-50 candidates →
    * full 64-dim exact re-rank to top-10 for query vector 0.
    */
  def prefixRerank(spark: SparkSession, dir: String): DataFrame =
    Similarity.prefixRerankTopK(Tables.embeddings(spark, dir),
      "vec_id", "embedding", queryId = 0L, prefixDims = PrefixDims,
      candidates = BinaryCandidates, k = BinaryK)

  private val KmeansK = 4
  private val KmeansRounds = 3

  private val PqM = 8 // subspaces over Dim=64 → 8-dim subvectors
  private val PqK = 32 // centroids per subspace codebook
  private val PqRounds = 3
  private val PqTopK = 10

  /** Product-quantization ADC top-k ([[graft.ops.Pq.pqAdcTopK]]): fit 4
    * per-subspace codebooks with relational Lloyd, encode the corpus to
    * (id, sub, code), and rank every vector for query 0 by the summed
    * broadcast ADC-table lookups — the m-subvector middle rung of the
    * int8 → PQ → 1-bit quantization ladder, fully DECIMAL-deterministic
    * so the whole fit→encode→serve pipeline hash-matches the unrolled
    * Lloyd CTEs in the oracle.
    */
  def pqTopK(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Pq.pqAdcTopK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", queryId = 0L, Dim, PqM, PqK, PqRounds, PqTopK)

  private val PqCand = 50

  private val IvfPqRounds = 2
  private val IvfPqProbe = 3

  /** IVFADC top-k ([[graft.ops.Pq.ivfAdcTopK]]): the coarse-cell +
    * PQ-residual composition over the FIXED ±1 anchors ([[ivfAnchors]],
    * the `sim_ivf_recall` replayability discipline) — cells bound which
    * vectors the query touches (probe [[IvfPqProbe]] of
    * ${ivfAnchors.length} cells), one residual codebook fitted with the
    * kernel Lloyd, per-probed-cell ADC tables, cell-filtered fold. Every
    * stage (cell argmin, residual quantization, fit, encode, serve)
    * hash-replays in the oracle.
    */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Pq.ivfAdcTopK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", ivfAnchors.map(_.map(_.toDouble)), queryId = 0L, Dim,
      PqM, PqK, IvfPqRounds, IvfPqProbe, PqTopK)

  /** IVFADC recall@[[PqTopK]] at nProbe ∈ {1, [[IvfPqProbe]], all} vs
    * the exact raw-coordinate L2 truth — ONE fit
    * ([[graft.ops.Pq.ivfPqFit]]), three serves. The all-cells row
    * isolates pure PQ-residual quantization error (cells contribute no
    * misses there) — the `sim_ivf_recall` / `sim_pq_recall`
    * measured-not-asserted discipline for the composed funnel.
    *
    * Unlike exact-scored IVF (nested candidate sets ⇒ recall monotone in
    * nProbe, a theorem `sim_ivf_recall` relies on), ADC-RANKED recall is
    * NOT monotone: widening the probe admits quantization-noisy
    * candidates that can out-rank true neighbors (measured at sf0.1:
    * 0.3 → 0.2 → 0.1 across 1/3/8 cells on these unstructured random
    * embeddings — near-worst-case for PQ, where residual noise rivals
    * true-neighbor margins). This is precisely why production serving
    * ends with the exact-rerank stage ([[graft.ops.Pq.pqRerankTopK]],
    * measured in `sim_pq_recall`), which restores the funnel's recall
    * from its shortlist.
    */
  private val BitextK = 4
  private val BitextThreshold = 1.02

  /** Margin-based bitext mining through the ANN FUNNEL
    * ([[graft.ops.Similarity.bitextMarginFunnel]]) between the en and es
    * documents over their embeddings (vec_id ↔ doc_id): cell-bounded
    * candidate generation → ratio margin at k=[[BitextK]], mined at ≥
    * [[BitextThreshold]], mutual-best flagged. Probes ALL [[semAnchors]]
    * cells, which degenerates to the exact cross BY CONSTRUCTION (the
    * `sim_ivf_exact` witness pattern), so the funnel machinery itself is
    * hash-checked against the exact-replay oracle; partial-probe
    * candidate volume and recall are pinned in SimilaritySpec and
    * measured in SURVEY §6.1 (round-12 operators).
    */
  def bitextMargin(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    def side(lang: String) = docs.filter(col("lang") === lang)
      .select(col("doc_id"))
      .join(emb, col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("embedding"))
    graft.ops.Similarity.bitextMarginFunnel(side("en"), side("es"),
        "doc_id", "embedding", BitextK, BitextThreshold,
        semAnchors, nProbe = semAnchors.length)
      .orderBy("x_id")
  }

  def ivfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val anchors = ivfAnchors.map(_.map(_.toDouble))
    val model = graft.ops.Pq.ivfPqFit(emb, "vec_id", "embedding", anchors,
      Dim, PqM, PqK, IvfPqRounds)
    val truth = graft.ops.Pq.exactL2TopK(emb, "vec_id", "embedding", 0L,
      Dim, PqTopK).select("vec_id").localCheckpoint()
    Seq(1, IvfPqProbe, anchors.length).map { np =>
      val ret = graft.ops.Pq.ivfPqScores(model, emb, "vec_id",
          "embedding", anchors, 0L, Dim, PqM, np)
        .orderBy(col("adc_dist"), col("vec_id")).limit(PqTopK)
        .select("vec_id").localCheckpoint()
      ret.agg(count(lit(1)).as("n_retrieved"))
        .crossJoin(broadcast(ret.join(truth, Seq("vec_id"))
          .agg(count(lit(1)).as("n_hits"))))
        .select(lit(np).as("n_probe"), col("n_retrieved"), col("n_hits"),
          round(col("n_hits").cast("double") / PqTopK, 9).as("recall"))
    }.reduce(_ unionByName _).orderBy("n_probe")
  }

  /** PQ recall audit against the exact squared-L2 top-10 under the same
    * 9-dp coordinate rounding — recall@K is measured, not asserted (the
    * `sim_ann_recall`/`sim_ivf_recall` discipline extended to the PQ
    * rung), for BOTH serve shapes: pure ADC ranking, and the production
    * ADC-shortlist-50 → exact-rerank funnel (codes only miss when the
    * true neighbor falls outside the 10% shortlist).
    */
  def pqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val scores = graft.ops.Pq.pqAdcScores(emb, "vec_id", "embedding", 0L,
      Dim, PqM, PqK, PqRounds).localCheckpoint()
    val truth = graft.ops.Pq.exactL2TopK(emb, "vec_id", "embedding", 0L,
      Dim, PqTopK).select("vec_id").localCheckpoint()
    def row(method: String, picked: DataFrame): DataFrame = {
      val p = picked.localCheckpoint()
      val hits = p.join(truth, Seq("vec_id")).agg(count(lit(1)).as("n_hits"))
      p.agg(count(lit(1)).as("n_retrieved"))
        .crossJoin(broadcast(hits))
        .select(lit(method).as("method"), col("n_retrieved"),
          col("n_hits"),
          round(col("n_hits").cast("double") / PqTopK, 9).as("recall"))
    }
    row("pq_adc",
        scores.orderBy(col("adc_dist"), col("vec_id")).limit(PqTopK)
          .select("vec_id"))
      .unionByName(row("pq_adc_rerank50",
        graft.ops.Pq.pqRerankTopK(scores, emb, "vec_id", "embedding", 0L,
          Dim, PqCand, PqTopK).select("vec_id")))
      .orderBy("method")
  }

  /** Corpus-wide k-means ([[graft.ops.Similarity.kmeansFit]],
    * 4 clusters, 3 Lloyd rounds, md5-smallest seeds): final centroid
    * relation in long form + final member counts.
    */
  def kmeans(spark: SparkSession, dir: String): DataFrame =
    Similarity.kmeansFit(Tables.embeddings(spark, dir), "vec_id",
        "embedding", KmeansK, KmeansRounds)
      .orderBy("cid", "dim")

  private val RboK = 10

  /** Rank-biased overlap (p = 0.9, depth 10) between the lexical BM25
    * ranking and the embedding-cosine ranking — the scorer-drift read on
    * the same two lists RRF fuses ([[graft.ops.Eval.rankBiasedOverlap]]).
    */
  def rboRankings(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lexical = TextQueries.bm25(spark, dir)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("id"))))
    val semantic = bruteTopK(spark, dir)
      .select(col("vec_id").as("id"), col("cos"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cos").desc, col("id"))))
    Eval.rankBiasedOverlap(lexical, semantic, "id", "rank", RboK)
  }

  private val MrlBatch = 100L
  private val MrlK = 10
  private val MrlPrefix = 32

  /** Matryoshka-truncation fidelity of a 100-query batch
    * ([[graft.ops.Similarity.mrlFidelity]], k = 10, first 32 of 64
    * dims): per query, the surviving fraction of the full-dimension
    * top-10 under half-dimension retrieval — the measurement behind
    * truncated-vector serving plans.
    */
  def mrlFidelityQ(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.mrlFidelity(emb, emb.filter(col("vec_id") < MrlBatch),
        "vec_id", "embedding", MrlK, MrlPrefix)
      .orderBy("q_id")
  }

  // ---- oracle SQL -------------------------------------------------------------

  private def dotSql(a: String, b: String) =
    s"list_dot_product($a::DOUBLE[], $b::DOUBLE[])"

  private[queries] def cosineSql(v: String, q: String) =
    s"round(${dotSql(v, q)} / (sqrt(${dotSql(v, v)}) * sqrt(${dotSql(q, q)})), 6)"

  // shared eigvec replay CTEs (micro-unit covariance + unrolled power
  // rounds) — the fit both sim_top_eigvec and sim_pca_project verify
  private lazy val eigCteSql: String = {
    val iters = (1 to EigIters).map { r =>
      s"""w$r AS (SELECT cv.i,
         |    sum(CAST(round(cov * CAST(v AS DOUBLE), 12)
         |      AS DECIMAL(38,12))) AS w
         |  FROM cv JOIN v${r - 1} vv ON cv.j = vv.j GROUP BY cv.i),
         |n$r AS (SELECT sqrt(CAST(sum(CAST(round(
         |      CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 18)
         |      AS DECIMAL(38,18))) AS DOUBLE)) AS nrm FROM w$r),
         |v$r AS (SELECT i AS j,
         |    CAST(round(CAST(w AS DOUBLE) / nrm, 9) AS DECIMAL(18,9))
         |      AS v
         |  FROM w$r, n$r)""".stripMargin
    }.mkString(",\n")
    s"""q AS (
       |  SELECT vec_id, i,
       |    CAST(CAST(round(embedding[i]::DOUBLE, 6) AS DECIMAL(18,6))
       |      * 1000000 AS BIGINT) AS x6
       |  FROM embeddings, UNNEST(generate_series(1, $EigDims)) a(i)),
       |sums AS (SELECT i, CAST(sum(x6) AS HUGEINT) AS sx, count(*) AS n
       |         FROM q GROUP BY i),
       |pr AS (SELECT a.i AS i, b.i AS j,
       |    CAST(sum(CAST(a.x6 AS HUGEINT) * b.x6) AS HUGEINT) AS sxy
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
       |  GROUP BY 1, 2),
       |up AS (SELECT pr.i, pr.j,
       |    round(CAST(si.n * sxy - si.sx * sj.sx AS DOUBLE)
       |      / (CAST(si.n AS DOUBLE) * si.n * 1000000000000.0), 9)
       |      AS cov
       |  FROM pr JOIN sums si ON pr.i = si.i
       |  JOIN sums sj ON pr.j = sj.i),
       |cv AS (SELECT i, j, cov FROM up
       |       UNION ALL SELECT j, i, cov FROM up WHERE i <> j),
       |v0 AS (SELECT DISTINCT i AS j,
       |    CAST(0.125 AS DECIMAL(18,9)) AS v FROM cv),
       |$iters""".stripMargin
  }

  // shared PQ replay CTEs: per-subspace Lloyd rounds (the sim_kmeans
  // pattern keyed by sub), the encode assignment vs the FINAL codebook,
  // the query's ADC table, and the summed serve scores — the pipeline is
  // INTEGER end to end (shifted nano-unit coordinates, atto-unit
  // distances, round-half-up positive integer mean division), mirroring
  // graft.ops.Pq verbatim with zero IEEE ops to disagree on
  private def attoSqSql(a: String, b: String) =
    s"""sum(CAST(CAST($a - $b AS DECIMAL(19,0)) *
       |        CAST($a - $b AS DECIMAL(19,0)) AS DECIMAL(38,0)))"""
      .stripMargin

  /** The shared Lloyd-fit + encode replay over a pre-defined CTE
    * `x`(id, sub, dim, xn): seeds `sd`, rounds d/a/f/c 1..N, final
    * codebook `cF` and the encode assignment `aE` — the knot-for-knot
    * twin of [[graft.ops.Pq.pqFit]]/[[graft.ops.Pq.pqEncode]], reused
    * by the raw-coordinate PQ oracles and the IVFADC residual oracle.
    */
  private def pqLloydCtes(kk: Int, nRounds: Int): String = {
    val rounds = (1 to nRounds).map { r =>
      s"""d$r AS (SELECT x.id, x.sub, c.cid,
         |    ${attoSqSql("x.xn", "c.cn")} AS dist
         |  FROM x JOIN c${r - 1} c ON c.sub = x.sub AND c.dim = x.dim
         |  GROUP BY 1, 2, 3),
         |a$r AS (SELECT id, sub,
         |    struct_extract(min(struct_pack(d := dist, c := cid)), 'c')
         |      AS cid
         |  FROM d$r GROUP BY 1, 2),
         |f$r AS (SELECT a.sub, a.cid, x.dim,
         |    CAST((2 * sum(x.xn) + count(*)) // (2 * count(*)) AS BIGINT)
         |      AS cn
         |  FROM a$r a JOIN x ON x.id = a.id AND x.sub = a.sub
         |  GROUP BY 1, 2, 3),
         |c$r AS (SELECT p.sub, p.cid, p.dim, coalesce(f.cn, p.cn) AS cn
         |  FROM c${r - 1} p LEFT JOIN f$r f
         |    ON f.sub = p.sub AND f.cid = p.cid AND f.dim = p.dim)"""
        .stripMargin
    }.mkString(",\n")
    s"""sd AS (SELECT id,
       |    row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) - 1
       |      AS cid
       |  FROM (SELECT DISTINCT id FROM x)
       |  QUALIFY row_number()
       |    OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) <= $kk),
       |c0 AS (SELECT x.sub, CAST(sd.cid AS BIGINT) AS cid, x.dim,
       |    x.xn AS cn
       |  FROM sd JOIN x USING (id)),
       |$rounds,
       |cF AS (SELECT * FROM c$nRounds),
       |dE AS (SELECT x.id, x.sub, c.cid,
       |    ${attoSqSql("x.xn", "c.cn")} AS dist
       |  FROM x JOIN cF c ON c.sub = x.sub AND c.dim = x.dim
       |  GROUP BY 1, 2, 3),
       |aE AS (SELECT id, sub,
       |    struct_extract(min(struct_pack(d := dist, c := cid)), 'c')
       |      AS cid
       |  FROM dE GROUP BY 1, 2)""".stripMargin
  }

  private lazy val pqCteSql: String = {
    val subDim = Dim / PqM
    s"""x AS (
       |  SELECT vec_id AS id, CAST((i - 1) // $subDim AS BIGINT) AS sub,
       |    CAST((i - 1) % $subDim AS BIGINT) AS dim,
       |    CAST(CAST(round(embedding[i]::DOUBLE, 9) AS DECIMAL(12,9))
       |      * 1000000000 AS BIGINT) + 8000000000 AS xn
       |  FROM embeddings, UNNEST(generate_series(1, $Dim)) u(i)),
       |${pqLloydCtes(PqK, PqRounds)},
       |q AS (SELECT sub, dim, xn AS qn FROM x WHERE id = 0),
       |adt AS (SELECT c.sub, c.cid,
       |    ${attoSqSql("q.qn", "c.cn")} AS d
       |  FROM cF c JOIN q ON q.sub = c.sub AND q.dim = c.dim
       |  GROUP BY 1, 2),
       |s AS (SELECT a.id, sum(adt.d) AS adc
       |  FROM aE a JOIN adt ON adt.sub = a.sub AND adt.cid = a.cid
       |  GROUP BY 1)""".stripMargin
  }

  /** The IVFADC replay, fit half: fixed-anchor cells + residual
    * long-form feeding the shared Lloyd/encode CTEs (ends at `aE`); the
    * topk and recall oracles append their serve tails.
    */
  private lazy val ivfPqBaseCtes: String = {
    val subDim = Dim / PqM
    val centVals = ivfAnchors.zipWithIndex.map { case (c, i) =>
      val norm2 = c.map(x => x.toDouble * x).sum
      s"($i, ${c.map(v => s"$v.0").mkString("[", ",", "]")}::DOUBLE[], $norm2)"
    }.mkString(", ")
    val dists = ivfAnchors.map { c =>
      val arr = c.map(v => s"$v.0").mkString("[", ",", "]")
      val norm2 = c.map(x => x.toDouble * x).sum
      s"$norm2 - 2.0 * ${dotSql("embedding", arr)}"
    }.mkString("[", ", ", "]")
    s"""cent AS (SELECT * FROM (VALUES $centVals) c(ci, cvec, cn2)),
       |corpus AS (SELECT vec_id, embedding,
       |    list_indexof(dl, list_min(dl)) - 1 AS cell
       |  FROM (SELECT vec_id, embedding, $dists AS dl FROM embeddings)),
       |x AS (
       |  SELECT co.vec_id AS id, CAST((i - 1) // $subDim AS BIGINT) AS sub,
       |    CAST((i - 1) % $subDim AS BIGINT) AS dim,
       |    CAST(CAST(round(co.embedding[i]::DOUBLE - ct.cvec[i], 9)
       |        AS DECIMAL(19,9))
       |      * 1000000000 AS BIGINT) + 8000000000 AS xn
       |  FROM corpus co JOIN cent ct ON ct.ci = co.cell,
       |    UNNEST(generate_series(1, $Dim)) u(i)),
       |${pqLloydCtes(PqK, IvfPqRounds)}""".stripMargin
  }

  /** Query-side serve over [[ivfPqBaseCtes]]: ranked cells `qc`, the
    * per-cell query residual long-form `qx` (ALL cells — a cell's ADC
    * entries do not depend on how many cells are probed), the ADC
    * tables `adt` and the every-vector score relation `s`.
    */
  private lazy val ivfPqServeCtes: String = {
    val subDim = Dim / PqM
    s"""qrow AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |qd AS (SELECT ci AS cell, cvec, qv,
       |    cn2 - 2.0 * list_dot_product(qv::DOUBLE[], cvec) AS d
       |  FROM qrow, cent),
       |qc AS (SELECT cell, cvec, qv,
       |    row_number() OVER (ORDER BY d, cell) AS crk FROM qd),
       |qx AS (SELECT qc.cell, CAST((i - 1) // $subDim AS BIGINT) AS sub,
       |    CAST((i - 1) % $subDim AS BIGINT) AS dim,
       |    CAST(CAST(round(qv[i]::DOUBLE - cvec[i], 9) AS DECIMAL(19,9))
       |      * 1000000000 AS BIGINT) + 8000000000 AS qn
       |  FROM qc, UNNEST(generate_series(1, $Dim)) u(i)),
       |adt AS (SELECT qx.cell, c.sub, c.cid,
       |    ${attoSqSql("qx.qn", "c.cn")} AS d
       |  FROM cF c JOIN qx ON qx.sub = c.sub AND qx.dim = c.dim
       |  GROUP BY 1, 2, 3),
       |s AS (SELECT a.id, co.cell, sum(adt.d) AS adc
       |  FROM aE a JOIN corpus co ON co.vec_id = a.id
       |  JOIN adt ON adt.cell = co.cell AND adt.sub = a.sub
       |    AND adt.cid = a.cid
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Exact raw-coordinate L2 truth CTEs (the [[graft.ops.Pq
    * .exactL2TopK]] replay): `ext` = top-[[PqTopK]] ids by (distance,
    * id) under the same 9-dp quantization.
    */
  private lazy val exactL2Ctes: String =
    s"""xr AS (SELECT vec_id AS id, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(CAST(round(embedding[i]::DOUBLE, 9) AS DECIMAL(12,9))
       |      * 1000000000 AS BIGINT) + 8000000000 AS xn
       |  FROM embeddings, UNNEST(generate_series(1, $Dim)) u(i)),
       |qr0 AS (SELECT dim, xn AS qn FROM xr WHERE id = 0),
       |exd AS (SELECT xr.id, ${attoSqSql("xr.xn", "qr0.qn")} AS d
       |  FROM xr JOIN qr0 USING (dim) GROUP BY xr.id),
       |ext AS (SELECT id FROM exd ORDER BY d, id LIMIT $PqTopK)"""
      .stripMargin

  // must mirror Similarity.bucketExpr over the given plane set
  private def bucketSqlFor(vecExpr: String, ps: Array[Array[Int]]): String =
    ps.zipWithIndex.map { case (plane, p) =>
      val arr = plane.map(v => s"$v.0").mkString("[", ",", "]")
      s"(CASE WHEN ${dotSql(vecExpr, arr)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private def bucketSql(vecExpr: String): String = bucketSqlFor(vecExpr, planes)

  // shared edge relation: LSH-banded + exact-verified near-dup pairs
  // (the sim_lsh_neardup_pairs body, reused by the triangle census)
  private[queries] val nearDupEdgesCte =
    s"""b AS (SELECT vec_id AS id, embedding AS v,
       |  ${bucketSqlFor("embedding", bandPlanes(0))} AS bk0,
       |  ${bucketSqlFor("embedding", bandPlanes(1))} AS bk1
       |  FROM embeddings),
       |ndedges AS (
       |  SELECT a.id AS id_a, c.id AS id_b, ${cosineSql("a.v", "c.v")} AS cos
       |  FROM b a JOIN b c ON a.id < c.id
       |    AND (a.bk0 = c.bk0 OR a.bk1 = c.bk1)
       |  WHERE ${cosineSql("a.v", "c.v")} >= $NearDupThreshold)""".stripMargin

  private val knnJoinSql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
       |           WHERE vec_id < $KnnQueries),
       |s AS (SELECT q_id, vec_id, ${cosineSql("embedding", "qv")} AS cos
       |      FROM embeddings, q WHERE vec_id <> q_id),
       |r AS (SELECT q_id, vec_id, cos, row_number()
       |        OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |      FROM s)
       |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, cos
       |FROM r WHERE rank <= $KnnK ORDER BY q_id, rank""".stripMargin

  private val bruteTopKSql =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT vec_id, ${cosineSql("embedding", "qv")} AS cos
       |FROM embeddings, q
       |ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin

  // mirrors Ivf.nearestCellExpr / nearestCellsExpr over the FIXED
  // ivfAnchors: per-cell |c|² − 2·v·c (the |v|² term is cell-independent
  // and dropped on both engines), corpus argmin = FIRST minimal index
  // (list_indexof, 1-based → −1, exactly array_position's tie rule),
  // query cell ranking = (d, ci) ascending — the struct-sort tie rule of
  // nearestCellsExpr. Retrieval, per-query top-K and the recall counts
  // then replay probeBatch verbatim; dot products are sequential-sum on
  // both engines (graft_dot ↔ list_dot_product), so no rounding is needed
  // before the argmin.
  private lazy val ivfRecallSql: String = {
    val centVals = ivfAnchors.zipWithIndex.map { case (c, i) =>
      val norm2 = c.map(x => x.toDouble * x).sum
      s"($i, ${c.map(v => s"$v.0").mkString("[", ",", "]")}::DOUBLE[], $norm2)"
    }.mkString(", ")
    val dists = ivfAnchors.map { c =>
      val arr = c.map(v => s"$v.0").mkString("[", ",", "]")
      val norm2 = c.map(x => x.toDouble * x).sum
      s"$norm2 - 2.0 * ${dotSql("embedding", arr)}"
    }.mkString("[", ", ", "]")
    s"""WITH cent AS (SELECT * FROM (VALUES $centVals) c(ci, cvec, cn2)),
       |corpus AS (SELECT vec_id, embedding,
       |    list_indexof(dl, list_min(dl)) - 1 AS cell
       |  FROM (SELECT vec_id, embedding, $dists AS dl FROM embeddings)),
       |q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
       |      WHERE vec_id < $KnnQueries),
       |qd AS (SELECT q_id, qv, ci,
       |    cn2 - 2.0 * list_dot_product(qv::DOUBLE[], cvec) AS d
       |  FROM q, cent),
       |qc AS (SELECT q_id, qv, ci, row_number()
       |    OVER (PARTITION BY q_id ORDER BY d, ci) AS crk FROM qd),
       |np AS (SELECT * FROM (VALUES (1), (2), (${ivfAnchors.length}))
       |       t(n_probe)),
       |cand AS (SELECT np.n_probe, qc.q_id, c.vec_id,
       |    ${cosineSql("c.embedding", "qc.qv")} AS cos
       |  FROM np JOIN qc ON qc.crk <= np.n_probe
       |  JOIN corpus c ON c.cell = qc.ci
       |  WHERE c.vec_id <> qc.q_id),
       |r AS (SELECT n_probe, q_id, vec_id, row_number() OVER
       |    (PARTITION BY n_probe, q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM cand),
       |ret AS (SELECT n_probe, q_id, vec_id FROM r WHERE rank <= $K),
       |tr AS (SELECT q_id, vec_id, row_number() OVER
       |    (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM (SELECT q.q_id, e.vec_id,
       |          ${cosineSql("e.embedding", "q.qv")} AS cos
       |        FROM embeddings e, q WHERE e.vec_id <> q.q_id)),
       |truth AS (SELECT q_id, vec_id FROM tr WHERE rank <= $K)
       |SELECT CAST(ret.n_probe AS INTEGER) AS n_probe,
       |  count(*) AS n_retrieved, count(t.q_id) AS n_hits,
       |  round(CAST(count(t.q_id) AS DOUBLE) / ${KnnQueries * K}, 9)
       |    AS recall
       |FROM ret LEFT JOIN truth t
       |  ON t.q_id = ret.q_id AND t.vec_id = ret.vec_id
       |GROUP BY 1 ORDER BY n_probe""".stripMargin
  }

  // mirrors Similarity.anchorCellExpr over semAnchors: per-anchor rounded
  // normalized dot, argmax = FIRST maximal index (list_indexof, 1-based,
  // exactly array_position's tie rule)
  private def semScoresSql(vecExpr: String): String =
    semAnchors.map { a =>
      val arr = a.map(v => s"$v.0").mkString("[", ",", "]")
      val norm2 = a.map(x => x.toDouble * x).sum
      s"round(${dotSql(vecExpr, arr)} / sqrt($norm2), 6)"
    }.mkString("[", ", ", "]")

  private def semCellSql(vecExpr: String): String = {
    val scores = semScoresSql(vecExpr)
    s"list_indexof($scores, list_max($scores))"
  }

  val registry: Map[String, Query] = Map(
    // pair products round to 9dp and sum in exact DECIMAL; cov is the same
    // fixed IEEE sequence as embeddingCovariance
    "sim_embedding_cov" -> Query(embeddingCov, Some(
      s"""WITH p AS (
         |  SELECT i, j, embedding[i]::DOUBLE AS xi, embedding[j]::DOUBLE AS xj
         |  FROM embeddings,
         |    UNNEST(generate_series(1, $CovDims)) a(i),
         |    UNNEST(generate_series(1, $CovDims)) b(j)
         |  WHERE j >= i),
         |pairs AS (SELECT i, j, count(*) AS n,
         |    sum(CAST(round(xi * xj, 9) AS DECIMAL(28,9))) AS sp
         |  FROM p GROUP BY 1, 2),
         |means AS (SELECT i,
         |    sum(CAST(round(embedding[i]::DOUBLE, 9) AS DECIMAL(28,9))) AS s
         |  FROM embeddings, UNNEST(generate_series(1, $CovDims)) a(i)
         |  GROUP BY 1)
         |SELECT p.i, p.j, n,
         |  round(CAST(sp AS DOUBLE) / n
         |    - (CAST(mi.s AS DOUBLE) / n) * (CAST(mj.s AS DOUBLE) / n), 9)
         |    AS cov
         |FROM pairs p JOIN means mi ON p.i = mi.i JOIN means mj ON p.j = mj.i
         |ORDER BY p.i, p.j""".stripMargin)),
    // both rank lists re-derive from their own oracle definitions (BM25
    // SQL shared verbatim with text_bm25_topk); contributions 1/(60+rank)
    // round to 9dp and sum in exact DECIMAL
    // k-bounded rankings; per-depth contribution = exact-literal RBO
    // weight (CAST to DOUBLE) × co-entry count ÷ depth, rounded 9 dp and
    // DECIMAL-summed — the DCG-literal discipline applied to p-powers
    "sim_rbo_rankings" -> Query(rboRankings, Some({
      val wCase = (1 to RboK).map(d =>
        s"WHEN $d THEN CAST(${Eval.rboWeight(d)} AS DOUBLE)")
        .mkString("CASE d ", " ", " END")
      s"""WITH bmq AS (${TextQueries.bm25Sql}),
         |bm AS (SELECT id, row_number() OVER (ORDER BY bm25 DESC, id)
         |         AS rank FROM bmq),
         |czq AS ($bruteTopKSql),
         |cz AS (SELECT vec_id AS id, row_number()
         |         OVER (ORDER BY cos DESC, vec_id) AS rank FROM czq),
         |aa AS (SELECT id, rank AS ra FROM bm WHERE rank <= $RboK),
         |bb AS (SELECT id, rank AS rb FROM cz WHERE rank <= $RboK),
         |m AS (SELECT greatest(ra, rb) AS m FROM aa JOIN bb USING (id)),
         |g AS (SELECT CAST(i AS INTEGER) AS d
         |      FROM UNNEST(generate_series(1, $RboK)) u(i)),
         |x AS (SELECT d, count(m.m) AS x FROM g
         |      LEFT JOIN m ON m.m <= g.d GROUP BY d),
         |c AS (SELECT d, x,
         |        CAST(round($wCase * x / d, 9) AS DECIMAL(18,9)) AS c
         |      FROM x)
         |SELECT $RboK AS k,
         |  CAST(max(CASE WHEN d = $RboK THEN x END) AS BIGINT) AS n_common,
         |  round(CAST(sum(c) AS DOUBLE), 6) AS rbo
         |FROM c""".stripMargin
    })),
    "sim_rrf_fusion" -> Query(rrfFusion, Some(
      s"""WITH bmq AS (${TextQueries.bm25Sql}),
         |bm AS (SELECT id, row_number() OVER (ORDER BY bm25 DESC, id)
         |         AS rank FROM bmq),
         |czq AS ($bruteTopKSql),
         |cz AS (SELECT vec_id AS id, row_number()
         |         OVER (ORDER BY cos DESC, vec_id) AS rank FROM czq),
         |u AS (SELECT id, rank FROM bm UNION ALL SELECT id, rank FROM cz),
         |w AS (SELECT id, CAST(round(1.0 / (rank + 60), 9)
         |        AS DECIMAL(18,9)) AS w FROM u)
         |SELECT id, count(*) AS n_lists, CAST(sum(w) AS DOUBLE)
         |  AS rrf_score
         |FROM w GROUP BY 1 ORDER BY rrf_score DESC, id""".stripMargin)),
    // label filter is null-safe (IS DISTINCT FROM) and the semi-hard cos
    // cap applies AFTER the 6-dp round, mirroring Similarity.hardNegatives
    "sim_hard_negatives" -> Query(hardNegatives, Some(
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv, label AS ql
         |           FROM embeddings WHERE vec_id < $KnnQueries),
         |s AS (SELECT q_id, vec_id, label,
         |        ${cosineSql("embedding", "qv")} AS cos
         |      FROM embeddings, q
         |      WHERE vec_id <> q_id AND label IS DISTINCT FROM ql),
         |r AS (SELECT q_id, vec_id, label, cos, row_number()
         |        OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |      FROM s WHERE cos <= $NegMaxCos)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, label, cos
         |FROM r WHERE rank <= $NegK ORDER BY q_id, rank""".stripMargin)),
    // majority vote among same-cell labeled neighbors; ties break to the
    // smallest label, unlabeled rows with no qualifying neighbor keep a
    // null label and 0 votes
    "sim_label_propagation" -> Query(labelProp, Some(
      s"""WITH a AS (SELECT vec_id, embedding,
         |  CASE WHEN vec_id % 10 = 0 THEN NULL ELSE label END AS l,
         |  ${semCellSql("embedding")} AS cell FROM embeddings),
         |u AS (SELECT vec_id, embedding, cell FROM a WHERE l IS NULL),
         |lab AS (SELECT cell, l, embedding AS lv FROM a WHERE l IS NOT NULL),
         |v AS (SELECT u.vec_id, lab.l, count(*) AS n
         |      FROM u JOIN lab ON u.cell = lab.cell
         |      WHERE ${cosineSql("u.embedding", "lab.lv")} >= $LabelPropMinCos
         |      GROUP BY 1, 2),
         |w AS (SELECT vec_id, l, n, row_number()
         |        OVER (PARTITION BY vec_id ORDER BY n DESC, l) AS rk
         |      FROM v)
         |SELECT u.vec_id, w.l AS prop_label,
         |  coalesce(w.n, 0) AS n_votes
         |FROM u LEFT JOIN (SELECT * FROM w WHERE rk = 1) w USING (vec_id)
         |ORDER BY u.vec_id""".stripMargin)),
    // the greedy MMR selection replayed as chained argmax CTEs: s1 is the
    // relevance argmax, s_i excludes all prior picks and penalizes by the
    // max pairwise sim to them — literal λ and (1−λ) constants print with
    // round-trip precision, so both engines run the same three IEEE ops
    "sim_mmr_rerank" -> Query(mmrRerank, Some({
      val l = MmrLambda
      val mu = 1.0 - MmrLambda
      val steps = (2 to MmrK).map { i =>
        val prev = (1 until i).map(j => s"SELECT vec_id FROM s$j")
          .mkString(" UNION ALL ")
        s"""s$i AS (SELECT c0.vec_id, c0.rel,
           |  $l * c0.rel - $mu * (SELECT max(p.s) FROM p
           |    WHERE p.ia = c0.vec_id AND p.ib IN ($prev)) AS score
           |  FROM c0 WHERE c0.vec_id NOT IN ($prev)
           |  ORDER BY score DESC, c0.vec_id LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val union = (1 to MmrK).map(i =>
        s"SELECT $i AS rank, vec_id, rel, score FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |c0 AS (SELECT vec_id, ${cosineSql("embedding", "qv")} AS rel,
         |         embedding
         |       FROM embeddings, q WHERE vec_id <> 0
         |       ORDER BY rel DESC, vec_id LIMIT $MmrCandidates),
         |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |        ${cosineSql("a.embedding", "b.embedding")} AS s
         |      FROM c0 a JOIN c0 b ON a.vec_id <> b.vec_id),
         |s1 AS (SELECT vec_id, rel, $l * rel - $mu * 0.0 AS score
         |       FROM c0 ORDER BY score DESC, vec_id LIMIT 1),
         |$steps
         |SELECT CAST(rank AS BIGINT) AS rank, vec_id, rel,
         |  score AS mmr_score
         |FROM ($union) ORDER BY rank""".stripMargin
    })),
    // the identical seeded ±1 rows inline here and in the Spark plan; both
    // engines run the same sequential double dot product
    "sim_random_projection" -> Query(randomProjection, Some({
      val cols = projSigns.zipWithIndex.map { case (row, j) =>
        val arr = row.map(v => s"$v.0").mkString("[", ",", "]")
        s"round(${dotSql("embedding", arr)}, 6) AS p$j"
      }.mkString(", ")
      s"""SELECT vec_id, $cols
         |FROM embeddings ORDER BY vec_id""".stripMargin
    })),
    // dup = shares a cell with a LOWER-id doc at cos >= threshold; the
    // within-cell self-join enumerates exactly the candidate pairs the
    // Spark side's cell-keyed join produces
    // cells, ε-edges, degrees, the min-label reachability walk over the
    // core subgraph and the border min replay the Spark side verbatim;
    // every comparison is integer or 6-dp-rounded
    "sim_dbscan" -> Query(dbscanClusters, Some(
      s"""WITH RECURSIVE a AS (SELECT vec_id, embedding,
         |  ${semCellSql("embedding")} AS cell FROM embeddings),
         |e AS MATERIALIZED (
         |  SELECT x.vec_id AS ia, y.vec_id AS ib
         |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE ${cosineSql("x.embedding", "y.embedding")} >= $DbscanTau),
         |sym AS MATERIALIZED (SELECT ia AS u, ib AS v FROM e
         |  UNION ALL SELECT ib, ia FROM e),
         |core AS MATERIALIZED (SELECT u AS id FROM sym GROUP BY 1
         |  HAVING count(*) >= $DbscanMinPts),
         |ce AS MATERIALIZED (SELECT u, v FROM sym
         |  WHERE u IN (SELECT id FROM core) AND v IN (SELECT id FROM core)),
         |lmin AS (SELECT id FROM core c WHERE NOT EXISTS
         |  (SELECT 1 FROM ce WHERE ce.u = c.id AND ce.v < c.id)),
         |walk AS (SELECT id, id AS comp FROM lmin
         |  UNION SELECT ce.v, w.comp FROM walk w JOIN ce ON ce.u = w.id),
         |comp AS (SELECT id, min(comp) AS cluster FROM walk GROUP BY id),
         |bord AS (SELECT s.u AS id, min(c.cluster) AS cluster
         |  FROM sym s JOIN comp c ON c.id = s.v
         |  WHERE s.u NOT IN (SELECT id FROM core) GROUP BY 1)
         |SELECT a.vec_id,
         |  CASE WHEN comp.id IS NOT NULL THEN 'core'
         |       WHEN bord.id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  CAST(coalesce(comp.cluster, bord.cluster, -1) AS BIGINT) AS cluster
         |FROM a LEFT JOIN comp ON comp.id = a.vec_id
         |LEFT JOIN bord ON bord.id = a.vec_id
         |ORDER BY vec_id""".stripMargin)),
    // the SAME Lloyd replay as sim_kmeans, one more exact-DECIMAL
    // assignment pass against the final centroids (min-struct ties to
    // the smallest cid — the plan's argmin), then the sim_dbscan walk
    // over the fitted cells
    "sim_dbscan_fitted" -> Query(dbscanFittedQ, Some(
      s"""WITH RECURSIVE ${kmeansCtesSql(KmeansK, KmeansRounds)},
         |dF AS (SELECT x.id, c.cid,
         |    sum(CAST((x.x9 - c.c) AS DECIMAL(14,9)) *
         |        CAST((x.x9 - c.c) AS DECIMAL(14,9))) AS dist
         |  FROM x JOIN c$KmeansRounds c USING (dim) GROUP BY 1, 2),
         |cellA AS (SELECT id,
         |    struct_extract(min(struct_pack(d := dist, c := cid)), 'c')
         |      AS cell
         |  FROM dF GROUP BY id),
         |a AS MATERIALIZED (SELECT e.vec_id, e.embedding, ca.cell
         |  FROM embeddings e JOIN cellA ca ON ca.id = e.vec_id),
         |e AS MATERIALIZED (
         |  SELECT x.vec_id AS ia, y.vec_id AS ib
         |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE ${cosineSql("x.embedding", "y.embedding")} >= $DbscanTau),
         |sym AS MATERIALIZED (SELECT ia AS u, ib AS v FROM e
         |  UNION ALL SELECT ib, ia FROM e),
         |core AS MATERIALIZED (SELECT u AS id FROM sym GROUP BY 1
         |  HAVING count(*) >= $DbscanMinPts),
         |ce AS MATERIALIZED (SELECT u, v FROM sym
         |  WHERE u IN (SELECT id FROM core) AND v IN (SELECT id FROM core)),
         |lmin AS (SELECT id FROM core c WHERE NOT EXISTS
         |  (SELECT 1 FROM ce WHERE ce.u = c.id AND ce.v < c.id)),
         |walk AS (SELECT id, id AS comp FROM lmin
         |  UNION SELECT ce.v, w.comp FROM walk w JOIN ce ON ce.u = w.id),
         |comp AS (SELECT id, min(comp) AS cluster FROM walk GROUP BY id),
         |bord AS (SELECT s.u AS id, min(c.cluster) AS cluster
         |  FROM sym s JOIN comp c ON c.id = s.v
         |  WHERE s.u NOT IN (SELECT id FROM core) GROUP BY 1)
         |SELECT a.vec_id,
         |  CASE WHEN comp.id IS NOT NULL THEN 'core'
         |       WHEN bord.id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  CAST(coalesce(comp.cluster, bord.cluster, -1) AS BIGINT) AS cluster
         |FROM a LEFT JOIN comp ON comp.id = a.vec_id
         |LEFT JOIN bord ON bord.id = a.vec_id
         |ORDER BY vec_id""".stripMargin)),
    // top-2 anchor cells via the masked second argmax PLUS the fitted
    // k-means cells (the SAME Lloyd replay + assignment pass as
    // sim_dbscan_fitted); true edges from the exact quadratic pair scan
    // (audit-scale); recall = one division of exact integers per arm
    "sim_dbscan_recall" -> Query(dbscanRecall, Some(
      s"""WITH ${kmeansCtesSql(KmeansK, KmeansRounds)},
         |dF AS (SELECT x.id, c.cid,
         |    sum(CAST((x.x9 - c.c) AS DECIMAL(14,9)) *
         |        CAST((x.x9 - c.c) AS DECIMAL(14,9))) AS dist
         |  FROM x JOIN c$KmeansRounds c USING (dim) GROUP BY 1, 2),
         |cellA AS (SELECT id,
         |    struct_extract(min(struct_pack(d := dist, c := cid)), 'c')
         |      AS cell
         |  FROM dF GROUP BY id),
         |sc AS (SELECT vec_id, embedding,
         |    ${semScoresSql("embedding")} AS s FROM embeddings),
         |pr1 AS (SELECT vec_id, embedding, s,
         |    list_indexof(s, list_max(s)) AS c1 FROM sc),
         |pr2 AS (SELECT vec_id, embedding, c1,
         |    list_indexof(m, list_max(m)) AS c2
         |  FROM (SELECT *, [CASE WHEN i = c1 THEN '-infinity'::DOUBLE
         |      ELSE s[i] END FOR i IN generate_series(1,
         |      ${semAnchors.length})] AS m FROM pr1)),
         |aj AS MATERIALIZED (SELECT pr2.vec_id, pr2.embedding, pr2.c1,
         |    pr2.c2, ca.cell AS fc
         |  FROM pr2 JOIN cellA ca ON ca.id = pr2.vec_id),
         |p AS (SELECT CAST(x.c1 = y.c1 AS INT) AS h1,
         |    CAST(x.c1 = y.c1 OR x.c1 = y.c2 OR x.c2 = y.c1
         |      OR x.c2 = y.c2 AS INT) AS h2,
         |    CAST(x.fc = y.fc AS INT) AS hf
         |  FROM aj x JOIN aj y ON x.vec_id < y.vec_id
         |  WHERE ${cosineSql("x.embedding", "y.embedding")} >= $DbscanTau),
         |st AS (SELECT count(*) AS n_true, sum(h1) AS f1, sum(h2) AS f2,
         |  sum(hf) AS ff FROM p)
         |SELECT 'anchored' AS method, CAST(1 AS INT) AS n_probe, n_true,
         |  CAST(f1 AS BIGINT) AS n_found,
         |  CASE WHEN n_true > 0
         |    THEN CAST(f1 AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall
         |FROM st
         |UNION ALL
         |SELECT 'anchored', CAST(2 AS INT), n_true, CAST(f2 AS BIGINT),
         |  CASE WHEN n_true > 0
         |    THEN CAST(f2 AS DOUBLE) / CAST(n_true AS DOUBLE) END
         |FROM st
         |UNION ALL
         |SELECT 'fitted', CAST(1 AS INT), n_true, CAST(ff AS BIGINT),
         |  CASE WHEN n_true > 0
         |    THEN CAST(ff AS DOUBLE) / CAST(n_true AS DOUBLE) END
         |FROM st ORDER BY method, n_probe""".stripMargin)),
    "sim_semantic_dedup" -> Query(semanticDedup, Some(
      s"""WITH a AS (SELECT vec_id, embedding,
         |  ${semCellSql("embedding")} AS cell FROM embeddings),
         |dup AS (SELECT DISTINCT y.vec_id
         |        FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |        WHERE ${cosineSql("x.embedding", "y.embedding")}
         |              >= $NearDupThreshold)
         |SELECT vec_id, CAST(cell AS INT) AS cell FROM a
         |WHERE vec_id NOT IN (SELECT vec_id FROM dup)
         |ORDER BY vec_id""".stripMargin)),
    "sim_brute_topk" -> Query(bruteTopK, Some(bruteTopKSql)),
    // probing all cells IS brute force — identical oracle by construction
    "sim_ivf_exact" -> Query(ivfExact, Some(bruteTopKSql)),
    "sim_ivf_recall" -> Query(ivfRecall, Some(ivfRecallSql)),
    // candidate = shares a bucket in ANY band; each candidate pair verified
    // by exact cosine — the OR-join enumerates the identical pair set the
    // Spark side's banded explode + first-collision residual produces once
    // two knn replays (6-dp cosine, (cos desc, id) rank ties), the
    // prefix arm on embedding[1:32]; LEFT join keeps zero-overlap
    // queries; overlap = one IEEE division of exact integers
    "sim_mrl_fidelity" -> Query(mrlFidelityQ, Some(
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv
         |  FROM embeddings WHERE vec_id < $MrlBatch),
         |sf AS (SELECT q_id, vec_id,
         |    ${cosineSql("embedding", "qv")} AS cos
         |  FROM embeddings, q WHERE vec_id <> q_id),
         |rf AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rank FROM sf)
         |  WHERE rank <= $MrlK),
         |qp AS (SELECT vec_id AS q_id, embedding[1:$MrlPrefix] AS qv
         |  FROM embeddings WHERE vec_id < $MrlBatch),
         |sp AS (SELECT q_id, e.vec_id,
         |    ${cosineSql(s"e.embedding[1:$MrlPrefix]", "qv")} AS cos
         |  FROM embeddings e, qp WHERE e.vec_id <> q_id),
         |rp AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rank FROM sp)
         |  WHERE rank <= $MrlK),
         |ov AS (SELECT rf.q_id,
         |    CAST(count(rp.vec_id) AS BIGINT) AS n_common
         |  FROM rf LEFT JOIN rp ON rf.q_id = rp.q_id
         |    AND rf.vec_id = rp.vec_id
         |  GROUP BY 1)
         |SELECT q_id, CAST($MrlK AS BIGINT) AS k, n_common,
         |  CAST(n_common AS DOUBLE) / $MrlK AS overlap_at_k
         |FROM ov ORDER BY q_id""".stripMargin)),
    "sim_lsh_neardup_pairs" -> Query(lshNearDupPairs, Some(
      s"""WITH $nearDupEdgesCte
         |SELECT id_a, id_b, cos FROM ndedges
         |ORDER BY id_a, id_b""".stripMargin)),
    // Schank degree-ordered orientation mirrored in SQL over the same
    // edge CTE: orient from the (degree, id)-smaller endpoint, wedge on
    // shared source, close against the canonical (min,max) edge list
    "sim_neardup_triangles" -> Query(neardupTriangles, Some(
      s"""WITH $nearDupEdgesCte,
         |und AS (SELECT DISTINCT id_a AS u, id_b AS v FROM ndedges),
         |deg AS (SELECT n, count(*) AS d FROM
         |    (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und) t
         |  GROUP BY 1),
         |ori AS (SELECT
         |    CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND u < v)
         |      THEN u ELSE v END AS s,
         |    CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND u < v)
         |      THEN v ELSE u END AS t
         |  FROM und JOIN deg d1 ON u = d1.n JOIN deg d2 ON v = d2.n),
         |w AS (SELECT a.t AS w1, b2.t AS w2 FROM ori a
         |      JOIN ori b2 ON a.s = b2.s AND a.t < b2.t),
         |cw AS (SELECT count(*) AS n_wedges,
         |    CAST(coalesce(sum(CASE WHEN c.u IS NOT NULL THEN 1 ELSE 0 END),
         |      0) AS BIGINT) AS n_triangles
         |  FROM w LEFT JOIN und c ON w.w1 = c.u AND w.w2 = c.v)
         |SELECT (SELECT count(*) FROM deg) AS n_nodes,
         |  (SELECT count(*) FROM und) AS n_edges, n_wedges, n_triangles
         |FROM cw ORDER BY n_nodes""".stripMargin)),
    "sim_lsh_topk" -> Query(lshTopK, Some(
      s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |           FROM embeddings),
         |q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0)
         |SELECT b.vec_id, CAST(b.bucket AS BIGINT) AS bucket,
         |  ${cosineSql("b.embedding", "qv")} AS cos
         |FROM b, q WHERE b.bucket = q.qb
         |ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin)),
    "sim_lsh_multiprobe" -> Query(lshTopKMultiprobe, Some({
      val probes = ("qb" +: planes.indices.map(p => s"xor(qb, ${1L << p})"))
        .mkString("[", ", ", "]")
      s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |           FROM embeddings),
         |q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0),
         |p AS (SELECT qv, unnest($probes) AS pb FROM q)
         |SELECT b.vec_id, CAST(b.bucket AS BIGINT) AS bucket,
         |  ${cosineSql("b.embedding", "qv")} AS cos
         |FROM b JOIN p ON b.bucket = p.pb
         |ORDER BY cos DESC, vec_id LIMIT $K""".stripMargin
    })),
    // truth / single / multi are the verbatim topk CTEs; recall joins
    // K-bounded id sets, denominator is the fixed K
    "sim_ann_recall" -> Query(annRecall, Some({
      val probes = ("qb" +: planes.indices.map(p => s"xor(qb, ${1L << p})"))
        .mkString("[", ", ", "]")
      s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |           FROM embeddings),
         |q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0),
         |truth AS (SELECT b.vec_id FROM b, q
         |  ORDER BY ${cosineSql("b.embedding", "qv")} DESC, vec_id LIMIT $K),
         |single AS (SELECT b.vec_id FROM b, q WHERE b.bucket = q.qb
         |  ORDER BY ${cosineSql("b.embedding", "qv")} DESC, vec_id LIMIT $K),
         |mp AS (SELECT qv, unnest($probes) AS pb FROM q),
         |multi AS (SELECT b.vec_id FROM b JOIN mp ON b.bucket = mp.pb
         |  ORDER BY ${cosineSql("b.embedding", "qv")} DESC, vec_id LIMIT $K),
         |s AS (SELECT 'lsh_single_probe' AS method,
         |    (SELECT count(*) FROM single) AS n_retrieved,
         |    (SELECT count(*) FROM single JOIN truth USING (vec_id))
         |      AS n_hits
         |  UNION ALL
         |  SELECT 'lsh_multiprobe',
         |    (SELECT count(*) FROM multi),
         |    (SELECT count(*) FROM multi JOIN truth USING (vec_id)))
         |SELECT method, n_retrieved, n_hits,
         |  round(CAST(n_hits AS DOUBLE) / $K, 9) AS recall
         |FROM s ORDER BY method""".stripMargin
    })),
    // the kmeans Lloyd replay generalized with a subspace key, plus the
    // encode-vs-final-codebook assignment and the broadcast ADC table —
    // fit, encode and serve all replay bit-identically
    "sim_pq_topk" -> Query(pqTopK, Some(
      s"""WITH $pqCteSql
         |SELECT id AS vec_id, CAST(adc AS DOUBLE) / 1e18 AS adc_dist
         |FROM s ORDER BY adc_dist, id LIMIT $PqTopK""".stripMargin)),
    // fixed-anchor cells + residual Lloyd + per-probed-cell ADC — the
    // full IVFADC funnel replays knot for knot
    "sim_ivfpq_topk" -> Query(ivfPqTopK, Some(
      s"""WITH $ivfPqBaseCtes,
         |$ivfPqServeCtes
         |SELECT s.id AS vec_id, CAST(s.cell AS INTEGER) AS cell,
         |  CAST(adc AS DOUBLE) / 1e18 AS adc_dist
         |FROM s JOIN qc ON qc.cell = s.cell AND qc.crk <= $IvfPqProbe
         |ORDER BY adc_dist, vec_id LIMIT $PqTopK""".stripMargin)),
    // ratio-margin mining replay: 6-dp cosines, exact DECIMAL top-k
    // sums with counts carried (no decimal division), one 9-dp double
    // division; x-best candidates, mutual flag from the y-side argmax
    "sim_bitext_margin" -> Query(bitextMargin, Some(
      s"""WITH xe AS (SELECT d.doc_id AS x_id, e.embedding AS v
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |  WHERE d.lang = 'en'),
         |ye AS (SELECT d.doc_id AS y_id, e.embedding AS v
         |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
         |  WHERE d.lang = 'es'),
         |cr AS (SELECT x_id, y_id,
         |    CAST(round(${cosineSql("a.v", "b.v")}, 6) AS DECIMAL(18,6))
         |      AS cos
         |  FROM xe a, ye b),
         |rx AS (SELECT *, row_number() OVER (PARTITION BY x_id
         |    ORDER BY cos DESC, y_id) AS r FROM cr),
         |xs AS (SELECT x_id, sum(cos) AS sx, count(*) AS nx FROM rx
         |  WHERE r <= $BitextK GROUP BY 1),
         |ry AS (SELECT *, row_number() OVER (PARTITION BY y_id
         |    ORDER BY cos DESC, x_id) AS r FROM cr),
         |ys AS (SELECT y_id, sum(cos) AS sy, count(*) AS ny FROM ry
         |  WHERE r <= $BitextK GROUP BY 1),
         |b AS (SELECT x_id, y_id, cos FROM rx WHERE r = 1),
         |yb AS (SELECT y_id, x_id AS ybx FROM ry WHERE r = 1),
         |m AS (SELECT b.x_id, b.y_id, b.cos,
         |    round(CAST(2 * b.cos * nx * ny AS DOUBLE) /
         |      CAST(sx * ny + sy * nx AS DOUBLE), 9) AS margin,
         |    (yb.ybx = b.x_id) AS mutual
         |  FROM b JOIN xs USING (x_id) JOIN ys USING (y_id)
         |    JOIN yb USING (y_id))
         |SELECT x_id, y_id, CAST(cos AS DOUBLE) AS cos, margin, mutual
         |FROM m WHERE margin >= $BitextThreshold
         |ORDER BY x_id""".stripMargin)),
    // the nProbe sweep over the same fit: candidates = vectors in the
    // query's top-n cells, ranked by ADC; truth = exact raw-coordinate
    // L2 top-k. The all-cells row isolates pure PQ-residual error;
    // partial rows add cell-miss error on top.
    "sim_ivfpq_recall" -> Query(ivfPqRecall, Some(
      s"""WITH $ivfPqBaseCtes,
         |$ivfPqServeCtes,
         |$exactL2Ctes,
         |np AS (SELECT * FROM (VALUES (1), ($IvfPqProbe),
         |  (${ivfAnchors.length})) t(n_probe)),
         |cand AS (SELECT np.n_probe, s.id, s.adc
         |  FROM np JOIN qc ON qc.crk <= np.n_probe
         |  JOIN s ON s.cell = qc.cell),
         |r AS (SELECT n_probe, id, row_number() OVER
         |    (PARTITION BY n_probe ORDER BY adc, id) AS rk FROM cand),
         |ret AS (SELECT n_probe, id FROM r WHERE rk <= $PqTopK)
         |SELECT CAST(ret.n_probe AS INTEGER) AS n_probe,
         |  count(*) AS n_retrieved, count(ext.id) AS n_hits,
         |  round(CAST(count(ext.id) AS DOUBLE) / $PqTopK, 9) AS recall
         |FROM ret LEFT JOIN ext ON ext.id = ret.id
         |GROUP BY 1 ORDER BY n_probe""".stripMargin)),
    // ADC top-10 and ADC-shortlist-50→exact-rerank top-10, each against
    // the exact L2 top-10 under the same 9-dp rounding
    "sim_pq_recall" -> Query(pqRecall, Some(
      s"""WITH $pqCteSql,
         |pqtop AS (SELECT id, CAST(adc AS DOUBLE) / 1e18 AS adc_dist
         |  FROM s ORDER BY adc_dist, id LIMIT $PqTopK),
         |short AS (SELECT id, CAST(adc AS DOUBLE) / 1e18 AS adc_dist
         |  FROM s ORDER BY adc_dist, id LIMIT $PqCand),
         |ex AS (SELECT x.id,
         |    sum(CAST(CAST(x.xn - q.qn AS DECIMAL(19,0)) *
         |             CAST(x.xn - q.qn AS DECIMAL(19,0))
         |        AS DECIMAL(38,0))) AS d
         |  FROM x JOIN q ON q.sub = x.sub AND q.dim = x.dim GROUP BY 1),
         |ext AS (SELECT id, CAST(d AS DOUBLE) / 1e18 AS l2sq
         |  FROM ex ORDER BY l2sq, id LIMIT $PqTopK),
         |rr AS (SELECT ex.id, CAST(ex.d AS DOUBLE) / 1e18 AS l2sq
         |  FROM ex JOIN short USING (id)
         |  ORDER BY l2sq, id LIMIT $PqTopK)
         |SELECT * FROM (
         |  SELECT 'pq_adc' AS method,
         |    (SELECT count(*) FROM pqtop) AS n_retrieved,
         |    (SELECT count(*) FROM pqtop JOIN ext USING (id)) AS n_hits,
         |    round(CAST((SELECT count(*) FROM pqtop JOIN ext USING (id))
         |      AS DOUBLE) / $PqTopK, 9) AS recall
         |  UNION ALL
         |  SELECT 'pq_adc_rerank50',
         |    (SELECT count(*) FROM rr),
         |    (SELECT count(*) FROM rr JOIN ext USING (id)),
         |    round(CAST((SELECT count(*) FROM rr JOIN ext USING (id))
         |      AS DOUBLE) / $PqTopK, 9)
         |) ORDER BY method""".stripMargin)),
    // relational Lloyd replay: per-round CTEs recompute exact-DECIMAL
    // distances (diff re-bounded to DECIMAL(14,9) before squaring, the
    // plan's precision-38 guard), argmin by min-struct (d, cid), and
    // centroid means as exact sums + ONE double division rounded 9 dp —
    // iteration state is bit-identical to the plan's
    "sim_kmeans" -> Query(kmeans, Some(
      s"""WITH ${kmeansCtesSql(KmeansK, KmeansRounds)},
         |sz AS (SELECT cid, count(*) AS n_members
         |       FROM a$KmeansRounds GROUP BY 1)
         |SELECT c.cid, c.dim, CAST(c.c AS DOUBLE) AS centroid,
         |  coalesce(sz.n_members, 0) AS n_members
         |FROM c$KmeansRounds c LEFT JOIN sz USING (cid)
         |ORDER BY cid, dim""".stripMargin)),
    "sim_centroids" -> Query(centroids, Some(
      s"""WITH pe AS (
         |  SELECT label, i AS pos,
         |    CAST(round(embedding[i]::DOUBLE, 9) AS DECIMAL(12,9)) AS xd
         |  FROM embeddings, UNNEST(generate_series(1, $Dim)) u(i)),
         |pm AS (SELECT label, pos, CAST(sum(xd) AS DOUBLE) / count(*) AS m,
         |         count(*) AS n
         |       FROM pe GROUP BY 1, 2),
         |gm AS (SELECT pos, CAST(sum(xd) AS DOUBLE) / count(*) AS gm
         |       FROM pe GROUP BY 1),
         |j AS (SELECT pm.label, pm.n, pm.m, gm.gm FROM pm JOIN gm USING (pos)),
         |a AS (SELECT label, max(n) AS n_vecs,
         |        CAST(sum(CAST(round(m * m, 18) AS DECIMAL(38,18))) AS DOUBLE) AS norm2,
         |        CAST(sum(CAST(round(gm * gm, 18) AS DECIMAL(38,18))) AS DOUBLE) AS gnorm2,
         |        CAST(sum(CAST(round(m * gm, 18) AS DECIMAL(38,18))) AS DOUBLE) AS dotg
         |      FROM j GROUP BY label)
         |SELECT label, n_vecs, round(sqrt(norm2), 6) AS centroid_norm,
         |  round(dotg / (sqrt(norm2) * sqrt(gnorm2)), 6) AS cos_to_global
         |FROM a ORDER BY label""".stripMargin)),
    "sim_knn_join" -> Query(knnJoin, Some(knnJoinSql)),
    // probing all cells degenerates the batch probe to the exact k-NN join
    "sim_ivf_knn" -> Query(ivfKnn, Some(knnJoinSql)),
    // a corpus row has ONE bucket and a query's probe buckets are distinct,
    // so the probe join yields each (query, corpus) pair at most once
    "sim_lsh_knn" -> Query(lshKnn, Some({
      val probes = ("qb" +: planes.indices.map(p => s"xor(qb, ${1L << p})"))
        .mkString("[", ", ", "]")
      s"""WITH b AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket
         |           FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS qv, bucket AS qb
         |      FROM b WHERE vec_id < $KnnQueries),
         |p AS (SELECT q_id, qv, unnest($probes) AS pb FROM q),
         |s AS (SELECT q_id, b.vec_id, b.bucket,
         |        ${cosineSql("b.embedding", "qv")} AS cos
         |      FROM b JOIN p ON b.bucket = p.pb WHERE b.vec_id <> q_id),
         |r AS (SELECT q_id, vec_id, bucket, cos, row_number()
         |        OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
         |      FROM s)
         |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id,
         |  CAST(bucket AS BIGINT) AS bucket, cos
         |FROM r WHERE rank <= $KnnK ORDER BY q_id, rank""".stripMargin
    })),
    // the pageRank replay discipline: per-round DECIMAL(18,9) state,
    // contributions rounded 12dp into exact sums, norm = sqrt of an exact
    // sum (irrational — never on a rounding boundary)
    "sim_top_eigvec" -> Query(topEigvec, Some(
      s"""WITH $eigCteSql
         |SELECT vv.j AS pos, CAST(vv.v AS DOUBLE) AS loading,
         |  round(nrm, 9) AS eigenvalue
         |FROM v$EigIters vv, n$EigIters ORDER BY pos""".stripMargin)),
    // fit + transform: the SAME eigvec CTEs, then one projection join —
    // contributions round 12dp into exact sums, score rounds 6dp
    "sim_pca_project" -> Query(pcaProject, Some(
      s"""WITH $eigCteSql,
         |px AS (SELECT vec_id AS id, i AS pos, embedding[i]::DOUBLE AS x
         |       FROM embeddings,
         |         UNNEST(generate_series(1, $EigDims)) a(i))
         |SELECT id,
         |  round(CAST(sum(CAST(round(x * CAST(vv.v AS DOUBLE), 12)
         |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS score
         |FROM px JOIN v$EigIters vv ON px.pos = vv.j
         |GROUP BY id ORDER BY id""".stripMargin)),
    // the same 1-based prefix slice on both engines; both stages round 6dp
    // with id tie-breaks
    "sim_prefix_rerank" -> Query(prefixRerank, Some({
      val p = s"[1:$PrefixDims]"
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings
         |           WHERE vec_id = 0),
         |cand AS (SELECT vec_id,
         |        ${cosineSql(s"embedding$p", s"qe$p")} AS cos_prefix,
         |        embedding, qe
         |      FROM embeddings, q WHERE vec_id <> 0
         |      ORDER BY cos_prefix DESC, vec_id LIMIT $BinaryCandidates),
         |r AS (SELECT vec_id AS id, cos_prefix,
         |        ${cosineSql("embedding", "qe")} AS cos
         |      FROM cand)
         |SELECT id, cos_prefix, cos,
         |  CAST(row_number() OVER (ORDER BY cos DESC, id) AS BIGINT) AS rank
         |FROM r ORDER BY rank LIMIT $BinaryK""".stripMargin
    })),
    // same exact-DECIMAL per-dim means, the same strict v > m bit rule and
    // 32-bit half packing, two xor+bit_count Hamming, cosine re-rank
    "sim_binary_topk" -> Query(binaryTopK, Some(
      s"""WITH pe AS (
         |  SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS v
         |  FROM embeddings, UNNEST(generate_series(1, $Dim)) u(i)),
         |m AS (SELECT dim,
         |        CAST(sum(CAST(round(v, 9) AS DECIMAL(12,9))) AS DOUBLE)
         |          / count(*) AS m
         |      FROM pe GROUP BY 1),
         |c AS (SELECT vec_id,
         |        CAST(sum(CASE WHEN dim < 32 AND v > m
         |          THEN (1::BIGINT << (dim % 32)) ELSE 0 END) AS BIGINT)
         |          AS code_lo,
         |        CAST(sum(CASE WHEN dim >= 32 AND v > m
         |          THEN (1::BIGINT << (dim % 32)) ELSE 0 END) AS BIGINT)
         |          AS code_hi
         |      FROM pe JOIN m USING (dim) GROUP BY vec_id),
         |q AS (SELECT code_lo AS qlo, code_hi AS qhi FROM c WHERE vec_id = 0),
         |cand AS (SELECT vec_id,
         |        CAST(bit_count(xor(code_lo, qlo))
         |           + bit_count(xor(code_hi, qhi)) AS BIGINT) AS hamming
         |      FROM c, q WHERE vec_id <> 0
         |      ORDER BY hamming, vec_id LIMIT $BinaryCandidates),
         |qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |r AS (SELECT cand.vec_id AS id, hamming,
         |        ${cosineSql("embedding", "qe")} AS cos
         |      FROM cand JOIN embeddings USING (vec_id), qv)
         |SELECT id, hamming, cos,
         |  CAST(row_number() OVER (ORDER BY cos DESC, id) AS BIGINT) AS rank
         |FROM r ORDER BY rank LIMIT $BinaryK""".stripMargin)),
    "sim_int8_quant" -> Query(int8Quant, Some(
      s"""WITH pe AS (
         |  SELECT i - 1 AS dim, embedding[i]::DOUBLE AS v
         |  FROM embeddings, UNNEST(generate_series(1, $Dim)) u(i)),
         |s AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM pe GROUP BY 1),
         |c AS (SELECT pe.dim, v, mn, mx,
         |        CASE WHEN mx > mn
         |          THEN CAST(least(floor((v - mn) * 256.0 / (mx - mn)), 255.0)
         |                 AS BIGINT)
         |          ELSE CAST(0 AS BIGINT) END AS code
         |      FROM pe JOIN s USING (dim))
         |SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
         |  round(min(mn), 6) AS mn, round(max(mx), 6) AS mx,
         |  CAST(sum(code) AS BIGINT) AS code_sum,
         |  min(code) AS code_min, max(code) AS code_max
         |FROM c GROUP BY dim ORDER BY dim""".stripMargin)),
    "sim_ivf_topk" -> Query(ivfTopK, None))
}
