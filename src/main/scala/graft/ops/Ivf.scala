package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** IVF (inverted-file) ANN index with the fit / probe split that survives
  * scale — the serving-path design the reference's feature-serving API
  * implies (`ML Feature Store Pipeline.py:171-200` serves features from a
  * precomputed store; it never recomputes them per request):
  *
  *  - '''fit once''': the KMeans coarse quantizer trains on a BOUNDED
  *    sample (`sampleCap` rows, default 4096) — a coarse quantizer only
  *    partitions space, so sample fit ≈ full fit for recall, and fit cost
  *    stops scaling with the corpus entirely.
  *  - '''assign once''': one projection pass labels every corpus row with
  *    its nearest-centroid cell; the result is written as parquet
  *    partitioned by `cluster`, so a probe is PARTITION PRUNING (reads
  *    nProbe/nClusters of the files), not a filter over a full scan.
  *  - '''probe many''': centroids are driver-side (nClusters × dim doubles
  *    — tiny, the only driver state). A query ranks cells on the driver,
  *    reads only the nProbe nearest partitions, and brute-forces inside
  *    them ([[Similarity.bruteTopK]]: broadcast query + per-partition
  *    top-k heap, no corpus shuffle).
  *
  * At 100 TB the assignment pass is the only corpus-sized job and it runs
  * once per index build; every query after that touches nProbe cells.
  *
  * Indexes are cached per key in-JVM AND reused from disk across JVMs
  * (centroids persist beside the assignment), so repeated queries — the
  * bench, a serving loop — never refit. [[fits]] counts actual KMeans fits
  * as the test witness for the fit-once discipline.
  */
object Ivf {

  /** Number of KMeans fits this JVM has run — IvfSpec pins that repeated
    * probes through [[buildCached]] leave this unchanged.
    */
  val fits = new AtomicInteger(0)

  private val cache = new ConcurrentHashMap[String, IvfIndex]()

  /** Clear the in-JVM index cache (tests only — disk artifacts remain). */
  def invalidateCache(): Unit = cache.clear()

  /** MD5 hex fingerprint of a relation's inputs plus `knobs`: each
    * resolved input file's path, length and modification time (its Hadoop
    * `FileStatus` — driver-side metadata calls, no Spark job), so a file
    * rewritten under the same name changes the fingerprint just as a new
    * part name does. Every cross-JVM `/tmp` artifact (IVF indexes, the
    * incremental-dedup state, saved SGD weights) is keyed on it; an
    * artifact written under one fingerprint is never served for another.
    */
  def inputFingerprint(df: DataFrame, knobs: String): String = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val files = df.inputFiles.sorted.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"$f:${st.getLen}:${st.getModificationTime}"
    }
    val key = files.mkString(",") + "|" + knobs
    MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Fingerprint binding a disk index to its inputs ([[inputFingerprint]])
    * and build knobs: the id/vector columns, cluster count, and
    * sample/seed knobs. Stale or foreign `/tmp` artifacts rebuild instead
    * of silently answering.
    */
  def indexFingerprint(emb: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, sampleCap: Int, seed: Long): String =
    inputFingerprint(emb, s"$idCol|$vecCol|$nClusters|$sampleCap|$seed")

  /** Fit the coarse quantizer: seeded Lloyd iterations on a BOUNDED sample,
    * run on the driver. The sample is ≤ `sampleCap` rows by construction
    * (collect is bounded — a few MB — regardless of corpus size), and local
    * Lloyd on ≤4096×dim doubles is sub-millisecond work per iteration, so
    * the fit costs one small Spark job (the sample scan) instead of an
    * MLlib pipeline's many. Empty clusters keep their previous centroid.
    *
    * The sample is RANDOM but seeded: rows ranked by `xxhash64(seed, vec)`
    * and the smallest `sampleCap` taken — a per-partition top-k heap
    * (TakeOrderedAndProject), one pass, no full sort, and unbiased even on
    * sorted/clustered corpora where a head-of-table `limit` would see one
    * corner of the space.
    */
  def fitCentroids(
      emb: DataFrame,
      vecCol: String,
      nClusters: Int,
      sampleCap: Int = 4096,
      seed: Long = 42L,
      maxIter: Int = 5): Array[Array[Double]] = {
    fits.incrementAndGet()
    val sample = emb.select(col(vecCol).cast("array<double>").as("__v"))
      .orderBy(xxhash64(lit(seed), col("__v")))
      .limit(sampleCap)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot fit an IVF quantizer on an empty corpus")
    val k = math.min(nClusters, sample.length)
    val dim = sample(0).length
    val rnd = new scala.util.Random(seed)
    val centroids = rnd.shuffle(sample.indices.toVector).take(k)
      .map(i => sample(i).clone()).toArray
    var it = 0
    while (it < maxIter) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        val c = nearestIdx(centroids, v)
        counts(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
        }
        c += 1
      }
      it += 1
    }
    centroids
  }

  /** Nearest-cell id as a codegen'd COLUMN: per-cell squared L2 via the
    * native dot kernel (the |v|² term is cell-independent and dropped),
    * argmin by `array_position(dists, array_min(dists))`. Centroid
    * literals are inlined into the plan — no model object, no UDF, stays
    * inside whole-stage codegen.
    */
  def nearestCellExpr(vec: Column, centroids: Array[Array[Double]]): Column = {
    val v = vec.cast("array<double>")
    val dists = centroids.map { c =>
      val cLit = array(c.map(lit).toIndexedSeq: _*)
      lit(c.map(x => x * x).sum) -
        lit(2.0) * call_function("graft_dot", v, cLit)
    }
    val arr = array(dists.toIndexedSeq: _*)
    (array_position(arr, array_min(arr)) - 1).cast("int")
  }

  /** The `nProbe` nearest cell ids as a codegen'd ARRAY column — the
    * in-plan, per-row twin of driver-side [[nearestCells]]: per-cell squared
    * L2 (|v|² dropped) paired with its index in a struct array, sorted
    * (struct ordering = distance, then index — deterministic ties), sliced
    * to nProbe, projected back to the index. Lets a whole query RELATION
    * rank its cells without any driver collect.
    */
  def nearestCellsExpr(vec: Column, centroids: Array[Array[Double]],
      nProbe: Int): Column = {
    val v = vec.cast("array<double>")
    val ds = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit).toIndexedSeq: _*)
      struct(
        (lit(c.map(x => x * x).sum) -
          lit(2.0) * call_function("graft_dot", v, cLit)).as("d"),
        lit(i).as("i"))
    }
    transform(slice(array_sort(array(ds.toIndexedSeq: _*)), 1, nProbe),
      s => s.getField("i"))
  }

  /** Batch ANN: top-k per row of a query RELATION — the serving shape
    * ([[probe]] scores one vector; a scoring pipeline arrives with
    * thousands). Per-query cell ranking happens IN-PLAN
    * ([[nearestCellsExpr]] — no driver collect of query vectors), the
    * exploded (q_id, cluster) pairs broadcast onto the cluster-partitioned
    * assignment — the probed partitions are the union of every query's
    * nProbe cells, pruned via Spark's dynamic partition pruning on the
    * broadcast join key — and ranking is a per-query-key window, the
    * [[Similarity.knnJoin]] shape (balanced: each query contributes ≤
    * nProbe cells of candidates). `nProbe = nClusters` degenerates to the
    * exact k-NN join (IvfSpec pins equality; the registered `sim_ivf_knn`
    * hash-checks it against DuckDB).
    *
    * Self-matches (corpus id == q_id) are excluded, matching knnJoin.
    */
  def probeBatch(
      index: IvfIndex,
      queries: DataFrame,
      qIdCol: String,
      k: Int,
      nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    val q = queries.select(col(qIdCol).as("q_id"),
      col(index.vecCol).cast("array<double>").as("__qvec"),
      explode(nearestCellsExpr(col(index.vecCol), index.centroids, nProbe))
        .as("cluster"))
    spark.read.parquet(index.path)
      .join(broadcast(q), Seq("cluster"))
      .filter(col(index.idCol) =!= col("q_id"))
      .withColumn("cos",
        round(Similarity.cosine(col(index.vecCol), col("__qvec")), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col(index.idCol))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(index.idCol), col("cos"))
  }

  /** Build (or rebuild) the index at `path`: sampled fit + one full
    * assignment projection, written partitioned by `cluster`.
    */
  def build(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      path: String,
      sampleCap: Int = 4096,
      seed: Long = 42L,
      maxIter: Int = 5): IvfIndex = {
    val centroids = fitCentroids(emb, vecCol, nClusters, sampleCap, seed, maxIter)
    val assigned = emb.withColumn("cluster",
      nearestCellExpr(col(vecCol), centroids))
    assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)
    // centroids (with the fingerprint) land LAST: a reader that validates
    // the fingerprint never sees centroids without their assignment
    writeCentroids(emb.sparkSession, path, centroids,
      indexFingerprint(emb, idCol, vecCol, nClusters, sampleCap, seed))
    IvfIndex(centroids, path, idCol, vecCol)
  }

  /** Fingerprint for a FIXED-centroid index ([[buildCachedFixed]]): the
    * corpus' [[inputFingerprint]] + columns + the centroid values
    * themselves. No fit knobs — the quantizer IS the literal centroids.
    */
  def fixedFingerprint(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): String =
    inputFingerprint(emb, s"$idCol|$vecCol|fixed|" +
      centroids.map(_.mkString(":")).mkString(";"))

  /** Build-or-reuse an index whose coarse quantizer is the GIVEN literal
    * centroids — no KMeans fit at all ([[fits]] untouched). The audit
    * variant: with ±1 literal anchors both the assignment argmin and the
    * probe's cell ranking are exactly replayable in portable SQL, so a
    * partial-probe recall number gets a hash-exact DuckDB oracle instead
    * of the rows-only check the fitted quantizer forces. Same cache
    * discipline as [[buildCached]] (in-JVM, then disk, keyed on
    * [[fixedFingerprint]]); the assignment pass is the one corpus-sized
    * job, run once per (corpus, centroids).
    */
  def buildCachedFixed(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      path: String): IvfIndex = {
    val fp = fixedFingerprint(emb, idCol, vecCol, centroids)
    cache.computeIfAbsent(s"$path|$fp", _ =>
      readCentroids(emb.sparkSession, path, idCol, vecCol, fp).getOrElse {
        val assigned = emb.withColumn("cluster",
          nearestCellExpr(col(vecCol), centroids))
        assigned.write.mode("overwrite").partitionBy("cluster").parquet(path)
        writeCentroids(emb.sparkSession, path, centroids, fp)
        IvfIndex(centroids, path, idCol, vecCol)
      })
  }

  /** Index for `path`, fitting at most once: in-JVM cache first, then disk
    * (a prior JVM's build — no fit, no assignment pass), then [[build]].
    * Both caches are keyed on the full [[indexFingerprint]] (inputs +
    * columns + knobs), so a call with different `nClusters`/columns, or the
    * same path over regenerated data, rebuilds instead of serving a
    * mismatched index.
    */
  def buildCached(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      nClusters: Int,
      path: String,
      sampleCap: Int = 4096,
      seed: Long = 42L): IvfIndex = {
    val fp = indexFingerprint(emb, idCol, vecCol, nClusters, sampleCap, seed)
    cache.computeIfAbsent(s"$path|$fp", _ =>
      readCentroids(emb.sparkSession, path, idCol, vecCol, fp)
        .getOrElse(build(emb, idCol, vecCol, nClusters, path, sampleCap, seed)))
  }

  /** ANN top-k against a built index: rank cells driver-side, read only
    * the `nProbe` nearest partitions (partition pruning on `cluster`),
    * brute-force within them. No fit, no corpus-wide job.
    *
    * Contract: `query` is a single-vector relation — it must be non-empty,
    * and only its first row is scored (cell ranking and scoring both take
    * `limit(1)`, so they always agree on which vector is the query).
    */
  def probe(
      index: IvfIndex,
      query: DataFrame,
      k: Int,
      nProbe: Int): DataFrame = {
    val spark = query.sparkSession
    val one = query.limit(1)
    val qRows = one.select(col(index.vecCol).cast("array<double>")).collect()
    require(qRows.nonEmpty, "Ivf.probe requires a non-empty query relation")
    val qVec = qRows(0).getSeq[Double](0).toArray
    val cells = nearestCells(index.centroids, qVec, nProbe)
    val assigned = spark.read.parquet(index.path)
      .filter(col("cluster").isin(cells.map(Integer.valueOf).toIndexedSeq: _*))
    Similarity.bruteTopK(assigned, one, index.idCol, index.vecCol, k)
  }

  /** Indexes of the `nProbe` centroids nearest to `q` (squared L2),
    * computed on the driver — centroids are nClusters × dim doubles.
    */
  def nearestCells(centroids: Array[Array[Double]], q: Array[Double],
      nProbe: Int): Array[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < c.length) { val t = c(j) - q(j); d += t * t; j += 1 }
      (i, d)
    }.sortBy(_._2).take(nProbe).map(_._1)

  /** Index of the centroid nearest to `v` (squared L2), driver-side. */
  def nearestIdx(centroids: Array[Array[Double]], v: Array[Double]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      var d = 0.0
      var j = 0
      val cc = centroids(c)
      while (j < cc.length) { val t = cc(j) - v(j); d += t * t; j += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  // sibling dir, not nested: a nested dir would either be picked up by the
  // assignment scan (schema clash) or, `_`-prefixed, ignored by the reader
  private def centroidsPath(path: String) = s"$path.centroids"

  private def writeCentroids(spark: SparkSession, path: String,
      centroids: Array[Array[Double]], fingerprint: String): Unit = {
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq, fingerprint) }.toSeq
      .toDF("cluster", "centroid", "fp")
      .coalesce(1)
      .write.mode("overwrite").parquet(centroidsPath(path))
  }

  /** Load a prior build's centroids from disk — only if present, readable,
    * AND fingerprint-matched. Any unreadable/corrupt/half-written artifact
    * (missing dir, schema drift, truncated parquet) falls through to a
    * clean rebuild rather than failing the query or serving foreign data.
    */
  private def readCentroids(spark: SparkSession, path: String,
      idCol: String, vecCol: String, fingerprint: String): Option[IvfIndex] =
    try {
      val rows = spark.read.parquet(centroidsPath(path))
        .filter(col("fp") === fingerprint)
        .orderBy("cluster")
        .collect()
        .map(_.getSeq[Double](1).toArray)
      if (rows.nonEmpty) Some(IvfIndex(rows, path, idCol, vecCol)) else None
    } catch { case scala.util.control.NonFatal(_) => None }
}

/** A built IVF index: driver-side centroids + the path of the
  * cluster-partitioned assignment parquet.
  */
final case class IvfIndex(
    centroids: Array[Array[Double]],
    path: String,
    idCol: String,
    vecCol: String)
