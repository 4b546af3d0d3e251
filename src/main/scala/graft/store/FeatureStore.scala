package graft.store

import graft.model.{DataQualityMetrics, FeatureConfig, FeatureMetadata}
import graft.quality.DataQualityValidator
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import java.security.MessageDigest

/** Parquet-backed versioned feature store with the same API surface as the
  * reference `AdvancedFeatureStore` (`ML Feature Store Pipeline.py:228-541`).
  *
  * Storage layout (replaces SQLite):
  *  - `basePath/features/feature_version=<v>/…` — feature rows, partitioned
  *    by version so version reads are pure partition pruning (the working
  *    replacement for the reference's intended-but-broken
  *    `INDEX(feature_version)`, `:277-278`); parquet min/max stats give
  *    row-group skipping on `user_id`.
  *  - `basePath/metadata/manifest-<gen>.json` — the version manifest as a
  *    CAS'd generation chain (the public commit-log idea Delta/Iceberg
  *    use, S4 in SURVEY §2.1): every mutation reads the highest
  *    generation, applies itself, and attempts to CREATE generation+1
  *    with `overwrite = false` — the filesystem's exclusive-create is the
  *    compare-and-swap, so a concurrent writer's commit makes the create
  *    throw, and the loser re-reads the NEW state and re-applies its
  *    mutation (no lost update, both commits visible). Readers load the
  *    max generation; superseded generations are garbage-collected a safe
  *    distance behind.
  *
  * A committed generation is immutable (exclusive create, sealed by the
  * commit marker), so each instance memoizes the rows of the newest
  * complete generation it has parsed, keyed on (generation, file length,
  * modification time). Every read still lists `metadata/`, so commits by
  * other instances or processes are visible at once and in-flight claims
  * are still skipped; only the parse of an unchanged generation is
  * saved. A serve that hits the cache therefore runs no Spark job.
  *
  * `registerFeatures` persists the registered relation once, so the
  * quality scan, the fingerprint and the partition write read its
  * materialized blocks instead of each recomputing its lineage.
  *
  * Scale posture: feature data only ever moves through distributed
  * scans/writes; the only `collect`s are the serving tail (single user
  * slice) and the cache fill, mirroring the reference's point-lookup
  * semantics. One TTL cache holds collected slices, like the reference's
  * `InMemoryCache` of query results (`:86-111`). Its fill is SIZE-GATED
  * by one bounded collect: `limit(cacheMaxRows + 1)` brings at most
  * `cacheMaxRows + 1` rows to the driver, a slice that fits is cached
  * and served from them, and a larger one is served straight from
  * parquet and not cached — so a bare `getFeatures(useCache = true)` of
  * a 100 TB version can never be a driver OOM. The reference contract —
  * TTL expiry, hit/miss monitoring, pluggable backend — is unchanged.
  */
final class FeatureStore(
    spark: SparkSession,
    basePath: String,
    cacheTtlSeconds: Long = 3600,
    qualityThreshold: Double = 0.8,
    clock: () => String = () => java.time.Instant.now().toString,
    cacheBackend: Option[CacheBackend[String, (StructType, Array[Row])]] = None,
    cacheMaxRows: Long = 1000000L) {

  import FeatureStore.MetadataRow

  // the fill collects `limit(cacheMaxRows + 1)`, and `limit` takes an Int
  require(cacheMaxRows >= 0 && cacheMaxRows < Int.MaxValue,
    s"cacheMaxRows must be in [0, ${Int.MaxValue}): $cacheMaxRows")

  val validator = new DataQualityValidator
  val monitor = new FeatureMonitor(qualityThreshold)
  // pluggable backend seam (reference CacheBackend ABC, `:70-84`); the
  // bundled TTL cache is only the default
  private val cache: CacheBackend[String, (StructType, Array[Row])] =
    cacheBackend.getOrElse(
      new TtlCache[String, (StructType, Array[Row])](cacheTtlSeconds))

  private val featuresPath = s"$basePath/features"
  private val metadataPath = s"$basePath/metadata"
  private val sketchesPath = s"$basePath/sketches"

  /** The newest complete manifest this instance has read; see
    * [[readCommitted]].
    */
  @volatile private var manifestMemo: Option[FeatureStore.Manifest] = None

  /** Register a feature relation: quality scan → content fingerprint →
    * stamped append (partitioned by version) → metadata upsert → monitor +
    * cache hooks. Returns the version hash.
    * (`register_features`, `ML Feature Store Pipeline.py:295-361`.)
    */
  def registerFeatures(df: DataFrame, meta: FeatureMetadata): String = {
    // validate, fingerprint and the write each run jobs over df: compute
    // it once. A relation the caller already persisted stays theirs.
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist(StorageLevel.MEMORY_AND_DISK)
    val (metrics, version, createdAt) = try {
      val metrics = validator.validate(df)
      val version = FeatureStore.fingerprint(df)
      val createdAt = clock()
      // Write DIRECTLY into this version's partition directory (standard
      // hive layout, so readers still partition-discover feature_version):
      // re-registering identical content replaces its own partition
      // instead of appending duplicates (divergence from the reference,
      // which would double-insert; documented in SURVEY §7.4), and —
      // unlike a partitionBy write to the table root — CONCURRENT
      // registrations of different versions never share a commit
      // `_temporary` directory, so two writers can land their partitions
      // in parallel. Also immune to the foreachBatch cloned-session conf
      // trap StreamingSpec caught. Spark does not coalesce a cached
      // plan's output partitions, so the write rebalances: AQE then sizes
      // the files as it did when df was written straight from its lineage
      // (one file for a small version, not one per shuffle partition).
      df.withColumn("created_at", lit(createdAt)).hint("rebalance")
        .write.mode("overwrite")
        .parquet(s"$featuresPath/feature_version=$version")
      (metrics, version, createdAt)
    } finally if (owned) df.unpersist()

    upsertMetadata(MetadataRow(
      feature_version = version,
      description = meta.description,
      created_at = createdAt,
      features_config = meta.features,
      null_percentage = metrics.nullPercentage,
      duplicate_percentage = metrics.duplicatePercentage,
      outlier_percentage = metrics.outlierPercentage,
      schema_violations = metrics.schemaViolations,
      overall_score = metrics.overallScore,
      lineage = meta.lineage,
      tags = meta.tags))

    monitor.logFeatureCreation(version, metrics)
    val _ = cacheFill(cacheKey(version, Nil), getFeaturesUncached(version, Nil))
    version
  }

  /** Read features by version (latest when None) with optional user-id
    * filter; TTL-cached. (`get_features`, `:363-425`.)
    */
  def getFeatures(
      version: Option[String] = None,
      userIds: Seq[Long] = Nil,
      useCache: Boolean = true): DataFrame = {
    val v = version.getOrElse(latestVersion()
      .getOrElse(throw new NoSuchElementException("no feature versions registered")))
    val key = cacheKey(v, userIds)
    val result = (if (useCache) cache.get(key) else None) match {
      case Some((schema, rows)) => localFrame(schema, rows)
      case None =>
        val df = getFeaturesUncached(v, userIds)
        if (useCache) cacheFill(key, df) else df
    }
    monitor.logFeatureAccess(v)
    result
  }

  private def getFeaturesUncached(version: String, userIds: Seq[Long]): DataFrame = {
    // Partition pruning on version; pushdown / row-group skip on user_id.
    val base = spark.read.parquet(featuresPath)
      .filter(col("feature_version") === version)
    if (userIds.isEmpty) base else base.filter(col("user_id").isin(userIds: _*))
  }

  /** Point lookup for one user, metadata columns dropped, as a column→value
    * map. (`serve_features`, `:427-446`.)
    */
  def serveFeatures(userId: Long, version: Option[String] = None): Option[Map[String, Any]] = {
    val df = getFeatures(version, Seq(userId))
      .drop("feature_version", "created_at")
    df.limit(1).collect().headOption
      .map(r => r.getValuesMap[Any](r.schema.fieldNames.toIndexedSeq))
  }

  /** (`get_feature_metadata`, `:456-479`.) */
  def getFeatureMetadata(version: String): Option[FeatureMetadata] =
    readMetadata().find(_.feature_version == version).map(_.toMetadata)

  /** Time-travel resolution — the newest version whose `created_at` is at
    * or before the given ISO-8601 instant (lakehouse `AS OF` semantics;
    * ISO instants compare lexicographically ≡ chronologically, and the
    * store's injectable clock stamps them). Ties on created_at break to
    * the larger version id, matching [[listFeatureVersions]]'s newest-
    * first order. None when the store has no version that old.
    */
  def versionAsOf(timestamp: String): Option[String] =
    readMetadata().filter(_.created_at <= timestamp)
      .sortBy(r => (r.created_at, r.feature_version))
      .lastOption.map(_.feature_version)

  /** `AS OF` read: [[getFeatures]] against [[versionAsOf]] — what "the
    * training set as the serving stack saw it last Tuesday" resolves
    * through. Throws if no version existed at the instant.
    */
  def getFeaturesAsOf(timestamp: String, userIds: Seq[Long] = Nil,
      useCache: Boolean = true): DataFrame =
    getFeatures(Some(versionAsOf(timestamp).getOrElse(
      throw new NoSuchElementException(
        s"no feature version at or before $timestamp"))),
      userIds, useCache)

  /** Versions newest-first. (`list_feature_versions`, `:481-501`.) */
  def listFeatureVersions(): Seq[FeatureMetadata] =
    readMetadata().sortBy(r => (r.created_at, r.feature_version))(Ordering.Tuple2(
      Ordering.String.reverse, Ordering.String.reverse)).map(_.toMetadata)

  /** Keep the newest `keepN` versions, drop the rest (partition-dir deletes +
    * metadata rewrite + cache invalidation). Returns deleted versions.
    * (`cleanup_old_versions`, `:503-532`.)
    */
  def cleanupOldVersions(keepN: Int = 5): Seq[String] = {
    val all = listFeatureVersions().map(_.featureVersion)
    val doomed = all.drop(keepN)
    if (doomed.nonEmpty) {
      val fs = hadoopFs()
      doomed.foreach { v =>
        fs.delete(new Path(s"$featuresPath/feature_version=$v"), true)
      }
      // CAS commit: the mutation re-applies against whatever state wins
      // the race, so a concurrent register's row survives this cleanup
      val doomedSet = doomed.toSet
      commitMetadata(rows =>
        rows.filterNot(r => doomedSet.contains(r.feature_version)))
      cache.clear()
    }
    doomed
  }

  def monitoringDashboard: Map[String, Any] =
    monitor.dashboard ++ Map(
      "cache_hits" -> cache.hits, "cache_misses" -> cache.misses)

  /** Persist per-ingest-batch quantile-knot sketches
    * ([[graft.ops.Sketches.quantileSketchBuild]]) for the given numeric
    * columns beside the feature data — the persist-per-batch shape of the
    * whole sketch suite made part of the store lifecycle: each
    * registration scans its OWN rows once and writes ≤ knots rows per
    * column under `basePath/sketches/feature_version=<v>/`; every later
    * quantile consumer ([[sketchQuantiles]], and through it PSI decile
    * edges, bucket bins, winsor fences) answers from the merged knot
    * relation without ever rescanning feature history. Re-registering a
    * version overwrites only its own sketch partition (same dynamic-
    * overwrite discipline as the feature write). Batch ids are assigned
    * once per version and reused on rewrite, so the knot relation stays
    * a valid multi-batch sketch.
    */
  def writeBatchSketches(df: DataFrame, version: String,
      valueCols: Seq[String], knots: Int = 64): Unit = {
    require(valueCols.nonEmpty, "writeBatchSketches needs >= 1 value column")
    val existing = readSketchBatchIds()
    val batchId = existing.getOrElse(version,
      if (existing.isEmpty) 0L else existing.values.max + 1L)
    valueCols.map { c =>
        graft.ops.Sketches
          .quantileSketchBuild(df, col(c), lit(batchId), knots)
          .withColumn("column", lit(c))
      }
      .reduce(_ unionByName _)
      .withColumn("feature_version", lit(version))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("feature_version")
      .parquet(sketchesPath)
  }

  /** Quantile answers for every sketched column from the MERGED persisted
    * knot relation ([[graft.ops.Sketches.quantileSketchQuantiles]] —
    * merge IS relation union, so this reads only the sketch files:
    * batches × columns × knots rows, never the feature data). Returns
    * (column, q, n_total, target_rank, est_value); each value carries the
    * sketch's ε = 1/knots rank guarantee over the full registered
    * history.
    */
  def sketchQuantiles(percents: Seq[Int], columns: Seq[String] = Nil)
      : DataFrame = {
    val sk = readSketches()
    val cols =
      if (columns.nonEmpty) columns
      else sk.select("column").distinct().collect()
        .map(_.getString(0)).sorted.toSeq
    cols.map { c =>
        graft.ops.Sketches.quantileSketchQuantiles(
            sk.filter(col("column") === c).select("batch", "v", "cum"),
            percents)
          .withColumn("column", lit(c))
      }
      .reduce(_ unionByName _)
      .select("column", "q", "n_total", "target_rank", "est_value")
  }

  /** Right-to-be-forgotten erasure (the GDPR Art. 17 deletion path a
    * feature store needs operationally, beyond [[cleanupOldVersions]]'
    * whole-version retention): remove EVERY row of `userId` from every
    * stored version, preserving version partitions, ids and metadata
    * (version hashes are registration-time identifiers of what was
    * ingested, not content digests of the erased state — rewriting them
    * would corrupt lineage and AS-OF reads). Only partitions that
    * actually contain the user rewrite (dynamic partition overwrite); a
    * version left EMPTY by the erasure has its partition directory
    * deleted outright (dynamic overwrite cannot replace a partition
    * with zero output rows — it would silently keep the old files). The
    * serve cache is cleared, so no erased row survives in a cached
    * slice. Returns the audit the request needs: (feature_version,
    * n_erased), one row per touched version.
    */
  def eraseUser(userId: Long): Seq[(String, Long)] = {
    val feats = spark.read.parquet(featuresPath)
    val audit = feats.filter(col("user_id") === userId)
      .groupBy("feature_version").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    if (audit.nonEmpty) {
      val touched = audit.map(_._1)
      // materialize BEFORE the overwrite — the rewrite reads the same
      // path it replaces (touched-version-bounded; a production store
      // would stage to a sibling dir and swap, same cost class)
      val remaining = feats
        .filter(col("feature_version").isInCollection(touched))
        .filter(!(col("user_id") <=> userId))
        .localCheckpoint()
      val stillThere = remaining.select("feature_version").distinct()
        .collect().map(_.getString(0)).toSet
      if (stillThere.nonEmpty)
        remaining.filter(col("feature_version").isInCollection(stillThere))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("feature_version")
          .parquet(featuresPath)
      val fs = hadoopFs()
      (touched.toSet -- stillThere).foreach { v =>
        fs.delete(new Path(s"$featuresPath/feature_version=$v"), true)
      }
      cache.clear()
    }
    audit
  }

  /** PSI drift of `current`'s `column` against the ENTIRE registered
    * history, answered purely from the persisted knots
    * ([[graft.ops.Drift.psiAgainstSketch]]): decile edges AND baseline
    * bucket masses both come from the sketch relation — zero feature-
    * history reads per evaluation, the drift-on-ingest shape.
    */
  def sketchDrift(current: DataFrame, column: String, buckets: Int = 10)
      : DataFrame = {
    val sk = readSketches()
      .filter(col("column") === column).select("batch", "v", "cum")
    graft.ops.Drift.psiAgainstSketch(sk, current, column, buckets)
  }

  /** The persisted sketch relation; fails fast when none was written. */
  private def readSketches(): DataFrame = {
    require(hadoopFs().exists(new Path(sketchesPath)),
      s"no persisted sketches under $sketchesPath — writeBatchSketches first")
    spark.read.parquet(sketchesPath)
  }

  private def readSketchBatchIds(): Map[String, Long] = {
    if (!hadoopFs().exists(new Path(sketchesPath))) Map.empty
    else spark.read.parquet(sketchesPath)
      .select("feature_version", "batch").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  // ---- internals -----------------------------------------------------------

  private def cacheKey(version: String, userIds: Seq[Long]): String =
    s"features_${version}_${userIds.sorted.mkString("_")}"

  /** Size-gated fill: one bounded collect of at most `cacheMaxRows + 1`
    * rows. A slice that fits is put in the backend and served from the
    * collected rows; a larger one is served as `df`, uncached, so the
    * driver never holds more than the cap plus one row.
    */
  private def cacheFill(key: String, df: DataFrame): DataFrame = {
    val rows = df.limit(cacheMaxRows.toInt + 1).collect()
    if (rows.length > cacheMaxRows) df
    else {
      cache.put(key, (df.schema, rows))
      localFrame(df.schema, rows)
    }
  }

  private def localFrame(schema: StructType, rows: Array[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def latestVersion(): Option[String] =
    listFeatureVersions().headOption.map(_.featureVersion)

  private def hadoopFs() =
    new Path(basePath).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(gen: Long): Path =
    new Path(metadataPath, f"manifest-$gen%012d.json")

  /** Manifest generations present, newest first. Other names in
    * `metadata/` (a stray `manifest-old.json`, a backup) are ignored.
    */
  private def manifests(fs: FileSystem): Seq[(Long, FileStatus)] = {
    val dir = new Path(metadataPath)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case FeatureStore.ManifestName(g) => Some(g.toLong -> st)
        case _ => None
      }
    }.sortBy(-_._1)
  }

  /** Commit marker: the final line of a COMPLETE manifest. A generation
    * file that exists without it is a CLAIM whose writer is in flight
    * (or crashed) — readers walk past it to the newest complete one, and
    * committers skip OVER it (the crashed claim burns one generation
    * number, never the chain).
    */
  private val CommitMark = "#commit"

  /** The filesystem's atomic exclusive create — the CAS primitive. The
    * Hadoop local filesystem's `create(path, overwrite = false)` is a
    * non-atomic exists-then-create (two racing writers both pass the
    * check, measured in StoreSpec before this landed), so the `file:`
    * scheme routes through POSIX O_CREAT|O_EXCL via nio; everything else
    * (HDFS: an atomic namenode op) uses the Hadoop call. An object store
    * would plug a conditional PUT here. Returns false when the
    * generation was already claimed.
    */
  private def exclusiveCreate(fs: FileSystem,
      path: Path, payload: Array[Byte]): Boolean =
    if (fs.getScheme == "file") {
      val nio = java.nio.file.Paths.get(path.toUri.getPath)
      try {
        java.nio.file.Files.write(nio, payload,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try {
        val out = fs.create(path, false)
        try out.write(payload) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException
          if e.getMessage != null && e.getMessage.contains("exists") =>
          false
      }
    }

  /** Rows of the newest COMPLETE manifest in `listed` (skipping
    * in-flight/crashed claims), or Nil for an empty chain. A generation
    * whose (number, length, modification time) matches the memo returns
    * the memoized rows without reading the file; otherwise the file is
    * read, and a complete one is parsed and becomes the memo.
    */
  private def readCommitted(fs: FileSystem,
      listed: Seq[(Long, FileStatus)]): Seq[MetadataRow] = {
    import spark.implicits._
    listed.iterator.map { case (gen, st) =>
      val key = (gen, st.getLen, st.getModificationTime)
      manifestMemo.filter(_.key == key).map(_.rows).orElse {
        val text =
          try {
            val in = fs.open(st.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          } catch { case _: java.io.FileNotFoundException => "" }
        val lines = text.split('\n').toIndexedSeq.filter(_.nonEmpty)
        if (!lines.lastOption.contains(CommitMark)) None
        else {
          val json = lines.dropRight(1)
          val rows = if (json.isEmpty) Nil
            else spark.read
              .schema(implicitly[org.apache.spark.sql.Encoder[MetadataRow]]
                .schema)
              .json(json.toDS()).as[MetadataRow].collect().toSeq
          manifestMemo = Some(FeatureStore.Manifest(key, rows))
          Some(rows)
        }
      }
    }.collectFirst { case Some(rows) => rows }.getOrElse(Nil)
  }

  private def readMetadata(): Seq[MetadataRow] = {
    val fs = hadoopFs()
    readCommitted(fs, manifests(fs))
  }

  /** Optimistic CAS commit: read the newest complete manifest, apply
    * `mutate`, exclusive-create the next generation (JSON lines via the
    * Spark encoder, so nested configs/lineage round-trip exactly, sealed
    * by the commit marker). Losing the race means the winner's state is
    * re-read and the mutation re-applied — the standard commit-log
    * retry, so no update is ever lost. Superseded generations GC a safe
    * distance (8) behind the head: a racing reader reads at-or-below the
    * head, which GC never approaches.
    */
  private def commitMetadata(
      mutate: Seq[MetadataRow] => Seq[MetadataRow]): Unit = {
    import spark.implicits._
    val fs = hadoopFs()
    fs.mkdirs(new Path(metadataPath))
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 64, "metadata CAS: 64 straight lost races")
      val listed = manifests(fs)
      val gen = listed.headOption.fold(-1L)(_._1)
      val next = mutate(readCommitted(fs, listed))
      val payload = (next.toDS().toJSON.collect() :+ CommitMark)
        .mkString("\n").getBytes("UTF-8")
      val path = manifestPath(gen + 1)
      if (exclusiveCreate(fs, path, payload)) {
        done = true
        // our own commit needs no re-parse
        val st = fs.getFileStatus(path)
        manifestMemo = Some(FeatureStore.Manifest(
          (gen + 1, st.getLen, st.getModificationTime), next))
        val gc = gen - 8
        if (gc >= 0) fs.delete(manifestPath(gc), false)
      }
    }
  }

  private def upsertMetadata(row: MetadataRow): Unit =
    commitMetadata(rows =>
      rows.filterNot(_.feature_version == row.feature_version) :+ row)
}

object FeatureStore {

  private val ManifestName = """manifest-(\d{1,18})\.json""".r

  /** Parsed rows of one complete manifest generation, keyed by
    * (generation, file length, modification time).
    */
  private final case class Manifest(key: (Long, Long, Long),
      rows: Seq[MetadataRow])

  /** Metadata table row (reference DDL `:282-292`); nested values are native
    * Spark types rather than JSON strings.
    */
  final case class MetadataRow(
      feature_version: String,
      description: String,
      created_at: String,
      features_config: Seq[FeatureConfig],
      null_percentage: Double,
      duplicate_percentage: Double,
      outlier_percentage: Double,
      schema_violations: Long,
      overall_score: Double,
      lineage: Map[String, String],
      tags: Seq[String]) {
    def toMetadata: FeatureMetadata = FeatureMetadata(
      feature_version, description, created_at, features_config,
      Some(DataQualityMetrics(null_percentage, duplicate_percentage,
        outlier_percentage, schema_violations, overall_score)),
      lineage, tags)
  }

  /** Whole-relation content fingerprint (reference `_generate_version_hash`,
    * `:307-309`, which md5s *order-dependent* per-row hashes). We make the
    * digest order- AND partitioning-independent — sum, xor and count of
    * per-row `xxhash64` over all columns — then md5 the three numbers.
    * Intentional divergence documented in SURVEY §7.4: pandas row order is
    * itself nondeterministic under parallel execution, so order-dependence
    * is a bug to not replicate. One distributed agg pass, no collect.
    */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(struct(df.columns.sorted.map(col).toIndexedSeq: _*))
    // Long sum of 2^63-scale hashes overflows (ANSI mode throws); sum in
    // DECIMAL(38,0) — exact and overflow-free below ~10^19 rows.
    val r = df.select(h.as("h"))
      .agg(sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"),
        expr("bit_xor(h)").as("x"), count(lit(1)).as("c"))
      .head()
    val payload = s"${r.get(0)}:${r.get(1)}:${r.get(2)}"
    MessageDigest.getInstance("MD5").digest(payload.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}
