package graft.store

import graft.model.{DataQualityMetrics, FeatureConfig, FeatureMetadata}
import graft.quality.DataQualityValidator
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap

/** Parquet-backed versioned feature store with the same API surface as the
  * reference `AdvancedFeatureStore` (`ML Feature Store Pipeline.py:228-541`).
  *
  * Storage layout (replaces SQLite):
  *  - `basePath/features/feature_version=<v>/…` — feature rows, one
  *    directory per version in the hive layout (the working replacement
  *    for the reference's intended-but-broken `INDEX(feature_version)`,
  *    `:277-278`); parquet min/max stats give row-group skipping on
  *    `user_id`.
  *  - `basePath/metadata/manifest-<gen>.json` — the version manifest as a
  *    CAS'd generation chain (the public commit-log idea Delta/Iceberg
  *    use, S4 in SURVEY §2.1): every mutation reads the highest
  *    generation, applies itself, and attempts to CREATE generation+1
  *    with `overwrite = false` — the filesystem's exclusive-create is the
  *    compare-and-swap, so a concurrent writer's commit makes the create
  *    throw, and the loser re-reads the NEW state and re-applies its
  *    mutation (no lost update, both commits visible). Readers load the
  *    max generation; superseded generations are garbage-collected a safe
  *    distance behind, oldest first (see [[commitMetadata]]).
  *
  * A committed generation is immutable (exclusive create, sealed by the
  * commit marker), so each instance memoizes the rows of the newest
  * complete generation `g` it has parsed, keyed on (generation, file
  * length, modification time). A read uses the memo after two point
  * probes, in this order: `manifest-(g+1)` does not exist, and then
  * `manifest-g` still exists with the memo's length and modification
  * time. Generations are created one after another with no gap, and GC
  * never deletes a generation while its predecessor is still there, so
  * the probes prove that `g` was the newest generation at the first
  * probe: commits by other instances or processes are visible at once,
  * with no listing. When a probe fails (a newer generation or an
  * in-flight claim exists, `g` was collected, or the store was rebuilt
  * under this instance), the read lists `metadata/`, skips in-flight
  * claims and parses the newest complete generation, as commits do.
  *
  * Read path. A version is read from its own directory only, with that
  * directory's own schema, and `feature_version` is appended as the last
  * column. Versions may therefore differ in their columns, and each reads
  * back with its own. Registration infers the schema of the files it
  * wrote, once, and records it in the version's manifest row
  * (`data_schema`); every later read, by any instance or process, passes
  * it, so a parquet read runs no inference job and lists no other
  * version's files: with the manifest parsed, a miss of a small version is
  * the fill's one collect job. A directory that is gone reads as zero
  * rows (see [[getFeatures]]). Lookups are answered in this order:
  *  1. a cached slice: `getFeatures` wraps its rows in a local frame, and
  *     `serveFeatures` builds its map straight from the first row — no
  *     query plan, no Spark job;
  *  2. a user slice filtered on the driver from the version's cached
  *     whole slice, which registration fills whenever the version fits
  *     the cap, and then cached under its own key — no Spark job. The
  *     whole slice is used only while the version directory's listing is
  *     the one this instance's fill read (one listing call), so a version
  *     rewritten by another instance, e.g. by [[eraseUser]], falls back
  *     to parquet and drops this instance's entries of that version;
  *  3. the parquet read, through the size-gated fill below.
  *
  * Invalidation. [[cleanupOldVersions]] drops only the doomed versions'
  * entries (the whole-slice key, and every key this instance put for
  * them), so the surviving versions' slices, and with them step 2, outlive
  * a cleanup. [[eraseUser]] clears the whole cache. A slice that is
  * already cached is not checked against the directory: a change made by
  * another instance shows in it once its TTL runs out, as in the
  * reference's cache.
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

  import FeatureStore.{MetaColumns, MetadataRow}

  /** A collected slice: its schema and rows. */
  private type Slice = (StructType, Array[Row])

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

  /** Per version, the cache keys this instance put, so that
    * [[cleanupOldVersions]] can drop a doomed version's entries and keep
    * every other version's.
    */
  private val cachedKeys = new ConcurrentHashMap[String, java.util.Set[String]]()

  /** Per version, the listing of its directory read by this instance's
    * last whole-slice fill; see [[derivedSlice]].
    */
  private val fillListings = new ConcurrentHashMap[String, Seq[(String, Long, Long)]]()

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
      // hive layout; the store reads each version's directory on its own):
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
        .parquet(versionDir(version))
      (metrics, version, createdAt)
    } finally if (owned) df.unpersist()

    // the version's one schema inference; every later read passes it
    val schema = spark.read.parquet(versionDir(version)).schema
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
      tags = meta.tags,
      data_schema = Some(schema.json)))

    monitor.logFeatureCreation(version, metrics)
    val _ = fill(version, Nil)
    version
  }

  /** Read features by version (latest when None) with optional user-id
    * filter; TTL-cached. (`get_features`, `:363-425`.) A version with no
    * directory (deleted by cleanup or erasure, or never registered) reads
    * as zero rows with the two columns `user_id` (bigint) and
    * `feature_version` (string).
    */
  def getFeatures(
      version: Option[String] = None,
      userIds: Seq[Long] = Nil,
      useCache: Boolean = true): DataFrame = {
    val (v, s) = readSlice(version, userIds, useCache)
    monitor.logFeatureAccess(v)
    s match {
      case Right((schema, rows)) => localFrame(schema, rows)
      case Left(df) => df
    }
  }

  /** Point lookup for one user, metadata columns dropped, as a column→value
    * map. (`serve_features`, `:427-446`.) A cached slice is served from
    * its rows, with no query plan; an over-cap one from its first row.
    */
  def serveFeatures(userId: Long, version: Option[String] = None): Option[Map[String, Any]] = {
    val (v, s) = readSlice(version, Seq(userId), useCache = true)
    monitor.logFeatureAccess(v)
    val (schema, rows) = s match {
      case Right(slice) => slice
      case Left(df) => val first = df.limit(1); (first.schema, first.collect())
    }
    rows.headOption.map { r =>
      schema.fieldNames.iterator.zipWithIndex.collect {
        case (name, i) if !MetaColumns(name) => name -> r.get(i)
      }.toMap
    }
  }

  /** The version read (latest when None) and its `userIds` slice: the
    * cached rows, or the parquet read when `useCache` is off or the slice
    * is over the cap. A missed user slice is answered from the version's
    * cached whole slice ([[derivedSlice]]) when there is one, and else
    * from parquet through the bounded fill.
    */
  private def readSlice(version: Option[String], userIds: Seq[Long],
      useCache: Boolean): (String, Either[DataFrame, Slice]) = {
    val v = version.getOrElse(latestVersion()
      .getOrElse(throw new NoSuchElementException("no feature versions registered")))
    if (!useCache) (v, Left(getFeaturesUncached(v, userIds)))
    else {
      val key = cacheKey(v, userIds)
      (v, cache.get(key).orElse(derivedSlice(v, key, userIds)) match {
        case Some(hit) => Right(hit)
        case None => fill(v, userIds)
      })
    }
  }

  /** The `userIds` slice of `version`, filtered on the driver from the
    * version's cached whole slice and put under `key`; its rows are the
    * whole slice's own. The filter is `isin`'s: rows whose non-null
    * `user_id` is one of `userIds`. The whole slice is looked up only when
    * this instance filled it from the directory listing that is there
    * now; when the listing changed, the version was rewritten or deleted
    * since, and this instance's entries of it are dropped. None then,
    * when no whole slice is cached, or when `user_id` is not an integral
    * column.
    */
  private def derivedSlice(version: String, key: String,
      userIds: Seq[Long]): Option[Slice] =
    if (userIds.isEmpty) None
    else Option(fillListings.get(version)).flatMap { filled =>
      if (dirListing(version).contains(filled)) cache.get(cacheKey(version, Nil))
      else { forget(version); None }
    }.flatMap { case (schema, rows) =>
      Some(schema.fieldNames.indexOf("user_id"))
        .filter(i => i >= 0 && (schema(i).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }))
        .map { i =>
          val wanted = userIds.toSet
          val s = (schema, rows.filter(r =>
            !r.isNullAt(i) && wanted(r.getAs[Number](i).longValue)))
          put(version, key, s)
          s
        }
    }

  /** One version's rows with `feature_version` appended last, optionally
    * filtered to `userIds`; zero rows of [[FeatureStore.EmptySchema]] when
    * the version has no readable directory.
    */
  private def getFeaturesUncached(version: String, userIds: Seq[Long]): DataFrame = {
    val base = versionData(version) match {
      case Some(df) => df.select(col("*"), lit(version).as("feature_version"))
      case None => localFrame(FeatureStore.EmptySchema, Array.empty)
    }
    // parquet row-group skipping on user_id
    if (userIds.isEmpty) base else base.filter(col("user_id").isin(userIds: _*))
  }

  /** The files of one version's directory, read with the schema its
    * manifest row records, so the read lists only this directory and runs
    * no inference job. A version with no recorded schema (not in the
    * manifest, or registered before schemas were recorded) is read with
    * an inferred one. None when the directory is absent or holds no data
    * (the exception also covers a directory deleted after the check).
    */
  private def versionData(version: String): Option[DataFrame] = {
    val dir = versionDir(version)
    if (!hadoopFs().exists(new Path(dir))) None
    else try Some(recordedSchema(version) match {
      case Some(schema) => spark.read.schema(schema).parquet(dir)
      case None => spark.read.parquet(dir)
    }) catch {
      case e: AnalysisException if FeatureStore.NoData(e.getCondition) => None
    }
  }

  private def recordedSchema(version: String): Option[StructType] =
    readMetadata().find(_.feature_version == version).flatMap(_.data_schema)
      .map(json => DataType.fromJson(json).asInstanceOf[StructType])

  /** The (name, length, modification time) of each entry of a version's
    * directory, or None when it is gone. A rewrite of the version writes
    * new file names, so the listing changes with it on any filesystem.
    */
  private def dirListing(version: String): Option[Seq[(String, Long, Long)]] =
    try Some(hadoopFs().listStatus(new Path(versionDir(version))).toSeq
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).sorted)
    catch { case _: java.io.FileNotFoundException => None }

  private def versionDir(version: String): String =
    s"$featuresPath/feature_version=$version"

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
    * metadata rewrite + the doomed versions' cache entries; the kept
    * versions' entries stay). Returns deleted versions.
    * (`cleanup_old_versions`, `:503-532`.)
    */
  def cleanupOldVersions(keepN: Int = 5): Seq[String] = {
    val all = listFeatureVersions().map(_.featureVersion)
    val doomed = all.drop(keepN)
    if (doomed.nonEmpty) {
      val fs = hadoopFs()
      doomed.foreach(v => fs.delete(new Path(versionDir(v)), true))
      // CAS commit: the mutation re-applies against whatever state wins
      // the race, so a concurrent register's row survives this cleanup
      val doomedSet = doomed.toSet
      commitMetadata(rows =>
        rows.filterNot(r => doomedSet.contains(r.feature_version)))
      doomed.foreach(forget)
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
    * stored version directory, preserving version directories, ids and
    * metadata (version hashes are registration-time identifiers of what
    * was ingested, not content digests of the erased state — rewriting
    * them would corrupt lineage and AS-OF reads). One job counts the
    * user's rows per version; only the versions that hold some are
    * rewritten, each from its own directory with its own columns. A
    * version left EMPTY by the erasure has its directory deleted
    * outright, so it reads as a deleted version. The serve cache is
    * cleared, so no erased row survives in a cached slice. Returns the
    * audit the request needs: (feature_version, n_erased), one row per
    * touched version.
    */
  def eraseUser(userId: Long): Seq[(String, Long)] = {
    val fs = hadoopFs()
    val root = new Path(featuresPath)
    val stored = if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq.map(_.getPath.getName).collect {
        case FeatureStore.VersionDir(v) => v
      }
    val held = stored.flatMap(v => versionData(v).map(
      _.filter(col("user_id") === userId).select(lit(v).as("feature_version"))))
    val audit = if (held.isEmpty) Nil
      else held.reduce(_ union _)
        .groupBy("feature_version").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    audit.foreach { case (v, _) =>
      versionData(v).foreach { df =>
        // materialize BEFORE the overwrite — the rewrite reads the
        // directory it replaces (a production store would stage to a
        // sibling dir and swap, same cost class)
        val remaining = df.filter(!(col("user_id") <=> userId)).localCheckpoint()
        if (remaining.isEmpty) fs.delete(new Path(versionDir(v)), true)
        else remaining.write.mode("overwrite").parquet(versionDir(v))
      }
    }
    if (audit.nonEmpty) {
      cache.clear()
      cachedKeys.clear()
      fillListings.clear()
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

  /** Size-gated fill of the `userIds` slice of `version`: one bounded
    * collect of at most `cacheMaxRows + 1` rows of the parquet read. A
    * slice that fits is put in the backend and served from the collected
    * rows; a larger one is served as the read, uncached, so the driver
    * never holds more than the cap plus one row. A whole-slice fill also
    * records the directory listing it read, taken before the read: a
    * rewrite after it changes the listing, so [[derivedSlice]] can fall
    * back needlessly but never derive from stale rows.
    */
  private def fill(version: String, userIds: Seq[Long]): Either[DataFrame, Slice] = {
    val listing = if (userIds.isEmpty) dirListing(version) else None
    val df = getFeaturesUncached(version, userIds)
    val rows = df.limit(cacheMaxRows.toInt + 1).collect()
    if (rows.length > cacheMaxRows) Left(df)
    else {
      val s = (df.schema, rows)
      put(version, cacheKey(version, userIds), s)
      listing.foreach(fillListings.put(version, _))
      Right(s)
    }
  }

  private def put(version: String, key: String, s: Slice): Unit = {
    cachedKeys.computeIfAbsent(version, _ => ConcurrentHashMap.newKeySet[String]())
      .add(key)
    cache.put(key, s)
  }

  /** Drop every entry of `version` that this instance put, and its whole
    * slice whoever put it.
    */
  private def forget(version: String): Unit = {
    fillListings.remove(version)
    Option(cachedKeys.remove(version)).foreach(_.forEach(k => cache.delete(k)))
    cache.delete(cacheKey(version, Nil))
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
    * `metadata/` (a stray `manifest-old.json`, a backup, a number not in
    * [[manifestPath]]'s zero-padded form, which the probes would not find)
    * are ignored.
    */
  private def manifests(fs: FileSystem): Seq[(Long, FileStatus)] = {
    val dir = new Path(metadataPath)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case name @ FeatureStore.ManifestName(g)
          if name == manifestPath(g.toLong).getName => Some(g.toLong -> st)
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
          memoize(gen, st, rows)
          Some(rows)
        }
      }
    }.collectFirst { case Some(rows) => rows }.getOrElse(Nil)
  }

  /** The newest complete manifest's rows: the memo's, when the two point
    * probes of the class doc pass, and else those of a listing.
    */
  private def readMetadata(): Seq[MetadataRow] = {
    val fs = hadoopFs()
    manifestMemo.filter { m =>
      !fs.exists(m.next) &&
        (try {
          val st = fs.getFileStatus(m.path)
          (m.key._2, m.key._3) == (st.getLen, st.getModificationTime)
        } catch { case _: java.io.FileNotFoundException => false })
    }.fold(readCommitted(fs, manifests(fs)))(_.rows)
  }

  /** Memoizes `rows`, the rows of complete generation `gen` whose file
    * status is `st`, with the two paths [[readMetadata]] probes.
    */
  private def memoize(gen: Long, st: FileStatus, rows: Seq[MetadataRow]): Unit =
    manifestMemo = Some(FeatureStore.Manifest(
      (gen, st.getLen, st.getModificationTime), rows, st.getPath,
      manifestPath(gen + 1)))

  /** Optimistic CAS commit: read the newest complete manifest, apply
    * `mutate`, exclusive-create the next generation (JSON lines via the
    * Spark encoder, so nested configs/lineage round-trip exactly, sealed
    * by the commit marker). Losing the race means the winner's state is
    * re-read and the mutation re-applied — the standard commit-log
    * retry, so no update is ever lost. After a commit to head `h`, GC
    * deletes every generation at or below `h - 9` in this committer's own
    * listing, in ascending order: a racing reader reads at-or-below the
    * head, which GC never approaches, and no generation is deleted while
    * its predecessor is still there. Two committers' GCs may interleave,
    * but each deletes a generation only after every older one it listed,
    * and a generation missing from its listing was already gone. The
    * readers' probes rely on that order (see the class doc).
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
        memoize(gen + 1, st, next)
        listed.reverseIterator.takeWhile(_._1 <= gen - 8)
          .foreach { case (_, old) => fs.delete(old.getPath, false) }
      }
    }
  }

  private def upsertMetadata(row: MetadataRow): Unit =
    commitMetadata(rows =>
      rows.filterNot(_.feature_version == row.feature_version) :+ row)
}

object FeatureStore {

  private val ManifestName = """manifest-(\d{1,18})\.json""".r
  private val VersionDir = "feature_version=(.+)".r

  /** The store's own columns, dropped from a served map. */
  private val MetaColumns = Set("feature_version", "created_at")

  /** The error conditions of reading a version directory that is absent
    * or holds no data file.
    */
  private val NoData = Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

  /** The schema of a version with no data: the serving key and the
    * version.
    */
  private val EmptySchema = StructType(Seq(
    StructField("user_id", LongType), StructField("feature_version", StringType)))

  /** Parsed rows of one complete manifest generation, keyed by
    * (generation, file length, modification time), with the generation's
    * file and the file its successor would have.
    */
  private final case class Manifest(key: (Long, Long, Long),
      rows: Seq[MetadataRow], path: Path, next: Path)

  /** Metadata table row (reference DDL `:282-292`); nested values are native
    * Spark types rather than JSON strings. `data_schema` is the schema of
    * the version's files as Spark inferred it at registration, in Spark's
    * JSON form; it is None in a manifest written before it was recorded.
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
      tags: Seq[String],
      data_schema: Option[String] = None) {
    def toMetadata: FeatureMetadata = FeatureMetadata(
      feature_version, description, created_at, features_config,
      Some(DataQualityMetrics(null_percentage, duplicate_percentage,
        outlier_percentage, schema_violations, overall_score)),
      lineage, tags)
  }

  /** Whole-relation fingerprint (reference `_generate_version_hash`,
    * `:307-309`, which md5s *order-dependent* per-row hashes). We make the
    * digest order- AND partitioning-independent — sum, xor and count of
    * per-row `xxhash64` over all columns — then md5 the three numbers
    * together with the sorted column names and types. Two intentional
    * divergences, documented in SURVEY A20 and §7.4: pandas row order is
    * itself nondeterministic under parallel execution, so order-dependence
    * is a bug to not replicate; and a row hash sees values only, so
    * without the schema two relations with equal values under different
    * columns would share one version id and the second registration would
    * overwrite the first. One distributed agg pass, no collect.
    */
  def fingerprint(df: DataFrame): String = {
    val fields = df.schema.fields.sortBy(_.name)
    val h = xxhash64(struct(fields.map(f => col(f.name)).toIndexedSeq: _*))
    // Long sum of 2^63-scale hashes overflows (ANSI mode throws); sum in
    // DECIMAL(38,0) — exact and overflow-free below ~10^19 rows.
    val r = df.select(h.as("h"))
      .agg(sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"),
        expr("bit_xor(h)").as("x"), count(lit(1)).as("c"))
      .head()
    val schema = fields.map(f => s"${f.name} ${f.dataType.catalogString}")
      .mkString(",")
    val payload = s"$schema:${r.get(0)}:${r.get(1)}:${r.get(2)}"
    MessageDigest.getInstance("MD5").digest(payload.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}
