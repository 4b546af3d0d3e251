package graft

import graft.model.{FeatureConfig, FeatureMetadata}
import graft.store.{FeatureStore, TtlCache}
import org.scalatest.funsuite.AnyFunSuite

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** The local filesystem under the scheme `countfs`, counting the
  * directory listings and the point probes (`exists`, `getFileStatus`)
  * made through it.
  */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Uri.getScheme
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFs.lists.incrementAndGet()
    super.listStatus(f)
  }
  override def exists(f: Path): Boolean = {
    CountingFs.probes.incrementAndGet()
    super.exists(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingFs.probes.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingFs {
  val Uri: URI = URI.create("countfs:///")
  val lists = new AtomicInteger
  val probes = new AtomicInteger
}

class StoreSpec extends AnyFunSuite {
  import TestSpark.jobsIn
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore() = {
    val dir = Files.createTempDirectory("graft-store").toString
    var i = 0
    new FeatureStore(spark, dir, clock = () => { i += 1; f"2024-01-01T00:00:$i%02dZ" })
  }

  private def feats(rows: (Long, Double)*) =
    rows.toSeq.toDF("user_id", "total_amount")

  private val meta = FeatureMetadata("", "test features", "",
    Seq(FeatureConfig("user_id", "int64"), FeatureConfig("total_amount", "float64")),
    lineage = Map("source" -> "unit-test"), tags = Seq("test"))

  /** `n` instances over `dir` sharing one clock, so that versions order
    * by registration whichever instance registers them.
    */
  private def instances(dir: String, n: Int): Seq[FeatureStore] = {
    var i = 0
    val clock = () => { i += 1; f"2024-01-01T00:00:$i%02dZ" }
    Seq.fill(n)(new FeatureStore(spark, dir, clock = clock))
  }

  /** Registers the one-row versions `(1, k)` for `k` in `ks`: one
    * manifest commit each, and user 1 serves `k` from the last.
    */
  private def registerEach(store: FeatureStore, ks: Range): Seq[String] =
    ks.map(k => store.registerFeatures(feats(1L -> k.toDouble), meta))

  private val Generation = "manifest-(\\d+)\\.json".r

  /** The manifest generations in `dir`'s `metadata/`, ascending. */
  private def generations(dir: String): Seq[Long] =
    Paths.get(dir, "metadata").toFile.list().toSeq
      .collect { case Generation(g) => g.toLong }.sorted

  /** A claim of generation `gen` whose writer crashed: no commit marker. */
  private def crashedClaim(dir: String, gen: Long): Unit =
    Files.writeString(Paths.get(dir, "metadata", f"manifest-$gen%012d.json"),
      "{\"feature_version\":\"half-writ")

  test("register → get → serve round-trip") {
    val store = freshStore()
    val v = store.registerFeatures(feats(1L -> 10.0, 2L -> 20.0), meta)
    assert(v.nonEmpty)

    val got = store.getFeatures(Some(v), useCache = false)
    assert(got.count() == 2)
    assert(got.columns.contains("feature_version"))

    val served = store.serveFeatures(2L, Some(v))
    assert(served.isDefined)
    assert(served.get("total_amount") == 20.0)
    assert(!served.get.contains("feature_version"))
    assert(store.serveFeatures(99L, Some(v)).isEmpty)
  }

  test("fingerprint is content-based: same data → same version, independent of partitioning") {
    val store = freshStore()
    val df = feats(1L -> 1.0, 2L -> 2.0, 3L -> 3.0)
    val v1 = FeatureStore.fingerprint(df.repartition(1))
    val v2 = FeatureStore.fingerprint(df.repartition(7))
    val v3 = FeatureStore.fingerprint(feats(1L -> 1.0, 2L -> 2.0, 3L -> 99.0))
    assert(v1 == v2)
    assert(v1 != v3)
    assert(store.registerFeatures(df, meta) == v1)
  }

  test("fingerprint reads column names: equal values under different " +
      "columns register as two versions, each reading back its own") {
    val store = freshStore()
    val amounts = feats(1L -> 1.0, 2L -> 2.0)
    val clicks = Seq(1L -> 1.0, 2L -> 2.0).toDF("user_id", "clicks")
    val vA = store.registerFeatures(amounts, meta)
    val vC = store.registerFeatures(clicks, meta)
    assert(vA != vC)
    assert(store.listFeatureVersions().map(_.featureVersion).toSet ==
      Set(vA, vC))
    def back(v: String) = store.getFeatures(Some(v), useCache = false)
    assert(back(vA).columns.contains("total_amount") &&
      !back(vA).columns.contains("clicks"))
    assert(back(vC).columns.contains("clicks") &&
      !back(vC).columns.contains("total_amount"))
    assert(back(vA).orderBy("user_id").select("total_amount").as[Double]
      .collect().toSeq == Seq(1.0, 2.0))
    assert(back(vC).orderBy("user_id").select("clicks").as[Double]
      .collect().toSeq == Seq(1.0, 2.0))
  }

  test("latest-version resolution and list ordering") {
    val store = freshStore()
    val vOld = store.registerFeatures(feats(1L -> 1.0), meta)
    val vNew = store.registerFeatures(feats(1L -> 2.0), meta)
    assert(store.listFeatureVersions().map(_.featureVersion) == Seq(vNew, vOld))
    assert(store.getFeatures().select("feature_version").head().getString(0) == vNew)
  }

  test("metadata round-trips configs, metrics, lineage and tags") {
    val store = freshStore()
    val v = store.registerFeatures(feats(1L -> 1.0, 1L -> 1.0), meta)
    val m = store.getFeatureMetadata(v).get
    assert(m.description == "test features")
    assert(m.features.map(_.name) == Seq("user_id", "total_amount"))
    assert(m.lineage("source") == "unit-test")
    assert(m.tags == Seq("test"))
    assert(m.dataQualityMetrics.get.duplicatePercentage == 0.5)
    assert(store.getFeatureMetadata("nope").isEmpty)
  }

  test("cleanup keeps exactly the newest N versions") {
    val store = freshStore()
    val vs = (1 to 5).map(i => store.registerFeatures(feats(1L -> i.toDouble), meta))
    val deleted = store.cleanupOldVersions(keepN = 2)
    assert(deleted.toSet == vs.take(3).toSet)
    assert(store.listFeatureVersions().map(_.featureVersion) == vs.drop(3).reverse)
    // deleted partitions are gone from the feature table too
    assert(store.getFeatures(Some(vs.last)).count() == 1)
    assert(store.getFeatures(Some(vs.head)).count() == 0)
  }

  test("low-quality registration raises a monitor alert") {
    val store = freshStore()
    // all-duplicate rows → dup% = 2/3 → score ≈ 0.33 < 0.8
    store.registerFeatures(feats(1L -> 1.0, 1L -> 1.0, 1L -> 1.0), meta)
    val dash = store.monitoringDashboard
    assert(dash("total_creations") == 1L)
    assert(dash("alerts").asInstanceOf[List[String]].nonEmpty)
  }

  test("TTL cache: hit before expiry, miss after") {
    var now = 0L
    val c = new TtlCache[String, Int](ttlSeconds = 10, clock = () => now)
    c.put("k", 42)
    assert(c.get("k").contains(42))
    now = 9999L
    assert(c.get("k").contains(42))
    now = 10001L
    assert(c.get("k").isEmpty)
    assert(c.hits == 2 && c.misses == 1)
  }

  test("a cache hit on the latest version launches no Spark job") {
    val dir = Files.createTempDirectory("graft-store-jobs").toString
    val store = new FeatureStore(spark, dir)
    val v = store.registerFeatures(feats(1L -> 10.0, 2L -> 20.0), meta)
    def counter(k: String) = store.monitoringDashboard(k).asInstanceOf[Long]
    val (h0, m0) = (counter("cache_hits"), counter("cache_misses"))
    // the first lookup of a user is filtered from the version slice that
    // registration cached: a miss on its own key, a hit on the version's
    val (first, derivedJobs) = jobsIn(store.serveFeatures(2L))
    assert(first.get("total_amount") == 20.0)
    assert(derivedJobs == 0)
    assert(counter("cache_hits") == h0 + 1 && counter("cache_misses") == m0 + 1)
    // a fresh instance has an empty cache: once it has parsed the manifest
    // (once per generation, not per lookup), its lookup reads the
    // version's directory with the schema the manifest records, in the
    // fill's one collect
    val fresh = new FeatureStore(spark, dir)
    fresh.listFeatureVersions()
    val (cold, missJobs) = jobsIn(fresh.serveFeatures(2L, Some(v)))
    assert(cold == first)
    assert(missJobs == 1)
    Seq(store, fresh).foreach { s =>
      val (again, hitJobs) = jobsIn(s.serveFeatures(2L, Some(v)))
      assert(again == first)
      assert(hitJobs == 0)
    }
  }

  test("a store whose versions have different columns reads and serves " +
      "each version with its own columns") {
    val store = freshStore()
    val vAmount = store.registerFeatures(feats(1L -> 10.0, 2L -> 20.0), meta)
    val vClicks = store.registerFeatures(
      Seq(1L -> 7L, 2L -> 8L).toDF("user_id", "clicks"), meta)
    val amount = store.getFeatures(Some(vAmount), useCache = false)
    assert(amount.columns.toSeq ==
      Seq("user_id", "total_amount", "created_at", "feature_version"))
    assert(amount.select("user_id", "total_amount").as[(Long, Double)]
      .collect().sorted.toSeq == Seq(1L -> 10.0, 2L -> 20.0))
    val clicks = store.getFeatures(Some(vClicks), useCache = false)
    assert(clicks.columns.toSeq ==
      Seq("user_id", "clicks", "created_at", "feature_version"))
    assert(clicks.select("user_id", "clicks").as[(Long, Long)]
      .collect().sorted.toSeq == Seq(1L -> 7L, 2L -> 8L))
    assert(store.serveFeatures(2L, Some(vAmount)) ==
      Some(Map("user_id" -> 2L, "total_amount" -> 20.0)))
    assert(store.serveFeatures(2L, Some(vClicks)) ==
      Some(Map("user_id" -> 2L, "clicks" -> 8L)))
  }

  test("cleanup drops only the doomed versions' cache entries: a user's " +
      "first lookup of a kept version is still derived with no Spark job, " +
      "and a deleted version reads as zero rows") {
    val store = freshStore()
    val vs = (1 to 3).map(i =>
      store.registerFeatures(feats(1L -> i.toDouble, 2L -> (i * 10.0)), meta))
    assert(store.serveFeatures(2L, Some(vs.head)).get("total_amount") == 10.0)
    assert(store.cleanupOldVersions(keepN = 2) == Seq(vs.head))
    val (served, jobs) = jobsIn(store.serveFeatures(2L))
    assert(served.get("total_amount") == 30.0)
    assert(jobs == 0)
    assert(store.serveFeatures(2L, Some(vs.head)).isEmpty)
    assert(store.getFeatures(Some(vs.head)).count() == 0)
    assert(store.getFeatures(Some(vs(1))).count() == 2)
  }

  test("a user erased by another instance is not derived from this " +
      "instance's cached version slice") {
    val dir = Files.createTempDirectory("graft-store-erase2").toString
    val a = new FeatureStore(spark, dir)
    val v = a.registerFeatures(feats(1L -> 10.0, 2L -> 20.0, 3L -> 30.0), meta)
    val b = new FeatureStore(spark, dir)
    assert(b.eraseUser(2L) == Seq(v -> 1L))
    // a's whole slice of v predates the erasure: the rewritten directory
    // makes a's first lookup of user 2 read parquet, and drops a's slices
    assert(a.serveFeatures(2L).isEmpty)
    assert(a.serveFeatures(3L).get("total_amount") == 30.0)
    assert(a.getFeatures(Some(v)).select("user_id").as[Long].collect()
      .sorted.toSeq == Seq(1L, 3L))
  }

  test("one instance sees another instance's commits at once: a new " +
      "version serves right after it registers, and cleanup shows in the " +
      "listing") {
    val dir = Files.createTempDirectory("graft-store-2").toString
    var i = 0
    val clock = () => { i += 1; f"2024-01-01T00:00:$i%02dZ" }
    val a = new FeatureStore(spark, dir, clock = clock)
    val b = new FeatureStore(spark, dir, clock = clock)
    val v1 = b.registerFeatures(feats(1L -> 1.0), meta)
    assert(a.serveFeatures(1L).get("total_amount") == 1.0)
    val v2 = b.registerFeatures(feats(1L -> 2.0), meta)
    assert(a.serveFeatures(1L).get("total_amount") == 2.0)
    assert(a.listFeatureVersions().map(_.featureVersion) == Seq(v2, v1))
    // b's view of its own commit equals a's view parsed from the file
    assert(a.listFeatureVersions() == b.listFeatureVersions())
    assert(b.cleanupOldVersions(keepN = 1) == Seq(v1))
    assert(a.listFeatureVersions().map(_.featureVersion) == Seq(v2))
  }

  test("an instance whose memoized generation and its successor were " +
      "collected sees another instance's newest version") {
    val dir = Files.createTempDirectory("graft-store-gc").toString
    val Seq(a, b) = instances(dir, 2)
    registerEach(a, 0 to 0) // generation 0, a's memo
    val vs = registerEach(b, 1 to 10) // generations 1-10
    assert(generations(dir) == (2L to 10L))
    assert(a.listFeatureVersions().head.featureVersion == vs.last)
    assert(a.serveFeatures(1L).get("total_amount") == 10.0)
  }

  test("a crashed claim: a reader still serves the generation below it " +
      "and sees the next commit at once, and a reader parked nine " +
      "generations below the claim sees the head") {
    val dir = Files.createTempDirectory("graft-store-claim").toString
    val Seq(a, b, c) = instances(dir, 3)
    registerEach(b, 0 to 0)
    c.listFeatureVersions() // c's memo: generation 0
    registerEach(b, 1 to 8)
    assert(a.serveFeatures(1L).get("total_amount") == 8.0) // a's memo: 8
    crashedClaim(dir, 9)
    assert(a.serveFeatures(1L).get("total_amount") == 8.0)
    assert(a.listFeatureVersions().size == 9)
    val Seq(v) = registerEach(b, 9 to 9) // generation 10, over the claim
    assert(a.serveFeatures(1L).get("total_amount") == 9.0)
    assert(a.listFeatureVersions().head.featureVersion == v)
    // no commit made generation 9, so generation 0 goes only with the GC
    // that deletes everything at or below the head minus 9
    assert(c.listFeatureVersions().head.featureVersion == v)
  }

  test("a store deleted and rebuilt under a live instance, up to the same " +
      "generation, is read afresh") {
    val dir = Files.createTempDirectory("graft-store-rebuilt").toString
    val Seq(a, b) = instances(dir, 2)
    registerEach(a, 0 to 1) // generations 0-1, a's memo: 1
    assert(a.serveFeatures(1L).get("total_amount") == 1.0)
    val all = Files.walk(Paths.get(dir))
    try all.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    finally all.close()
    registerEach(b, 5 to 6) // generations 0-1 again, other versions
    assert(generations(dir) == Seq(0L, 1L))
    assert(a.listFeatureVersions() == b.listFeatureVersions())
    assert(a.serveFeatures(1L).get("total_amount") == 6.0)
  }

  test("after 12 commits around a crashed claim, metadata/ holds one " +
      "unbroken run of generations ending at the head") {
    val dir = Files.createTempDirectory("graft-store-run").toString
    val Seq(store) = instances(dir, 1)
    registerEach(store, 0 to 8) // generations 0-8
    crashedClaim(dir, 9)
    registerEach(store, 9 to 11) // generations 10-12
    assert(generations(dir) == (4L to 12L))
  }

  test("a cache hit on the latest version lists no directory and makes " +
      "at most two point probes") {
    val dir = Files.createTempDirectory("graft-store-calls").toString
    new FeatureStore(spark, dir)
      .registerFeatures(feats(1L -> 10.0, 2L -> 20.0), meta)
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    val store = new FeatureStore(spark, s"countfs://$dir")
    assert(store.serveFeatures(2L).get("total_amount") == 20.0) // the fill
    CountingFs.lists.set(0)
    CountingFs.probes.set(0)
    assert(store.serveFeatures(2L).get("total_amount") == 20.0)
    assert(CountingFs.lists.get == 0)
    assert(CountingFs.probes.get <= 2)
  }

  test("stray manifest-*.json names in metadata/ are ignored") {
    val dir = Files.createTempDirectory("graft-store-stray").toString
    val store = new FeatureStore(spark, dir)
    val v1 = store.registerFeatures(feats(1L -> 1.0), meta)
    Seq("manifest-old.json", "manifest-.json", "manifest-12.json.bak")
      .foreach(n => Files.writeString(Paths.get(dir, "metadata", n), "junk"))
    assert(store.listFeatureVersions().map(_.featureVersion) == Seq(v1))
    val v2 = store.registerFeatures(feats(1L -> 2.0), meta)
    assert(new FeatureStore(spark, dir).listFeatureVersions()
      .map(_.featureVersion) == Seq(v2, v1))
  }

  test("manifest format: the bytes a commit writes are pinned, and a " +
      "manifest with those bytes reads back") {
    val dir = Files.createTempDirectory("graft-store-fmt").toString
    val store = new FeatureStore(spark, dir,
      clock = () => "2024-01-01T00:00:01Z")
    val v = store.registerFeatures(feats(1L -> 1.0, 2L -> 2.0), meta)
    val text = Files.readString(
      Paths.get(dir, "metadata", "manifest-000000000000.json"))
    val expected =
      s"""{"feature_version":"$v","description":"test features",""" +
      """"created_at":"2024-01-01T00:00:01Z","features_config":[""" +
      """{"name":"user_id","dtype":"int64","description":"","tags":[],""" +
      """"owner":""},{"name":"total_amount","dtype":"float64",""" +
      """"description":"","tags":[],"owner":""}],"null_percentage":0.0,""" +
      """"duplicate_percentage":0.0,"outlier_percentage":0.0,""" +
      """"schema_violations":0,"overall_score":1.0,""" +
      """"lineage":{"source":"unit-test"},"tags":["test"],""" +
      """"data_schema":"{\"type\":\"struct\",\"fields\":[""" +
      """{\"name\":\"user_id\",\"type\":\"long\",""" +
      """\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"total_amount\",\"type\":\"double\",""" +
      """\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"created_at\",\"type\":\"string\",""" +
      """\"nullable\":true,\"metadata\":{}}]}"}""" + "\n#commit"
    assert(text == expected)
    // the same bytes, laid down by hand, read back by a fresh instance
    val copy = Files.createTempDirectory("graft-store-fmt2")
    Files.createDirectories(copy.resolve("metadata"))
    Files.writeString(copy.resolve("metadata/manifest-000000000007.json"),
      expected)
    val listed = new FeatureStore(spark, copy.toString).listFeatureVersions()
    assert(listed == store.listFeatureVersions())
    assert(listed.map(_.featureVersion) == Seq(v))
    // a row written before the schema was recorded still reads back, and
    // its version reads with an inferred schema
    Files.writeString(Paths.get(dir, "metadata", "manifest-000000000001.json"),
      expected.replaceFirst(",\"data_schema\":.*\\}", "}"))
    val old = new FeatureStore(spark, dir)
    assert(old.listFeatureVersions() == listed)
    assert(old.getFeatures(Some(v), useCache = false)
      .select("user_id", "total_amount").as[(Long, Double)].collect().sorted
      .toSeq == Seq(1L -> 1.0, 2L -> 2.0))
  }

  test("get_features caching is observable via dashboard counters") {
    val store = freshStore()
    val v = store.registerFeatures(feats(1L -> 1.0), meta)
    store.getFeatures(Some(v)) // cache was pre-filled at register
    val hits = store.monitoringDashboard("cache_hits").asInstanceOf[Long]
    assert(hits >= 1L)
  }

  test("store runs against a swapped-in CacheBackend (pluggable seam)") {
    import graft.store.CacheBackend
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    // plain-map backend: no TTL, counts traffic — stands in for an
    // external cache adapter (the reference's "Redis, Memcached, etc.")
    class MapBackend extends CacheBackend[String, (StructType, Array[Row])] {
      val m = scala.collection.mutable.Map[String, (StructType, Array[Row])]()
      var h = 0L; var ms = 0L; var cleared = 0
      def get(key: String) = m.get(key) match {
        case some @ Some(_) => h += 1; some
        case None => ms += 1; None
      }
      def put(key: String, value: (StructType, Array[Row])): Unit = m(key) = value
      def delete(key: String): Unit = m.remove(key)
      def clear(): Unit = { cleared += 1; m.clear() }
      def hits: Long = h
      def misses: Long = ms
    }
    val backend = new MapBackend
    val dir = Files.createTempDirectory("graft-store").toString
    val store = new FeatureStore(spark, dir, cacheBackend = Some(backend))
    val v = store.registerFeatures(feats(1L -> 1.0, 2L -> 2.0), meta)
    assert(backend.m.nonEmpty) // register pre-fills through the trait
    assert(store.getFeatures(Some(v)).count() == 2) // served via backend
    assert(backend.hits >= 1L)
    assert(store.monitoringDashboard("cache_hits") == backend.hits)
    store.cleanupOldVersions(keepN = 0)
    // invalidation routed: the doomed version's keys are deleted, nothing
    // else is cleared
    assert(backend.cleared == 0 && backend.m.isEmpty)
  }

  test("size-gated cache: an over-cap version serves correctly with zero " +
      "driver collect; under-cap slices still collect through the backend") {
    import graft.store.CacheBackend
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    // put-counting backend: every put is a slice collected into the
    // cache, so puts == 0 proves the over-cap path cached nothing
    class CountingBackend extends CacheBackend[String, (StructType, Array[Row])] {
      val m = scala.collection.mutable.Map[String, (StructType, Array[Row])]()
      var h = 0L; var ms = 0L; var puts = 0
      def get(key: String) = m.get(key) match {
        case some @ Some(_) => h += 1; some
        case None => ms += 1; None
      }
      def put(key: String, value: (StructType, Array[Row])): Unit = {
        puts += 1; m(key) = value
      }
      def delete(key: String): Unit = m.remove(key)
      def clear(): Unit = m.clear()
      def hits: Long = h
      def misses: Long = ms
    }
    val backend = new CountingBackend
    val dir = Files.createTempDirectory("graft-store").toString
    val store = new FeatureStore(spark, dir, cacheBackend = Some(backend),
      cacheMaxRows = 4)
    val v = store.registerFeatures(
      feats((1 to 10).map(i => i.toLong -> i.toDouble): _*), meta)
    assert(backend.puts == 0) // 10 rows > cap 4: never cached
    assert(store.getFeatures(Some(v)).count() == 10)
    // the over-cap slice was not cached: a second read misses the backend
    // and still serves every row from parquet
    val misses = backend.misses
    assert(store.getFeatures(Some(v)).count() == 10)
    assert(backend.misses == misses + 1 && backend.puts == 0)
    // an under-cap slice (single-user serve) still collects via the seam
    assert(store.serveFeatures(3L, Some(v)).get("total_amount") == 3.0)
    assert(backend.puts == 1)
    // the fill's limit takes an Int: a cap it cannot express is refused
    Seq(-1L, Int.MaxValue.toLong).foreach { cap =>
      intercept[IllegalArgumentException](
        new FeatureStore(spark, dir, cacheMaxRows = cap))
    }
  }

  test("online/offline consistency: serveFeatures agrees with the " +
      "point-in-time training matrix over the store's AS-OF resolution, " +
      "for every sampled key — including a key absent from the served " +
      "version") {
    import graft.ops.PointInTime
    import org.apache.spark.sql.functions.{col, lit}
    val store = freshStore()
    val v1 = store.registerFeatures(
      feats(1L -> 10.0, 2L -> 20.0, 3L -> 30.0), meta)
    store.registerFeatures(feats(1L -> 11.0, 2L -> 21.0), meta)
    val created = store.listFeatureVersions()
      .map(m => m.featureVersion -> m.createdAt).toMap
    // the OFFLINE side: the as-of fold over the store's AS-OF-resolved
    // version (version-ATOMIC serving — row-level as-of over raw version
    // history would resurrect user 3's v1 row after v2 dropped the user)
    def matrixAt(ts: String): Map[Long, Option[Any]] = {
      val grp = store.getFeaturesAsOf(ts, useCache = false)
        .select(col("user_id"), col("created_at").as("f_ts"),
          col("total_amount").as("pit_amount"))
      val labels = Seq(1L, 2L, 3L).toDF("user_id")
        .withColumn("ts", lit(ts))
      PointInTime.trainingMatrix(labels, "user_id", "ts",
          Seq(PointInTime.FeatureGroup(grp, "user_id", "f_ts",
            Seq("pit_amount"))))
        .collect()
        .map(r => r.getAs[Long]("user_id") ->
          Option(r.getAs[Any]("pit_amount"))).toMap
    }
    // ONLINE at now (latest version): user 3 must be absent on BOTH sides
    val mNow = matrixAt("2024-01-01T00:00:59Z")
    Seq(1L, 2L, 3L).foreach { u =>
      val served = store.serveFeatures(u).map(_("total_amount"))
      assert(mNow(u) == served, s"user $u: matrix ${mNow(u)} vs $served")
    }
    assert(mNow(3L).isEmpty)
    // at v1's instant both sides read the v1 values (incl. user 3 = 30.0)
    val t1 = created(v1)
    val m1 = matrixAt(t1)
    Seq(1L, 2L, 3L).foreach { u =>
      val served = store.serveFeatures(u, store.versionAsOf(t1))
        .map(_("total_amount"))
      assert(m1(u) == served, s"user $u @v1: matrix ${m1(u)} vs $served")
    }
    assert(m1(3L).contains(30.0))
  }

  test("AS OF time travel: resolution picks the newest version at or " +
      "before the instant; reads serve that version's rows") {
    val store = freshStore() // clock stamps :01, :02, :03 …
    val v1 = store.registerFeatures(feats(1L -> 10.0), meta)
    val v2 = store.registerFeatures(feats(1L -> 20.0), meta)
    val created = store.listFeatureVersions()
      .map(m => m.featureVersion -> m.createdAt).toMap
    // before any version existed
    assert(store.versionAsOf("2023-12-31T23:59:59Z").isEmpty)
    intercept[NoSuchElementException] {
      store.getFeaturesAsOf("2023-12-31T23:59:59Z")
    }
    // exactly at v1's stamp → v1; between the stamps → still v1
    assert(store.versionAsOf(created(v1)).contains(v1))
    assert(store.versionAsOf(created(v1) + ".500").contains(v1))
    // at/after v2 → v2, far future → v2
    assert(store.versionAsOf(created(v2)).contains(v2))
    assert(store.versionAsOf("2030-01-01T00:00:00Z").contains(v2))
    val asOf = store.getFeaturesAsOf(created(v1), useCache = false)
      .select("user_id", "total_amount").collect()(0)
    assert(asOf.getAs[Double]("total_amount") == 10.0)
  }

  test("per-batch sketch persistence: merged knots answer the same " +
      "quantiles as a direct multi-batch build; rewrite is idempotent") {
    import graft.ops.Sketches
    import org.apache.spark.sql.functions.{col, lit}
    val store = freshStore()
    val b1 = feats((1L to 40L).map(i => i -> i.toDouble): _*)
    val b2 = feats((1L to 40L).map(i => i -> (i + 100).toDouble): _*)
    val v1 = store.registerFeatures(b1, meta)
    store.writeBatchSketches(b1, v1, Seq("total_amount"), knots = 8)
    val v2 = store.registerFeatures(b2, meta)
    store.writeBatchSketches(b2, v2, Seq("total_amount"), knots = 8)
    val pcts = Seq(25, 50, 75, 90)
    val fromStore = store.sketchQuantiles(pcts)
      .orderBy("column", "q").collect()
      .map(r => (r.getAs[String]("column"), r.getAs[Long]("q"),
        r.getAs[Long]("n_total"), r.getAs[java.math.BigDecimal]("est_value")))
    // direct build over the concatenation with the SAME batch keys —
    // merge really is relation union
    val all = b1.withColumn("__b", lit(0L))
      .unionByName(b2.withColumn("__b", lit(1L)))
    val direct = Sketches.quantileSketchQuantiles(
        Sketches.quantileSketchBuild(all, col("total_amount"), col("__b"), 8),
        pcts)
      .orderBy("q").collect()
      .map(r => ("total_amount", r.getAs[Long]("q"),
        r.getAs[Long]("n_total"), r.getAs[java.math.BigDecimal]("est_value")))
    assert(fromStore.toSeq == direct.toSeq)
    assert(fromStore.forall(_._3 == 80L))
    // rewriting one version's sketch only touches its partition and
    // reuses its batch id — the merged answers are unchanged
    store.writeBatchSketches(b2, v2, Seq("total_amount"), knots = 8)
    val again = store.sketchQuantiles(pcts)
      .orderBy("column", "q").collect()
      .map(r => (r.getAs[String]("column"), r.getAs[Long]("q"),
        r.getAs[Long]("n_total"), r.getAs[java.math.BigDecimal]("est_value")))
    assert(again.toSeq == fromStore.toSeq)
    // unsketched store fails loudly, not silently empty
    intercept[IllegalArgumentException] {
      freshStore().sketchQuantiles(Seq(50))
    }
    // drift-on-ingest: PSI of a shifted batch against history, baseline
    // side answered purely from the persisted knots — masses sum to the
    // full 80-row history, identical batch reads PSI ≈ 0
    val drift = store.sketchDrift(
      feats((1L to 40L).map(i => i -> (i + 300).toDouble): _*),
      "total_amount", buckets = 10).collect()
    assert(drift.map(_.getAs[Long]("n_base")).sum == 80L)
    assert(drift.map(_.getAs[Double]("contribution")).sum > 1.0) // shifted
    val same = store.sketchDrift(b1.unionByName(b2), "total_amount",
      buckets = 10).collect()
    assert(math.abs(same.map(_.getAs[Double]("contribution")).sum) < 0.05)
  }

  test("eraseUser: the user vanishes from every version, other rows and " +
      "version ids survive, a fully-erased version's partition is " +
      "removed, cached slices are dropped") {
    val store = freshStore()
    val v1 = store.registerFeatures(
      feats(1L -> 10.0, 2L -> 20.0, 3L -> 30.0), meta)
    val v2 = store.registerFeatures(feats(1L -> 11.0, 2L -> 21.0), meta)
    val vOnly = store.registerFeatures(feats(2L -> 99.0), meta)
    // user 2 is in a cached slice before erasure
    assert(store.serveFeatures(2L, Some(v1)).isDefined)
    val audit = store.eraseUser(2L)
    assert(audit.toMap == Map(v1 -> 1L, v2 -> 1L, vOnly -> 1L))
    // gone everywhere, including the cache-backed serve path
    Seq(v1, v2, vOnly).foreach { v =>
      assert(store.serveFeatures(2L, Some(v)).isEmpty, v)
    }
    // collateral rows intact, version identifiers unchanged
    assert(store.getFeatures(Some(v1), useCache = false)
      .select("user_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
    assert(store.getFeatures(Some(v2), useCache = false).count() == 1)
    // the version that held ONLY user 2 is now an empty read, not stale
    assert(store.getFeatures(Some(vOnly), useCache = false).count() == 0)
    // metadata/lineage untouched — still three registered versions
    assert(store.listFeatureVersions().size == 3)
    // erasing an absent user is a no-op with an empty audit
    assert(store.eraseUser(777L).isEmpty)
  }

  test("eraseUser on a store whose versions have different columns " +
      "rewrites each touched version with its own columns") {
    val dir = Files.createTempDirectory("graft-store-erase").toString
    var i = 0
    val store = new FeatureStore(spark, dir,
      clock = () => { i += 1; f"2024-01-01T00:00:$i%02dZ" })
    val vAmount = store.registerFeatures(
      feats(1L -> 10.0, 2L -> 20.0, 3L -> 30.0), meta)
    val vClicks = store.registerFeatures(
      Seq(1L -> 7L, 2L -> 8L).toDF("user_id", "clicks"), meta)
    val vOnly = store.registerFeatures(Seq(2L -> 9L).toDF("user_id", "clicks"), meta)
    val created = store.listFeatureVersions()
      .map(m => m.featureVersion -> m.createdAt).toMap
    assert(store.eraseUser(2L).toMap == Map(vAmount -> 1L, vClicks -> 1L, vOnly -> 1L))
    val amount = store.getFeatures(Some(vAmount), useCache = false)
    assert(amount.columns.toSeq ==
      Seq("user_id", "total_amount", "created_at", "feature_version"))
    assert(amount.select("user_id", "total_amount", "created_at")
      .as[(Long, Double, String)].collect().sorted.toSeq ==
      Seq((1L, 10.0, created(vAmount)), (3L, 30.0, created(vAmount))))
    val clicks = store.getFeatures(Some(vClicks), useCache = false)
    assert(clicks.columns.toSeq ==
      Seq("user_id", "clicks", "created_at", "feature_version"))
    assert(clicks.select("user_id", "clicks", "created_at")
      .as[(Long, Long, String)].collect().toSeq ==
      Seq((1L, 7L, created(vClicks))))
    // the version that held only user 2 is gone from disk and reads empty
    assert(!Files.exists(Paths.get(dir, "features", s"feature_version=$vOnly")))
    assert(store.getFeatures(Some(vOnly)).count() == 0)
    assert(store.serveFeatures(1L, Some(vClicks)) ==
      Some(Map("user_id" -> 1L, "clicks" -> 7L)))
    assert(store.serveFeatures(2L, Some(vAmount)).isEmpty)
  }

  test("optimistic concurrency: racing writers on one store path never " +
      "lose a commit — every version lands in metadata AND on disk") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft-store-cas").toString
    // two INDEPENDENT store instances on the same path (two writers),
    // eight registrations interleaved across them — each CAS loser must
    // re-read the winner's manifest and re-apply
    def mkStore(off: Int) = {
      var i = 0
      new FeatureStore(spark, dir,
        clock = () => { i += 1; f"2024-01-01T0$off:00:$i%02dZ" })
    }
    val stores = Seq(mkStore(0), mkStore(1))
    val futures = (0 until 8).map { k =>
      Future(stores(k % 2)
        .registerFeatures(feats(k.toLong -> (k * 10.0 + 1)), meta))
    }
    val versions = Await.result(Future.sequence(futures), 120.seconds)
    assert(versions.distinct.size == 8)
    val listed = stores.head.listFeatureVersions().map(_.featureVersion)
    assert(listed.toSet == versions.toSet,
      s"lost commits: ${versions.toSet -- listed.toSet}")
    // every partition readable with its rows intact
    versions.zipWithIndex.foreach { case (v, k) =>
      val got = stores(1).getFeatures(Some(v), useCache = false)
      assert(got.count() == 1, s"version $v")
    }
    // composes with cleanup: keep 3, the doomed 5 vanish from disk and
    // manifest, survivors stay readable
    val doomed = stores.head.cleanupOldVersions(keepN = 3)
    assert(doomed.size == 5)
    val after = stores(1).listFeatureVersions().map(_.featureVersion)
    assert(after.size == 3 && after.forall(versions.contains))
    after.foreach(v => assert(
      stores.head.getFeatures(Some(v), useCache = false).count() == 1))
    // composes with erasure: erase one surviving user, others untouched
    val sample = after.head
    val uid = stores.head.getFeatures(Some(sample), useCache = false)
      .select("user_id").head().getLong(0)
    val audit = stores.head.eraseUser(uid)
    assert(audit.map(_._1).contains(sample))
    assert(stores(1).listFeatureVersions().size == 3)
  }
}
