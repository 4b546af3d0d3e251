package perfbench

import graft.extract.UserEventExtractor
import graft.model.FeatureMetadata
import graft.quality.DataQualityValidator
import graft.sources.Tables
import graft.store.{Compaction, FeatureStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** Online serving after a refresh, one closed-loop client.
  *
  * Lookups are `serveFeatures(user)` with the default latest version, so
  * each one resolves the newest version through the manifest. Users are
  * Zipf-distributed over the users of the base cut, in a seeded order.
  * A small share of operations are training reads of the oldest retained
  * version, uncached. The window opens with a refresh: it registers the
  * next, larger cut of `events` and keeps the newest `KeepN` versions.
  * The new version invalidates every cached slice, so misses follow the
  * write. The unit operations are the lookup and the refresh.
  */
final class StoreServe(h: Harness) {
  import StoreServe._
  private val a = h.a
  private val extractor = new UserEventExtractor()
  private val meta = FeatureMetadata("", "perfbench store_serve", "",
    extractor.featureConfigs)

  /** Inputs drawn from the seed: event-time cuts and the user order. */
  private final case class Inputs(cuts: IndexedSeq[Long], users: Array[Long],
      cdf: Array[Double])

  private def prepare(spark: SparkSession): Inputs = {
    val cutRng = new Random(a.seed * 31 + 1)
    val events = Tables.events(spark, a.data)
    val ts = events.select("ts_us").collect().map(_.getLong(0)).sorted
    // growing cuts: each adds 0.4-1.2% of the events, so every version's
    // content differs from the ones before it
    val fracs = Iterator.iterate(0.58 + 0.04 * cutRng.nextDouble())(
      _ + 0.004 + 0.008 * cutRng.nextDouble()).take(MaxCuts).toIndexedSeq
    val cuts = fracs.map(f => ts((f * ts.length).toInt))
    val users = events.filter(col("ts_us") <= cuts.head)
      .select("user_id").distinct().collect().map(_.getLong(0)).sorted
    val hot = new Random(a.seed * 31 + 2).shuffle(users.toSeq).toArray
    val w = hot.indices.map(r => math.pow(r + 1.0, -Theta))
    Inputs(cuts, hot, w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray)
  }

  private def cutOf(spark: SparkSession, thr: Long): DataFrame =
    Tables.events(spark, a.data).filter(col("ts_us") <= thr)

  def run(): Result = {
    val (in, setupS) = h.setUp(SetupReps)(prepare)
    val spark = h.spark
    val t = h.tracer
    val userRng = new Random(a.seed * 31 + 3)
    val mixRng = new Random(a.seed * 31 + 4)
    def nextUser(): Long = {
      val i = java.util.Arrays.binarySearch(in.cdf, userRng.nextDouble())
      in.users(math.min(if (i >= 0) i else -i - 1, in.users.length - 1))
    }
    val store = new FeatureStore(spark, s"${a.work}/store")
    def cacheHits(): Long =
      store.monitoringDashboard("cache_hits").asInstanceOf[Long]

    // version -> cut index, for the versions still retained
    val retained = ArrayBuffer.empty[(String, Int)]
    val registered = ArrayBuffer.empty[(String, Int)]
    var nextCut = 0
    val trainReads = ArrayBuffer.empty[(String, Long)]
    val lookups = ArrayBuffer.empty[(Op, Boolean)]
    val refreshes = ArrayBuffer.empty[Op]
    val trains = ArrayBuffer.empty[Op]
    // (version, features) of each refresh after the base one, for the
    // traced probes
    val refreshed = ArrayBuffer.empty[(String, DataFrame)]
    val probes = ArrayBuffer.empty[(String, Double, Long)]
    val served = ArrayBuffer.empty[Long]

    def refresh(): Op = {
      val k = nextCut
      require(k < in.cuts.length, "out of cuts")
      nextCut += 1
      var feats: DataFrame = null
      val o = h.op("refresh") {
        val events = t.span("sources.events")(cutOf(spark, in.cuts(k)))
        feats = t.span("extract.extract")(extractor.extract(events))
        val v = t.span("store.register")(store.registerFeatures(feats, meta))
        val doomed = t.span("store.cleanup")(store.cleanupOldVersions(KeepN))
        registered += ((v, k))
        retained += ((v, k))
        retained.filterInPlace { case (x, _) => !doomed.contains(x) }
        true
      }
      if (t.enabled && o.ok && k > 0) refreshed += ((registered.last._1, feats))
      o
    }

    def lookup(): (Op, Boolean) = {
      val u = nextUser()
      val h0 = cacheHits()
      val o = h.op("store.serve") {
        store.serveFeatures(u).exists(_.get("user_id").contains(u))
      }
      served += u
      (o, cacheHits() > h0)
    }

    def train(): Op = {
      val (v, _) = retained.head
      h.op("store.train_read") {
        val n = store.getFeatures(Some(v), Nil, useCache = false)
          .collect().length.toLong
        trainReads += ((v, n))
        n > 0
      }
    }

    // warm-up: the base version (the cold registration of a fresh JVM), a
    // warm refresh, lookups drawn like the window's, and repeated hits
    Harness.log("set up")
    refresh()
    refresh()
    (1 to WarmLookups).foreach(_ => lookup())
    // the hit path keeps getting faster for ~100 calls (driver-side JIT);
    // repeat the hottest user so the window starts near steady state
    (1 to WarmHits).foreach(_ => store.serveFeatures(in.users(0)))
    train()
    val warmTrainReads = trainReads.length

    Harness.log("warmed up")
    val d0 = store.monitoringDashboard
    // the window opens with a refresh, so every window measures reads
    // against a cache that a write has just invalidated. A second refresh
    // (~4 s) would leave too few lookups in the window for a steady tail.
    val w = WindowTrace.around(h)(h.window { () =>
      if (refreshes.isEmpty) refreshes += refresh()
      else if (mixRng.nextDouble() < TrainShare) trains += train()
      else lookups += lookup()
    })
    val retainedMb = Jvm.retainedMb
    val d1 = store.monitoringDashboard

    Harness.log("window done")
    if (t.enabled) {
      // per-layer probes, after the window: the public calls that
      // registerFeatures and serveFeatures make inside, each timed alone
      def probe(name: String)(f: => Long): Unit = {
        val s0 = t.spans.length
        val n = t.span(name)(f)
        probes += ((name, t.spans(s0).ms, n))
      }
      refreshed.filter(r => retained.exists(_._1 == r._1)).foreach { case (v, feats) =>
        probe("quality.validate") {
          new DataQualityValidator().validate(feats); 0L
        }
        probe("store.fingerprint") { FeatureStore.fingerprint(feats); 0L }
        probe("extract.materialize") {
          feats.write.format("noop").mode("overwrite").save(); 0L
        }
        probe("store.files") {
          Compaction.tableFiles(spark,
            s"${a.work}/store/features/feature_version=$v")._1.toLong
        }
      }
      (1 to ResolveProbes).foreach { _ =>
        probe("store.resolve_latest") { store.listFeatureVersions(); 0L }
      }
    }
    // correctness, outside the window
    val userCount = scala.collection.mutable.Map.empty[Int, Long]
    def usersIn(k: Int): Long = userCount.getOrElseUpdate(k,
      cutOf(spark, in.cuts(k)).select("user_id").distinct().count())
    registered.foreach { case (v, k) =>
      h.check(s"version of cut $k is its fingerprint") {
        FeatureStore.fingerprint(extractor.extract(cutOf(spark, in.cuts(k)))) == v
      }
    }
    retained.foreach { case (v, k) =>
      h.check(s"readback of $v has one row per user of cut $k") {
        store.getFeatures(Some(v), Nil, useCache = false).count() == usersIn(k)
      }
    }
    val cutIndex = registered.toMap
    trainReads.drop(warmTrainReads).foreach { case (v, n) =>
      h.check(s"training read of $v has one row per user") {
        n == usersIn(cutIndex(v))
      }
    }
    val latest = registered.last._1
    val sampleRng = new Random(a.seed * 31 + 5)
    Seq.fill(CheckLookups)(served(sampleRng.nextInt(served.length)))
      .distinct.foreach { u =>
        h.check(s"served row of user $u equals an uncached read") {
          val uncached = store.getFeatures(Some(latest), Seq(u), useCache = false)
            .drop("feature_version", "created_at").collect().toSeq
            .map(r => r.getValuesMap[Any](r.schema.fieldNames.toIndexedSeq))
          store.serveFeatures(u).toSeq == uncached
        }
      }
    if (t.enabled)
      t.dump(s"${a.work}/spans.jsonl")

    val windowOps = lookups.map(_._1).toSeq
    val lat = h.latencies(windowOps, w.ms)
    val refreshMs = h.latencies(refreshes.toSeq, w.ms).head
    Harness.log(f"store_serve: ${lookups.size} lookups " +
      f"(${lookups.count(!_._2)} misses), refresh " +
      f"${refreshMs / 1e3}%.2f s, " +
      f"${trains.size} training reads, " +
      f"window ${w.ms / 1e3}%.1f s, setup $setupS%.2f s")
    val light = Stats.quantile(lat, 0.5)
    if (!t.enabled) h.result(Seq(
      "setup_s" -> setupS,
      "light_ms" -> light,
      "heavy_ms" -> Stats.quantile(lat, 0.9),
      "write_ms" -> refreshMs,
      "retained_mb" -> retainedMb))
    else {
      def ms(sel: Seq[Op]) = Stats.median(sel.flatMap(_.span).map(_.ms))
      def jobs(sel: Seq[Op]) =
        Stats.median(sel.flatMap(_.span).map(_.work.jobs.toDouble))
      def probe(name: String) =
        probes.filter(_._1 == name).map(_._2).toSeq
      // calls made by the window's refreshes
      val refreshIds = refreshes.flatMap(_.span).map(_.id).toSet
      def inRefreshes(name: String) =
        t.named(name).filter(s => refreshIds(s.parent))
      val hits = lookups.filter(_._2).map(_._1).toSeq
      val misses = lookups.filterNot(_._2).map(_._1).toSeq
      val registerMs = Stats.median(inRefreshes("store.register").map(_.ms))
      val hitMs = ms(hits)
      def delta(k: String) =
        (d1(k).asInstanceOf[Long] - d0(k).asInstanceOf[Long]).toDouble
      h.result(WindowTrace.runtimeMetrics(h, w, windowOps) ++ Seq(
        "trace.light_ms" -> light,
        "store.cache_hit_ratio" ->
          Stats.ratio(delta("cache_hits"),
            delta("cache_hits") + delta("cache_misses")),
        "store.jobs_per_hit" -> jobs(hits),
        "store.jobs_per_miss" -> jobs(misses),
        "store.miss_over_hit" -> Stats.ratio(ms(misses), hitMs),
        "store.resolve_share" ->
          Stats.ratio(Stats.median(probe("store.resolve_latest")), hitMs),
        "store.jobs_per_register" ->
          Stats.median(inRefreshes("store.register").map(_.work.jobs.toDouble)),
        "store.fingerprint_share" ->
          Stats.ratio(Stats.median(probe("store.fingerprint")), registerMs),
        "store.cleanup_share" -> Stats.ratio(
          Stats.median(inRefreshes("store.cleanup").map(_.ms)),
          Stats.median(refreshes.flatMap(_.span).map(_.ms).toSeq)),
        "store.files_per_version" ->
          Stats.median(probes.filter(_._1 == "store.files").map(_._3.toDouble).toSeq),
        "quality.validate_share" ->
          Stats.ratio(Stats.median(probe("quality.validate")), registerMs),
        "quality.jobs_per_validate" ->
          Stats.median(t.named("quality.validate").map(_.work.jobs.toDouble)),
        "extract.exec_share" ->
          Stats.ratio(Stats.median(probe("extract.materialize")), registerMs)
      ) ++ OpsMix.absentMetrics)
    }
  }
}

object StoreServe {
  val SetupReps = 3
  val MaxCuts = 3
  // Zipf skew: misses (first lookup of a user after the refresh) are
  // about a fifth to a quarter of a window's lookups, so the median falls
  // among cache hits and the 90th percentile well inside the misses
  val Theta = 1.7
  val WarmLookups = 20
  val WarmHits = 30
  val KeepN = 3
  val TrainShare = 0.03
  val ResolveProbes = 10
  val CheckLookups = 6

  /** Store-layer metrics, zero on workloads that never call the store. */
  val absentMetrics: Seq[(String, Double)] = Seq(
    "store.cache_hit_ratio", "store.jobs_per_hit", "store.jobs_per_miss",
    "store.miss_over_hit", "store.resolve_share", "store.jobs_per_register",
    "store.fingerprint_share", "store.cleanup_share",
    "store.files_per_version", "quality.validate_share",
    "quality.jobs_per_validate", "extract.exec_share").map(_ -> 0.0)
}
