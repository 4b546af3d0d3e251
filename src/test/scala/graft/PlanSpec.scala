package graft

import graft.queries.{RelationalQueries, SimilarityQueries}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates — the properties that keep these operators
  * viable at 100 TB, pinned so a refactor can't silently regress them:
  * filters/projections must reach the parquet scan, small dimensions must
  * broadcast, global top-k must plan as TakeOrderedAndProject (per-partition
  * heaps), and the embedding hot path must use the codegen'd native kernel
  * rather than interpreted lambda folds.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String = {
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("filter + projection reach the parquet scan") {
    val s = formatted(RelationalQueries.filterProject(spark, dir))
    assert(s.contains("PushedFilters:") &&
      s.contains("IsNotNull(event_type)"), s)
    // pruned read schema — no props/ts columns in the scan of events
    val readSchema = s.linesIterator.filter(_.contains("ReadSchema"))
      .mkString
    assert(!readSchema.contains("props"), readSchema)
  }

  test("star join broadcasts both dimension sides") {
    val s = planString(RelationalQueries.joinNationRevenue(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2, s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("global top-k plans as TakeOrderedAndProject, not a total sort") {
    val s = planString(RelationalQueries.topkOrders(spark, dir))
    assert(s.contains("TakeOrderedAndProject"), s)
  }

  test("point lookup keeps the user_id predicate pushed down") {
    val s = formatted(RelationalQueries.pointLookup(spark, dir))
    assert(s.contains("EqualTo(user_id,1)"), s)
  }

  test("similarity scans use the native dot kernel, no lambda fallback") {
    val s = planString(SimilarityQueries.nearDupPairs(spark, dir))
    assert(s.contains("graft_dot"), s)
    assert(!s.contains("aggregate(zip_with"), s)
  }

  test("dedup verification joins are broadcast and use the native kernel") {
    val s = planString(graft.ops.Dedup.jaccardPairs(
      graft.sources.Tables.documents(spark, dir), "doc_id", "text", 0.9))
    assert(s.contains("graft_sorted_intersect"), s)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("minhash candidates: first-collision joins, no candidate distinct") {
    val s = planString(graft.ops.Dedup.minhashCandidates(
      graft.sources.Tables.documents(spark, dir), "doc_id", "text"))
    // pair uniqueness comes from the earlier-band-differs residual, not a
    // multi-million-row distinct shuffle on (id_a, id_b)
    assert(!s.contains("HashAggregate(keys=[id_a"), s)
    assert(!s.contains("Exchange hashpartitioning(id_a"), s)
  }

  test("drift PSI bucketing stays inside codegen — no lambda fallback") {
    val s = planString(graft.queries.QualityQueries.driftPsi(spark, dir))
    // higher-order array functions (aggregate/filter/transform lambdas) are
    // CodegenFallback; the bucket expression must be an unrolled when-chain
    assert(!s.contains("lambdafunction"), s)
    assert(!s.toLowerCase.contains("codegenfallback"), s)
  }

  test("batch IVF probe prunes assignment partitions dynamically") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val fp = graft.ops.Ivf.indexFingerprint(emb, "vec_id", "embedding",
      8, 4096, 42L)
    val path = s"/tmp/graft_ivf_planspec_${fp.take(8)}"
    val index = graft.ops.Ivf.buildCached(emb, "vec_id", "embedding", 8, path)
    val out = graft.ops.Ivf.probeBatch(index,
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      "vec_id", 3, nProbe = 2)
    // the probed-cell set must reach the scan as a dynamic partition filter
    // — without it the probe degrades to a full assignment scan at any SF
    val s = out.queryExecution.executedPlan.toString
    assert(s.toLowerCase.contains("dynamicpruning"), s)
  }

  test("as-of join is one window pass — no theta range join") {
    val s = planString(RelationalQueries.asofLatestClick(spark, dir))
    assert(s.contains("RunningWindowFunction") || s.contains("Window"), s)
    assert(!s.contains("BroadcastNestedLoopJoin") &&
      !s.contains("CartesianProduct"), s)
  }

  test("runtime bloom-filter join pruning injects might_contain on the " +
      "probe side of a selective shuffle join") {
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // toy scans sit below the production 10 GB application-side
      // threshold — zero it so the 100 TB behavior is testable here
      conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = graft.sources.Tables.lineitem(spark, dir)
      val ord = graft.sources.Tables.orders(spark, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
      val plan = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"), plan.take(2000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("random projection is zero-shuffle codegen — no exchange, no lambda") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val out = graft.ops.Similarity.randomProject(emb, "vec_id", "embedding",
      graft.queries.SimilarityQueries.projSigns)
    val s = planString(out)
    assert(!s.contains("Exchange"), s)
    assert(s.contains("graft_dot"), s)
    assert(!s.contains("lambdafunction"), s)
  }

  test("two-phase hash rank (key cap): offsets broadcast, windows salted") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val s = planString(
      graft.ops.Prep.capPerKey(docs, Seq("source", "lang"), "doc_id", 5))
    // the offsets relation must arrive broadcast, not via a shuffled join
    assert(s.contains("BroadcastHashJoin"), s)
    // the data-sized window partitions by (groups..., __salt) — the salt
    // column in the window spec is what fans a hot key out
    val windowLine = s.linesIterator.filter(_.contains("Window"))
      .mkString("\n")
    assert(windowLine.contains("__salt"), windowLine)
  }

  test("snapshot diff is one full-outer join of the aggregated snapshots") {
    val s = planString(
      graft.queries.FeatureQueries.snapshotDiff(spark, dir))
    // the key join is the only data-sized join; the max-ts anchor joins as
    // a broadcast nested loop over ONE row (benign — its build side is a
    // 1-row aggregate), so gate on shape, not on BNLJ absence
    assert(s.contains("FullOuter"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(s).size <= 2, s)
  }

  test("bucketed range join plans as an equi-join, never nested-loop") {
    val s = planString(
      graft.queries.FeatureQueries.attributionWindow(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    // the point⋈interval join is (key, bucket) hash-joinable; the only
    // BNLJ-able piece would be the BETWEEN filter, which must appear as a
    // post-join Filter/condition, not a join strategy of its own
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(s).nonEmpty, s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("global shuffle rank: no unpartitioned data-sized window") {
    val docs = graft.sources.Tables.documents(spark, dir)
      .select("doc_id", "lang")
    val s = planString(graft.ops.Prep.globalShuffle(docs, "doc_id", "g"))
    // every Window over row data must partition by the salt; the offsets
    // relation arrives broadcast
    val windowLines = s.linesIterator.filter(_.contains("Window"))
      .mkString("\n")
    assert(windowLines.contains("__salt"), windowLines)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("gopher filter is scan + project only — zero exchanges before output") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val s = planString(graft.ops.TextAnalysis.gopherRules(
      docs, "doc_id", "text", stopwords = Seq("the")))
    assert(!s.contains("Exchange"), s)
  }

  test("retrieval eval: corpus scans once, query+counts arrive broadcast") {
    val s = planString(
      graft.queries.EvalQueries.retrievalLabels(spark, dir))
    // corpus side must not shuffle before the per-query ranking window;
    // the only exchanges are the per-query window hash and output sort
    assert(!s.contains("CartesianProduct"), s)
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r
      .findAllIn(s).nonEmpty, s)
  }

  test("association rules: item/total counts arrive broadcast onto the " +
      "pair relation, session pair join is an equi-join") {
    val s = planString(
      graft.queries.FeatureQueries.assocRules(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    // two broadcast count joins + the 1-row totals broadcast
    assert("BroadcastHashJoin|BroadcastNestedLoopJoin".r
      .findAllIn(s).size >= 3, s)
  }

  test("attribution credit: the range join stays an equi-join — never a " +
      "nested-loop over clicks × purchases") {
    val s = planString(
      graft.queries.FeatureQueries.attributionCredit(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("SortMergeJoin") || s.contains("BroadcastHashJoin")
      || s.contains("ShuffledHashJoin"), s)
  }

  test("benford: ONE scan — the total is a window over the ≤9-row counts " +
      "relation, never a second aggregate re-reading the table") {
    val s = planString(graft.queries.QualityQueries.benford(spark, dir))
    assert("Scan parquet".r.findAllIn(s).size == 1, s)
    assert(!s.contains("Join"), s)
  }

  test("bootstrap CI: base relation scans once for the resample explode " +
      "and once for the full mean — never ×B scans") {
    val s = planString(
      graft.queries.QualityQueries.bootstrapCi(spark, dir))
    assert("Scan parquet".r.findAllIn(s).size <= 2, s)
    assert(s.contains("Generate"), s) // the bounded ×B explode
  }

  test("cdc apply: one key-window pass, no joins anywhere") {
    val s = planString(graft.queries.FeatureQueries.cdcApply(spark, dir))
    assert(!s.contains("Join"), s)
    assert(s.contains("Window") || s.contains("WindowGroupLimit"), s)
  }

  test("binary Hamming funnel: candidate stage is a per-partition top-C " +
      "heap with the query code broadcast — corpus never sorts globally") {
    val s = planString(
      graft.queries.SimilarityQueries.binaryTopK(spark, dir))
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(s.contains("BroadcastNestedLoopJoin") ||
      s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("salted join: build side replicated via Generate and broadcast") {
    val s = planString(
      graft.queries.ScaleQueries.skewSaltedJoin(spark, dir))
    assert(s.contains("Generate"), s) // explode(sequence(0, S-1))
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("fk audit: every edge is a left-anti join, no full outer " +
      "materialization") {
    val s = planString(graft.queries.QualityQueries.fkOrphans(spark, dir))
    assert(s.contains("LeftAnti"), s)
    assert(!s.contains("FullOuter"), s)
  }

  test("merge upsert: ONE full-outer join on the key") {
    val s = planString(
      graft.queries.FeatureQueries.mergeUpsert(spark, dir))
    assert(s.contains("FullOuter"), s)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(s).size == 1, s)
  }

  test("quantile match: the inverse-CDF lookup is the as-of window " +
      "union, never a theta join over grid × grid") {
    val s = planString(
      graft.queries.PrepQueries.quantileMatch(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    // every nested-loop must be an UNCONDITIONED Cross against a tiny
    // broadcast aggregate (the 1-row nB / salted-grid percentile-edges
    // pattern) — a grid×grid inverse-CDF theta join would surface as a
    // CONDITIONED BroadcastNestedLoopJoin
    assert(!"BroadcastNestedLoopJoin BuildRight, (Inner|Left|Right|FullOuter)"
      .r.findAllIn(s).hasNext, s)
    assert("BroadcastNestedLoopJoin".r.findAllIn(s).size ==
      "BroadcastNestedLoopJoin [A-Za-z]+, Cross".r.findAllIn(s).size, s)
  }

  test("k-means output: Lloyd rounds train on the driver (each round ONE " +
      "fused job ending in a k·d collect), so the output plan is a " +
      "LocalTableScan of the final centroid grid — no join, no corpus " +
      "rescan, no cartesian survives into the query plan at all") {
    val s = planString(graft.queries.SimilarityQueries.kmeans(spark, dir))
    assert(s.contains("LocalTableScan"), s)
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("localCheckpoint keeps no hash layout: a groupBy on the " +
      "repartition key still plans its own exchange") {
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    import org.apache.spark.sql.functions.col
    val cp = spark.range(100).select((col("id") % 7).as("k"), col("id"))
      .repartition(4, col("k")).localCheckpoint()
    val p = cp.queryExecution.sparkPlan.outputPartitioning
    assert(p.isInstanceOf[UnknownPartitioning], p)
    val s = planString(cp.groupBy("k").count())
    assert("Exchange hashpartitioning\\(k#".r.findFirstIn(s).isDefined, s)
  }

  test("count-min / bloom probes: the sketch side broadcasts; the probe " +
      "path never shuffles the raw stream a second time") {
    val cm = planString(graft.queries.ScaleQueries.countMin(spark, dir))
    assert(cm.contains("BroadcastHashJoin"), cm)
    assert(!cm.contains("CartesianProduct"), cm)
    val bl = planString(graft.queries.ScaleQueries.bloom(spark, dir))
    assert(bl.contains("BroadcastHashJoin"), bl)
    assert(!bl.contains("CartesianProduct"), bl)
  }

  test("rouge audit: gram-count collapse is partial-aggregable (map-side " +
      "combine before the pair-gram exchange), clip join is not broadcast " +
      "both ways") {
    val s = planString(graft.queries.EvalQueries.rougeDedup(spark, dir))
    // partial + final HashAggregate pairs around the (pair, gram) exchange
    assert(s.contains("HashAggregate"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("temperature mixture: every nested-loop is a 1-row broadcast (the " +
      "normalizer subtree re-embeds the |sources|-row base once — cheap " +
      "by construction); the corpus is never cross-joined") {
    val s = planString(
      graft.queries.PrepQueries.temperatureMix(spark, dir))
    assert("BroadcastNestedLoopJoin".r.findAllIn(s).size <= 3, s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("compression ratio is scan + project only — the deflate kernel " +
      "stays in codegen with zero exchanges") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val df = graft.ops.TextAnalysis.compressionRatio(docs, "doc_id", "text")
    val s = planString(df)
    assert(!s.contains("Exchange"), s)
    assert(s.contains("graft_deflate_len"), s)
    val f = formatted(df)
    assert(!f.contains("CodegenFallback"), f)
  }

  test("wordpiece encode: kernel call inside the generate, no shuffle " +
      "before the symbol stream") {
    val docs = graft.sources.Tables.documents(spark, dir)
    val s = planString(graft.ops.TokenModels.wordpieceEncode(docs,
      "doc_id", "text", graft.queries.TextQueries.WpVocab,
      graft.queries.TextQueries.WpMaxPieceLen))
    assert(!s.contains("Exchange"), s)
    assert(s.contains("graft_wordpiece_word"), s)
  }

  test("PQ encode is a zero-shuffle kernel map over the corpus") {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val cb = graft.ops.Pq.pqFit(emb, "vec_id", "embedding", 64, 8, 4, 1)
    val s = planString(graft.ops.Pq.pqEncode(emb, "vec_id", "embedding",
      64, 8, cb))
    assert(!s.contains("Exchange"), s)
    assert(s.contains("graft_pq_assign"), s)
  }

  test("DTW pairs: the kernel runs per pair row with no codegen " +
      "fallback; the pair join is a broadcast of type-count rows") {
    val ev = graft.sources.Tables.events(spark, dir)
    val df = graft.ops.EventOps.seriesDtwPairs(ev, "ts", "event_type", 7)
    val s = planString(df)
    assert(s.contains("graft_dtw"), s)
    assert(s.contains("BroadcastNestedLoopJoin") ||
      s.contains("BroadcastHashJoin"), s)
    val f = formatted(df)
    assert(!f.contains("CodegenFallback"), f)
  }

  test("HBOS top-k: scoring is a broadcast-map lookup with NO hash " +
      "join; the ranking is TakeOrderedAndProject, never a global sort") {
    val li = graft.sources.Tables.lineitem(spark, dir)
    val df = graft.quality.DataQualityValidator.hbosTopK(li,
      Seq("l_quantity", "l_extendedprice", "l_discount"),
      Seq("l_orderkey", "l_linenumber"), bins = 16, k = 100)
    val s = planString(df)
    assert(s.contains("TakeOrderedAndProject"), s)
    // the only joins are the two 1-row broadcasts (stats + histogram map)
    assert(!s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
    assert(s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("Mann-Whitney: no single-partition global window on the value " +
      "grid (the SaltedGrid discipline)") {
    val ev = graft.sources.Tables.events(spark, dir)
    val df = graft.ops.Screening.mannWhitneyU(ev, "value", "event_type",
      "purchase", "click")
    val s = planString(df)
    // the only unpartitioned windows allowed are over the bucket-bounded
    // offsets relation, whose input is an aggregate of <= buckets rows;
    // assert no window sorts the raw grid globally: every global-window
    // sort must sit above the bucket aggregate, not the grid relation
    val f = formatted(df)
    assert(f.contains("__gbkt"), f) // the salted two-phase path is in use
  }

  test("dbscan: no cartesian anywhere; the eps-graph is materialized " +
      "once (checkpointed) so roles/labels read the RDD, not a rescan") {
    val df = SimilarityQueries.dbscanClusters(spark, dir)
    val s = planString(df)
    assert(!s.contains("CartesianProduct"), s)
    // the candidate/edge/core relations were localCheckpointed: the
    // output plan joins ExistingRDDs instead of re-deriving the eps-graph
    // (the graft_dot cell join ran exactly once, inside that checkpoint)
    assert(s.contains("Scan ExistingRDD"), s)
  }

  test("sgd classifier: the count relation is checkpointed once and the " +
      "rounds reuse its id layout (no per-round full-relation exchange)") {
    val df = graft.queries.TextQueries.sgdClassifier(spark, dir)
    val s = planString(df)
    // the final scoring pass reads the checkpointed RDD, not the parquet
    // scan: training materialized the counts exactly once
    assert(s.contains("Scan ExistingRDD"), s)
    assert(!s.contains("aggregate(zip_with"), s)
  }

  test("nb cross-validation: the likelihood grid and priors arrive " +
      "broadcast onto the count relation") {
    val df = graft.queries.TextQueries.nbCrossVal(spark, dir)
    val s = planString(df)
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2, s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("gbm training: the customer dimension broadcasts and no stage " +
      "is a cartesian or a sort-merge join") {
    // the fit's per-round relations are checkpoint-truncated, so the
    // join shape gates on the base (the only row-scale join in the op)
    val s = planString(graft.queries.ModelQueries.base(spark, dir))
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("SortMergeJoin"),
      s)
  }

  test("gbm depth-2 trees: the per-round split relations broadcast back " +
      "onto the data — the leaf/child joins are never shuffled row-scale " +
      "joins") {
    // one fitted round at tiny rounds: the final plan reads the
    // checkpointed per-round RDD; the leaf-assignment crossJoin (1-row
    // root) and the child join (≤2-row, broadcast) must both be
    // broadcast-shaped, never SortMergeJoin on the row relation
    val fit = graft.ops.Boost.fit(
      graft.queries.ModelQueries.base(spark, dir), "o_orderkey", "urgent",
      Seq("price_c", "order_day", "acctbal_c"), bins = 16, rounds = 1,
      depth = 2)
    val s = planString(fit.model)
    assert(!s.contains("CartesianProduct") && !s.contains("SortMergeJoin"),
      s)
  }

  test("record linkage: candidates join on the block key — never a " +
      "cartesian — and the one-row weight relations broadcast") {
    val df = graft.queries.DedupQueries.recordLinkage(spark, dir)
    val s = planString(df)
    assert(!s.contains("CartesianProduct"), s)
    // the m/u-derived weights and the EM params are 1-row broadcasts
    assert(s.contains("BroadcastNestedLoopJoin") ||
      s.contains("BroadcastHashJoin"), s)
  }
}
