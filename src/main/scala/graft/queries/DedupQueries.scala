package graft.queries

import graft.ops.{Dedup, Ivf, Linkage, SuffixArray}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked deduplication family over the documents corpus
  * (north-star operators; see [[graft.ops.Dedup]] for the scale design).
  *
  * Texts are normalized to their sorted distinct token set for the exact
  * family — raw texts in the driver corpus are all unique, normalized
  * content has real duplicate groups, so the oracle discriminates.
  *
  * The MinHash/SimHash oracle SQL is generated programmatically so the hash
  * construction (md5-derived, engine-neutral) stays in lockstep with the
  * Scala implementation.
  */
object DedupQueries {

  private[graft] val NumHashes = 12
  private[graft] val Bands = 3
  private val Rows = NumHashes / Bands

  private def normText = concat_ws(" ",
    array_sort(array_distinct(filter(split(col("text"), " "), t => t =!= ""))))

  private def docsNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).withColumn("norm_text", normText)

  def exactGroups(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docsNorm(spark, dir), "doc_id", "norm_text")
      .orderBy("content_md5")

  def exactKeepFirst(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(docsNorm(spark, dir), "doc_id", "norm_text")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))

  /** Cross-slice duplicate leakage: normalized contents that appear under
    * MORE THAN ONE language label, counted per label pair — the
    * mislabeled-language / shared-boilerplate audit (a content leaking
    * across slice boundaries poisons per-slice statistics and any
    * train/eval split keyed on the slice). One digest+label distinct,
    * one digest self-join bounded by per-content label sets (≤ langs),
    * output ≤ langs² rows.
    */
  def crossSlice(spark: SparkSession, dir: String): DataFrame = {
    val d = docsNorm(spark, dir)
      .select(md5(col("norm_text")).as("__h"), col("lang").cast("string")
        .as("__l"))
      .distinct()
    d.select(col("__h"), col("__l").as("lang_a"))
      .join(d.select(col("__h"), col("__l").as("lang_b")), Seq("__h"))
      .filter(col("lang_a") < col("lang_b"))
      .groupBy("lang_a", "lang_b")
      .agg(count(lit(1)).as("n_shared_contents"))
      .orderBy("lang_a", "lang_b")
  }

  private val EditDist = 2

  /** Edit-distance ≤ 2 fuzzy pairs over the part-name vocabulary
    * ([[graft.ops.Dedup.editDistanceJoin]], q-gram count filtering +
    * exact levenshtein verify).
    */
  def editDistNames(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceJoin(Tables.part(spark, dir), "p_name", EditDist)
      .orderBy("s_a", "s_b")

  /** Exact dedup keeping the highest-[[graft.ops.TextAnalysis
    * .qualityScore]] copy per normalized-content group (ties → smallest
    * id) — the keep-BEST curation policy ([[graft.ops.Dedup
    * .exactKeepBest]]); survivors with their group size and score.
    */
  def exactKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val scored = docsNorm(spark, dir).join(
      graft.ops.TextAnalysis.qualityScore(
          Tables.documents(spark, dir), "doc_id", "text")
        .select(col("doc_id"), col("quality_score")),
      Seq("doc_id"))
    Dedup.exactKeepBest(scored, "doc_id", "norm_text", "quality_score")
      .select(col("doc_id"), col("content_md5"), col("group_size"),
        col("quality_score"))
      .orderBy("doc_id")
  }

  /** Duplicate-cluster size histogram over [[Dedup.exactGroups]] — the
    * one-page read of how duplicated a corpus is (size-1 mass = unique
    * docs; the tail = boilerplate families) and the sizing input for the
    * near-dup passes. Group relation → ≤max-size histogram rows.
    */
  def sizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    Dedup.exactGroups(docsNorm(spark, dir), "doc_id", "norm_text")
      .groupBy("group_size").agg(count(lit(1)).as("n_groups"))
      .withColumn("n_docs", col("group_size") * col("n_groups"))
      .withColumn("doc_share",
        round(col("n_docs").cast("double") / sum("n_docs").over(all), 9))
      .orderBy("group_size")
  }

  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        threshold = 0.9)
      .orderBy("id_a", "id_b")

  def jaccard2gram(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
        threshold = 0.5, n = 2)
      .orderBy("id_a", "id_b")

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(spark, dir), "doc_id", "text",
        threshold = 0.9, numHashes = NumHashes, bands = Bands)
      .orderBy("id_a", "id_b")

  def simhashDocs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("id")

  /** The 100 TB cluster-dedup outcome, on the strictly-linear path: LSH
    * band buckets emit star edges (≤ bands·n, never m²/2 per bucket), each
    * edge Jaccard-verified, then connected components → keep-first
    * survivors. The exact all-candidate-pairs pipeline
    * ([[graft.ops.Dedup.nearDupDedup]]) stays as the spec-only equivalence
    * reference (DedupSpec) — its pair listing is quadratic in cluster size,
    * which this adversarial corpus (31-word vocabulary) makes the bench
    * bottleneck and a 100 TB corpus makes impossible. Oracle: the same
    * star-edge construction + a recursive-CTE component walk in DuckDB.
    */
  def clusterSurvivors(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupDedupFast(Tables.documents(spark, dir), "doc_id", "text",
        numHashes = NumHashes, bands = Bands, threshold = 0.9)
      .agg(count(lit(1)).as("n_survivors"),
        sum(col("doc_id")).as("id_checksum"))

  /** Unverified star chaining — the cheapest variant (no token-set
    * verification at all): every band-bucket collision is an edge. Shows
    * the precision floor; [[clusterSurvivors]] is the production setting.
    */
  def clusterSurvivorsFast(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupDedupFast(Tables.documents(spark, dir), "doc_id", "text",
        numHashes = NumHashes, bands = Bands, threshold = 0.0)
      .agg(count(lit(1)).as("n_survivors"),
        sum(col("doc_id")).as("id_checksum"))

  /** [[clusterSurvivors]] with the alternating small-star/large-star CC
    * ([[graft.ops.Dedup.connectedComponentsStars]]) instead of min-label
    * propagation — same components, same survivors, same oracle; puts the
    * O(log n)-round web-scale CC variant under the correctness gate.
    */
  def clusterSurvivorsStars(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupDedupFast(Tables.documents(spark, dir), "doc_id", "text",
        numHashes = NumHashes, bands = Bands, threshold = 0.9, starsCc = true)
      .agg(count(lit(1)).as("n_survivors"),
        sum(col("doc_id")).as("id_checksum"))

  /** Incremental dedup — the production batch shape: the corpus splits into
    * an "old" side (75%, doc_id % 4 ≠ 3) whose [[graft.ops.Dedup.incrementalState]]
    * (component labels + MinHash signatures + token sets, NO raw text) is
    * the persisted index, and a new 25% batch deduped against it with
    * [[graft.ops.Dedup.incrementalDedup]]. The result is exactly the
    * full-corpus pair-graph survivors (old components arrive contracted, so
    * even batch docs bridging two old clusters merge correctly) — which is
    * what the oracle computes over the whole corpus, split-free.
    */
  def incrementalSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isBatch = pmod(col("doc_id"), lit(4)) === 3
    val state = cachedState(spark, dir, docs.filter(!isBatch))
    Dedup.incrementalDedup(docs.filter(isBatch), "doc_id", "text", state,
        threshold = 0.9, numHashes = NumHashes, bands = Bands)
      .agg(count(lit(1)).as("n_survivors"),
        sum(col("doc_id")).as("id_checksum"))
  }

  /** The old-corpus index built AT MOST ONCE per dataset and reused from
    * disk — the production semantics the operator claims (re-deriving the
    * state per query would re-hash the old corpus every run, exactly what
    * incremental dedup exists to avoid). Same discipline as the IVF index
    * cache: the path is keyed by [[stateKey]] (regenerated or rewritten
    * data or a changed operator or kernel ⇒ different path ⇒ rebuild;
    * stale `/tmp` artifacts are never served), and the write lands via an
    * atomic rename so a crashed build can't leave a half-readable index.
    */
  private def cachedState(spark: SparkSession, dir: String,
      oldDocs: DataFrame): DataFrame = {
    val path = "/tmp/graft_incstate/" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_" +
      stateKey(oldDocs, StateClasses.map(classBytes))
    val loaded =
      try { val df = spark.read.parquet(path); df.head(1); Some(df) }
      catch { case scala.util.control.NonFatal(_) => None }
    loaded.getOrElse {
      val tmp = path + s".build-${System.nanoTime()}"
      Dedup.incrementalState(oldDocs, "doc_id", "text", threshold = 0.9,
          numHashes = NumHashes, bands = Bands)
        .write.mode("overwrite").parquet(tmp)
      if (!new java.io.File(tmp).renameTo(new java.io.File(path))) {
        // lost the race to a concurrent builder — its index is equivalent
        // (same fingerprint); discard ours
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      }
      spark.read.parquet(path)
    }
  }

  /** The compiled classes whose code builds the incremental-dedup state:
    * the operator, and the `graft_ngram_hashes` and
    * `graft_sorted_intersect` kernels it calls. Spark's own functions are
    * not digested; a Spark upgrade that changes them needs a cleared
    * `/tmp/graft_incstate`.
    */
  private[graft] val StateClasses = Seq(
    "graft/ops/Dedup$.class",
    "graft/functions/NgramHashes.class",
    "graft/functions/TextHash$.class",
    "graft/functions/SortedIntersectCount.class")

  /** Cache key of the incremental-dedup state: the
    * [[graft.ops.Ivf.inputFingerprint]] of the old corpus' input files
    * (name, length, mtime), the build knobs, and a digest of `code`, the
    * compiled bytes of [[StateClasses]] in order. An edit to any of those
    * classes changes its bytes and so rebuilds the state; an edit that
    * leaves the result unchanged only costs one rebuild.
    */
  private[graft] def stateKey(oldDocs: DataFrame,
      code: Seq[Array[Byte]]): String = {
    def md5(b: Array[Byte]) = java.security.MessageDigest.getInstance("MD5").digest(b)
    // fixed-length digests, so no two class sequences share the input
    val digest = md5(code.map(md5).reduce(_ ++ _)).map("%02x".format(_)).mkString
    Ivf.inputFingerprint(oldDocs,
      s"$NumHashes|$Bands|0.9|mod4ne3|$digest").take(16)
  }

  /** The bytes of a classpath resource, e.g. a compiled class. */
  private[graft] def classBytes(resource: String): Array[Byte] = {
    val in = getClass.getClassLoader.getResourceAsStream(resource)
    require(in != null, s"no classpath resource $resource")
    try in.readAllBytes() finally in.close()
  }

  /** Directed 3-gram containment pairs at C(A→B) ≥ 0.8 — the asymmetric
    * "A is quoted inside / is a fragment of B" relation
    * ([[graft.ops.Dedup.containmentPairs]]; lossless prefix-filtered
    * candidates, exact merge-intersect verify).
    */
  def containment3gram(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(spark, dir), "doc_id", "text",
        threshold = 0.8, n = 3)
      .orderBy("id_a", "id_b")

  private val ChunkTokens = 10

  /** Sub-document chunk-level exact dedup with reassembly — the CCNet
    * paragraph-dedup shape ([[graft.ops.Dedup.chunkDedup]]): first
    * occurrence of each 10-token chunk survives, documents reassemble from
    * their surviving chunks.
    */
  def chunkLevel(spark: SparkSession, dir: String): DataFrame =
    Dedup.chunkDedup(Tables.documents(spark, dir), "doc_id", "text",
        chunkSize = ChunkTokens)
      .orderBy("doc_id")

  private val SpanTokens = 8

  /** Exact-substring span removal ([[graft.ops.Dedup.spanRemoval]], the
    * Lee et al. 2022 ExactSubstr transform, all-copies variant): tokens
    * covered by any 8-gram occurring ≥ 2 times in the corpus are removed
    * and documents reassemble from the survivors.
    */
  def spanLevel(spark: SparkSession, dir: String): DataFrame =
    Dedup.spanRemoval(Tables.documents(spark, dir), "doc_id", "text",
        minTokens = SpanTokens)
      .orderBy("doc_id")

  private val SuffixTokens = 6

  /** Suffix-rank exact-substring span removal
    * ([[graft.ops.SuffixArray.suffixSpanRemoval]]): the same ExactSubstr
    * relation as `dedup_span_removal` but with COLLISION-FREE gram
    * identity from Manber–Myers prefix-doubling ranks (log₂ rounds of
    * salted pair-rank sorts), at a 6-token window — exercises the
    * overlapping-window combine (rank₄(pos), rank₄(pos+2)).
    */
  def suffixSpans(spark: SparkSession, dir: String): DataFrame =
    SuffixArray.suffixSpanRemoval(Tables.documents(spark, dir), "doc_id",
        "text", minTokens = SuffixTokens)
      .orderBy("doc_id")

  private val PlanGridN = 1000
  private val PlanThreshold = 0.8
  private val PlanPerms = 128

  /** LSH parameter planner ([[graft.ops.Dedup.lshPlan]]): every
    * factorization of a 128-permutation budget scored by S-curve
    * fp/fn mass at threshold 0.8 on the fixed 1000-point grid, winner
    * flagged. A planner relation — (divisors × grid)-sized, no data
    * pass.
    */
  def lshPlanQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.lshPlan(spark, PlanPerms, PlanThreshold, PlanGridN)
      .orderBy("bands")

  private val LinkBalBand = 110000L // blocking band width in cents

  /** Fellegi–Sunter record linkage ([[graft.ops.Linkage.fellegiSunter]])
    * between the customer table and a deterministically-corrupted second
    * view of it (50% names upper-cased, 20% segments reversed, 33%
    * balances shifted +1.00 — md5-keyed, engine-portable noise). Blocking
    * on (nation, balance band): candidate volume is Σ block², and a
    * corrupted balance crossing its band (~0.03% of matches) is the
    * documented blocking-recall cost. Pairs scoring ≥ 0 link.
    */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = linkViews(spark, dir)
    Linkage.fellegiSunter(a, b, "rec_id", "block",
        Seq("name", "seg", "bal"), 0.0)
      .orderBy("a_id", "b_id")
  }

  /** The two linkage views: the clean customer table and its md5-keyed
    * corrupted copy, both carrying the (nation, balance band) block AND
    * a second, independently-derived block for multi-pass blocking —
    * (nation, case-folded name): case folding is exactly the
    * transformation the name corruption applies, so the second pass
    * reaches the true pairs whose +1.00 balance shift crossed a band
    * edge (the measured single-pass recall hole).
    */
  private[graft] def linkViews(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("rec_id"), col("c_name").as("name"),
      col("c_mktsegment").as("seg"),
      col("c_acctbal").cast("decimal(18,2)").as("bal"),
      col("c_nationkey").as("nat"))
    def hb(suffix: String, n: Int) = graft.ops.Prep.hashBucket(
      concat(col("rec_id").cast("string"), lit(suffix)), n)
    def block(bal: Column, nat: Column) = {
      val cents = (bal * 100).cast("long")
      val band = ((cents - pmod(cents, lit(LinkBalBand))) / LinkBalBand)
        .cast("long")
      concat(nat.cast("string"), lit("|"), band.cast("string"))
    }
    def block2(name: Column, nat: Column) =
      concat(nat.cast("string"), lit("|"), lower(name))
    val a = c.select(col("rec_id"), block(col("bal"), col("nat"))
        .as("block"), block2(col("name"), col("nat")).as("block2"),
      col("name"), col("seg"), col("bal"))
    val b = c.select(col("rec_id"),
        when(hb("|nm", 2) === 0, upper(col("name"))).otherwise(col("name"))
          .as("name"),
        when(hb("|sg", 5) === 0, reverse(col("seg"))).otherwise(col("seg"))
          .as("seg"),
        when(hb("|ab", 3) === 0, (col("bal") + 1).cast("decimal(18,2)"))
          .otherwise(col("bal")).as("bal"),
        col("nat"))
      .select(col("rec_id"), block(col("bal"), col("nat")).as("block"),
        block2(col("name"), col("nat")).as("block2"),
        col("name"), col("seg"), col("bal"))
    (a, b)
  }

  /** Multi-pass Fellegi–Sunter linkage
    * ([[graft.ops.Linkage.fellegiSunterMulti]]): the [[recordLinkage]]
    * model scored on the UNION of the balance-band and case-folded-name
    * candidate passes — the production fix for the single-pass recall
    * hole [[linkageRecallQ]] measures (the pair whose +1.00 corruption
    * crosses a band edge is reachable through the name pass).
    */
  def linkageMultipassQ(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = linkViews(spark, dir)
    Linkage.fellegiSunterMulti(a, b, "rec_id", Seq("block", "block2"),
        Seq("name", "seg", "bal"), 0.0)
      .orderBy("a_id", "b_id")
  }

  /** [[linkageMultipassQ]] with PER-PASS u (Winkler's stratification,
    * [[graft.ops.Linkage.fellegiSunterMultiU]]): the balance-band
    * pass's non-matches are value-adjacent (they agree on `bal` ~35×
    * more often than the name pass's random-within-nation non-matches),
    * so the pooled u under-weights a bal agreement for band-pass pairs
    * and over-weights it for name-pass pairs — here each pair scores
    * under the u of the population it was actually drawn from.
    */
  def linkageUpassQ(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = linkViews(spark, dir)
    Linkage.fellegiSunterMultiU(
        a.withColumnRenamed("block", "balance_band")
          .withColumnRenamed("block2", "name_fold"),
        b.withColumnRenamed("block", "balance_band")
          .withColumnRenamed("block2", "name_fold"),
        "rec_id", Seq("balance_band", "name_fold"),
        Seq("name", "seg", "bal"), 0.0)
      .orderBy("a_id", "b_id")
  }

  /** Blocking-recall audit of the linkage blocking
    * ([[graft.ops.Linkage.blockingRecall]]): P(true pair shares ≥ 1
    * block) per pass and for the multi-pass union, with the candidate
    * volume each key admits — the measurement the single-pass
    * [[recordLinkage]] run cannot make about itself (a true pair whose
    * +1.00 corruption crosses a $1,100 band edge generates no
    * candidate). The name pass closes exactly that hole; the union's
    * candidate volume stays ≪ 1% of the |A|·|B| naive pairs.
    */
  def linkageRecallQ(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = linkViews(spark, dir)
    Linkage.blockingRecall(
      a.withColumnRenamed("block", "balance_band")
        .withColumnRenamed("block2", "name_fold"),
      b.withColumnRenamed("block", "balance_band")
        .withColumnRenamed("block2", "name_fold"),
      "rec_id", Seq("balance_band", "name_fold"))
  }

  private val LinkEmIters = 10

  /** Unsupervised EM fit of the same linkage model
    * ([[graft.ops.Linkage.linkageEm]]): the [[recordLinkage]] candidate
    * patterns with m/u/p estimated by nano-integer EM instead of the
    * labeled seed — one row per agreement pattern with its match
    * posterior; `n_true` audits that the posterior tracks the actual
    * match fraction without the estimator ever seeing it.
    */
  def linkageEmQ(spark: SparkSession, dir: String): DataFrame = {
    val (a, b) = linkViews(spark, dir)
    Linkage.linkageEm(a, b, "rec_id", "block", Seq("name", "seg", "bal"),
        LinkEmIters)
      .orderBy("agree_name", "agree_seg", "agree_bal")
  }

  // ---- oracle SQL -------------------------------------------------------------

  private val normSql =
    "array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))), ' ')"

  private[queries] val tokCte =
    """tok AS (
      |  SELECT DISTINCT doc_id AS id, t AS token
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      |  WHERE t <> '')""".stripMargin

  // 48-bit md5-derived token hashes — mirrors Kernels.md5hash48; the
  // set-similarity path intersects hash sets, not raw strings
  private[queries] val thCte =
    """th AS (
      |  SELECT id, ('0x' || substr(md5(token), 1, 12))::BIGINT AS th FROM tok)""".stripMargin

  private def jaccardTail(threshold: Double, extraCols: String = "n_common, ") =
    s"""SELECT id_a, id_b, $extraCols
       |  n_common * 1.0 / (sa.n_tokens + sb.n_tokens - n_common) AS jaccard
       |FROM inter
       |JOIN sz sa ON id_a = sa.id
       |JOIN sz sb ON id_b = sb.id
       |WHERE n_common * 1.0 / (sa.n_tokens + sb.n_tokens - n_common) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  // double-hashed MinHash permutations — must mirror Dedup.minhashSignatures
  private[queries] val hshCte =
    """hsh AS (
      |  SELECT id, ('0x' || substr(md5(token), 1, 12))::BIGINT AS ha,
      |         ('0x' || substr(md5(token), 13, 12))::BIGINT AS hb
      |  FROM tok)""".stripMargin

  private[queries] val sigSelect = (0 until NumHashes)
    .map(i => s"min((ha + $i * hb) % ${graft.ops.Dedup.MinhashMod}) AS s$i")
    .mkString(", ")

  // band buckets carried as raw signature slices (r0..r{Rows-1}) — joining
  // on slice equality defines the IDENTICAL candidate set as
  // Dedup.lshBands' xxhash64 bucket key (modulo 64-bit hash collisions),
  // so no band-hash twin is needed in SQL at all
  private[queries] val bandUnion = (0 until Bands).map { b =>
    val cols = (0 until Rows).map(r => s"s${b * Rows + r} AS r$r").mkString(", ")
    s"SELECT id, $b AS band, $cols FROM sig"
  }.mkString(" UNION ALL ")
  private[queries] val sliceEq = (0 until Rows).map(r => s"a.r$r = b.r$r").mkString(" AND ")
  private val sliceCols = (0 until Rows).map(r => s"r$r").mkString(", ")

  // star edges per band bucket (min id → member), mirroring
  // Dedup.nearDupDedupFast's Window.partitionBy(band, band_hash) min
  private val starEdgesCtes =
    s"""band AS ($bandUnion),
       |star AS (
       |  SELECT min(id) OVER (PARTITION BY band, $sliceCols) AS id_a, id AS id_b
       |  FROM band),
       |edges0 AS (SELECT DISTINCT id_a, id_b FROM star WHERE id_a <> id_b)""".stripMargin

  // min-label connected components over symmetric `edges`, then keep-first
  // survivors. Two DuckDB-cost guards that don't change the result:
  //  - `sym` is MATERIALIZED — otherwise the recursive term re-evaluates
  //    the whole candidate/verify pipeline on EVERY iteration (measured:
  //    minutes → seconds at sf0.1);
  //  - the walk seeds only from LOCAL-MINIMUM nodes (no smaller neighbor,
  //    singletons included). A component's global min is a local min and
  //    reaches every member, so min-per-node is unchanged — but a dense
  //    m-clique contributes ~m walk rows instead of m² (the verified-pair
  //    graph at sf0.1 has ~1M edges in near-cliques; seeding from every
  //    node made the walk cubic in clique size).
  private val componentTail =
    s"""sym AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM edges
       |       UNION SELECT id_b, id_a FROM edges),
       |lmin AS (SELECT doc_id AS id FROM documents d
       |  WHERE NOT EXISTS (SELECT 1 FROM sym WHERE src = d.doc_id AND dst < d.doc_id)),
       |walk AS (
       |  SELECT id, id AS comp FROM lmin
       |  UNION
       |  SELECT e.dst, w.comp FROM walk w JOIN sym e ON e.src = w.id),
       |comp AS (SELECT id, min(comp) AS component FROM walk GROUP BY id),
       |keep AS (SELECT min(id) AS keep_id FROM comp GROUP BY component)
       |SELECT count(*) AS n_survivors, CAST(sum(keep_id) AS BIGINT) AS id_checksum
       |FROM keep""".stripMargin

  // shared by dedup_cluster_survivors and dedup_cluster_stars: both CC
  // variants compute the same components, so the oracle is identical
  private val clusterSurvivorsOracle =
    s"""WITH RECURSIVE $tokCte,
       |$thCte,
       |$hshCte,
       |sig AS (SELECT id, $sigSelect FROM hsh GROUP BY id),
       |$starEdgesCtes,
       |sz AS (SELECT id, count(*) AS n_tokens FROM th GROUP BY id),
       |inter AS (
       |  SELECT e.id_a, e.id_b, count(*) AS n_common
       |  FROM edges0 e
       |  JOIN th a ON a.id = e.id_a
       |  JOIN th b ON b.id = e.id_b AND b.th = a.th
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT id_a, id_b FROM inter
       |  JOIN sz sa ON id_a = sa.id
       |  JOIN sz sb ON id_b = sb.id
       |  WHERE n_common * 1.0 / (sa.n_tokens + sb.n_tokens - n_common) >= 0.9),
       |$componentTail""".stripMargin

  /** ExactSubstr replay at window L: tokens covered by an L-gram string
    * occurring ≥ 2 times anywhere are removed; survivors reassemble in
    * position order (shared by `dedup_span_removal` and
    * `dedup_suffix_spans`).
    */
  private def spanReplaySql(L: Int): String =
    s"""WITH d AS (SELECT doc_id,
       |  list_filter(string_split(text, ' '), t -> t <> '') AS toks
       |  FROM documents),
       |tk AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, toks[i] AS tok
       |       FROM d, UNNEST(generate_series(1, len(toks))) u(i)),
       |g AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS p,
       |        array_to_string(list_slice(toks, i, i + $L - 1), ' ') AS gs
       |      FROM d, UNNEST(generate_series(1, len(toks) - $L + 1)) u(i)
       |      WHERE len(toks) >= $L),
       |dup AS (SELECT gs FROM g GROUP BY 1 HAVING count(*) >= 2),
       |cov AS (SELECT DISTINCT doc_id, CAST(q AS INTEGER) AS pos
       |        FROM g JOIN dup USING (gs),
       |          UNNEST(generate_series(g.p, g.p + $L - 1)) v(q)),
       |s AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tk
       |      LEFT JOIN cov ON cov.doc_id = tk.doc_id AND cov.pos = tk.pos
       |      WHERE cov.doc_id IS NULL),
       |sa AS (SELECT doc_id, count(*) AS nk,
       |         string_agg(tok, ' ' ORDER BY pos) AS jt
       |       FROM s GROUP BY 1)
       |SELECT d.doc_id, len(d.toks)::BIGINT AS n_tokens,
       |  (len(d.toks) - coalesce(sa.nk, 0))::BIGINT AS n_removed,
       |  CASE WHEN coalesce(sa.nk, 0) > 0 THEN sa.jt END AS clean_text
       |FROM d LEFT JOIN sa USING (doc_id)
       |WHERE len(d.toks) >= 1
       |ORDER BY doc_id""".stripMargin

  private val simhashVotes = (0 until 32)
    .map(i => s"sum(CASE WHEN ascii(substr(md5(token), ${i + 1}, 1)) % 2 = 1 THEN 1 ELSE -1 END) AS v$i")
    .mkString(", ")
  private val simhashBits = (0 until 32)
    .map(i => s"CASE WHEN v$i >= 0 THEN ${1L << i} ELSE 0 END")
    .mkString(" + ")

  /** Shared linkage CTE prefix: the clean view, the md5-corrupted view,
    * the (nation, balance-band) blocks — the band FLOORS on negative
    * balances via the pmod identity because DuckDB's integer `//`
    * truncates toward zero — and the in-block candidate pairs with
    * their three agreement bits. Agreement is spelled
    * `IS NOT DISTINCT FROM`, matching Spark's null-safe `<=>`: plain `=`
    * yields NULL on NULL fields and would silently skew the m/u counts
    * differently per engine (masked on non-null TPC-H fields, but the
    * twin must not depend on that).
    */
  private lazy val linkCandCtes: String = {
    def hbSql(suffix: String, n: Int) =
      s"('0x' || substr(md5(id::VARCHAR || '$suffix'), 1, 12))::BIGINT" +
        s" % $n = 0"
    s"""WITH c AS (SELECT c_custkey AS id, c_name AS name,
       |    c_mktsegment AS seg, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
       |    c_nationkey AS nat FROM customer),
       |b0 AS (SELECT id,
       |    CASE WHEN ${hbSql("|nm", 2)} THEN upper(name)
       |         ELSE name END AS name,
       |    CASE WHEN ${hbSql("|sg", 5)} THEN reverse(seg)
       |         ELSE seg END AS seg,
       |    CASE WHEN ${hbSql("|ab", 3)}
       |         THEN CAST(bal + 1 AS DECIMAL(18,2)) ELSE bal END AS bal,
       |    nat FROM c),
       |av AS (SELECT id, nat::VARCHAR || '|' ||
       |      ((((bal * 100)::BIGINT) - ((((bal * 100)::BIGINT)
       |        % $LinkBalBand + $LinkBalBand) % $LinkBalBand))
       |       // $LinkBalBand)::VARCHAR AS blk,
       |    name, seg, bal FROM c),
       |bv AS (SELECT id, nat::VARCHAR || '|' ||
       |      ((((bal * 100)::BIGINT) - ((((bal * 100)::BIGINT)
       |        % $LinkBalBand + $LinkBalBand) % $LinkBalBand))
       |       // $LinkBalBand)::VARCHAR AS blk,
       |    name, seg, bal FROM b0),
       |cand AS MATERIALIZED (SELECT av.id AS aid, bv.id AS bid,
       |    av.name IS NOT DISTINCT FROM bv.name AS gn,
       |    av.seg IS NOT DISTINCT FROM bv.seg AS gs,
       |    av.bal IS NOT DISTINCT FROM bv.bal AS gb
       |  FROM av JOIN bv ON av.blk = bv.blk)""".stripMargin
  }

  /** Unrolled nano-integer EM on the ≤ 8-row agreement-pattern relation:
    * every E/M value is an exact HUGEINT (the Spark twin is
    * DECIMAL(38,0)) with positive floor divisions — no rounding surface.
    */
  private lazy val linkageEmSql: String = {
    val N = "1000000000"
    def g(p: String) =
      s"""((($p.p * (CASE WHEN gn THEN $p.mn ELSE $N - $p.mn END)
         |      * (CASE WHEN gs THEN $p.ms ELSE $N - $p.ms END)
         |      * (CASE WHEN gb THEN $p.mb ELSE $N - $p.mb END)) // $N)
         |    * $N) // greatest(
         |      (($p.p * (CASE WHEN gn THEN $p.mn ELSE $N - $p.mn END)
         |        * (CASE WHEN gs THEN $p.ms ELSE $N - $p.ms END)
         |        * (CASE WHEN gb THEN $p.mb ELSE $N - $p.mb END)) // $N)
         |      + ((($N - $p.p) * (CASE WHEN gn THEN $p.un
         |            ELSE $N - $p.un END)
         |        * (CASE WHEN gs THEN $p.us ELSE $N - $p.us END)
         |        * (CASE WHEN gb THEN $p.ub ELSE $N - $p.ub END)) // $N),
         |      1::HUGEINT)""".stripMargin
    val rounds = (1 to LinkEmIters).map { t =>
      s"""e$t AS MATERIALIZED (SELECT pat.*, ${g(s"p${t - 1}")} AS g
         |  FROM pat, p${t - 1}),
         |p$t AS MATERIALIZED (SELECT
         |    sum(n * g) // sum(n::HUGEINT) AS p,
         |    (sum(CASE WHEN gn THEN n * g ELSE 0::HUGEINT END) * $N)
         |      // greatest(sum(n * g), 1::HUGEINT) AS mn,
         |    (sum(CASE WHEN gs THEN n * g ELSE 0::HUGEINT END) * $N)
         |      // greatest(sum(n * g), 1::HUGEINT) AS ms,
         |    (sum(CASE WHEN gb THEN n * g ELSE 0::HUGEINT END) * $N)
         |      // greatest(sum(n * g), 1::HUGEINT) AS mb,
         |    (sum(CASE WHEN gn THEN n * ($N - g) ELSE 0::HUGEINT END)
         |      * $N) // greatest(sum(n * ($N - g)), 1::HUGEINT) AS un,
         |    (sum(CASE WHEN gs THEN n * ($N - g) ELSE 0::HUGEINT END)
         |      * $N) // greatest(sum(n * ($N - g)), 1::HUGEINT) AS us,
         |    (sum(CASE WHEN gb THEN n * ($N - g) ELSE 0::HUGEINT END)
         |      * $N) // greatest(sum(n * ($N - g)), 1::HUGEINT) AS ub
         |  FROM e$t)""".stripMargin
    }.mkString(",\n")
    s"""$linkCandCtes,
       |pat AS MATERIALIZED (SELECT gn, gs, gb, count(*) AS n,
       |    CAST(sum((aid = bid)::INT) AS BIGINT) AS nt
       |  FROM cand GROUP BY 1, 2, 3),
       |p0 AS (SELECT 100000000::HUGEINT AS p,
       |    900000000::HUGEINT AS mn, 900000000::HUGEINT AS ms,
       |    900000000::HUGEINT AS mb, 100000000::HUGEINT AS un,
       |    100000000::HUGEINT AS us, 100000000::HUGEINT AS ub),
       |$rounds
       |SELECT gn AS agree_name, gs AS agree_seg, gb AS agree_bal,
       |  n AS n_pairs, nt AS n_true,
       |  CAST(${g(s"p$LinkEmIters")} AS DOUBLE) / $N AS posterior
       |FROM pat, p$LinkEmIters ORDER BY 1, 2, 3""".stripMargin
  }

  val registry: Map[String, Query] = Map(
    // the FS-EM sufficient statistic is the agreement-pattern count
    // table; the whole EM runs on it in exact integers
    "dedup_linkage_em" -> Query(linkageEmQ, Some(linkageEmSql)),
    // multi-pass FS: the record-linkage replay on the DISTINCT union of
    // the balance-band and case-folded-name candidate passes
    "dedup_linkage_multipass" -> Query(linkageMultipassQ, Some({
      def hbSql(suffix: String, n: Int) =
        s"('0x' || substr(md5(id::VARCHAR || '$suffix'), 1, 12))::BIGINT" +
          s" % $n = 0"
      val band = s"((((bal * 100)::BIGINT) - ((((bal * 100)::BIGINT)" +
        s" % $LinkBalBand + $LinkBalBand) % $LinkBalBand)) // $LinkBalBand)"
      val ln2 = math.log(2.0)
      val agreeBits =
        """av.name IS NOT DISTINCT FROM bv.name AS gn,
          |    av.seg IS NOT DISTINCT FROM bv.seg AS gs,
          |    av.bal IS NOT DISTINCT FROM bv.bal AS gb""".stripMargin
      s"""WITH c AS (SELECT c_custkey AS id, c_name AS name,
         |    c_mktsegment AS seg, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         |    c_nationkey AS nat FROM customer),
         |b0 AS (SELECT id,
         |    CASE WHEN ${hbSql("|nm", 2)} THEN upper(name)
         |         ELSE name END AS name,
         |    CASE WHEN ${hbSql("|sg", 5)} THEN reverse(seg)
         |         ELSE seg END AS seg,
         |    CASE WHEN ${hbSql("|ab", 3)}
         |         THEN CAST(bal + 1 AS DECIMAL(18,2)) ELSE bal END AS bal,
         |    nat FROM c),
         |av AS MATERIALIZED (SELECT id,
         |    nat::VARCHAR || '|' || $band::VARCHAR AS k1,
         |    nat::VARCHAR || '|' || lower(name) AS k2,
         |    name, seg, bal FROM c),
         |bv AS MATERIALIZED (SELECT id,
         |    nat::VARCHAR || '|' || $band::VARCHAR AS k1,
         |    nat::VARCHAR || '|' || lower(name) AS k2,
         |    name, seg, bal FROM b0),
         |cand AS MATERIALIZED (SELECT DISTINCT aid, bid, gn, gs, gb FROM (
         |  SELECT av.id AS aid, bv.id AS bid, $agreeBits
         |  FROM av JOIN bv ON av.k1 = bv.k1
         |  UNION ALL
         |  SELECT av.id, bv.id, $agreeBits
         |  FROM av JOIN bv ON av.k2 = bv.k2)),
         |tp AS (SELECT count(*) AS n,
         |    CAST(sum((av.name IS NOT DISTINCT FROM bv.name)::INT)
         |      AS BIGINT) AS mn,
         |    CAST(sum((av.seg IS NOT DISTINCT FROM bv.seg)::INT)
         |      AS BIGINT) AS ms,
         |    CAST(sum((av.bal IS NOT DISTINCT FROM bv.bal)::INT)
         |      AS BIGINT) AS mb
         |  FROM av JOIN bv ON av.id = bv.id),
         |u AS (SELECT count(*) AS nu,
         |    CAST(sum(gn::INT) AS BIGINT) AS un,
         |    CAST(sum(gs::INT) AS BIGINT) AS us,
         |    CAST(sum(gb::INT) AS BIGINT) AS ub
         |  FROM cand WHERE aid <> bid),
         |w AS (SELECT
         |    CAST(round(ln(((mn + 1.0) / (n + 2)) / ((un + 1.0) / (nu + 2)))
         |      / $ln2, 9) AS DECIMAL(18,9)) AS wa_n,
         |    CAST(round(ln((1.0 - (mn + 1.0) / (n + 2))
         |        / (1.0 - (un + 1.0) / (nu + 2))) / $ln2, 9)
         |      AS DECIMAL(18,9)) AS wd_n,
         |    CAST(round(ln(((ms + 1.0) / (n + 2)) / ((us + 1.0) / (nu + 2)))
         |      / $ln2, 9) AS DECIMAL(18,9)) AS wa_s,
         |    CAST(round(ln((1.0 - (ms + 1.0) / (n + 2))
         |        / (1.0 - (us + 1.0) / (nu + 2))) / $ln2, 9)
         |      AS DECIMAL(18,9)) AS wd_s,
         |    CAST(round(ln(((mb + 1.0) / (n + 2)) / ((ub + 1.0) / (nu + 2)))
         |      / $ln2, 9) AS DECIMAL(18,9)) AS wa_b,
         |    CAST(round(ln((1.0 - (mb + 1.0) / (n + 2))
         |        / (1.0 - (ub + 1.0) / (nu + 2))) / $ln2, 9)
         |      AS DECIMAL(18,9)) AS wd_b
         |  FROM tp, u),
         |sc AS (SELECT aid, bid, gn::INT + gs::INT + gb::INT AS n_agree,
         |    round(CAST(CAST(
         |        (CASE WHEN gn THEN w.wa_n ELSE w.wd_n END)
         |      + (CASE WHEN gs THEN w.wa_s ELSE w.wd_s END)
         |      + (CASE WHEN gb THEN w.wa_b ELSE w.wd_b END)
         |      AS DECIMAL(28,9)) AS DOUBLE), 9) AS weight,
         |    aid = bid AS is_match
         |  FROM cand, w)
         |SELECT aid AS a_id, bid AS b_id, n_agree, weight, is_match
         |FROM sc WHERE weight >= 0.0 ORDER BY 1, 2""".stripMargin
    })),
    // per-pass u: pairs assigned to their FIRST reaching pass (min pass
    // over the union arms — grouped, never DISTINCT's arbitrary
    // survivor), u estimated per pass (pass grid LEFT JOIN keeps an
    // all-match pass on the Laplace floor), m pooled, each pair scored
    // under its own pass's weights
    "dedup_linkage_upass" -> Query(linkageUpassQ, Some({
      def hbSql(suffix: String, n: Int) =
        s"('0x' || substr(md5(id::VARCHAR || '$suffix'), 1, 12))::BIGINT" +
          s" % $n = 0"
      val band = s"((((bal * 100)::BIGINT) - ((((bal * 100)::BIGINT)" +
        s" % $LinkBalBand + $LinkBalBand) % $LinkBalBand)) // $LinkBalBand)"
      val ln2 = math.log(2.0)
      val agreeBits =
        """av.name IS NOT DISTINCT FROM bv.name AS gn,
          |    av.seg IS NOT DISTINCT FROM bv.seg AS gs,
          |    av.bal IS NOT DISTINCT FROM bv.bal AS gb""".stripMargin
      s"""WITH c AS (SELECT c_custkey AS id, c_name AS name,
         |    c_mktsegment AS seg, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         |    c_nationkey AS nat FROM customer),
         |b0 AS (SELECT id,
         |    CASE WHEN ${hbSql("|nm", 2)} THEN upper(name)
         |         ELSE name END AS name,
         |    CASE WHEN ${hbSql("|sg", 5)} THEN reverse(seg)
         |         ELSE seg END AS seg,
         |    CASE WHEN ${hbSql("|ab", 3)}
         |         THEN CAST(bal + 1 AS DECIMAL(18,2)) ELSE bal END AS bal,
         |    nat FROM c),
         |av AS MATERIALIZED (SELECT id,
         |    nat::VARCHAR || '|' || $band::VARCHAR AS k1,
         |    nat::VARCHAR || '|' || lower(name) AS k2,
         |    name, seg, bal FROM c),
         |bv AS MATERIALIZED (SELECT id,
         |    nat::VARCHAR || '|' || $band::VARCHAR AS k1,
         |    nat::VARCHAR || '|' || lower(name) AS k2,
         |    name, seg, bal FROM b0),
         |cand AS MATERIALIZED (SELECT aid, bid, gn, gs, gb,
         |    min(pass) AS pass FROM (
         |  SELECT av.id AS aid, bv.id AS bid, $agreeBits, 0 AS pass
         |  FROM av JOIN bv ON av.k1 = bv.k1
         |  UNION ALL
         |  SELECT av.id, bv.id, $agreeBits, 1
         |  FROM av JOIN bv ON av.k2 = bv.k2)
         |  GROUP BY 1, 2, 3, 4, 5),
         |tp AS (SELECT count(*) AS n,
         |    CAST(sum((av.name IS NOT DISTINCT FROM bv.name)::INT)
         |      AS BIGINT) AS mn,
         |    CAST(sum((av.seg IS NOT DISTINCT FROM bv.seg)::INT)
         |      AS BIGINT) AS ms,
         |    CAST(sum((av.bal IS NOT DISTINCT FROM bv.bal)::INT)
         |      AS BIGINT) AS mb
         |  FROM av JOIN bv ON av.id = bv.id),
         |ps AS (SELECT DISTINCT pass FROM cand),
         |u0 AS (SELECT pass, count(*) AS nu,
         |    CAST(sum(gn::INT) AS BIGINT) AS un,
         |    CAST(sum(gs::INT) AS BIGINT) AS us,
         |    CAST(sum(gb::INT) AS BIGINT) AS ub
         |  FROM cand WHERE aid <> bid GROUP BY 1),
         |u AS (SELECT ps.pass, coalesce(u0.nu, 0) AS nu,
         |    coalesce(u0.un, 0) AS un, coalesce(u0.us, 0) AS us,
         |    coalesce(u0.ub, 0) AS ub
         |  FROM ps LEFT JOIN u0 USING (pass)),
         |w AS (SELECT u.pass,
         |    CAST(round(ln(((mn + 1.0) / (n + 2)) / ((un + 1.0) / (nu + 2)))
         |      / $ln2, 9) AS DECIMAL(18,9)) AS wa_n,
         |    CAST(round(ln((1.0 - (mn + 1.0) / (n + 2))
         |        / (1.0 - (un + 1.0) / (nu + 2))) / $ln2, 9)
         |      AS DECIMAL(18,9)) AS wd_n,
         |    CAST(round(ln(((ms + 1.0) / (n + 2)) / ((us + 1.0) / (nu + 2)))
         |      / $ln2, 9) AS DECIMAL(18,9)) AS wa_s,
         |    CAST(round(ln((1.0 - (ms + 1.0) / (n + 2))
         |        / (1.0 - (us + 1.0) / (nu + 2))) / $ln2, 9)
         |      AS DECIMAL(18,9)) AS wd_s,
         |    CAST(round(ln(((mb + 1.0) / (n + 2)) / ((ub + 1.0) / (nu + 2)))
         |      / $ln2, 9) AS DECIMAL(18,9)) AS wa_b,
         |    CAST(round(ln((1.0 - (mb + 1.0) / (n + 2))
         |        / (1.0 - (ub + 1.0) / (nu + 2))) / $ln2, 9)
         |      AS DECIMAL(18,9)) AS wd_b
         |  FROM tp, u),
         |sc AS (SELECT aid, bid, cand.pass,
         |    gn::INT + gs::INT + gb::INT AS n_agree,
         |    round(CAST(CAST(
         |        (CASE WHEN gn THEN w.wa_n ELSE w.wd_n END)
         |      + (CASE WHEN gs THEN w.wa_s ELSE w.wd_s END)
         |      + (CASE WHEN gb THEN w.wa_b ELSE w.wd_b END)
         |      AS DECIMAL(28,9)) AS DOUBLE), 9) AS weight,
         |    aid = bid AS is_match
         |  FROM cand JOIN w ON w.pass = cand.pass)
         |SELECT aid AS a_id, bid AS b_id,
         |  CASE WHEN pass = 0 THEN 'balance_band' ELSE 'name_fold' END
         |    AS pass,
         |  n_agree, weight, is_match
         |FROM sc WHERE weight >= 0.0 ORDER BY 1, 2""".stripMargin
    })),
    // blocking recall: reachability from the id-joined truth, candidate
    // volumes from block-count aggregates, union by inclusion-exclusion.
    // Volume joins are IS NOT DISTINCT FROM (never USING/=): Spark's
    // blockingRecall joins block keys with <=>, so a NULL blocking key
    // forms a real block there — a null-rejecting oracle join would
    // silently drop its volume and skew the inclusion-exclusion union
    "dedup_linkage_recall" -> Query(linkageRecallQ, Some({
      def hbSql(suffix: String, n: Int) =
        s"('0x' || substr(md5(id::VARCHAR || '$suffix'), 1, 12))::BIGINT" +
          s" % $n = 0"
      val band = s"((((bal * 100)::BIGINT) - ((((bal * 100)::BIGINT)" +
        s" % $LinkBalBand + $LinkBalBand) % $LinkBalBand)) // $LinkBalBand)"
      s"""WITH c AS (SELECT c_custkey AS id, c_name AS name,
         |    c_mktsegment AS seg, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         |    c_nationkey AS nat FROM customer),
         |b0 AS (SELECT id,
         |    CASE WHEN ${hbSql("|nm", 2)} THEN upper(name)
         |         ELSE name END AS name,
         |    CASE WHEN ${hbSql("|ab", 3)}
         |         THEN CAST(bal + 1 AS DECIMAL(18,2)) ELSE bal END AS bal,
         |    nat FROM c),
         |av AS MATERIALIZED (SELECT id,
         |    nat::VARCHAR || '|' || $band::VARCHAR AS k1,
         |    nat::VARCHAR || '|' || lower(name) AS k2 FROM c),
         |bv AS MATERIALIZED (SELECT id,
         |    nat::VARCHAR || '|' || $band::VARCHAR AS k1,
         |    nat::VARCHAR || '|' || lower(name) AS k2 FROM b0),
         |truth AS (SELECT av.k1 IS NOT DISTINCT FROM bv.k1 AS g1,
         |    av.k2 IS NOT DISTINCT FROM bv.k2 AS g2
         |  FROM av JOIN bv ON av.id = bv.id),
         |t AS (SELECT count(*) AS nt,
         |    CAST(sum(g1::INT) AS BIGINT) AS r1,
         |    CAST(sum(g2::INT) AS BIGINT) AS r2,
         |    CAST(sum((g1 OR g2)::INT) AS BIGINT) AS ra FROM truth),
         |c1 AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS v
         |  FROM (SELECT k1, count(*) AS na FROM av GROUP BY 1) x
         |  JOIN (SELECT k1, count(*) AS nb FROM bv GROUP BY 1) y
         |    ON x.k1 IS NOT DISTINCT FROM y.k1),
         |c2 AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS v
         |  FROM (SELECT k2, count(*) AS na FROM av GROUP BY 1) x
         |  JOIN (SELECT k2, count(*) AS nb FROM bv GROUP BY 1) y
         |    ON x.k2 IS NOT DISTINCT FROM y.k2),
         |c12 AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS v
         |  FROM (SELECT k1, k2, count(*) AS na FROM av GROUP BY 1, 2) x
         |  JOIN (SELECT k1, k2, count(*) AS nb FROM bv GROUP BY 1, 2) y
         |    ON x.k1 IS NOT DISTINCT FROM y.k1
         |      AND x.k2 IS NOT DISTINCT FROM y.k2)
         |SELECT * FROM (
         |  SELECT 'balance_band' AS pass, nt AS n_true, r1 AS n_reachable,
         |    round(r1::DOUBLE / nt, 9) AS recall, c1.v AS n_candidates
         |  FROM t, c1
         |  UNION ALL
         |  SELECT 'name_fold', nt, r2, round(r2::DOUBLE / nt, 9), c2.v
         |  FROM t, c2
         |  UNION ALL
         |  SELECT 'multi_pass', nt, ra, round(ra::DOUBLE / nt, 9),
         |    c1.v + c2.v - c12.v
         |  FROM t, c1, c2, c12
         |) ORDER BY pass""".stripMargin
    })),
    // full FS replay: md5-keyed corruption, (nation, balance-band)
    // blocking, m from the id-joined true pairs, u from in-block
    // non-matches, Laplace-smoothed 9-dp log2 weights, exact decimal
    // pair scores. The balance band must FLOOR on negative balances
    // (Spark's pmod spelling does); DuckDB's integer `//` truncates
    // toward zero, so the band routes through the same pmod identity
    "dedup_record_linkage" -> Query(recordLinkage, Some({
      val ln2 = math.log(2.0)
      s"""$linkCandCtes,
         |tp AS (SELECT count(*) AS n,
         |    CAST(sum((av.name IS NOT DISTINCT FROM bv.name)::INT)
         |      AS BIGINT) AS mn,
         |    CAST(sum((av.seg IS NOT DISTINCT FROM bv.seg)::INT)
         |      AS BIGINT) AS ms,
         |    CAST(sum((av.bal IS NOT DISTINCT FROM bv.bal)::INT)
         |      AS BIGINT) AS mb
         |  FROM av JOIN bv ON av.id = bv.id),
         |u AS (SELECT count(*) AS nu,
         |    CAST(sum(gn::INT) AS BIGINT) AS un,
         |    CAST(sum(gs::INT) AS BIGINT) AS us,
         |    CAST(sum(gb::INT) AS BIGINT) AS ub
         |  FROM cand WHERE aid <> bid),
         |w AS (SELECT
         |    CAST(round(ln(((mn + 1.0) / (n + 2)) / ((un + 1.0) / (nu + 2)))
         |      / $ln2, 9) AS DECIMAL(18,9)) AS wa_n,
         |    CAST(round(ln((1.0 - (mn + 1.0) / (n + 2))
         |        / (1.0 - (un + 1.0) / (nu + 2))) / $ln2, 9)
         |      AS DECIMAL(18,9)) AS wd_n,
         |    CAST(round(ln(((ms + 1.0) / (n + 2)) / ((us + 1.0) / (nu + 2)))
         |      / $ln2, 9) AS DECIMAL(18,9)) AS wa_s,
         |    CAST(round(ln((1.0 - (ms + 1.0) / (n + 2))
         |        / (1.0 - (us + 1.0) / (nu + 2))) / $ln2, 9)
         |      AS DECIMAL(18,9)) AS wd_s,
         |    CAST(round(ln(((mb + 1.0) / (n + 2)) / ((ub + 1.0) / (nu + 2)))
         |      / $ln2, 9) AS DECIMAL(18,9)) AS wa_b,
         |    CAST(round(ln((1.0 - (mb + 1.0) / (n + 2))
         |        / (1.0 - (ub + 1.0) / (nu + 2))) / $ln2, 9)
         |      AS DECIMAL(18,9)) AS wd_b
         |  FROM tp, u),
         |sc AS (SELECT aid, bid, gn::INT + gs::INT + gb::INT AS n_agree,
         |    round(CAST(CAST(
         |        (CASE WHEN gn THEN w.wa_n ELSE w.wd_n END)
         |      + (CASE WHEN gs THEN w.wa_s ELSE w.wd_s END)
         |      + (CASE WHEN gb THEN w.wa_b ELSE w.wd_b END)
         |      AS DECIMAL(28,9)) AS DOUBLE), 9) AS weight,
         |    aid = bid AS is_match
         |  FROM cand, w)
         |SELECT aid AS a_id, bid AS b_id, n_agree, weight, is_match
         |FROM sc WHERE weight >= 0.0 ORDER BY 1, 2""".stripMargin
    })),
    // the S-curve integral on the same midpoint grid: 9-dp DECIMAL
    // contributions, exact sums, min-struct winner — the planner replays
    "dedup_lsh_plan" -> Query(lshPlanQ, Some(
      s"""WITH bp AS (SELECT b AS bands, $PlanPerms // b AS rows_per_band
         |  FROM (SELECT unnest(generate_series(1, $PlanPerms)) AS b)
         |  WHERE $PlanPerms % b = 0),
         |g AS (SELECT (i - 0.5) / $PlanGridN AS s
         |  FROM (SELECT unnest(generate_series(1, $PlanGridN)) AS i)),
         |t AS (SELECT bands, rows_per_band,
         |    1.0 - power(1.0 - power(s, rows_per_band::DOUBLE),
         |      bands::DOUBLE) AS p, s
         |  FROM bp, g),
         |sums AS (SELECT bands, rows_per_band,
         |    sum(CAST(round(CASE WHEN s < $PlanThreshold THEN p
         |      ELSE 0.0 END, 9) AS DECIMAL(18,9))) AS fps,
         |    sum(CAST(round(CASE WHEN s >= $PlanThreshold THEN 1.0 - p
         |      ELSE 0.0 END, 9) AS DECIMAL(18,9))) AS fns
         |  FROM t GROUP BY 1, 2),
         |best AS (SELECT min(struct_pack(e := fps + fns, b := bands))
         |    AS m FROM sums)
         |SELECT CAST(bands AS INTEGER) AS bands,
         |  CAST(rows_per_band AS INTEGER) AS rows_per_band,
         |  round(CAST(fps AS DOUBLE) / $PlanGridN, 9) AS fp_mass,
         |  round(CAST(fns AS DOUBLE) / $PlanGridN, 9) AS fn_mass,
         |  round(CAST(fps + fns AS DOUBLE) / $PlanGridN, 9) AS total_error,
         |  (fps + fns = struct_extract(m, 'e')
         |    AND bands = struct_extract(m, 'b')) AS chosen
         |FROM sums, best ORDER BY bands""".stripMargin)),
    // gram identity by STRING (equality classes identical to the plan's
    // xxhash64 barring collisions); duplicated grams union their covers
    // via a correlated generate_series, survivors anti-join and
    // reassemble in pos order — NULL clean_text = fully-duplicated doc
    "dedup_span_removal" -> Query(spanLevel, Some(spanReplaySql(SpanTokens))),
    // the SAME string-identity replay at the 6-token window: a replay by
    // gram STRING is exactly the collision-free equality class the
    // suffix-rank construction computes, so the suffix path needs no
    // separate oracle shape
    "dedup_suffix_spans" -> Query(suffixSpans,
      Some(spanReplaySql(SuffixTokens))),
    // first occurrence per chunk content = min (doc_id, start) over the
    // chunk's group; reassembly string_aggs surviving chunks in order —
    // NULL when every chunk of a doc was seen earlier
    "dedup_chunks" -> Query(chunkLevel, Some(
      s"""WITH d AS (SELECT doc_id,
         |  list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents),
         |c AS (SELECT doc_id, CAST(i / $ChunkTokens AS BIGINT) AS chunk_idx,
         |        i AS start_offset,
         |        array_to_string(list_slice(toks, i + 1, i + $ChunkTokens), ' ')
         |          AS chunk_text
         |      FROM d, UNNEST(generate_series(0, len(toks) - 1, $ChunkTokens)) u(i)
         |      WHERE len(toks) > 0),
         |f AS (SELECT chunk_text,
         |        min(struct_pack(doc_id := doc_id, s := start_offset)) AS first
         |      FROM c GROUP BY 1),
         |k AS (SELECT c.*, (c.doc_id = f.first.doc_id AND
         |                   c.start_offset = f.first.s) AS kept
         |      FROM c JOIN f USING (chunk_text))
         |SELECT doc_id, count(*) AS n_chunks,
         |  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept_chunks,
         |  CASE WHEN sum(CASE WHEN kept THEN 1 ELSE 0 END) > 0 THEN
         |    string_agg(CASE WHEN kept THEN chunk_text END, ' '
         |               ORDER BY chunk_idx)
         |  END AS dedup_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // directed pairs (a.id <> b.id), containment normalized by A's gram
    // count only — the n_common*1.0/n division is the same single IEEE op
    // Dedup.containmentPairs performs
    "dedup_containment" -> Query(containment3gram, Some(
      """WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        |           FROM documents),
        |tok AS (
        |  SELECT DISTINCT doc_id AS id,
        |    toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS token
        |  FROM d, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
        |  WHERE len(toks) >= 3),
        |th AS (
        |  SELECT id, ('0x' || substr(md5(token), 1, 12))::BIGINT AS th FROM tok),
        |sz AS (SELECT id, count(*) AS n_tokens FROM th GROUP BY id),
        |inter AS (
        |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
        |  FROM th a JOIN th b ON a.th = b.th AND a.id <> b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_common,
        |  n_common * 1.0 / sa.n_tokens AS containment
        |FROM inter JOIN sz sa ON id_a = sa.id
        |WHERE n_common * 1.0 / sa.n_tokens >= 0.8
        |ORDER BY id_a, id_b""".stripMargin)),
    "dedup_size_histogram" -> Query(sizeHistogram, Some(
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents),
         |g AS (SELECT count(*) AS group_size FROM n GROUP BY norm),
         |h AS (SELECT group_size, count(*) AS n_groups,
         |        group_size * count(*) AS n_docs
         |      FROM g GROUP BY group_size)
         |SELECT group_size, n_groups, CAST(n_docs AS BIGINT) AS n_docs,
         |  round(CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (), 9)
         |    AS doc_share
         |FROM h ORDER BY group_size""".stripMargin)),
    "dedup_exact_groups" -> Query(exactGroups, Some(
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents)
         |SELECT md5(norm) AS content_md5, min(doc_id) AS canonical_id,
         |  count(*) AS group_size
         |FROM n GROUP BY md5(norm) ORDER BY content_md5""".stripMargin)),
    "dedup_exact_keep_first" -> Query(exactKeepFirst, Some(
      s"""WITH n AS (SELECT doc_id, $normSql AS norm FROM documents)
         |SELECT count(*) AS n_kept, CAST(sum(canonical_id) AS BIGINT) AS id_checksum
         |FROM (SELECT min(doc_id) AS canonical_id FROM n GROUP BY norm)""".stripMargin)),
    // distinct (content digest, label) pairs self-joined on the digest
    "dedup_cross_slice" -> Query(crossSlice, Some(
      s"""WITH d AS (SELECT DISTINCT md5($normSql) AS h,
         |    CAST(lang AS VARCHAR) AS l
         |  FROM documents)
         |SELECT a.l AS lang_a, b.l AS lang_b,
         |  count(*) AS n_shared_contents
         |FROM d a JOIN d b ON a.h = b.h AND a.l < b.l
         |GROUP BY 1, 2 ORDER BY lang_a, lang_b""".stripMargin)),
    // the oracle may brute-force the vocabulary² pairs (64 names) — the
    // plan's q-gram blocking is the scale path, spec-pinned lossless
    "dedup_editdist_names" -> Query(editDistNames, Some(
      s"""WITH v AS (SELECT DISTINCT p_name AS s FROM part
         |           WHERE p_name IS NOT NULL AND p_name <> '')
         |SELECT a.s AS s_a, b.s AS s_b,
         |  CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
         |FROM v a JOIN v b ON a.s < b.s
         |WHERE levenshtein(a.s, b.s) <= $EditDist
         |  AND abs(length(a.s) - length(b.s)) <= $EditDist
         |ORDER BY s_a, s_b""".stripMargin)),
    // keep-BEST: max-struct (quality_score, -doc_id) per normalized
    // content group — highest score survives, ties to the smallest id;
    // score = the text_quality_score product rounded at 6 dp
    "dedup_keep_best" -> Query(exactKeepBest, Some(
      s"""WITH d AS (SELECT doc_id, text,
         |    list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |  FROM documents),
         |q AS (SELECT doc_id,
         |    round(least(len(toks) / 20.0, 1.0)
         |      * (CASE WHEN len(toks) > 0
         |           THEN len(list_distinct(toks))::DOUBLE / len(toks)
         |           ELSE 0.0 END)
         |      * (1.0 - length(regexp_replace(text, '[a-zA-Z0-9 ]', '',
         |            'g'))::DOUBLE / greatest(length(text), 1)), 6)
         |      AS quality_score
         |  FROM d),
         |n AS (SELECT doc_id, md5($normSql) AS content_md5
         |      FROM documents),
         |j AS (SELECT n.content_md5, n.doc_id, q.quality_score
         |      FROM n JOIN q USING (doc_id)),
         |g AS (SELECT content_md5,
         |        max(struct_pack(s := quality_score, nid := -doc_id)) AS b,
         |        count(*) AS group_size
         |      FROM j GROUP BY 1)
         |SELECT CAST(-struct_extract(b, 'nid') AS BIGINT) AS doc_id,
         |  content_md5, group_size, struct_extract(b, 's') AS quality_score
         |FROM g ORDER BY doc_id""".stripMargin)),
    "dedup_jaccard_pairs" -> Query(jaccardPairs, Some(
      s"""WITH $tokCte,
         |$thCte,
         |sz AS (SELECT id, count(*) AS n_tokens FROM th GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM th a JOIN th b ON a.th = b.th AND a.id < b.id
         |  GROUP BY 1, 2)
         |${jaccardTail(0.9)}""".stripMargin)),
    "dedup_jaccard_2gram" -> Query(jaccard2gram, Some(
      s"""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
         |           FROM documents),
         |tok AS (
         |  SELECT DISTINCT doc_id AS id, toks[i] || ' ' || toks[i + 1] AS token
         |  FROM d, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
         |  WHERE len(toks) >= 2),
         |$thCte,
         |sz AS (SELECT id, count(*) AS n_tokens FROM th GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
         |  FROM th a JOIN th b ON a.th = b.th AND a.id < b.id
         |  GROUP BY 1, 2)
         |${jaccardTail(0.5)}""".stripMargin)),
    "dedup_minhash_lsh" -> Query(minhashLsh, Some(
      s"""WITH $tokCte,
         |$thCte,
         |$hshCte,
         |sig AS (SELECT id, $sigSelect FROM hsh GROUP BY id),
         |band AS ($bandUnion),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND $sliceEq AND a.id < b.id),
         |sz AS (SELECT id, count(*) AS n_tokens FROM th GROUP BY id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS n_common
         |  FROM cand c
         |  JOIN th a ON a.id = c.id_a
         |  JOIN th b ON b.id = c.id_b AND b.th = a.th
         |  GROUP BY 1, 2)
         |${jaccardTail(0.9, extraCols = "")}""".stripMargin)),
    "dedup_simhash" -> Query(simhashDocs, Some(
      s"""WITH $tokCte,
         |votes AS (SELECT id, $simhashVotes FROM tok GROUP BY id)
         |SELECT id, CAST($simhashBits AS BIGINT) AS simhash
         |FROM votes ORDER BY id""".stripMargin)),
    // full-corpus pair-graph survivors: the incremental split must land on
    // the identical answer (contraction preserves components and minima),
    // so its oracle is split-free — candidates by band-slice equality,
    // exact-Jaccard edges, recursive CC, min per component
    "dedup_incremental" -> Query(incrementalSurvivors, Some(
      s"""WITH RECURSIVE $tokCte,
         |$thCte,
         |$hshCte,
         |sig AS (SELECT id, $sigSelect FROM hsh GROUP BY id),
         |band AS ($bandUnion),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND $sliceEq AND a.id < b.id),
         |sz AS (SELECT id, count(*) AS n_tokens FROM th GROUP BY id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS n_common
         |  FROM cand c
         |  JOIN th a ON a.id = c.id_a
         |  JOIN th b ON b.id = c.id_b AND b.th = a.th
         |  GROUP BY 1, 2),
         |edges AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sz sa ON id_a = sa.id
         |  JOIN sz sb ON id_b = sb.id
         |  WHERE n_common * 1.0 / (sa.n_tokens + sb.n_tokens - n_common) >= 0.9),
         |$componentTail""".stripMargin)),
    "dedup_cluster_stars" -> Query(clusterSurvivorsStars,
      Some(clusterSurvivorsOracle)),
    "dedup_cluster_survivors" -> Query(clusterSurvivors,
      Some(clusterSurvivorsOracle)),
    "dedup_cluster_fast" -> Query(clusterSurvivorsFast, Some(
      s"""WITH RECURSIVE $tokCte,
         |$thCte,
         |$hshCte,
         |sig AS (SELECT id, $sigSelect FROM hsh GROUP BY id),
         |$starEdgesCtes,
         |edges AS (SELECT id_a, id_b FROM edges0),
         |$componentTail""".stripMargin)))
}
