package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase distributed cumulative sums over a DISTINCT-VALUE grid — the
  * salted-grid fallback for the library's KS-grid family
  * ([[Eval.aucRoc]], [[Prep.rankNormalize]], [[Prep.quantileMatch]],
  * [[Drift.wasserstein1]], [[Screening.ksTwoSample]]).
  *
  * Those operators collapse the data to one row per distinct value and
  * walk a cumulative window over that grid. For bounded-support columns
  * (2-dp money) the grid is small and a global window is fine — but a
  * CONTINUOUS model-score column makes the grid row-scale, and a single
  * `Window.orderBy(v)` serializes it into one task. This helper is the
  * [[Prep.stratifiedSample]] two-phase discipline transplanted to a
  * VALUE-ORDERED axis, where the salt must be a monotone prefix of the
  * sort order rather than a hash byte:
  *
  *  1. `buckets−1` approximate percentile edges of the order column split
  *     the grid into near-equal ROW ranges (a GK summary — one
  *     partial-aggregable pass, no sort). Edge placement only balances
  *     load; the cumulative sums are exact integers regardless of where
  *     an edge lands, so `percentile_approx`'s partition-dependence
  *     cannot move a result.
  *  2. The bucket id comes from an UNROLLED balanced `when` tree (a
  *     binary search over the sorted edges — never an interpreted
  *     higher-order fold), monotone in the order column by construction.
  *  3. Per-bucket subtotals (≤ `buckets` rows) get exclusive running
  *     offsets and global totals from windows over THAT bounded relation,
  *     broadcast back; each row's global cumulative = bucket offset +
  *     within-bucket running sum — the only data-scale window partitions
  *     by bucket, so a row-scale grid fans out over `buckets` tasks.
  *
  * At 1000 executors, raise `buckets` with the cluster (the offsets
  * relation stays trivially broadcastable at any sane value).
  *
  * Requires: one row per distinct `orderCol` value (what every KS-grid
  * caller produces by construction); `sumCols` are integer (LONG) counts,
  * so the two-phase reassociation is exact.
  *
  * Adds, for each c in `sumCols`: `__cum_<c>` (inclusive cumulative in
  * `orderCol` order) and `__tot_<c>` (global total); with `withNext`,
  * `__next` — the next distinct value in global order (null at the end).
  */
object SaltedGrid {

  def cumulative(grid: DataFrame, orderCol: String, sumCols: Seq[String],
      buckets: Int = 64, withNext: Boolean = false): DataFrame = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    require(sumCols.nonEmpty, "no columns to accumulate")
    val v = col(orderCol)
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val edges = grid.agg(
      percentile_approx(v, array(qs.map(lit): _*), lit(10000)).as("__edges"))
    // materialized: the binned grid is read by BOTH downstream passes
    // (per-bucket offsets, phase-2 join) and `grid` additionally feeds the
    // edges aggregate — without the checkpoint the caller's grid subtree
    // (typically a corpus-scale groupBy) embeds 3× per call, and NESTED
    // calls (survivalCurve walks two) multiply that to ~9 full replays
    // (measured: eval_survival_curve's plan carried 165 Exchanges; no
    // static exchange reuse fires across the crossJoin variants)
    val binned = grid.crossJoin(broadcast(edges))
      .withColumn("__gbkt", binChain(v, col("__edges"), buckets).cast("int"))
      .drop("__edges")
      .localCheckpoint()
    // phase 1: per-bucket subtotals — a ≤`buckets`-row relation; its
    // offset/total windows are the justified bounded single-partition form
    val aggs = sumCols.map(c => sum(col(c)).as(s"__b_$c")) :+
      min(v).as("__bmin")
    val wB = Window.orderBy("__gbkt")
    var offsets = binned.groupBy("__gbkt").agg(aggs.head, aggs.tail: _*)
    for (c <- sumCols) {
      offsets = offsets
        .withColumn(s"__off_$c", coalesce(sum(col(s"__b_$c")).over(
          wB.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn(s"__tot_$c",
          sum(col(s"__b_$c")).over(Window.partitionBy()))
    }
    if (withNext)
      offsets = offsets.withColumn("__bnext", lead(col("__bmin"), 1).over(wB))
    val keep = Seq("__gbkt") ++
      sumCols.flatMap(c => Seq(s"__off_$c", s"__tot_$c")) ++
      (if (withNext) Seq("__bnext") else Nil)
    // phase 2: the only data-scale window — partitioned by bucket
    val wLocal = Window.partitionBy("__gbkt").orderBy(v)
    var out = binned.join(broadcast(offsets.select(keep.map(col): _*)),
      Seq("__gbkt"))
    for (c <- sumCols) {
      out = out.withColumn(s"__cum_$c",
          sum(col(c)).over(wLocal.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)) +
            col(s"__off_$c"))
        .drop(s"__off_$c")
    }
    if (withNext)
      out = out.withColumn("__next",
          coalesce(lead(v, 1).over(wLocal), col("__bnext")))
        .drop("__bnext")
    out.drop("__gbkt")
  }

  /** Global (or per-group) row_number over a VALUE order without a
    * single-task sort — the salted form of
    * `row_number().over(Window.orderBy(ord, ties))`.
    *
    * [[cumulative]] requires a distinct-value grid; this variant ranks the
    * ROWS themselves (duplicated order values allowed — a tie chain makes
    * the order total), which is what the ntile family needs. The salt is
    * a COMPOSITE of two monotone percentile-edge buckets:
    *
    *  - the `ord`-bucket, as in [[cumulative]]: equal `ord` values land in
    *    one bucket by construction, so bucket-major (local row_number +
    *    exclusive bucket offset) IS the global order;
    *  - a tie-sub-bucket for HOT `ord` values only. A value pinned by ≥ 2
    *    identical percentile edges holds ≳ 1/`buckets` of its group's
    *    rows, and ALL its ties would land in one bucket — a 50%-modal
    *    frequency column (the RFM shape) would serialize half the relation
    *    into one window task. Hot ties sub-salt by percentile edges of a
    *    MONOTONE numeric key of the first tie column (numeric → itself;
    *    string/binary → the first 7 bytes as an integer, exactly the
    *    UTF8_BINARY comparison prefix; timestamp → µs). Non-hot rows in a
    *    hot value's bucket keep sub 0 — they sort BELOW the hot value
    *    (any row above it lands in a strictly later bucket because the
    *    value's ≥ 2 pinned edges sit between them), so
    *    (bucket, sub)-major still equals the global order.
    *
    * The only data-scale window partitions by (`partCols`, `__salt`); the
    * offsets relation is ≤ |groups|·`buckets`·(`buckets`+2) rows and
    * arrives broadcast. Edge placement from `percentile_approx` only
    * balances load — the rank is exact wherever an edge lands — but the
    * edge/hot/tie-edge relations are `localCheckpoint`ed so both
    * downstream passes (offset counts, final ranking) read ONE consistent
    * edge set even over a nondeterministic upstream.
    *
    * `ord` must be a numeric expression whose ASCENDING order is the
    * desired order (negate for descending). NULL `ord` rows get the
    * dedicated first salt bucket — Spark's ascending NULLS FIRST window
    * semantics (a DuckDB oracle needs an explicit `NULLS FIRST`).
    * `tieCols` complete the order within equal `ord` (pass enough to make
    * it total, or accept row_number's tie-arbitrariness exactly as the
    * global window has it); NULL tie values sort first, matching the
    * window. `partCols` may contain NULLs — grouping joins are null-safe
    * (`<=>`), so NULL keeps its own group exactly as `Window.partitionBy`
    * has it. Per-group edges (non-empty `partCols`) make a dominant group
    * fan out over `buckets` tasks instead of devolving to one task per
    * group — the CCNet one-language-corpus case.
    *
    * Adds `__rank` (1-based row_number within the group) and `__n`
    * (group row count).
    */
  def valueRanked(df: DataFrame, partCols: Seq[String], ord: Column,
      tieCols: Seq[Column], buckets: Int = 64): DataFrame =
    valueRankedWithSalt(df, partCols, ord, tieCols, buckets).drop("__salt")

  /** [[valueRanked]] for a DETERMINISTIC input (localCheckpoint'd or a
    * pure source scan): skips every internal materialization, so the
    * edge/hot/tie-edge relations recompute identically in each pass and
    * the whole ranking collapses into ONE job whose repeated subtrees
    * come back via exchange reuse — the per-job scheduling overhead of
    * the safe path is the dominant cost at small scale.
    */
  private[graft] def valueRankedDeterministic(df: DataFrame,
      partCols: Seq[String], ord: Column, tieCols: Seq[Column],
      buckets: Int = 64): DataFrame =
    valueRankedWithSalt(df, partCols, ord, tieCols, buckets,
      materialize = false).drop("__salt")

  /** [[valueRanked]] keeping the composite `__salt` column — the
    * load-distribution witness for specs and probes.
    */
  private[graft] def valueRankedWithSalt(df: DataFrame,
      partCols: Seq[String], ord: Column, tieCols: Seq[Column],
      buckets: Int = 64, materialize: Boolean = true): DataFrame = {
    require(buckets >= 2, s"need at least 2 buckets, got $buckets")
    val sc = partCols.map(col)
    val qs = (1 until buckets).map(_.toDouble / buckets)
    val edgeAgg =
      percentile_approx(ord, array(qs.map(lit): _*), lit(10000)).as("__edges")
    // materialized (tiny: one row per group) so hot detection, binning and
    // BOTH downstream passes over the salted relation read one edge set
    // even over a nondeterministic upstream
    val edges0 = if (partCols.isEmpty) df.agg(edgeAgg)
                 else df.groupBy(sc: _*).agg(edgeAgg)
    val edges = if (materialize) edges0.localCheckpoint() else edges0
    rankWithEdges(df, partCols, ord, tieCols, edges, buckets, materialize)
  }

  /** First-`i`-matching-edge bucket id (`min{i : v <= edges[i+1]}`, else
    * `buckets-1`) — an UNROLLED BALANCED `when` tree (binary search over
    * the sorted edge array: ⌈log₂ buckets⌉ comparisons per row instead of
    * up to `buckets`, which dominated the salted pass's CPU at 64
    * buckets × 3 scans), codegen-friendly, monotone in `v` by
    * construction. NULL/NaN `v` and NULL edges fall through every
    * comparison to `buckets-1`, same as the linear chain.
    */
  private[graft] def binChain(v: Column, edgesCol: Column,
      buckets: Int): Column = {
    def go(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(v <= element_at(edgesCol, mid + 1), go(lo, mid))
          .otherwise(go(mid + 1, hi))
      }
    go(0, buckets - 1)
  }

  /** A numeric key MONOTONE (non-strictly) in the first tie column's sort
    * order, for sub-salting hot tie classes. Non-strict is enough: rows
    * collapsing to one key stay in one sub-bucket and the within-bucket
    * sort orders them. None (no sub-salt; hot ties stay one task) for
    * types with no cheap monotone embedding.
    */
  private def monotoneTieKey(df: DataFrame, tieCols: Seq[Column])
      : Option[Column] = {
    import org.apache.spark.sql.types._
    def bytePrefix(bin: Column): Column =
      conv(hex(rpad(bin, 7, Array[Byte](0))), 16, 10).cast("long")
    tieCols.headOption.flatMap { t =>
      df.select(t).schema.head.dataType match {
        case _: NumericType => Some(t.cast("double"))
        case StringType =>
          // UTF8_BINARY comparison is bytewise on the UTF-8 encoding, so
          // the first 7 bytes (zero right-padded) as an integer is a
          // monotone prefix of the string order
          Some(bytePrefix(encode(t, "UTF-8")))
        case BinaryType => Some(bytePrefix(t))
        case TimestampType | TimestampNTZType => Some(unix_micros(t))
        case DateType => Some(unix_date(t))
        case BooleanType => Some(t.cast("int"))
        case _ => None
      }
    }
  }

  /** [[valueRanked]] against PRE-COMPUTED (and materialized) percentile
    * edges — `edges` must hold `partCols` plus an `__edges` array from
    * the same `percentile_approx` shape. Lets a caller ranking one
    * relation by several orders (RFM's three scores) compute every edge
    * array in ONE aggregation pass instead of one scan per ranking.
    */
  private[graft] def rankWithEdges(df: DataFrame, partCols: Seq[String],
      ord: Column, tieCols: Seq[Column], edges: DataFrame,
      buckets: Int, materialize: Boolean = true): DataFrame = {
    val sc = partCols.map(col)
    val epCols = partCols.indices.map(i => s"__ep$i")
    val edgesR = edges.select(
      (partCols.zip(epCols).map { case (p, e) => col(p).as(e) } :+
        col("__edges")): _*)
    def joinOn(small: DataFrame, names: Seq[String], extra: Seq[Column]) =
      (partCols.zip(names).map { case (p, n) => col(p) <=> small(n) } ++
        extra).reduce(_ && _)
    val withEdges =
      if (partCols.isEmpty) df.crossJoin(broadcast(edgesR))
      else df.join(broadcast(edgesR), joinOn(edgesR, epCols, Nil))
        .drop(epCols: _*)
    // hot ord values: pinned by >= 2 identical percentile edges — each
    // holds >~ 1/buckets of its group's rows, so its ties sub-salt;
    // everything else already fans out by value
    val hot = edgesR
      .select((epCols.map(col) :+ explode(col("__edges")).as("__hv")): _*)
      .groupBy((epCols :+ "__hv").map(col): _*)
      .agg(count(lit(1)).as("__hc"))
      .filter(col("__hc") >= 2).drop("__hc")
    val tieKeyOpt = monotoneTieKey(df, tieCols)
    // per-(group, hot value) percentile edges of the tie key — a bounded
    // relation (≤ |groups|·buckets/2 hot values). In the common no-hot
    // case the broadcast build side is empty and AQE's empty-relation
    // propagation prunes the probe-side scan, so this pass is near-free.
    val tieEdges = tieKeyOpt.map { tk =>
      val te = df
        .join(broadcast(hot), joinOn(hot, epCols, Seq(ord === hot("__hv"))))
        .groupBy((epCols.map(hot(_)) :+ hot("__hv")): _*)
        .agg(percentile_approx(tk,
          array((1 until buckets).map(i => lit(i.toDouble / buckets)): _*),
          lit(10000)).as("__tedges"))
        .withColumn("__ishot", lit(1))
      if (materialize) te.localCheckpoint() else te
    }
    val joined = tieEdges match {
      case Some(te) =>
        withEdges.join(broadcast(te),
          joinOn(te, epCols, Seq(ord === te("__hv"))), "left")
      case None => withEdges
    }
    // composite salt: (ord-bucket) major, tie-sub-bucket minor. Sub slots:
    // 0 = non-hot rows (all below the bucket's hot value, if any);
    // 1 = hot rows with NULL tie key (they sort first within the value);
    // 2..buckets+1 = hot rows by tie-key percentile bucket. NULL ord gets
    // the dedicated first bucket (Spark ascending NULLS FIRST).
    val sub = tieKeyOpt match {
      case Some(tk) =>
        when(col("__ishot").isNull, lit(0)).otherwise(
          when(tk.isNull, lit(1))
            .otherwise(lit(2) + binChain(tk, col("__tedges"), buckets)))
      case None => lit(0)
    }
    val m = buckets + 2
    val salt = when(ord.isNull, lit(-1))
      .otherwise(binChain(ord, col("__edges"), buckets) * m + sub)
    val salted = joined.withColumn("__salt", salt.cast("int"))
      .drop("__edges")
      .drop((epCols :+ "__hv" :+ "__tedges" :+ "__ishot"): _*)
    // phase 1: per-(group, bucket) counts — a bounded relation; its
    // offset/total windows are the justified broadcast-sized form
    val opCols = partCols.indices.map(i => s"__op$i")
    val offsets = salted
      .groupBy((sc :+ col("__salt")): _*).agg(count(lit(1)).as("__c"))
      .withColumn("__offset", coalesce(sum(col("__c")).over(
        Window.partitionBy(sc: _*).orderBy(col("__salt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(sc: _*)))
      .select((partCols.zip(opCols).map { case (p, o) => col(p).as(o) } ++
        Seq(col("__salt").as("__osalt"), col("__offset"), col("__n"))): _*)
    // phase 2: the only data-scale window — partitioned by the salt
    val wLocal = Window.partitionBy((sc :+ col("__salt")): _*)
      .orderBy(ord +: tieCols: _*)
    salted
      .withColumn("__lrn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets),
        joinOn(offsets, opCols, Seq(col("__salt") === offsets("__osalt"))))
      .drop((opCols :+ "__osalt"): _*)
      .withColumn("__rank", col("__lrn") + col("__offset"))
      .drop("__lrn", "__offset")
  }

  /** The SQL-standard `ntile(n)` band as ONE integer expression of the
    * global rank — `ntile` without its single-task global sort when
    * `rank`/`total` come from [[valueRanked]]. Standard split: the first
    * `total mod n` bands hold ⌈total/n⌉ rows, the rest ⌊total/n⌋ — the
    * exact assignment DuckDB/Spark/Postgres ntile produces for the same
    * total order, so salted callers stay hash-identical to an
    * `NTILE(n) OVER (ORDER BY …)` oracle.
    *
    * All-integer arithmetic (the divisions are exact: numerators are
    * pre-reduced to multiples of their denominators via `pmod`, and
    * IEEE division of exactly-representable operands with a
    * representable quotient is exact), so no engine can skew a band
    * boundary by an ulp. 1-based, like ntile.
    */
  /** Size dispatch for the ntile family — the broadcast-threshold idea
    * applied to global sorts. Below the cutoff a single-task window over
    * a MATERIALIZED input is bounded work and strictly faster than the
    * salted grid's fixed costs (edge pass, offsets broadcast, extra
    * shuffle: ~2 s of plan/stage overhead at any size; measured crossover
    * ~8–10 M rows on local[32], SURVEY §6.1 salted ntile); above it the
    * salted path is the only one that finishes — callers count their checkpointed
    * input (a cached-block pass, no shuffle) and dispatch. Both paths are
    * spec-pinned hash-identical on ties, NULL groups and NULL order
    * values, so the dispatch can never move a result. Tunable per session
    * (`graft.salted.ntile.cutoff`); raise it with executor memory, set 0
    * to force the salted path (the plan-gate specs do).
    */
  def ntileCutoff(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.salted.ntile.cutoff")
      .map(_.toLong).getOrElse(4000000L)

  def ntileBand(rank: Column, total: Column, n: Int): Column = {
    require(n >= 1, s"need at least 1 band, got $n")
    def exactDiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    def ceilDiv(a: Column, b: Column): Column = exactDiv(a + b - 1, b)
    val rem = pmod(total, lit(n.toLong))
    val q = exactDiv(total - rem, lit(n.toLong))
    val headRows = rem * (q + 1L)
    when(rank <= headRows, ceilDiv(rank, q + 1L))
      .otherwise(rem + ceilDiv(rank - headRows, greatest(q, lit(1L))))
  }
}
