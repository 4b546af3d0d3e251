package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log operators over a keyed, timestamped stream — the behavioral
  * shapes a feature store computes features FROM (the reference's event
  * table is exactly this, `ML Feature Store Pipeline.py:130-141`): ordered
  * funnel completion, slowly-changing-dimension (SCD2) validity intervals,
  * and leakage-safe temporal train/test splitting.
  *
  * All three are deterministic under duplicate timestamps (every window
  * orders by (ts, tie)) and engine-exact (integer epoch-micros arithmetic,
  * no floating point anywhere).
  */
object EventOps {

  /** Ordered funnel: for every key, the earliest timestamp at which each
    * step completes STRICTLY AFTER the previous step's completion — the
    * classic conversion-funnel query (view → click → purchase), and the
    * label-generation shape for next-action models. A step's column is null
    * when the key never reaches it.
    *
    * Shape at scale: one `min` aggregate per step plus one equi-join per
    * step, ALL keyed on `keyCol` — Catalyst plans them as a chain of
    * exchanges on the same key, so the event table is shuffled on one key
    * and each stage's state is one row per key that reached it (funnels
    * shrink monotonically). No windows, no per-key event sorting.
    *
    * @param steps (name, predicate) pairs in funnel order; output columns
    *              are `t_<name>` epoch-micros.
    */
  def funnel(events: DataFrame, keyCol: String, tsUsCol: String,
      steps: Seq[(String, Column)]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val head = events.filter(steps.head._2)
      .groupBy(col(keyCol))
      .agg(min(col(tsUsCol)).as(s"t_${steps.head._1}"))
    steps.tail.foldLeft((head, s"t_${steps.head._1}")) {
      case ((acc, prevCol), (name, pred)) =>
        val next = events.filter(pred)
          .select(col(keyCol), col(tsUsCol))
          .join(acc.select(col(keyCol), col(prevCol)), Seq(keyCol))
          .filter(col(tsUsCol) > col(prevCol))
          .groupBy(col(keyCol))
          .agg(min(col(tsUsCol)).as(s"t_$name"))
        (acc.join(next, Seq(keyCol), "left"), s"t_$name")
    }._1
  }

  /** SCD2 validity intervals from a change log: consecutive rows of a key
    * (ordered by (ts, tie)) with the SAME tracked value collapse into one
    * interval `[valid_from, valid_to)`; `valid_to` is null on the key's
    * current interval (`is_current`). This is how a feature store
    * historizes a mutable attribute so point-in-time joins
    * ([[PointInTime]]) can serve the value that was true at label time.
    *
    * One shuffle: both windows (the change-detection lag and the interval
    * lead) partition by the key with the same ordering, so they share a
    * single exchange+sort. Null-safe change detection (`<=>`), so a
    * null-valued run is one interval, not many.
    */
  def scd2(df: DataFrame, keyCol: String, tsUsCol: String, tieCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsUsCol), col(tieCol))
    val changed = df
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .withColumn("__first", row_number().over(w) === 1)
      .filter(col("__first") || !(col(valueCol) <=> col("__prev")))
    changed
      .withColumn("valid_from", col(tsUsCol))
      .withColumn("valid_to", lead(col(tsUsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__prev", "__first")
  }

  /** Temporal train/test split with an embargo gap (purged time-series
    * validation, the leakage guard for autocorrelated data): the most
    * recent `testHorizonUs` of the stream is `test`, the `embargoUs` just
    * before it is `embargo` (DROPPED from training so trailing-window
    * features of late train rows cannot overlap the test period), and the
    * rest is `train`. The cutoff anchors to the observed max timestamp —
    * one tiny aggregate broadcast back, no collect, zero shuffle of the
    * stream itself. Adds a `split` column.
    */
  def timeSplitEmbargo(df: DataFrame, tsUsCol: String, testHorizonUs: Long,
      embargoUs: Long): DataFrame = {
    require(testHorizonUs > 0 && embargoUs >= 0,
      s"bad horizons: test=$testHorizonUs embargo=$embargoUs")
    val mx = df.agg(max(col(tsUsCol)).as("__mx"))
    df.crossJoin(broadcast(mx))
      .withColumn("split",
        when(col(tsUsCol) > col("__mx") - testHorizonUs, "test")
          .when(col(tsUsCol) > col("__mx") - testHorizonUs - embargoUs,
            "embargo")
          .otherwise("train"))
      .drop("__mx")
  }

  /** Rolling `windowDays`-day active-key counts per observed day (the
    * DAU/WAU/MAU engagement family): for every calendar day present in the
    * stream, how many distinct keys were active in the trailing window
    * ending that day. EXACT — no sketch — via the contribution explode:
    * each distinct (key, day) activity contributes to the `windowDays`
    * window-end days it falls inside, so the rolling distinct count
    * becomes a plain group-by-day distinct. Work is
    * |distinct key-days| × windowDays rows — linear, partitionable, no
    * per-day re-scan of the stream and no distinct-over-window state.
    *
    * Days are INTEGER epoch days (`ts_us div 86400000000`) — no
    * calendar/timezone semantics anywhere, so any engine buckets rows
    * identically. Returns (day, active) for observed days only (a trailing
    * window ending on a day nothing happened is not a row; emit a day
    * dimension join downstream if gaps must appear).
    */
  def rollingActiveKeys(df: DataFrame, keyCol: String, tsUsCol: String,
      windowDays: Int): DataFrame = {
    require(windowDays > 0, s"windowDays must be positive, got $windowDays")
    val dayNum = floor(col(tsUsCol) / lit(86400000000L)).cast("long")
    val keyDays = df.select(col(keyCol).as("__k"), dayNum.as("__d"))
      .distinct()
    val observed = keyDays.select(col("__d").as("day")).distinct()
    keyDays
      .select(col("__k"),
        explode(sequence(col("__d"), col("__d") + (windowDays - 1)))
          .as("day"))
      .join(broadcast(observed), Seq("day"))
      .groupBy("day")
      .agg(countDistinct(col("__k")).as("active"))
  }

  /** Behavioral-sequence assembly: each key's events, ordered by
    * (ts, tie), concatenated into one token string — how an event log
    * becomes the input of a sequence model (next-action prediction,
    * session-based recommendation, user-history LLM prompts). Returns
    * (key, n_events, sequence) with the sequence capped at the FIRST
    * `maxTokens` events (the model's context budget; `n_events` still
    * counts everything).
    *
    * One shuffle (group-by key). The collected list is bounded by the
    * key's own event count — the per-user/per-session cardinality a
    * behavioral log bounds by construction — and the emitted string by
    * `maxTokens`; there is no corpus-sized state anywhere. Ordering is
    * explicit in the collected struct (sort key = (ts, tie, token)
    * lexicographic on the struct fields), so the sequence is deterministic
    * under duplicate timestamps on any partitioning.
    */
  def assembleSequence(df: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, tokenCol: String, maxTokens: Int): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(col(tsUsCol).as("t"),
        col(tieCol).as("i"), col(tokenCol).cast("string").as("tok"))))
        .as("__s"))
      .select(col(keyCol),
        size(col("__s")).cast("long").as("n_events"),
        array_join(transform(slice(col("__s"), 1, maxTokens),
          s => s.getField("tok")), " ").as("sequence"))
  }

  /** First-order Markov transition matrix of a categorical event stream:
    * `P(next state | state)` estimated from every adjacent pair in each
    * key's (ts, tie)-ordered history — the classic next-action feature
    * (and the generator of transition-probability features for churn /
    * sequence models). Pure counting — no floating-point model state; the
    * probability is one division at output time.
    *
    * Shape at scale: one key-window shuffle for the `lag` (the same
    * exchange family as sessionization), then the pair counts collapse to
    * a states² relation — tiny — and the per-state totals come from a
    * window over it, not a second pass over the events. Returns
    * (state, next_state, n_transitions, p) — deterministic under
    * duplicate timestamps via the (ts, tie) ordering.
    */
  def transitionMatrix(df: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, stateCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieCol))
    val pairs = df
      .select(col(keyCol), col(stateCol).cast("string").as("next_state"),
        lag(col(stateCol).cast("string"), 1).over(w).as("state"))
      .filter(col("state").isNotNull)
      .groupBy("state", "next_state")
      .agg(count(lit(1)).as("n_transitions"))
    val tw = Window.partitionBy(col("state"))
    pairs
      .withColumn("p",
        round(col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(tw), 6))
      .select("state", "next_state", "n_transitions", "p")
  }

  /** Held-out quality of the [[transitionMatrix]] model — bits per
    * transition on UNSEEN users (the sequence-model counterpart of
    * [[graft.ops.TokenModels]]' bigram-LM perplexity): users split by
    * the md5 coin (sequence-level, so no within-history leakage), the
    * transition counts fit on the training folds, and every test
    * transition is scored by the add-one-smoothed model
    * `−log₂((c(prev,next)+1)/(c(prev,·)+V))` with V = distinct training
    * next-states. Unseen test states ride the smoothing floor (c = 0,
    * tot = 0 — the model stays finite).
    *
    * Determinism: per-transition bits round to 9 dp and scale by the
    * exact test count (the bigram-LM discipline), so the mean is
    * order-independent; the output mean is ONE IEEE division. Shape at
    * scale: one lag window over the event stream, then (state × state)
    * relations — the fitted model broadcasts at any corpus size.
    * Returns ONE row: (n_train, n_test, vocab_size,
    * bits_per_transition).
    */
  def markovPerplexity(df: DataFrame, keyCol: String, tsUsCol: String,
      tieCol: String, stateCol: String, folds: Int = 4): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsUsCol), col(tieCol))
    val trans = df
      .select(col(keyCol).as("__k"),
        col(stateCol).cast("string").as("__next"),
        lag(col(stateCol).cast("string"), 1).over(w).as("__prev"))
      .filter(col("__prev").isNotNull)
      .withColumn("__fold", Prep.hashBucket(col("__k"), folds))
      .localCheckpoint()
    val train = trans.filter(col("__fold") =!= folds - 1)
    val test = trans.filter(col("__fold") === folds - 1)
    val counts = train.groupBy("__prev", "__next")
      .agg(count(lit(1)).as("__c"))
    val prevTot = counts.groupBy("__prev").agg(sum(col("__c")).as("__tot"))
    val vocab = train.select("__next").distinct()
      .agg(count(lit(1)).as("vocab_size"))
    val trainN = train.agg(count(lit(1)).as("n_train"))
    val bits = round(-log((coalesce(col("__c"), lit(0L)) + 1.0) /
        (coalesce(col("__tot"), lit(0L)) + col("vocab_size"))) /
      math.log(2.0), 9).cast(DecimalType(18, 9))
    test.groupBy("__prev", "__next").agg(count(lit(1)).as("__tc"))
      .join(broadcast(counts), Seq("__prev", "__next"), "left")
      .join(broadcast(prevTot), Seq("__prev"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("__tc"), col("vocab_size"),
        bits.as("__bits"))
      .agg(first(col("vocab_size")).as("vocab_size"),
        sum(col("__tc")).as("n_test"),
        round(sum(col("__bits") * col("__tc").cast(DecimalType(10, 0)))
          .cast(DoubleType) / sum(col("__tc")), 6)
          .as("bits_per_transition"))
      .crossJoin(broadcast(trainN))
      .select(col("n_train"), col("n_test"), col("vocab_size"),
        col("bits_per_transition"))
  }

  /** Pointwise mutual information of item co-occurrence within sessions —
    * the item2vec / SGNS-matrix prep step (Levy & Goldberg 2014: SGNS
    * factorizes the shifted PMI matrix): for items a < b,
    * PMI(a,b) = ln(n_ab·S / (n_a·n_b)) over S sessions.
    *
    * `df` must already carry a session id (compose with
    * [[graft.ops.Prep.sessionize]]). Presence-based counts: each session
    * contributes once per distinct item / pair. The pair self-join is keyed
    * on the session id, so work is Σ (items-per-session)² — bounded by the
    * per-session distinct-item count, never corpus²; cap items per session
    * upstream (e.g. [[graft.ops.Prep.capPerKey]]) when a session can be
    * unbounded. The integer product n_ab·S stays exact in a long; PMI is
    * one IEEE division + ln, rounded 9 dp.
    *
    * `broadcastCounts` gates the marginal-count join: keep the broadcast
    * default for bounded item spaces (event types, product categories);
    * switch it off for vocabulary-sized item spaces so the marginals join
    * by shuffle on the pair exchange that already exists (the same
    * unbounded-broadcast trap as [[graft.ops.Prep.tfidf]]).
    */
  def cooccurrencePmi(df: DataFrame, sessionCols: Seq[String],
      itemCol: String, broadcastCounts: Boolean = true): DataFrame = {
    val present = df
      .select(struct(sessionCols.map(col): _*).as("__sid"),
        col(itemCol).cast("string").as("item"))
      .distinct()
    val totals = present.agg(
      countDistinct(col("__sid")).as("n_sessions"))
    val itemCounts = present.groupBy("item")
      .agg(count(lit(1)).as("n_item"))
    val pairs = present.as("l")
      .join(present.as("r"), col("l.__sid") === col("r.__sid") &&
        col("l.item") < col("r.item"))
      .groupBy(col("l.item").as("item_a"), col("r.item").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
    def hinted(d: DataFrame) = if (broadcastCounts) broadcast(d) else d
    pairs
      .join(hinted(itemCounts.withColumnRenamed("item", "item_a")
        .withColumnRenamed("n_item", "n_a")), Seq("item_a"))
      .join(hinted(itemCounts.withColumnRenamed("item", "item_b")
        .withColumnRenamed("n_item", "n_b")), Seq("item_b"))
      .crossJoin(broadcast(totals))
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_sessions"),
        round(log((col("n_ab") * col("n_sessions")).cast("double") /
          (col("n_a") * col("n_b"))), 9).as("pmi"))
  }

  /** Sequential-pattern support over sessions — the ORDER-aware sibling of
    * [[associationRules]] (co-occurrence asks "together?", this asks
    * "A then B?" — the distinction behind next-action features and funnel
    * hypotheses): for each ordered item pair, the number of sessions where
    * A's FIRST occurrence strictly precedes B's first occurrence
    * (first-occurrence semantics = the 2-sequence case of GSP, Srikant &
    * Agrawal 1996). Deterministic under duplicate timestamps — "first" and
    * the precedence compare both order by (ts, tie).
    *
    * Shape at scale: first occurrences collapse per (session, item) in ONE
    * min-struct group-by (partial-aggregable — never a window over the
    * stream); the pair self-join is bounded by per-session distinct items,
    * like the PMI pair join; item/total counts broadcast back. Returns
    * (antecedent, consequent, n_seq, n_ant, n_sessions, support,
    * confidence).
    */
  def sequencePatterns(df: DataFrame, sessionCols: Seq[String],
      itemCol: String, tsCol: String, tieCol: String,
      broadcastCounts: Boolean = true): DataFrame = {
    val firsts = df
      .select(struct(sessionCols.map(col): _*).as("__sid"),
        col(itemCol).cast("string").as("item"),
        struct(col(tsCol), col(tieCol)).as("__o"))
      .groupBy("__sid", "item")
      .agg(min(col("__o")).as("__f"))
    val totals = firsts.agg(countDistinct(col("__sid")).as("n_sessions"))
    val itemCounts = firsts.groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = firsts.as("l")
      .join(firsts.as("r"), col("l.__sid") === col("r.__sid") &&
        col("l.item") =!= col("r.item") && col("l.__f") < col("r.__f"))
      .groupBy(col("l.item").as("antecedent"), col("r.item").as("consequent"))
      .agg(count(lit(1)).as("n_seq"))
    def hinted(d: DataFrame) = if (broadcastCounts) broadcast(d) else d
    pairs
      .join(hinted(itemCounts.select(col("item").as("antecedent"),
        col("n_item").as("n_ant"))), Seq("antecedent"))
      .crossJoin(broadcast(totals))
      .select(col("antecedent"), col("consequent"), col("n_seq"),
        col("n_ant"), col("n_sessions"),
        round(col("n_seq").cast("double") / col("n_sessions"), 9)
          .as("support"),
        round(col("n_seq").cast("double") / col("n_ant"), 9)
          .as("confidence"))
  }

  /** Directed association rules over session item sets — classic
    * market-basket analysis (support / confidence / lift, Agrawal et al.
    * 1993), the thresholded companion to [[cooccurrencePmi]]: PMI ranks
    * surprise, rules rank actionability ("sessions containing A contain B
    * `confidence` of the time, `lift`× the base rate"). Items collapse to
    * per-session presence sets first, so multiplicity inside a session
    * never inflates counts; each co-presence pair emits BOTH directed
    * rules.
    *
    * Same scale shape as PMI: one distinct collapse, pair counts via a
    * self-join on the session id (bounded by per-session distinct items),
    * item/total counts broadcast back onto the tiny pair relation.
    * Ratios: integer counts until ONE double division each, rounded 9 dp
    * (lift = n_ab·n / (n_a·n_b) with BIGINT products — exact under 2^53).
    * Returns (antecedent, consequent, n_ab, n_ant, n_cons, n_sessions,
    * support, confidence, lift).
    */
  def associationRules(df: DataFrame, sessionCols: Seq[String],
      itemCol: String, minPairSessions: Long = 1L,
      broadcastCounts: Boolean = true): DataFrame = {
    val present = df
      .select(struct(sessionCols.map(col): _*).as("__sid"),
        col(itemCol).cast("string").as("item"))
      .distinct()
    val totals = present.agg(countDistinct(col("__sid")).as("n_sessions"))
    val itemCounts = present.groupBy("item").agg(count(lit(1)).as("n_item"))
    val pairs = present.as("l")
      .join(present.as("r"), col("l.__sid") === col("r.__sid") &&
        col("l.item") < col("r.item"))
      .groupBy(col("l.item").as("item_a"), col("r.item").as("item_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairSessions)
    val directed = pairs
      .select(col("item_a").as("antecedent"), col("item_b").as("consequent"),
        col("n_ab"))
      .unionByName(pairs.select(col("item_b").as("antecedent"),
        col("item_a").as("consequent"), col("n_ab")))
    def hinted(d: DataFrame) = if (broadcastCounts) broadcast(d) else d
    directed
      .join(hinted(itemCounts.select(col("item").as("antecedent"),
        col("n_item").as("n_ant"))), Seq("antecedent"))
      .join(hinted(itemCounts.select(col("item").as("consequent"),
        col("n_item").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(totals))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        col("n_ant"), col("n_cons"), col("n_sessions"),
        round(col("n_ab").cast("double") / col("n_sessions"), 9)
          .as("support"),
        round(col("n_ab").cast("double") / col("n_ant"), 9)
          .as("confidence"),
        round((col("n_ab") * col("n_sessions")).cast("double") /
          (col("n_ant") * col("n_cons")), 9).as("lift"))
  }

  /** Event-time lateness profile — the measurement that picks a streaming
    * watermark: replay each key's events in ARRIVAL order (`arrivalCol`,
    * e.g. an ingest sequence / event_id) and record how far each event's
    * timestamp lags the running event-time maximum. The p-max of this
    * distribution IS the watermark delay that would have bounded state
    * without dropping data.
    *
    * One key-window pass (running max over arrival order); per-key
    * aggregate of max/mean lateness and the late fraction beyond
    * `lateThresholdUs`. Mean through exact integer sums, one division.
    * Returns (key, n_events, n_late, max_lateness_us, mean_lateness_us).
    */
  def latenessProfile(df: DataFrame, keyCol: String, tsCol: String,
      arrivalCol: String, lateThresholdUs: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__arr"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(keyCol), unix_micros(col(tsCol)).as("__ts"),
        col(arrivalCol).as("__arr"))
      .withColumn("__late",
        greatest(coalesce(max(col("__ts")).over(w) - col("__ts"), lit(0L)),
          lit(0L)))
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("__late") > lateThresholdUs, 1L).otherwise(0L))
          .as("n_late"),
        max(col("__late")).as("max_lateness_us"),
        round(sum(col("__late")).cast("double") / count(lit(1)), 9)
          .as("mean_lateness_us"))
  }

  /** Half-life decay weight 2^(−days/halfLifeDays) as a 9-dp DECIMAL
    * literal, fixed at library level (the [[graft.ops.Eval.dcgWeight]]
    * discipline: no runtime pow/exp can flip a bit between engines). */
  def decayWeight(days: Int, halfLifeDays: Int): java.math.BigDecimal =
    new java.math.BigDecimal(math.pow(2.0, -days.toDouble / halfLifeDays),
      java.math.MathContext.DECIMAL64)
      .setScale(9, java.math.RoundingMode.HALF_UP)

  /** Per-key activity-gap report over integer epoch days — the
    * feature-store QA check for silent pipeline holes (a user "active" for
    * a 40-day span with 12 missing days usually means a broken upstream
    * feed, not a vacation): active-day count, span, missing days and the
    * longest gap. One distinct (key, day) aggregate (map-side combined),
    * one key-window lag over the per-key DAY relation (bounded by active
    * days, never events). Returns (key, n_days, span_days, missing_days,
    * max_gap_days).
    */
  def activityGaps(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val day = floor(unix_micros(col(tsCol)) / lit(86400000000L)).cast("long")
    val days = df.select(col(keyCol), day.as("__day")).distinct()
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__day"))
    // window and group-by share the key → the exchange is reused
    days
      .withColumn("__gap", col("__day") - lag(col("__day"), 1).over(w) - 1)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_days"),
        (max(col("__day")) - min(col("__day")) + 1).as("span_days"),
        coalesce(max(col("__gap")), lit(0L)).as("max_gap_days"))
      .select(col(keyCol), col("n_days"), col("span_days"),
        (col("span_days") - col("n_days")).as("missing_days"),
        col("max_gap_days"))
  }

  /** Rolling-origin (expanding-window) cross-validation assignment — the
    * time-series evaluation protocol where each fold trains on everything
    * up to a cut and tests on the next `horizonDays` (Tashman 2000; the
    * temporal sibling of [[graft.ops.Prep.kfold]], which would leak
    * future→past if applied to time-series). Fold k's test window ends at
    * the corpus max day (1-row broadcast anchor); earlier folds step back
    * one horizon each.
    *
    * Output is one row per (row, fold) membership — train rows replicate
    * to every fold whose cut they precede (bounded ×folds explode, zero
    * shuffle, per-row arithmetic only). Returns input + (fold, role).
    */
  def rollingOriginSplit(df: DataFrame, tsCol: String, folds: Int,
      horizonDays: Int): DataFrame = {
    require(folds >= 1 && horizonDays >= 1)
    val day = floor(unix_micros(col(tsCol)) / lit(86400000000L)).cast("long")
    val anchor = df.agg(max(day).as("__maxday"))
    val h = horizonDays.toLong
    val withDay = df.withColumn("__day", day).crossJoin(broadcast(anchor))
    val assigned = withDay
      .withColumn("fold", explode(sequence(lit(1L), lit(folds.toLong))))
      // fold f: cut = maxday − (folds − f + 1)·h; test = (cut, cut + h]
      .withColumn("__cut",
        col("__maxday") - (lit(folds.toLong) - col("fold") + 1) * h)
      .withColumn("role",
        when(col("__day") <= col("__cut"), "train")
          .when(col("__day") <= col("__cut") + h, "test"))
      .filter(col("role").isNotNull)
    assigned.drop("__day", "__maxday", "__cut")
  }

  /** Cohort retention matrix — the product-analytics staple behind every
    * retention curve: keys are grouped into cohorts by their FIRST-activity
    * period (integer epoch days bucketed by `bucketDays`), and each cell
    * (cohort, offset) counts how many of the cohort's keys were active
    * `offset` periods after joining. `retention` is that count over the
    * cohort's size (= its offset-0 count, since every key is by definition
    * active in its first period).
    *
    * Shape at scale: the stream collapses map-side to distinct
    * (key, period) BEFORE any shuffle; the first-activity aggregate and
    * the cohort join share one key exchange; the final group-by shuffles a
    * relation bounded by keys × active periods. The retention window runs
    * over the periods² result relation — never the stream. Returns
    * (cohort_period, period_offset, n_active, cohort_size, retention).
    */
  def cohortRetention(df: DataFrame, keyCol: String, tsCol: String,
      bucketDays: Int): DataFrame = {
    require(bucketDays >= 1, s"bucketDays must be positive, got $bucketDays")
    val period = floor(floor(unix_micros(col(tsCol)) / lit(86400000000L))
      / lit(bucketDays.toLong)).cast("long")
    val keyPeriods = df.select(col(keyCol).as("__k"), period.as("__p"))
      .distinct()
    val cohorts = keyPeriods.groupBy("__k").agg(min(col("__p")).as("__c"))
    val cells = keyPeriods.join(cohorts, "__k")
      .groupBy(col("__c").as("cohort_period"),
        (col("__p") - col("__c")).as("period_offset"))
      .agg(count(lit(1)).as("n_active"))
    val wc = Window.partitionBy(col("cohort_period"))
    cells
      .withColumn("cohort_size",
        max(when(col("period_offset") === 0, col("n_active"))).over(wc))
      .withColumn("retention",
        round(col("n_active").cast("double") / col("cohort_size"), 9))
  }

  /** Churn-label generation — the supervised-training shape for retention
    * models: anchor at the corpus max timestamp, call the trailing
    * `horizonUs` the label window, and for every key OBSERVED BEFORE the
    * window label `churned` = true iff it has no activity inside it. Keys
    * first seen inside the label window are excluded (no observation
    * history → no label; scoring them would be survivorship leakage).
    * Features for these labels must come from the observation period only —
    * `last_seen_us` / `n_events_obs` here are that boundary, and
    * [[timeSplitEmbargo]] is the matching feature-side guard.
    *
    * One group-by shuffle over (key); the anchor is a 1-row broadcast.
    * Returns (key, n_events_obs, last_seen_us, churned).
    */
  def churnLabels(df: DataFrame, keyCol: String, tsCol: String,
      horizonUs: Long): DataFrame = {
    require(horizonUs > 0, s"horizonUs must be positive, got $horizonUs")
    val anchor = df.agg(max(unix_micros(col(tsCol))).as("__anchor"))
    df.select(col(keyCol), unix_micros(col(tsCol)).as("__ts"))
      .crossJoin(broadcast(anchor))
      .withColumn("__obs", col("__ts") <= col("__anchor") - horizonUs)
      .groupBy(keyCol)
      .agg(sum(when(col("__obs"), 1L).otherwise(0L)).as("n_events_obs"),
        max(when(col("__obs"), col("__ts"))).as("last_seen_us"),
        max(when(!col("__obs"), 1).otherwise(0)).as("__act"))
      .filter(col("n_events_obs") > 0)
      .withColumn("churned", col("__act") === 0)
      .drop("__act")
  }

  /** Linear multi-touch attribution — each conversion splits one unit of
    * credit EQUALLY across the touches inside its lookback interval
    * (the fractional-credit refinement of last-touch counting; interval
    * containment via [[RangeJoin.bucketed]], so candidates are a bounded
    * equi-join, never points × conversions). Per touch: how many
    * conversions it assisted, its summed fractional credit, and how often
    * it was the first / last touch of a conversion (ties broken by
    * (timestamp, touch id) — deterministic under duplicate timestamps).
    *
    * Credit = round(1/n, 9) as DECIMAL so the per-touch sums are exact and
    * order-independent. Two bounded shuffles AFTER the range join: the
    * per-conversion window (state = that conversion's touches) and the
    * per-touch group-by. Returns (key..., touch id, n_assists,
    * linear_credit, n_first_touch, n_last_touch).
    */
  def linearAttribution(touches: DataFrame, conversions: DataFrame,
      keyCols: Seq[String], touchTsCol: String, touchIdCol: String,
      loCol: String, hiCol: String, convIdCol: String,
      bucketWidth: Long): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(18, 9)
    val cand = RangeJoin.bucketed(touches, conversions, keyCols,
      touchTsCol, loCol, hiCol, bucketWidth)
    val wConv = Window.partitionBy(keyCols.map(col) :+ col(convIdCol): _*)
    val ordered = wConv.orderBy(col(touchTsCol), col(touchIdCol))
    cand
      .withColumn("__n", count(lit(1)).over(wConv))
      .withColumn("__rn", row_number().over(ordered))
      .withColumn("__credit",
        round(lit(1.0) / col("__n"), 9).cast(D))
      .groupBy(keyCols.map(col) :+ col(touchIdCol): _*)
      .agg(count(lit(1)).as("n_assists"),
        sum(col("__credit")).cast("double").as("linear_credit"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_first_touch"),
        sum(when(col("__rn") === col("__n"), 1L).otherwise(0L))
          .as("n_last_touch"))
  }

  /** Per-key exponentially-decayed value sum — the recency-weighted
    * feature ("how active was this user, weighting yesterday over last
    * month") every churn/engagement model starts with. Weight
    * 2^(−Δdays/halfLife) relative to the CORPUS max day (one 1-row
    * broadcast anchor), truncated to 0 past `horizonDays` — which turns
    * the weight into a ≤horizon-entry literal table resolved per row, so
    * scores contain no runtime transcendental at all: contributions are
    * DECIMAL(18,2)·DECIMAL(10,9) exact products (precision 29 — safely
    * under 38, no silent scale loss) summed exactly.
    *
    * One group-by shuffle. Returns (key, n_events, n_in_horizon,
    * decay_weight, decay_value).
    */
  def decayedValueSum(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfLifeDays: Int, horizonDays: Int): DataFrame = {
    val W9 = org.apache.spark.sql.types.DecimalType(10, 9)
    val M2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val day = floor(unix_micros(col(tsCol)) / lit(86400000000L)).cast("long")
    val anchor = df.agg(max(day).as("__anchor"))
    val delta = col("__anchor") - col("__day")
    val weight = (0 to horizonDays).foldLeft(lit(0).cast(W9)) { (acc, d) =>
      when(delta === d, lit(decayWeight(d, halfLifeDays)).cast(W9))
        .otherwise(acc)
    }
    df.select(col(keyCol), day.as("__day"),
        round(col(valueCol), 2).cast(M2).as("__v"))
      .crossJoin(broadcast(anchor))
      .withColumn("__w", weight)
      .groupBy(keyCol)
      .agg(count(lit(1)).as("n_events"),
        sum(when(delta <= horizonDays, 1L).otherwise(0L)).as("n_in_horizon"),
        sum(col("__w")).cast("double").as("decay_weight"),
        sum(col("__v") * col("__w")).cast("double").as("decay_value"))
  }

  /** Item-item collaborative-filtering neighbors over binary basket-item
    * incidence (the classic item-to-item recommender, Sarwar et al. WWW'01
    * / Linden et al. 2003): sim(i,j) = n_ij / (√n_i·√n_j) — cosine of the
    * 0/1 basket vectors — and the top `topK` neighbors of every item.
    * The set-overlap sibling of [[cooccurrencePmi]] (PMI ranks surprise;
    * cosine ranks strength normalized by popularity, so a ubiquitous item
    * cannot dominate every neighbor list).
    *
    * Shape at scale: baskets collapse to distinct (basket, item) FIRST,
    * then HOT BASKETS are capped to `maxBasket` items via the two-phase
    * deterministic subset ([[graft.ops.Prep.capPerKey]] — hash-salted
    * rank, so the 10⁵-item bot/aggregator basket fans over 256 window
    * partitions while being trimmed): the pair self-join is bounded by
    * Σ_b min(|items_b|, maxBasket)², and one pathological basket can no
    * longer contribute 10¹⁰ pairs (the quadratic term a real
    * clickstream's hottest basket WILL hit — such baskets are crawl/bot
    * artifacts carrying no preference signal, which is why production
    * item-CF caps them; Linden et al. 2003 §"Scalability" notes the same
    * mitigation). The DEFAULT cap is ADAPTIVE ([[AdaptiveBasketCap]]):
    * one quantile probe over the already-materialized incidence relation
    * reads the basket-size p99 and sets
    * cap = max([[AdaptiveBasketFloor]], ⌈p99 × [[AdaptiveBasketMargin]]⌉)
    * — on organic data the cap sits far above every real basket (zero
    * trimming, plan unchanged), while a planted 10⁵-item bot basket is
    * cut to the corpus' own scale instead of a static 10⁴ that still
    * admits ~5·10⁷ pairs (the round-11 watch-item). p99, not p99.9: the
    * interpolated percentile needs the outlier OUTSIDE the quantile's
    * rank gap, so p99 isolates a single bot from ~100 baskets up where
    * p99.9 needs ~1000 (below ~100 baskets pass an explicit cap — the
    * probe cannot tell a bot from the tail there). The probe is one
    * driver-side scalar off a baskets-sized aggregate — control-plane,
    * like the IVF centroid read. Item counts are taken AFTER the cap so
    * sim stays an internally consistent cosine (n_ab ≤ min(n_i, n_j)
    * always); an explicit `maxBasket` pins the cap (production crawls:
    * ~10³); `maxBasket = Int.MaxValue` disables the pre-pass entirely.
    * Counts
    * broadcast back (`broadcastCounts = false` switches to a shuffle
    * join when the item vocabulary is unbounded — the N42 discipline).
    * Determinism: the capped subset is the md5-ranked prefix (engine-
    * reproducible); sim is one fixed IEEE sequence (√·√, ×, ÷) rounded
    * 9 dp; rank ties break by neighbor id.
    * Returns (item, neighbor, n_ab, n_i, n_j, sim, rank).
    */
  /** Sentinel `maxBasket`: derive the cap from the basket-size p99. */
  val AdaptiveBasketCap: Int = -1

  /** Smallest adaptive cap — protects small/skewed corpora where the
    * p99 itself is tiny (a legitimate 200-item basket in a 50-basket
    * corpus must not trim).
    */
  val AdaptiveBasketFloor: Int = 1024

  /** Headroom over the p99: organic tails (heavy buyers, power users)
    * clear it; a bot basket orders of magnitude past the distribution
    * does not.
    */
  val AdaptiveBasketMargin: Int = 8

  def itemCfNeighbors(df: DataFrame, basketCol: String, itemCol: String,
      topK: Int, broadcastCounts: Boolean = true,
      maxBasket: Int = AdaptiveBasketCap): DataFrame = {
    // materialized once: the incidence relation feeds the cap probe,
    // both pair-join sides and the item counts — without this every
    // consumer replays the upstream (and the probe would pay it twice).
    // The checkpoint keeps no hash layout, so the pair self-join still
    // exchanges on __b. (eval_map_at_k's residual 9–17 s run-to-run
    // spread survives every plan pinning tried — a broadcast hint, a
    // repartition by basket — across identical fresh JVMs, so it is
    // JVM-level JIT/GC variance on the decimal-heavy scoring aggregate,
    // not a join-strategy flip.)
    val present0 = df
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct().localCheckpoint()
    // pay-per-use cap: oversized baskets are found by one partial-
    // aggregable count probe over the materialized blocks (their id set
    // is tiny by construction — at most N/maxBasket). The common
    // all-clean corpus pays ONLY that probe and keeps the uncapped plan;
    // otherwise the oversized ids broadcast and only their rows pay the
    // two-phase rank.
    val present =
      if (maxBasket == Int.MaxValue) present0
      else {
        val sizes0 = present0.groupBy("__b").agg(count(lit(1)).as("__bn"))
        // adaptive default: the quantile probe and the oversized filter
        // read the same baskets-sized aggregate once (checkpointed)
        val sizes =
          if (maxBasket == AdaptiveBasketCap) sizes0.localCheckpoint()
          else sizes0
        val cap =
          if (maxBasket != AdaptiveBasketCap) maxBasket
          else {
            val p = sizes.agg(expr("percentile(__bn, 0.99)").as("p"))
              .head()
            val p99 = if (p.isNullAt(0)) 0.0 else p.getDouble(0)
            math.min(Int.MaxValue.toLong,
              math.max(AdaptiveBasketFloor.toLong,
                math.ceil(p99 * AdaptiveBasketMargin).toLong)).toInt
          }
        val over = sizes.filter(col("__bn") > cap).select("__b")
        if (over.isEmpty) present0
        else {
          val trimmed = Prep.capPerKey(
              present0.join(broadcast(over), Seq("__b"), "left_semi"),
              Seq("__b"), "__i", cap)
            .drop("sample_rank")
          present0.join(broadcast(over), Seq("__b"), "left_anti")
            .unionByName(trimmed)
        }
      }
    val itemCounts = present.groupBy(col("__i")).agg(count(lit(1)).as("n"))
    val pairs = present.as("l")
      .join(present.as("r"), col("l.__b") === col("r.__b") &&
        col("l.__i") < col("r.__i"))
      .groupBy(col("l.__i").as("a"), col("r.__i").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val oriented = pairs
      .select(col("a").as("item"), col("b").as("neighbor"), col("n_ab"))
      .unionByName(pairs
        .select(col("b").as("item"), col("a").as("neighbor"), col("n_ab")))
    def hinted(d: DataFrame) = if (broadcastCounts) broadcast(d) else d
    val w = Window.partitionBy("item")
      .orderBy(col("sim").desc, col("neighbor"))
    oriented
      .join(hinted(itemCounts.select(col("__i").as("item"),
        col("n").as("n_i"))), Seq("item"))
      .join(hinted(itemCounts.select(col("__i").as("neighbor"),
        col("n").as("n_j"))), Seq("neighbor"))
      .withColumn("sim",
        round(col("n_ab").cast("double") /
          (sqrt(col("n_i")) * sqrt(col("n_j"))), 9))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("item"), col("neighbor"), col("n_ab"), col("n_i"),
        col("n_j"), col("sim"), col("rank"))
  }

  /** Per-key temporal seasonality profile — the when-do-they-show-up
    * feature block (peak activity hour, how concentrated, weekend lean)
    * that turns raw timestamps into model inputs.
    *
    * Calendar semantics stay ENGINE-NEUTRAL integers: hour =
    * (epoch_µs mod 86400·10⁶) div 3600·10⁶ (UTC), day-of-week =
    * (epoch_day + 4) mod 7 with 0 = Sunday (epoch day 0 was a Thursday) —
    * never `dayofweek`/`hour` calendar functions, whose week-start and
    * timezone conventions differ across engines. Peak ties break to the
    * earliest hour via the (count desc, hour) window order.
    *
    * Shape at scale: the stream collapses to (key, hour) counts in one
    * partial-aggregable group-by; the peak window and the hours-active
    * count run over THAT ≤24-rows-per-key relation; the per-key totals
    * aggregate shares the same key exchange. Returns (key, n_events,
    * n_hours, peak_hour, peak_n, peak_share, weekend_share).
    */
  def seasonalityProfile(df: DataFrame, keyCol: String, tsCol: String)
      : DataFrame = {
    val us = unix_micros(col(tsCol))
    val day = floor(us / lit(86400000000L)).cast("long")
    val base = df.select(col(keyCol),
      // pmod, not %: keeps the hour in [0,23] for pre-1970 timestamps,
      // the same discipline dow already uses
      floor(pmod(us, lit(86400000000L)) / lit(3600000000L)).cast("long")
        .as("__hour"),
      pmod(day + 4, lit(7L)).as("__dow"))
    val perKey = base.groupBy(keyCol)
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("__dow").isin(0L, 6L), 1L).otherwise(0L))
          .as("__n_weekend"))
    val hourCounts = base.groupBy(col(keyCol), col("__hour"))
      .agg(count(lit(1)).as("__c"))
    val peak = hourCounts
      .withColumn("__rn", row_number().over(
        Window.partitionBy(keyCol).orderBy(col("__c").desc, col("__hour"))))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("__hour").as("peak_hour"),
        col("__c").as("peak_n"))
    val nHours = hourCounts.groupBy(keyCol).agg(count(lit(1)).as("n_hours"))
    perKey.join(nHours, Seq(keyCol)).join(peak, Seq(keyCol))
      .select(col(keyCol), col("n_events"), col("n_hours"),
        col("peak_hour"), col("peak_n"),
        round(col("peak_n").cast("double") / col("n_events"), 9)
          .as("peak_share"),
        round(col("__n_weekend").cast("double") / col("n_events"), 9)
          .as("weekend_share"))
  }

  /** Seasonal-naive forecast audit: predict each day's event count with
    * the same weekday one week earlier and report the per-day absolute
    * error — THE baseline every fancy forecaster must beat (and the
    * capacity-planning sanity check that catches regime shifts: MAE
    * jumping means the weekly rhythm broke). Integer counts end to end;
    * days without a d−7 observation carry a NULL forecast.
    *
    * The stream collapses to the per-day count grid in one shuffle; the
    * lag is a self-join of that ≤days-row grid on day−7.
    */
  def seasonalNaive(df: DataFrame, tsCol: String,
      seasonDays: Int = 7): DataFrame = {
    val day = floor(unix_micros(col(tsCol)) / lit(86400000000L))
      .cast("long")
    val daily = df.groupBy(day.as("day")).agg(count(lit(1)).as("actual"))
    daily
      .join(daily.select((col("day") + seasonDays).as("day"),
        col("actual").as("forecast")), Seq("day"), "left_outer")
      .withColumn("abs_err",
        when(col("forecast").isNotNull,
          abs(col("actual") - col("forecast"))))
  }

  /** Exact floor division for BIGINT expressions (any-sign numerator,
    * positive divisor), HOF-lambda-safe: `(x − pmod(x, d)) div d` — the
    * numerator is exactly divisible so the truncating `div` IS the floor
    * quotient, and everything stays integral (no 2⁵³ double ceiling).
    */
  private def fdivL(x: Column, d: Column): Column =
    call_function("div", x - pmod(x, d), d)

  /** Additive Holt–Winters (triple exponential smoothing; Winters 1960,
    * "Forecasting Sales by Exponentially Weighted Moving Averages") over
    * the daily event-count series — the trend+seasonality upgrade of the
    * [[seasonalNaive]] baseline. The coupled level/trend/seasonal
    * recursion has NO prefix-sum identity (the reason this stayed
    * unbuilt through round 12), so the contract is an EXPLICIT BOUNDED
    * UNROLL over the day grid: the stream collapses to per-day counts in
    * ONE shuffle, the last `gridDays` days (zero-filled) pack into a
    * single ≤ `gridDays`-element array, and the recursion runs inside
    * one `aggregate` HOF evaluation on that one row — the bounded-grid
    * discipline of the binseg/PPR family, with the sequential dependence
    * honest instead of faked. gridDays is capped at 1000: this is a
    * CONTROL-PLANE computation (the model state is a handful of
    * integers), never row-scale work.
    *
    * NANO-INTEGER EXACTNESS: level/trend/seasonal live as integers in
    * units of 1e-9; smoothing weights are SMALL RATIONALS num/den (not
    * nano ints — a nano-α times a nano-state overflows BIGINT), and each
    * update is one integer linear combination followed by ONE floor
    * division by the small denominator:
    *   ℓ_t = ⌊(αn·(y_t·10⁹ − s_{t−m}) + (αd−αn)·(ℓ+b)) / αd⌋
    *   b_t = ⌊(βn·(ℓ_t − ℓ) + (βd−βn)·b) / βd⌋
    *   s_t = ⌊(γn·(y_t·10⁹ − ℓ_t) + (γd−γn)·s_{t−m}) / γd⌋
    * so the whole fit is bit-identical on any engine/partitioning (the
    * DuckDB twin is a recursive CTE with the same pmod-floor spelling).
    * Bound: |state| ≤ ~maxDailyCount·10⁹, so daily counts must stay
    * below ~9·10¹⁸/(10⁹·den) ≈ 9·10⁸/den — comfortably above any real
    * per-day event count; DECIMAL(38,0) is the upgrade path beyond.
    *
    * Init (classic): ℓ₀ = ⌊Σ_{first season} y·10⁹ / m⌋, b₀ = 0,
    * s_i = y_i·10⁹ − ℓ₀. Returns one row per day AFTER the first season:
    * (day, actual, forecast_nano = ℓ+b+s_{t−m} BEFORE seeing y_t,
    * level_nano, trend_nano, season_nano) — all exact BIGINTs.
    */
  def holtWinters(df: DataFrame, tsCol: String, season: Int = 7,
      gridDays: Int = 70, alphaNum: Int = 3, alphaDen: Int = 10,
      betaNum: Int = 1, betaDen: Int = 10, gammaNum: Int = 2,
      gammaDen: Int = 10): DataFrame = {
    val day = floor(unix_micros(col(tsCol)) / lit(86400000000L))
      .cast("long")
    holtWintersDaily(
      df.groupBy(day.as("__day")).agg(count(lit(1)).as("__y")),
      season, gridDays, alphaNum, alphaDen, betaNum, betaDen,
      gammaNum, gammaDen)
  }

  /** [[holtWinters]] on a pre-aggregated (`__day`, `__y`) relation —
    * the seam that lets the BIGINT overflow guard be spec-driven with
    * synthetic counts no real event stream could produce.
    */
  private[graft] def holtWintersDaily(daily: DataFrame, season: Int,
      gridDays: Int, alphaNum: Int, alphaDen: Int, betaNum: Int,
      betaDen: Int, gammaNum: Int, gammaDen: Int): DataFrame = {
    require(season >= 1 && gridDays > season && gridDays <= 1000,
      "holtWinters: need season >= 1 and season < gridDays <= 1000")
    require(alphaDen > 0 && betaDen > 0 && gammaDen > 0 &&
      alphaNum >= 0 && alphaNum <= alphaDen && betaNum >= 0 &&
      betaNum <= betaDen && gammaNum >= 0 && gammaNum <= gammaDen,
      "holtWinters: smoothing rationals must lie in [0, 1]")
    val N = lit(1000000000L)
    // BIGINT overflow gate: each update is a linear combination with
    // coefficients ≤ den over nano-state whose magnitude tracks
    // ~2·maxY·10⁹, so maxY beyond Long.Max/(10⁹·maxDen·8) could wrap
    // SILENTLY mid-recursion. Fail loudly at execution instead (the
    // lossReweight/minSeed discipline); [[holtWintersMult]]'s
    // DECIMAL(38,0) state is the widening past this bound.
    val maxDen = Seq(alphaDen, betaDen, gammaDen).max
    val yBound = Long.MaxValue / 1000000000L / maxDen / 8L
    val grid = daily.agg(max("__day").as("__maxd"))
      .select(explode(sequence(col("__maxd") - (gridDays - 1),
        col("__maxd"))).as("__day"))
      .join(daily, Seq("__day"), "left")
      .select(col("__day"), coalesce(col("__y"), lit(0L)).as("__y"))
    // ONE row: the ordered (day, count) array + the exact init state;
    // __l0 routes through the overflow gate so a too-large daily count
    // raises before any wrapped arithmetic can leave the plan
    val packed = grid
      .agg(array_sort(collect_list(struct(col("__day"), col("__y"))))
        .as("__g"), max(col("__y")).as("__my"))
      .select(col("__g"),
        // coalesce: EMPTY input leaves max(__y) NULL, and a NULL gate
        // predicate would fall into raise_error — empty stays a no-op
        when(coalesce(col("__my"), lit(0L)) <= yBound,
          fdivL(aggregate(slice(col("__g"), 1, season), lit(0L),
            (acc, e) => acc + e.getField("__y") * N), lit(season.toLong)))
          .otherwise(raise_error(concat(
            lit("holtWinters: max daily count "), col("__my"),
            lit(s" exceeds the BIGINT nano-state bound $yBound — use " +
              "holtWintersMult's DECIMAL(38,0) recursion"))))
          .as("__l0"))
      .select(col("__g"), col("__l0"),
        transform(slice(col("__g"), 1, season),
          e => e.getField("__y") * N - col("__l0")).as("__s0"))
    val outType = "array<struct<day:bigint,actual:bigint," +
      "forecast_nano:bigint,level_nano:bigint,trend_nano:bigint," +
      "season_nano:bigint>>"
    def step(st: Column, e: Column): Column = {
      val yN = e.getField("__y") * N
      val l = st.getField("l"); val b = st.getField("b")
      val sHead = element_at(st.getField("s"), 1)
      val fc = l + b + sHead
      val l1 = fdivL(lit(alphaNum.toLong) * (yN - sHead) +
        lit((alphaDen - alphaNum).toLong) * (l + b),
        lit(alphaDen.toLong))
      val b1 = fdivL(lit(betaNum.toLong) * (l1 - l) +
        lit((betaDen - betaNum).toLong) * b, lit(betaDen.toLong))
      val s1 = fdivL(lit(gammaNum.toLong) * (yN - l1) +
        lit((gammaDen - gammaNum).toLong) * sHead,
        lit(gammaDen.toLong))
      struct(l1.as("l"), b1.as("b"),
        concat(slice(st.getField("s"), 2, season - 1), array(s1))
          .as("s"),
        concat(st.getField("out"), array(struct(
          e.getField("__day").as("day"), e.getField("__y").as("actual"),
          fc.as("forecast_nano"), l1.as("level_nano"),
          b1.as("trend_nano"), s1.as("season_nano")))).as("out"))
    }
    val init = struct(col("__l0").as("l"), lit(0L).as("b"),
      col("__s0").as("s"), array().cast(outType).as("out"))
    packed
      .select(explode(aggregate(
        slice(col("__g"), season + 1, gridDays - season), init, step)
        .getField("out")).as("__o"))
      .select(col("__o.day").as("day"), col("__o.actual").as("actual"),
        col("__o.forecast_nano").as("forecast_nano"),
        col("__o.level_nano").as("level_nano"),
        col("__o.trend_nano").as("trend_nano"),
        col("__o.season_nano").as("season_nano"))
      .orderBy("day")
  }

  private val D38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Exact floor division for DECIMAL(38,0) expressions (any-sign
    * numerator, positive divisor): subtract the pmod first so the
    * decimal division is of an exactly-divisible numerator — its
    * rounding is vacuous and the result is the exact floor quotient
    * (the [[graft.ops.Linkage]] nano-EM spelling).
    */
  private def fdivD(x: Column, d: Column): Column =
    ((x - pmod(x, d)) / d).cast(D38)

  /** MULTIPLICATIVE-seasonality Holt–Winters (Winters 1960 §3's ratio
    * form) over the same bounded-unroll contract as the additive
    * [[holtWinters]] — for series whose seasonal swing scales with the
    * level (a 2× traffic level doubles the weekday/weekend gap too):
    *   ℓ_t = α·y_t/s_{t−m} + (1−α)(ℓ+b),
    *   s_t = γ·y_t/ℓ_t + (1−γ)s_{t−m},  forecast = (ℓ+b)·s_{t−m}.
    *
    * POSITIVITY: the ratio form is undefined on zero data (a zero
    * first season puts 0 in every denominator and the level explodes on
    * the first real observation — measured: 40 leading zero-filled days
    * at sf0.001 drove state past 10¹⁹). Two standard moves, both
    * mirrored in the oracle: the grid ANCHORS at the first observed day
    * (never padding the model's warm-up season with synthetic zeros),
    * and the model fits the +1-SHIFTED series y′ = y + 1 (interior
    * zero days stay positive); the reported forecast subtracts the
    * shift back, and the state columns describe y′.
    *
    * DECIMAL(38,0) NANO-INTEGER STATE — the widening the additive
    * variant's BIGINT guard points at: level/trend in nano units,
    * seasonal RATIOS in nano (1.0 = 10⁹), and each ratio observation is
    * ONE exact floor division of y′·10¹⁸ by the positive state
    * (`greatest(·, 1)` backstops degeneracy). Products stay ≤ ~10³⁰
    * for daily counts ≤ 10⁶ at any seasonal amplitude the anchored
    * positive series can produce, far inside precision 38, and every
    * step is integer linear combination + pmod-floor division —
    * bit-identical on any engine (DuckDB twin: HUGEINT + the pmod
    * identity; `//` truncates, so negatives never reach it raw).
    *
    * Init: ℓ₀ = ⌊Σ_{first season} y′·10⁹ / m⌋, b₀ = 0,
    * s_i = ⌊y′_i·10¹⁸ / max(ℓ₀, 1)⌋. Returns one row per day after the
    * first season: (day, actual, forecast_nano = (ℓ+b)·s/10⁹ − 10⁹,
    * level_nano, trend_nano, season_ratio_nano) — BIGINTs at the query
    * edge (exact below 9.2·10¹⁸; the recursion itself never leaves
    * DECIMAL(38,0)).
    */
  def holtWintersMult(df: DataFrame, tsCol: String, season: Int = 7,
      gridDays: Int = 70, alphaNum: Int = 3, alphaDen: Int = 10,
      betaNum: Int = 1, betaDen: Int = 10, gammaNum: Int = 2,
      gammaDen: Int = 10): DataFrame = {
    val day = floor(unix_micros(col(tsCol)) / lit(86400000000L))
      .cast("long")
    holtWintersMultDaily(
      df.groupBy(day.as("__day")).agg(count(lit(1)).as("__y")),
      season, gridDays, alphaNum, alphaDen, betaNum, betaDen,
      gammaNum, gammaDen)
  }

  /** [[holtWintersMult]] on a pre-aggregated (`__day`, `__y`) relation
    * (the [[holtWintersDaily]] spec seam).
    */
  private[graft] def holtWintersMultDaily(daily: DataFrame, season: Int,
      gridDays: Int, alphaNum: Int, alphaDen: Int, betaNum: Int,
      betaDen: Int, gammaNum: Int, gammaDen: Int): DataFrame = {
    require(season >= 1 && gridDays > season && gridDays <= 1000,
      "holtWintersMult: need season >= 1 and season < gridDays <= 1000")
    require(alphaDen > 0 && betaDen > 0 && gammaDen > 0 &&
      alphaNum >= 0 && alphaNum <= alphaDen && betaNum >= 0 &&
      betaNum <= betaDen && gammaNum >= 0 && gammaNum <= gammaDen,
      "holtWintersMult: smoothing rationals must lie in [0, 1]")
    def dl(v: Long): Column = lit(v).cast(D38)
    val E9 = dl(1000000000L)
    val one = dl(1L)
    // anchored grid: never before the first OBSERVED day (synthetic
    // zero-padding a warm-up season is what detonates the ratio form)
    val grid = daily
      .agg(max("__day").as("__maxd"), min("__day").as("__mind"))
      .select(explode(sequence(
        greatest(col("__maxd") - (gridDays - 1), col("__mind")),
        col("__maxd"))).as("__day"))
      .join(daily, Seq("__day"), "left")
      .select(col("__day"), coalesce(col("__y"), lit(0L)).as("__y"))
    // y′ = y + 1 everywhere the MODEL sees a count; `actual` stays y
    def yp(e: Column): Column = (e.getField("__y") + 1L).cast(D38)
    // edge-cast overflow gate (the additive variant's yBound discipline
    // widened to this form's failure mode): the DECIMAL(38,0) recursion
    // itself cannot wrap, but the query-edge cast to BIGINT silently
    // NULLs state past Long.Max while the DuckDB twin's HUGEINT→BIGINT
    // cast errors. Level tracks ~maxY·10⁹ and forecast adds the trend/
    // season amplification, so gate maxY at Long.Max/10⁹/8 — loud
    // raise_error instead of silent-wrong + engine divergence.
    val yBoundM = Long.MaxValue / 1000000000L / 8L
    val packed = grid
      .agg(array_sort(collect_list(struct(col("__day"), col("__y"))))
        .as("__g"), max(col("__y")).as("__my"))
      .select(col("__g"),
        when(coalesce(col("__my"), lit(0L)) <= yBoundM,
          fdivD(aggregate(slice(col("__g"), 1, season), dl(0L),
            (acc, e) => (acc + yp(e) * E9).cast(D38)),
            dl(season.toLong)))
          .otherwise(raise_error(concat(
            lit("holtWintersMult: max daily count "), col("__my"),
            lit(s" exceeds the BIGINT query-edge bound $yBoundM"))))
          .as("__l0"))
      .select(col("__g"), col("__l0"),
        transform(slice(col("__g"), 1, season),
          e => fdivD(yp(e) * E9 * E9, greatest(col("__l0"), one)))
          .as("__s0"))
    val outType = "array<struct<day:bigint,actual:bigint," +
      "forecast_nano:decimal(38,0),level_nano:decimal(38,0)," +
      "trend_nano:decimal(38,0),season_ratio_nano:decimal(38,0)>>"
    def step(st: Column, e: Column): Column = {
      val yE = (yp(e) * E9).cast(D38) * E9
      val l = st.getField("l"); val b = st.getField("b")
      val sHead = element_at(st.getField("s"), 1)
      val fc = fdivD(((l + b).cast(D38) * sHead).cast(D38), E9)
      val dLev = fdivD(yE, greatest(sHead, one))
      val l1 = fdivD(dl(alphaNum.toLong) * dLev +
        dl((alphaDen - alphaNum).toLong) * (l + b), dl(alphaDen.toLong))
      val b1 = fdivD(dl(betaNum.toLong) * (l1 - l) +
        dl((betaDen - betaNum).toLong) * b, dl(betaDen.toLong))
      val rat = fdivD(yE, greatest(l1, one))
      val s1 = fdivD(dl(gammaNum.toLong) * rat +
        dl((gammaDen - gammaNum).toLong) * sHead, dl(gammaDen.toLong))
      struct(l1.as("l"), b1.as("b"),
        concat(slice(st.getField("s"), 2, season - 1), array(s1))
          .as("s"),
        concat(st.getField("out"), array(struct(
          e.getField("__day").as("day"), e.getField("__y").as("actual"),
          fc.as("forecast_nano"), l1.as("level_nano"),
          b1.as("trend_nano"), s1.as("season_ratio_nano")))).as("out"))
    }
    val init = struct(col("__l0").as("l"), dl(0L).as("b"),
      col("__s0").as("s"), array().cast(outType).as("out"))
    packed
      .select(explode(aggregate(
        slice(col("__g"), season + 1, gridDays - season), init, step)
        .getField("out")).as("__o"))
      .select(col("__o.day").as("day"), col("__o.actual").as("actual"),
        // subtract the +1 shift back (in nano) so the forecast is of y
        (col("__o.forecast_nano") - lit(1000000000L)).cast("long")
          .as("forecast_nano"),
        col("__o.level_nano").cast("long").as("level_nano"),
        col("__o.trend_nano").cast("long").as("trend_nano"),
        col("__o.season_ratio_nano").cast("long")
          .as("season_ratio_nano"))
      .orderBy("day")
  }

  /** Per-key behavioral entropy: Shannon entropy (nats) of the key's
    * event-type distribution — the "how varied is this user" feature
    * (bots and single-purpose scripts sit near 0; explorers near
    * ln(n_types)), the per-key sibling of the per-column
    * [[graft.quality.Profiler]] entropy.
    *
    * One (key, type) count shuffle + the per-key total on the same key
    * exchange. Determinism: the [[cooccurrencePmi]] log discipline —
    * p = c/n is one IEEE division, each term round(p·ln p, 9) sums in
    * exact DECIMAL, negated at the end. Returns
    * (key, n_events, n_types, entropy_nats).
    */
  def behaviorEntropy(df: DataFrame, keyCol: String, typeCol: String)
      : DataFrame = {
    val d9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val counts = df.groupBy(col(keyCol), col(typeCol).as("__t"))
      .agg(count(lit(1)).as("__c"))
    val p = col("__c").cast("double") / col("n_events")
    counts
      .withColumn("n_events",
        sum("__c").over(Window.partitionBy(col(keyCol))))
      .groupBy(col(keyCol), col("n_events"))
      .agg(count(lit(1)).as("n_types"),
        sum(round(p * log(p), 9).cast(d9)).as("__s"))
      .select(col(keyCol), col("n_events"), col("n_types"),
        // + 0.0 canonicalizes the -0.0 a single-type key's negation yields
        (-col("__s").cast("double") + lit(0.0)).as("entropy_nats"))
  }

  /** Time-to-event (survival) label generation: anchor the observation
    * point at `maxTs − horizonUs`, take every key with activity AT OR
    * BEFORE the anchor as the at-risk population, and label each with the
    * time to its first qualifying event inside the horizon — or censor at
    * the horizon (event = 0) if none arrives. The right-censored labels a
    * churn/conversion-timing model trains on; plain churn flags (N123)
    * are the degenerate "did it happen at all" projection of these.
    *
    * Keys first seen AFTER the anchor are excluded (they were never at
    * risk — the same survivorship guard as churnLabels). All arithmetic
    * is integer epoch-micros; one group-by for the population, one
    * filtered min-aggregate for first qualifying events, one key join.
    * Returns (key, n_prior, duration_us, event).
    */
  def survivalLabels(df: DataFrame, keyCol: String, tsCol: String,
      qualifying: Column, horizonUs: Long): DataFrame = {
    require(horizonUs > 0, s"horizonUs must be positive: $horizonUs")
    val us = unix_micros(col(tsCol))
    val anchor = df.agg((max(us) - horizonUs).as("__anchor"))
    val tagged = df.crossJoin(broadcast(anchor))
    val atRisk = tagged.filter(us <= col("__anchor"))
      .groupBy(keyCol).agg(count(lit(1)).as("n_prior"),
        max(col("__anchor")).as("__a"))
    val firstEvent = tagged
      .filter(qualifying && us > col("__anchor")
        && us <= col("__anchor") + horizonUs)
      .groupBy(keyCol).agg(min(us).as("__t_event"))
    atRisk.join(firstEvent, Seq(keyCol), "left_outer")
      .select(col(keyCol), col("n_prior"),
        when(col("__t_event").isNotNull, col("__t_event") - col("__a"))
          .otherwise(horizonUs).as("duration_us"),
        when(col("__t_event").isNotNull, 1L).otherwise(0L).as("event"))
  }

  /** Trailing-window z-score anomaly detection: each event scored against
    * its key's OWN history inside the trailing event-time window
    * (`rangeBetween(-window, -1)` — the current row and its exact-ts peers
    * are excluded, so a spike can't dampen its own baseline). The
    * streaming-shaped "is this value weird for THIS user" check that a
    * global outlier rule ([[graft.quality.DataQualityValidator]] IQR/MAD)
    * can't answer.
    *
    * Determinism: values quantize to exact integer micro-units
    * (round 6 dp → DECIMAL → ×10⁶), so the trailing Σv, Σv² and the
    * variance NUMERATOR n·Σv² − (Σv)² are exact integers on any engine —
    * a rounded-double variance sits on rounding boundaries whose last ulp
    * differs between engines' round() implementations (measured). The
    * variance, mean, sqrt and z then spend one fixed IEEE sequence each;
    * sqrt is correctly-rounded on every IEEE engine. Windows with fewer
    * than `minEvents` priors or zero variance yield NULL z (cold start is
    * unknown, not anomalous). One key-window shuffle; RANGE frames keep
    * the horizon density-independent ([[graft.ops.Prep
    * .rollingTimeFeatures]] discipline).
    */
  def rollingAnomaly(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, windowMicros: Long, minEvents: Int): DataFrame = {
    val decBig = org.apache.spark.sql.types.DecimalType(38, 0)
    val v6 = (round(col(valueCol), 6)
      .cast(org.apache.spark.sql.types.DecimalType(18, 6)) * 1000000)
      .cast("long")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(unix_micros(col(tsCol)))
      .rangeBetween(-windowMicros, -1)
    val scored = df
      .withColumn("__v6", v6)
      .withColumn("__n", count(col("__v6")).over(w))
      .withColumn("__s6", sum(col("__v6")).over(w))
      // widen BEFORE the multiply (mirrors the oracle's
      // CAST(v6 AS HUGEINT) * v6): a Long*Long square wraps silently for
      // |value| > ~3035 with ANSI off, while DECIMAL(38,0)*Long is exact
      .withColumn("__s2",
        sum(col("__v6").cast(decBig) * col("__v6")).over(w))
      // exact integer numerator; the division below is the first IEEE op
      .withColumn("__varnum",
        col("__n").cast(decBig) * col("__s2")
          - col("__s6").cast(decBig) * col("__s6").cast(decBig))
      .withColumn("__mean",
        col("__s6").cast("double")
          / (col("__n").cast("double") * lit(1000000.0)))
      .withColumn("__var",
        col("__varnum").cast("double")
          / (col("__n").cast("double") * col("__n")
            * lit(1000000000000.0)))
    scored
      // NO display rounding: the variance of 6-dp values is an exact
      // 12-dp decimal, so it often sits exactly ON round-half boundaries
      // where engines' round() disagree in the last ulp (measured); the
      // unrounded double is already bit-identical (exact integer
      // numerator, deterministic denominator product)
      .withColumn("var_window", col("__var"))
      .withColumn("z",
        when(col("__n") >= minEvents && col("__varnum") > 0,
          round((col(valueCol) - col("__mean")) / sqrt(col("__var")), 6)))
      .withColumn("is_anomaly", when(col("z").isNotNull, abs(col("z")) > 2.0))
      .drop("__v6", "__s6", "__s2", "__varnum", "__mean", "__var")
      .withColumnRenamed("__n", "n_window")
  }

  /** RFM scoring — the classic customer-value feature triple: recency
    * (days since the key's last event, against the stream's max timestamp
    * as the anchor), frequency (event count) and monetary (exact-DECIMAL
    * value sum), each bucketed into `buckets` quantile scores by `ntile`
    * with 5 = best (most recent / most frequent / highest spend), plus the
    * combined `rfm_code` = 100·r + 10·f + m.
    *
    * Shape at scale: the stream collapses to ONE row per key in a single
    * partial-aggregable group-by; every banding after that runs over the
    * per-key relation (cardinality = distinct keys, not events), which is
    * localCheckpoint'd and SIZE-DISPATCHED ([[graft.ops.SaltedGrid
    * .ntileCutoff]]): a bounded key set takes the single-task window (the
    * fastest plan for bounded input), a row-scale one takes the SALTED
    * global rank ([[graft.ops.SaltedGrid.rankWithEdges]]) pushed through
    * the [[graft.ops.SaltedGrid.ntileBand]] integer split, so billions of
    * distinct keys never serialize into ONE task's sort at 100 TB. On the
    * salted path the three rankings' percentile-edge arrays come from ONE
    * aggregation pass instead of one edge scan per score, and
    * frequency/recency's MODAL values (half the keys sharing frequency 1
    * is the norm) fan out over tie-sub-salted buckets instead of one
    * window task. Ties break by key so the buckets are engine-stable and
    * hash-identical to an `NTILE(buckets) OVER (ORDER BY …, key)` oracle
    * on BOTH paths; a key whose value column is all-NULL (NULL monetary)
    * or timestamps all-NULL (NULL recency) sorts FIRST in its ranking —
    * Spark's ascending NULLS FIRST window semantics, which the salted
    * rank reproduces exactly (a DuckDB oracle over such data needs an
    * explicit `NULLS FIRST`).
    */
  def rfm(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      buckets: Int = 5): DataFrame = {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val us = unix_micros(col(tsCol))
    val anchor = df.agg(max(us).as("__anchor"))
    val perKey = df.groupBy(keyCol)
      .agg(max(us).as("__last"), count(lit(1)).as("frequency"),
        sum(round(col(valueCol), 6).cast(dec6)).cast("double")
          .as("monetary"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        floor((col("__anchor") - col("__last")) / lit(86400000000L))
          .cast("long"))
      .drop("__anchor", "__last")
    val pk = perKey.localCheckpoint()
    // size dispatch (SaltedGrid.ntileCutoff): the per-key relation is
    // materialized, so the count is a cached-block pass. Below the cutoff
    // a single-task window over the BOUNDED relation wins outright; above
    // it, the salted grid is the only plan that finishes — and the two
    // are spec-pinned hash-identical, so scale can never move a band.
    val scored =
      if (pk.count() <= SaltedGrid.ntileCutoff(df.sparkSession)) {
        def band(d: DataFrame, name: String, ord: Column) =
          d.withColumn(name, ntile(buckets)
            .over(Window.orderBy(ord, col(keyCol))).cast("long"))
        band(band(band(pk,
          "r_score", negate(col("recency_days"))),
          "f_score", col("frequency")),
          "m_score", col("monetary"))
      } else {
        val qs = (1 until 64).map(_.toDouble / 64)
        def pa(c: Column) =
          percentile_approx(c, array(qs.map(lit): _*), lit(10000))
        // ONE edge pass shared by all three rankings (each a tie-salted
        // rank — frequency/recency are MODAL columns, exactly the hot-tie
        // shape); per-score checkpoints keep the lineage linear so each
        // ranking's passes re-read materialized blocks
        val edges3 = pk.agg(pa(negate(col("recency_days"))).as("__e_r"),
            pa(col("frequency")).as("__e_f"),
            pa(col("monetary")).as("__e_m"))
          .localCheckpoint()
        def addScore(d: DataFrame, name: String, ord: Column, e: String) =
          SaltedGrid.rankWithEdges(d, Nil, ord, Seq(col(keyCol)),
              edges3.select(col(e).as("__edges")), buckets = 64,
              materialize = false)
            .withColumn(name,
              SaltedGrid.ntileBand(col("__rank"), col("__n"), buckets))
            .drop("__rank", "__n", "__salt")
            .localCheckpoint()
        addScore(addScore(addScore(pk,
          "r_score", negate(col("recency_days")), "__e_r"),
          "f_score", col("frequency"), "__e_f"),
          "m_score", col("monetary"), "__e_m")
      }
    scored.withColumn("rfm_code",
      col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }

  /** Per-key Fano factor (index of dispersion) over daily activity
    * counts — the burstiness read that separates metronomic bots
    * (variance ≪ mean ⇒ F → 0), Poisson-ish humans (F ≈ 1), and bursty
    * campaign/scraper traffic (F ≫ 1). Complements [[behaviorEntropy]]:
    * entropy reads WHAT a key does, the Fano factor reads WHEN.
    *
    * All-integer discipline: per-(key, day) counts collapse in one
    * shuffle; F = var/mean = (n·Σc² − (Σc)²)/(n·Σc) is ONE rational of
    * integer sums (Σc² carried in DECIMAL(38,0) — a hot key's daily
    * count squares past a Long at 100 TB) spending ONE IEEE division
    * rounded 9 dp. Days with zero events count as gaps, not zeros —
    * the denominator n is OBSERVED days (document: the zero-inclusive
    * variant needs the key's calendar span joined in; at daily grain
    * over active keys the observed-days read is the standard one).
    * Returns (key, n_days, n_events, mean_per_day, fano).
    */
  def fanoBurstiness(df: DataFrame, keyCol: String, tsUsCol: String)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val big = DecimalType(38, 0)
    df.groupBy(col(keyCol).as("key"),
        floor(col(tsUsCol) / lit(86400000000L)).cast("long").as("__d"))
      .agg(count(lit(1)).as("__c"))
      .groupBy("key")
      .agg(count(lit(1)).as("n_days"), sum(col("__c")).as("n_events"),
        sum(col("__c").cast(big) * col("__c")).as("__ss"))
      .select(col("key"), col("n_days"), col("n_events"),
        round(col("n_events").cast("double") / col("n_days"), 9)
          .as("mean_per_day"),
        round((col("n_days").cast(big) * col("__ss") -
            col("n_events").cast(big) * col("n_events").cast(big))
          .cast("double") /
          (col("n_days").cast(big) * col("n_events")).cast("double"), 9)
          .as("fano"))
  }

  /** CUSUM changepoint detection over the per-day count grid (Page
    * 1954) — the sequential level-shift alarm that catches what
    * [[theilSenTrend]]'s global slope and [[seasonalNaive]]'s one-lag
    * error both smear out: a persistent small shift accumulates in the
    * one-sided sums until it crosses the decision band. CUSUM's
    * recurrence s_d = max(0, s_{d−1} + (x_d − μ − k)) is not a window
    * function — but it has the prefix closed form
    * s_d = prefix(d) − min_{j≤d} prefix(j), so BOTH one-sided statistics
    * are two window passes over the bounded day grid (running sum +
    * running min/max), no recursion and no driver loop.
    *
    * Determinism discipline: μ = ONE division of integer count sums
    * rounded 9 dp; σ = ONE IEEE sqrt of the micro-unit integer variance
    * (irrational — safe to round); slack k = σ/2 and band h = 4σ spend
    * fixed IEEE steps; every per-day contribution (x − μ − k) rounds to
    * 9 dp and accumulates in exact DECIMAL prefix sums, so the whole
    * trace replays bit-identically in SQL. Corpus collapses to the day
    * grid in ONE shuffle; the windows run over that bounded relation.
    * Returns (day, n_events, cusum_pos, cusum_neg, alarm).
    */
  def cusumChangepoints(df: DataFrame, tsUsCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val D9 = DecimalType(28, 9)
    val daily = df
      .groupBy(floor(col(tsUsCol) / lit(86400000000L)).cast("long").as("d"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    // μ and σ from integer count sums (n·Σx² − (Σx)² stays integral —
    // carried in DECIMAL(38,0): a day at 10⁹ events squares past a Long)
    val big = DecimalType(38, 0)
    val stats = daily.agg(count(lit(1)).as("__n"), sum(col("c")).as("__s"),
        sum(col("c").cast(big) * col("c")).as("__ss"))
      .select(col("__n"),
        round(col("__s").cast("double") / col("__n"), 9).as("__mu"),
        round(sqrt((col("__n").cast(big) * col("__ss") -
            col("__s").cast(big) * col("__s").cast(big))
          .cast("double") / (col("__n") * col("__n"))), 9).as("__sigma"))
      .select(col("__mu"), col("__sigma"),
        round(col("__sigma") / 2.0, 9).as("__k"),
        round(col("__sigma") * 4.0, 9).as("__h"))
    val wOrd = Window.orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // contributions in NANO-UNIT integers (9-dp decimal × 10⁹): windowed
    // DECIMAL sums take a double fast-path in some engines — integer
    // prefix sums are exact everywhere, and the alarm compare stays
    // all-integer (the micro-unit quantization rule)
    def nano(x: org.apache.spark.sql.Column) =
      (round(x, 9).cast(D9) * lit(1000000000L)).cast("long")
    val contrib = daily.crossJoin(broadcast(stats))
      .withColumn("__up",
        nano(col("c").cast("double") - col("__mu") - col("__k")))
      .withColumn("__dn",
        nano(col("c").cast("double") - col("__mu") + col("__k")))
      .withColumn("__hn", nano(col("__h")))
      .withColumn("__pu", sum(col("__up")).over(wOrd))
      .withColumn("__pd", sum(col("__dn")).over(wOrd))
    // s⁺_d = pu(d) − min_{j≤d} pu(j) clamped at the zero start (prefix 0
    // participates via least/greatest with 0); s⁻ symmetric with max
    contrib
      .withColumn("__mpu", least(min(col("__pu")).over(wOrd), lit(0L)))
      .withColumn("__mpd", greatest(max(col("__pd")).over(wOrd), lit(0L)))
      .select(col("d").as("day"), col("c").as("n_events"),
        ((col("__pu") - col("__mpu")).cast("double") / 1e9)
          .as("cusum_pos"),
        ((col("__mpd") - col("__pd")).cast("double") / 1e9)
          .as("cusum_neg"),
        ((col("__pu") - col("__mpu") > col("__hn")) ||
          (col("__mpd") - col("__pd") > col("__hn"))).as("alarm"))
  }

  /** Theil–Sen robust trend over the per-day count grid (Theil 1950,
    * Sen 1968) — the slope a few anomalous days cannot move (29%
    * breakdown point vs least-squares' zero): slope = the LOWER MEDIAN
    * of all pairwise day-to-day slopes, intercept = the lower median of
    * the per-day residuals c − slope·d. The capacity-trend companion to
    * [[seasonalNaive]]: naive answers "is today like last week", this
    * answers "where is the level going" without outlier days steering.
    *
    * Determinism: pairwise slopes are single IEEE divisions of integer
    * counts/day-gaps (no summation anywhere), the median is an
    * order-statistic over (slope, d_a, d_b) — total order, engine-stable
    * — and the global sort window is legitimate because the relation is
    * DAYS²-bounded by construction (a decade of days is ~6.7M pairs,
    * model-sized; the corpus collapses to the day grid in ONE shuffle
    * first). Returns one row: (n_days, n_pairs, slope, intercept).
    */
  def theilSenTrend(df: DataFrame, tsUsCol: String): DataFrame = {
    val daily = df
      .groupBy(floor(col(tsUsCol) / lit(86400000000L)).cast("long").as("d"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val a = daily.select(col("d").as("da"), col("c").as("ca"))
    val b = daily.select(col("d").as("db"), col("c").as("cb"))
    val pairs = a.join(b, col("da") < col("db"))
      .select(col("da"), col("db"),
        ((col("cb") - col("ca")).cast("double") / (col("db") - col("da")))
          .as("__s"))
    val wS = Window.orderBy(col("__s"), col("da"), col("db"))
    val nP = pairs.agg(count(lit(1)).as("n_pairs"))
    val slope = pairs
      .withColumn("__rn", row_number().over(wS))
      .crossJoin(broadcast(nP))
      .filter(col("__rn") === expr("(n_pairs + 1) div 2"))
      .select(col("n_pairs"), col("__s").as("slope"))
    val nD = daily.agg(count(lit(1)).as("n_days"))
    val resid = daily.crossJoin(broadcast(slope))
      .select(col("n_pairs"), col("slope"), col("d"),
        (col("c").cast("double") - col("slope") * col("d")).as("__r"))
    val wR = Window.orderBy(col("__r"), col("d"))
    resid
      .withColumn("__rn", row_number().over(wR))
      .crossJoin(broadcast(nD))
      .filter(col("__rn") === expr("(n_days + 1) div 2"))
      .select(col("n_days"), col("n_pairs"),
        round(col("slope"), 9).as("slope"),
        round(col("__r"), 9).as("intercept"))
  }

  /** Per-key ordinary-least-squares trend — the "where is this entity's
    * level going" feature ([[theilSenTrend]] is the robust GLOBAL
    * companion; this is the per-entity least-squares version): slope,
    * intercept and R² of integer `y` on integer `x`, one row per key.
    *
    * Determinism: the six sufficient statistics (n, Σx, Σy, Σxy, Σx²,
    * Σy²) accumulate in exact DECIMAL(38,0) (the DuckDB twin is
    * HUGEINT); the centered forms sxx = n·Σx²−(Σx)², sxy = n·Σxy−Σx·Σy,
    * syy = n·Σy²−(Σy)² are exact integer arithmetic, so
    * slope = sxy/sxx is ONE IEEE division of two correctly-rounded
    * integer→double casts — engine-exact with NO display rounding —
    * and intercept = (Σy − slope·Σx)/n and r² = (sxy/sxx)·(sxy/syy)
    * are fixed-order double chains of shared exact operands (the
    * engine-safe class; r²'s two-division form keeps sxy² out of
    * DECIMAL range). Degenerate keys (n = 1, constant x, or constant
    * y for r²) yield nulls. Bound: n·Σ products must fit 38 digits —
    * day-scale x and cent-scale y hold to ~10⁹ rows per key.
    *
    * Scale shape: ONE partial-aggregable groupBy over the fact table —
    * map-side combined, no windows, no second pass, result bounded by
    * key cardinality.
    */
  def olsTrend(df: DataFrame, keyCol: String, x: Column, y: Column)
      : DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val xd = x.cast(dec)
    val yd = y.cast(dec)
    val g = df.groupBy(col(keyCol))
      .agg(count(lit(1)).cast(dec).as("__cnt"),
        sum(xd).cast(dec).as("__sx"),
        sum(yd).cast(dec).as("__sy"),
        sum((xd * yd).cast(dec)).cast(dec).as("__sxy"),
        sum((xd * xd).cast(dec)).cast(dec).as("__sxx"),
        sum((yd * yd).cast(dec)).cast(dec).as("__syy"))
    val sxx = (col("__cnt") * col("__sxx") - col("__sx") * col("__sx"))
      .cast("double")
    val sxy = (col("__cnt") * col("__sxy") - col("__sx") * col("__sy"))
      .cast("double")
    val syy = (col("__cnt") * col("__syy") - col("__sy") * col("__sy"))
      .cast("double")
    g.select(col(keyCol),
      col("__cnt").cast("long").as("n_points"),
      when(sxx > 0, sxy / sxx).as("slope"),
      when(sxx > 0,
        (col("__sy").cast("double") - (sxy / sxx) * col("__sx").cast("double"))
          / col("__cnt").cast("double")).as("intercept"),
      when(sxx > 0 && syy > 0, (sxy / sxx) * (sxy / syy)).as("r2"))
  }

  /** Autocorrelation + partial autocorrelation of the zero-filled daily
    * value series, lags 1..`maxLag` — the Box–Jenkins order-selection
    * read (ACF tails ⇒ AR component; PACF cutting off at k ⇒ AR(k))
    * and the seasonality detector behind [[seasonalityProfile]].
    *
    * Exactness: ACF never touches a floating mean — deviations are
    * scaled by n (e_d = n·x_d − Σx, exact cent integers in
    * DECIMAL(38,0)), so r_k = Σ e_d·e_{d+k} / Σ e_d² is a ratio of
    * exact integers with ONE IEEE division, emitted UNROUNDED (the
    * Welch-dof argument). PACF comes from the Durbin–Levinson recursion
    * UNROLLED over lags — each φ_{k,j} binds to a real column
    * (`withColumn`, the Hilbert-walk discipline, keeping the plan
    * linear in maxLag²), and [[durbinLevinsonSql]] emits the DuckDB CTE
    * chain from the same index loops, so the two cannot drift; every
    * step is a correctly-rounded scalar op on identical inputs.
    *
    * Scale shape: one day group-by collapses the data to the
    * calendar-bounded grid; the lag pairs come from one grid×grid range
    * join (≤ maxLag·days rows); everything after runs on a 1-row
    * relation. Returns (lag, acf, pacf) for lags 1..maxLag — null when
    * the series is constant (zero variance) or the lag exceeds the
    * observed span.
    */
  def acfPacf(df: DataFrame, tsCol: String, valueCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 28, s"unrolled lags 1..28: $maxLag")
    val big = DecimalType38
    val grid = dailyCentsGrid(df, tsCol, valueCol).drop("idx")
    val st = grid.agg(count(lit(1)).as("n"), sum("x").as("s"))
    val dev = grid.crossJoin(broadcast(st))
      .select(col("d"),
        (col("n").cast(big) * col("x").cast(big) - col("s").cast(big))
          .as("e"))
      .localCheckpoint()
    val den = dev.agg(sum((col("e") * col("e")).cast(big)).as("den"))
    val a = dev.select(col("d").as("da"), col("e").as("ea"))
    val b = dev.select(col("d").as("db"), col("e").as("eb"))
    val nums = a.join(b,
        col("db") > col("da") && col("db") <= col("da") + maxLag)
      .groupBy((col("db") - col("da")).as("lag"))
      .agg(sum((col("ea") * col("eb")).cast(big)).as("num"))
    val rCols = (1 to maxLag).map { k =>
      max(when(col("lag") === k,
        when(col("den") > lit(0L).cast(big),
          col("num").cast(org.apache.spark.sql.types.DoubleType) /
            col("den").cast(org.apache.spark.sql.types.DoubleType))))
        .as(s"__r$k")
    }
    var one = nums.crossJoin(broadcast(den))
      .agg(rCols.head, rCols.tail: _*)
    // Durbin–Levinson, unrolled; [[durbinLevinsonSql]] mirrors these
    // exact loops for the oracle
    one = one.withColumn("__p_1_1", col("__r1"))
    for (k <- 2 to maxLag) {
      val num = col(s"__r$k") -
        (1 until k).map(j => col(s"__p_${k - 1}_$j") * col(s"__r${k - j}"))
          .reduce(_ + _)
      val dn = lit(1.0) -
        (1 until k).map(j => col(s"__p_${k - 1}_$j") * col(s"__r$j"))
          .reduce(_ + _)
      one = one.withColumn(s"__p_${k}_$k", num / dn)
      for (j <- 1 until k)
        one = one.withColumn(s"__p_${k}_$j",
          col(s"__p_${k - 1}_$j") -
            col(s"__p_${k}_$k") * col(s"__p_${k - 1}_${k - j}"))
    }
    one.select(explode(array((1 to maxLag).map(k =>
        struct(lit(k.toLong).as("lag"), col(s"__r$k").as("acf"),
          col(s"__p_${k}_$k").as("pacf"))): _*)).as("s"))
      .select("s.*").orderBy("lag")
  }

  /** Zero-filled daily CENT series of `valueCol` — (idx, d, x) where
    * `d` is the epoch day, `idx` = d − min(d) the series position, and
    * `x` the exact cent total (0 on gap days). The calendar-bounded
    * grid every daily time-series op ([[acfPacf]], [[ewmaForecast]])
    * starts from: one day group-by, a `sequence()` fill, one broadcast.
    */
  private def dailyCentsGrid(df: DataFrame, tsCol: String,
      valueCol: String): DataFrame = {
    val cents = (col(valueCol).cast(org.apache.spark.sql.types
      .DecimalType(18, 2)) * lit(100)).cast("long")
    val daily = df.filter(col(valueCol).isNotNull)
      .groupBy(floor(unix_micros(col(tsCol)) / lit(86400000000L))
        .cast("long").as("d"))
      .agg(sum(cents).as("x"))
    val bounds = daily.agg(min("d").as("d0"), max("d").as("d1"))
    bounds.select(col("d0"),
        explode(sequence(col("d0"), col("d1"))).as("d"))
      .join(daily, Seq("d"), "left")
      .select((col("d") - col("d0")).as("idx"), col("d"),
        coalesce(col("x"), lit(0L)).as("x"))
  }

  /** Binary-segmentation changepoint detection over the daily value
    * series (Scott & Knott 1974; the binary-segmentation baseline every
    * changepoint survey starts from — Truong et al. 2020, "Selective
    * review of offline change point detection methods"): level 1 finds
    * the split of the whole day grid that maximizes the mean-shift gain,
    * levels 2..L re-split the resulting segments. The gain is the same
    * scale-free exact-integer form as [[graft.ops.Screening
    * .otsuThreshold]] — `(s₀·n − s·w₀)²/(w₀·(n−w₀))` from BIGINT prefix
    * sums (CUSUM's max statistic squared), products below 2⁵³ through
    * ~10⁸ days × 10⁵-cent daily sums, so the doubles are exact casts and
    * the argmax is engine-identical; ties break to the earliest day.
    *
    * NO recursion trick needed (unlike [[cusumChangepoints]]'s
    * prefix-min): each level is one windowed pass over the bounded day
    * grid partitioned by the ≤ 2^L segment bounds, and the segment
    * relation is broadcast. Segments of one day don't re-split.
    * Returns one row per accepted split: (level, lo_day, hi_day,
    * split_day, n_left, n_right, sum_left_cents, sum_right_cents,
    * gain) — the split keeps days ≤ split_day on the left.
    */
  def binsegChangepoints(df: DataFrame, tsCol: String, valueCol: String,
      levels: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    require(levels >= 1 && levels <= 4, "binseg unrolls <= 4 levels")
    val grid = dailyCentsGrid(df, tsCol, valueCol).localCheckpoint()
    val d0 = grid.agg(min(col("d")).as("__d0"))
    var segs = grid.agg(lit(0L).as("lo"), max(col("idx")).as("hi"))
    val outs = (1 to levels).map { level =>
      val j = grid.join(broadcast(segs),
        col("idx") >= col("lo") && col("idx") <= col("hi"))
      val wSeg = Window.partitionBy("lo", "hi").orderBy("idx")
      val tot = Window.partitionBy("lo", "hi")
      val pf = j.select(col("lo"), col("hi"), col("idx"), col("d"),
        sum(col("x")).over(wSeg).as("__s0"),
        count(lit(1)).over(wSeg).as("__w0"),
        sum(col("x")).over(tot).as("__st"),
        count(lit(1)).over(tot).as("__nt"))
      val num = (col("__s0") * col("__nt") - col("__st") * col("__w0"))
        .cast(DoubleType)
      val den = (col("__w0") * (col("__nt") - col("__w0")))
        .cast(DoubleType)
      val cand = pf.filter(col("idx") < col("hi"))
        .select(col("lo"), col("hi"), col("idx"), col("d"),
          round(num * num / den, 6).as("__gain"),
          col("__s0"), col("__w0"), col("__st"), col("__nt"))
      val best = cand.groupBy("lo", "hi")
        .agg(max(struct(col("__gain"), (-col("idx")).as("__mi"),
          col("d"), col("__s0"), col("__w0"), col("__st"), col("__nt")))
          .as("__b"))
        .select(col("lo"), col("hi"),
          (-col("__b.__mi")).as("split"), col("__b.d").as("split_day"),
          col("__b.__gain").as("gain"), col("__b.__s0").as("sl"),
          col("__b.__w0").as("nl"),
          (col("__b.__st") - col("__b.__s0")).as("sr"),
          (col("__b.__nt") - col("__b.__w0")).as("nr"))
        .localCheckpoint()
      segs = best.select(col("lo"), col("split").as("hi"))
        .union(best.select((col("split") + 1).as("lo"), col("hi")))
        .filter(col("hi") > col("lo"))
        .localCheckpoint()
      best.withColumn("level", lit(level))
    }
    outs.reduce(_ union _).crossJoin(broadcast(d0))
      .select(col("level"), (col("lo") + col("__d0")).as("lo_day"),
        (col("hi") + col("__d0")).as("hi_day"), col("split_day"),
        col("nl").as("n_left"), col("nr").as("n_right"),
        col("sl").as("sum_left_cents"), col("sr").as("sum_right_cents"),
        col("gain"))
  }

  /** Split-conformal prediction interval for the lag-`seasonDays` naive
    * forecast (Vovk et al. 2005, "Algorithmic Learning in a Random
    * World"; Lei et al. 2018 split conformal): days with a lag forecast
    * split into a CALIBRATION half (md5 of the day id — the
    * engine-portable coin) and a TEST half; the interval half-width q
    * is the ⌈(n_cal+1)(1−α)⌉-th SMALLEST calibration |error| — the
    * finite-sample-valid order statistic, not a plug-in quantile — and
    * marginal coverage is measured on the held-out days. α is fixed at
    * 1/5 so the rank is exact integer arithmetic:
    * k = ((n_cal+1)·4 + 4) div 5. Exchangeability over days is the
    * documented assumption (adjacent days are not iid — the standard
    * split-conformal caveat; the md5 split at least removes temporal
    * selection). Returns AT MOST one row (n_cal, n_test, q_cents,
    * n_covered, coverage): k > n_cal (too few calibration days) has no
    * finite conformal rank, so q_cents is NULL — the INFINITE interval,
    * which covers every test day (coverage 1, the conservative
    * direction) — the [[graft.ops.Eval.conformalInterval]] convention,
    * spec-pinned; and an EMPTY TEST HALF (fewer than seasonDays+1 days
    * of data, or every lag day hashing into the calibration half)
    * returns ZERO rows — there is nothing to measure coverage on, the
    * grouped aggregate has no input, and a DuckDB replay of the same
    * construction agrees row-for-row (EventOpsSpec pins both
    * degeneracies).
    *
    * Shape: the corpus collapses to the bounded day grid in one
    * shuffle; the rank window runs over the days-scale calibration
    * relation (the [[theilSenTrend]] justification); errors are exact
    * cent integers, q is an integer, coverage is ONE IEEE division of
    * two exact integers.
    */
  def conformalForecast(df: DataFrame, tsCol: String, valueCol: String,
      seasonDays: Int = 7): DataFrame = {
    val grid = dailyCentsGrid(df, tsCol, valueCol).localCheckpoint()
    val lag = grid.select((col("idx") + seasonDays).as("idx"),
      col("x").as("__pred"))
    val err = grid.join(lag, Seq("idx"))
      .select(col("d"), abs(col("x") - col("__pred")).as("__aerr"),
        (Prep.hashBucket(col("d"), 2) === 0).as("__cal"))
      .localCheckpoint()
    val cal = err.filter(col("__cal"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    val kth = cal
      .withColumn("__rk",
        row_number().over(Window.orderBy(col("__aerr"), col("d"))))
      .crossJoin(broadcast(nCal))
      .filter(col("__rk") === expr("((n_cal + 1) * 4 + 4) div 5"))
      .select(col("__aerr").as("q_cents"))
    // left-on-true keeps the single row with NULL q when the rank has no
    // finite witness (k > n_cal): the infinite interval
    val q = nCal.join(kth, lit(true), "left")
    err.filter(!col("__cal"))
      .crossJoin(broadcast(q))
      .groupBy("n_cal", "q_cents")
      .agg(count(lit(1)).as("n_test"),
        sum((col("q_cents").isNull || col("__aerr") <= col("q_cents"))
          .cast("long")).as("n_covered"))
      .select(col("n_cal"), col("n_test"), col("q_cents"), col("n_covered"),
        (col("n_covered").cast("double") / col("n_test").cast("double"))
          .as("coverage"))
  }

  /** Lorenz spend concentration — the Gini coefficient and top-decile
    * share of per-key total spend: the whale-dependence read (how much
    * of revenue sits on how few users) that RFM segments can't give in
    * one number.
    *
    * Exactness: per-key spend collapses to the distinct-CENT-value grid
    * with counts; the rows tied at value v occupy ranks C−c+1..C, so
    * Σ_rows (2·rank − n − 1)·v collapses to v·c·(2C − c − n) — ALL
    * integer (DECIMAL(38,0)) until Gini's one final division, emitted
    * unrounded. The top-decile boundary rank r* = (9n) div 10 is
    * integer floor division, and the boundary tie-group's partial
    * cumulative spend cs − v·(C − r*) stays integral too — no
    * percentile, no floating rank anywhere.
    *
    * Scale shape: one key group-by, one grid collapse, the cumulative
    * walk through [[SaltedGrid]] (a near-continuous spend grid is
    * row-scale — never one window task), then a 1-row aggregate.
    * Returns (n_keys, total_spend, gini, top_decile_share).
    */
  def spendConcentration(df: DataFrame, keyCol: String, valueCol: String)
      : DataFrame = {
    val big = DecimalType38
    val cents = (col(valueCol)
      .cast(org.apache.spark.sql.types.DecimalType(18, 2)) * lit(100))
      .cast("long")
    val perKey = df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol)).agg(sum(cents).as("v"))
    val grid = perKey.groupBy("v").agg(count(lit(1)).as("c"))
      .withColumn("s", col("v") * col("c"))
    val walked = SaltedGrid.cumulative(grid, "v", Seq("c", "s"))
    val contrib = col("v").cast(big) * col("c").cast(big) *
      (lit(2L).cast(big) * col("__cum_c").cast(big) -
        col("c").cast(big) - col("__tot_c").cast(big))
    val rStar = expr("(9 * __tot_c) div 10")
    val inBoundary = col("__cum_c") - col("c") < rStar &&
      rStar <= col("__cum_c")
    walked.agg(
        max(col("__tot_c")).as("n"),
        max(col("__tot_s")).as("st"),
        sum(contrib).as("num"),
        sum(when(inBoundary,
          col("__cum_s") - col("v") * (col("__cum_c") - rStar)))
          .as("cum_at"))
      .select(col("n").as("n_keys"),
        (col("st").cast(org.apache.spark.sql.types.DoubleType) /
          lit(100.0)).as("total_spend"),
        when(col("n") > 0 && col("st") > 0,
          col("num").cast(org.apache.spark.sql.types.DoubleType) /
            (col("n").cast(big) * col("st").cast(big))
              .cast(org.apache.spark.sql.types.DoubleType)).as("gini"),
        when(col("st") > 0,
          (col("st") - coalesce(col("cum_at"), lit(0L)))
            .cast(org.apache.spark.sql.types.DoubleType) /
            col("st").cast(org.apache.spark.sql.types.DoubleType))
          .as("top_decile_share"))
  }

  /** One-step-ahead EWMA forecast of the zero-filled daily value
    * series at α = 1/2 — the exponential-smoothing partner to
    * [[seasonalNaive]]: forecast(t) = s_{t−1} where
    * s_t = (x_t + s_{t−1})/2, s_0 = x_0.
    *
    * α is FIXED at 1/2 because that makes every closed-form weight an
    * exact power of two: s_{t−1} = Σ_{a=1..t−1} x_a·2^{−(t−a)} +
    * x_0·2^{−(t−1)}, and each term quantizes by TRUNCATING nano-unit
    * integer division (x·10⁹ div 2^e — the Cramér's-V discipline; a
    * general α would make weights non-terminating rationals with no
    * cross-engine rounding guarantee). Terms beyond e = 62 underflow
    * to 0 and are dropped by the join bound, which also caps the
    * divisor at a long. The 63-row power table is generated by ONE
    * loop emitting both the broadcast relation and the oracle's VALUES
    * list ([[pow2ValuesSql]]), so the two cannot drift.
    *
    * Scale shape: the day grid is calendar-bounded, the pair join is
    * grid × ≤63 rows, the power table broadcasts; per-day sums are
    * map-side combinable. Returns (day, actual_cents, forecast_cents,
    * abs_err_cents) for every day after the first, ordered by day.
    */
  def ewmaForecast(df: DataFrame, tsCol: String, valueCol: String)
      : DataFrame = {
    val nano = ewmaNanoRelation(df, tsCol, valueCol)
    val big = DecimalType38
    nano.select(col("d").as("day"), col("actual").as("actual_cents"),
        (col("nano").cast(org.apache.spark.sql.types.DoubleType) /
          lit(1.0e9)).as("forecast_cents"),
        (abs(col("actual").cast(big) * lit(1000000000L).cast(big) -
          col("nano")).cast(org.apache.spark.sql.types.DoubleType) /
          lit(1.0e9)).as("abs_err_cents"))
      .orderBy("day")
  }

  /** The (d, idx, actual, nano) EWMA relation behind [[ewmaForecast]]
    * and [[forecastAccuracy]] — forecast(t) in exact nano units. */
  private def ewmaNanoRelation(df: DataFrame, tsCol: String,
      valueCol: String): DataFrame = {
    val big = DecimalType38
    val grid = dailyCentsGrid(df, tsCol, valueCol).localCheckpoint()
    val spark = df.sparkSession
    import spark.implicits._
    val pw = Pow2.toDF("e", "p")
    val t = grid.select(col("idx").as("it"), col("d"),
      col("x").as("actual"))
      .filter(col("it") >= 1)
    val a = grid.select(col("idx").as("ia"), col("x").as("xa"))
    val pairs = t.join(a,
      (col("ia") === 0 && col("it") - 1 <= lit(MaxPow2)) ||
        (col("ia") >= 1 && col("ia") <= col("it") - 1 &&
          col("it") - col("ia") <= lit(MaxPow2)))
    val nano = pairs
      .withColumn("e",
        when(col("ia") === 0, col("it") - 1).otherwise(col("it") - col("ia")))
      .join(broadcast(pw), Seq("e"))
      .withColumn("term",
        expr("(cast(xa as decimal(38,0)) * 1000000000) div p"))
      .groupBy(col("it"), col("d"), col("actual"))
      .agg(sum(col("term").cast(big)).as("nano"))
      .select(col("d"), col("it").as("idx"), col("actual"), col("nano"))
      .localCheckpoint()
    nano
  }

  /** Forecast-accuracy comparison: the EWMA one-step forecast scored
    * with MASE (Hyndman & Koehler 2006) against the lag-7
    * seasonal-naive benchmark over the SAME zero-filled daily series —
    * MASE < 1 means the model beats the naive seasonal repeat on the
    * common evaluation window (days where both are defined, idx ≥ 7).
    *
    * EXACT: EWMA errors are |x_t·10⁹ − nano_t| integers, naive errors
    * |x_t − x_{t−7}|·10⁹ integers — MASE is ONE division of two exact
    * DECIMAL(38,0) sums, the two MAEs one division each, all
    * unrounded. Returns one row:
    * (n_days, mae_naive_cents, mae_ewma_cents, mase) — null when the
    * naive error sum is 0.
    */
  def forecastAccuracy(df: DataFrame, tsCol: String, valueCol: String)
      : DataFrame = {
    val big = DecimalType38
    val dbl = org.apache.spark.sql.types.DoubleType
    val nano = ewmaNanoRelation(df, tsCol, valueCol)
    // the naive benchmark lags the FULL grid (day 0 included — the nano
    // relation has no forecast for day 0 but day 0 still seeds lags)
    val lag7 = dailyCentsGrid(df, tsCol, valueCol)
      .select((col("idx") + 7).as("idx"), col("x").as("lag7"))
    val lagged = nano.select(col("idx"), col("actual"), col("nano"))
      .join(lag7, Seq("idx"))
      .filter(col("idx") >= 7)
    val agg = lagged.agg(count(lit(1)).as("n_days"),
      sum(abs(col("actual").cast(big) * lit(1000000000L).cast(big) -
        col("nano")).cast(big)).as("se"),
      sum(abs((col("actual") - col("lag7")).cast(big) *
        lit(1000000000L).cast(big)).cast(big)).as("sn"))
    agg.select(col("n_days"),
      when(col("n_days") > 0, col("sn").cast(dbl) /
        (col("n_days").cast(dbl) * lit(1.0e9))).as("mae_naive_cents"),
      when(col("n_days") > 0, col("se").cast(dbl) /
        (col("n_days").cast(dbl) * lit(1.0e9))).as("mae_ewma_cents"),
      when(col("sn").cast(dbl) > 0,
        col("se").cast(dbl) / col("sn").cast(dbl)).as("mase"))
  }

  /** Pairwise banded-DTW distances between the per-`typeCol` zero-filled
    * daily count series — "which event streams move together when you
    * allow a bounded time warp": a one-day phase shift that L1 reads as
    * a whole day of traffic costs DTW only the warp step
    * ([[graft.functions.DtwDistance]], Sakoe & Chiba 1978).
    *
    * INTEGER end to end — daily counts, exact |Δ| costs, integer DP —
    * so the distances need no rounding discipline at all; the oracle
    * replays the identical DP as an anti-diagonal-wavefront recursive
    * CTE. Series materialize once per type via the deterministic
    * sort_array(collect_list(struct(day, count))) collapse (the
    * postingLists pattern) over the GLOBAL day span, so every pair
    * compares equal-length series and the Sakoe–Chiba corridor is
    * honest.
    *
    * Scale shape: one (type, day) group-by, one calendar-bounded grid
    * fill, a type×type upper-triangle join of type-count² rows, then
    * the per-row kernel — zero data-scale shuffles beyond the first
    * group-by. Returns (type_a, type_b, len, dtw), ordered by the pair.
    */
  def seriesDtwPairs(df: DataFrame, tsCol: String, typeCol: String,
      band: Int): DataFrame = {
    val day = floor(unix_micros(col(tsCol)) / lit(86400000000L))
      .cast("long")
    val daily = df.groupBy(col(typeCol).as("t"), day.as("d"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val bounds = daily.agg(min("d").as("d0"), max("d").as("d1"))
    val grid = daily.select("t").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("t"), explode(sequence(col("d0"), col("d1"))).as("d"))
      .join(daily, Seq("t", "d"), "left")
      .select(col("t"), col("d"), coalesce(col("c"), lit(0L)).as("c"))
    val ser = grid.groupBy("t")
      .agg(expr("transform(sort_array(collect_list(struct(d, c)))," +
        " s -> s.c)").as("s"))
    val a = ser.select(col("t").as("type_a"), col("s").as("sa"))
    val b = ser.select(col("t").as("type_b"), col("s").as("sb"))
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        size(col("sa")).cast("long").as("len"),
        expr(s"graft_dtw(sa, sb, $band)").as("dtw"))
      .orderBy("type_a", "type_b")
  }

  /** Exponent→2^e pairs for e = 0..62 — the ONE loop behind both
    * [[ewmaForecast]]'s broadcast table and [[pow2ValuesSql]]. */
  private val MaxPow2 = 62
  private val Pow2: Seq[(Long, Long)] =
    (0 to MaxPow2).map(e => (e.toLong, 1L << e))

  /** DuckDB VALUES list replaying [[Pow2]] — `(e, p)` rows. */
  def pow2ValuesSql: String =
    Pow2.map { case (e, p) => s"($e, $p)" }.mkString(", ")

  /** DuckDB CTE chain replaying [[acfPacf]]'s Durbin–Levinson unroll —
    * `fromCte` must expose `r1..r{maxLag}`; the chain ends in CTE
    * `dl${maxLag}` carrying every φ_{k,j} as `p_k_j`. Two CTEs per
    * level (the diagonal φ_{k,k}, then the row update) because the row
    * update reads the diagonal; generated by the same index loops as
    * the Spark plan.
    */
  def durbinLevinsonSql(fromCte: String, maxLag: Int): String = {
    val init = s"dl1 AS (SELECT *, r1 AS p_1_1 FROM $fromCte)"
    val steps = (2 to maxLag).flatMap { k =>
      val num = s"r$k - (" +
        (1 until k).map(j => s"p_${k - 1}_$j * r${k - j}").mkString(" + ") +
        ")"
      val dn = "1.0 - (" +
        (1 until k).map(j => s"p_${k - 1}_$j * r$j").mkString(" + ") + ")"
      val diag = s"dl${k}a AS (SELECT *, ($num) / ($dn) AS p_${k}_$k " +
        s"FROM dl${k - 1})"
      val row = s"dl$k AS (SELECT *, " +
        (1 until k).map(j =>
          s"p_${k - 1}_$j - p_${k}_$k * p_${k - 1}_${k - j} AS p_${k}_$j")
          .mkString(", ") +
        s" FROM dl${k}a)"
      Seq(diag, row)
    }
    (init +: steps).mkString(",\n")
  }

  private val DecimalType38 = org.apache.spark.sql.types.DecimalType(38, 0)
}
