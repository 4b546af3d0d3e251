package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming ingest for the feature pipeline — the extension the
  * reference's batch-only design points at (its "real-time serving" is a
  * synchronous lookup over batch features; see SURVEY.md §2.9). Every
  * transform here is a pure DataFrame function usable on BOTH a static
  * relation and a `readStream` relation — the Spark-native way to keep one
  * code path for backfill (batch) and live ingest (incremental).
  *
  * Scale notes:
  *  - Watermarks bound the state store: grouping state for windows older
  *    than (max event time − watermark) is evicted; without it a 100 TB
  *    stream accretes state forever.
  *  - Window + key grouping shuffles once on (user_id, window); partial
  *    aggregation happens map-side before the state store, exactly like the
  *    batch partial→final hash aggregate.
  *  - These run with `outputMode(append)` downstream of the watermark (late
  *    rows beyond it are dropped), or `update`/`complete` for dashboards.
  */
object StreamingFeatures {

  /** Event-time tumbling-window user features (streaming twin of the
    * flagship extractor): per (user, window) event counts, purchase counts
    * and value sums. `ts` must be a TimestampType event-time column.
    */
  def windowedUserFeatures(
      events: DataFrame,
      watermark: String = "10 minutes",
      windowDur: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), windowDur).as("w"))
      .agg(
        count(col("event_type")).as("total_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("total_purchases"),
        sum(col("value")).as("total_value"),
        // exact distinct is unsupported (and unbounded-state) on streams;
        // HLL is the scale answer for both modes
        approx_count_distinct(col("event_type")).as("unique_event_types"))
      .select(col("user_id"), col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("total_events"),
        col("total_purchases"), col("total_value"),
        col("unique_event_types"))

  /** Session windows: activity runs per user separated by ≥ `gap` of
    * silence. State-store backed on streams; identical semantics on static
    * input.
    */
  def sessionize(
      events: DataFrame,
      watermark: String = "10 minutes",
      gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("s"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"), col("session_value"))

  /** Stream-stream interval join — the attribution shape: each purchase
    * joins the same user's clicks from the preceding `within` interval.
    * Both sides carry watermarks so the join state is bounded: a click can
    * be evicted once the purchase-side watermark passes click.ts + within.
    * Works identically on static relations (plain interval equi-join).
    */
  def attributionJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      watermark: String = "10 minutes",
      within: String = "30 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id").as("c_user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c, col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $within"))
      .drop("c_user_id")
  }

  /** Streaming exact dedup on an id/content key — the streaming twin of
    * [[graft.ops.Dedup.exactDedup]]: duplicates of the same KEY (any event
    * time) are dropped as long as they arrive within the watermark delay of
    * the first occurrence; `dropDuplicatesWithinWatermark` evicts seen-key
    * state past that horizon, so state stays bounded on an unbounded
    * stream. `dropDuplicatesWithinWatermark` rejects batch plans, so a
    * static relation degenerates to plain key dedup (same key semantics,
    * no state horizon needed).
    */
  def dedupStream(
      events: DataFrame,
      keyCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** ONE online-learning step for the GD linear classifier
    * ([[graft.ops.TokenModels.sgdLinear]]'s round applied to a single
    * micro-batch): build the batch's (doc, bucket) counts, take one
    * gradient step from `weights` with η averaged over THIS batch's
    * docs, return the updated (bucket, w_nano) relation (an empty batch
    * raises: skip it). Drive it from
    * `foreachBatch`, carrying the returned weights (localCheckpoint'd)
    * as the running model — mini-batch gradient descent where the
    * stream defines the batches. Deterministic: the step is the same
    * exact nano-integer arithmetic as the batch trainer, so a stream
    * replayed with the same batch boundaries reproduces the weights
    * bit-for-bit (StreamingSpec pins streaming ≡ the sequential batch
    * loop).
    *
    * State shape at 100 TB: the carried model is buckets+1 rows — the
    * only cross-batch state; each step touches ONLY the new batch
    * (never re-reads history), the incremental-index discipline of
    * [[graft.ops.Dedup]]'s streaming dedup.
    */
  def sgdOnlineRound(batch: DataFrame, weights: DataFrame, idCol: String,
      textCol: String, targetPred: org.apache.spark.sql.Column,
      buckets: Int = 16, etaShift: Int = 8, biasCount: Int = 32)
      : DataFrame = {
    val occ = graft.ops.TokenModels.sgdCounts(batch, idCol, textCol,
      targetPred, buckets, biasCount)
    graft.ops.TokenModels.sgdRound(occ, weights, etaShift)
  }
}
