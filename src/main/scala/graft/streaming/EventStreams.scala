package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Structured Streaming over the events stream — SURVEY §2.9. The
  * reference's resumable batch loop (checkpoint ledger T1, resume diff T2,
  * 5-wide waves T3) maps to: checkpointed streaming queries, watermarked
  * event-time state, and trigger-bounded micro-batches.
  *
  * Every transform here is also valid on a batch DataFrame — the same
  * logic backs the oracle-checked batch queries in `graft.ops.EventsOps`;
  * StreamingSpec drives these through an actual streaming source and
  * asserts parity with the batch results.
  */
object EventStreams {

  /** File-source schema for the events table (ts already micros). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Parquet-directory streaming source. */
  def fromParquetDir(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EventSchema).parquet(dir)

  /** Tumbling 10-minute counts/sums per event type with a 20-minute
    * watermark (late data beyond it is dropped from state). */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "20 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding 30/10-minute windows. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "20 minutes")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("n"), col("total_value"))

  /** Session windows: 30-minute inactivity gap per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "20 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Exactly-once event dedup by id within the watermark horizon — the
    * streaming upgrade of the reference's saved-list ledger (T1/T2). */
  def dedupById(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "20 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream inner join: purchases matched to the same user's
    * clicks within the preceding hour. Both sides watermarked and the
    * join condition time-bounded — Spark needs both to know when buffered
    * state can be dropped (state ∝ one hour of clicks per user, not
    * history). */
  def purchaseClickJoin(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "30 minutes")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Stream-stream LEFT OUTER join: every purchase, matched to same-user
    * clicks in the preceding hour, or emitted ONCE with a null click side.
    * The outer row cannot be produced eagerly — Spark holds the purchase
    * in state until the click-side watermark passes `purchase_ts` (the
    * join condition bounds any future click to `click_ts <= purchase_ts`,
    * so beyond that point no match can arrive) and only then emits the
    * null-padded row. Purchases inside the final watermark horizon are
    * therefore withheld at stream end — StreamingSpec asserts parity
    * against the batch left join restricted to the emittable horizon.
    * State stays bounded exactly as in [[purchaseClickJoin]]. */
  def purchaseClickLeftJoin(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "30 minutes")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"), "left_outer")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Stream-stream FULL OUTER join — both unmatched directions survive.
    * Null-padded purchases emit once the click watermark passes
    * `purchase_ts` (as in [[purchaseClickLeftJoin]]); null-padded clicks
    * wait LONGER — a future purchase up to one hour ahead could still
    * match, so a click's state lives until the purchase watermark passes
    * `click_ts + 1h`. Same bounded state as the inner join; only the
    * eviction-time emission differs. */
  def purchaseClickFullJoin(events: DataFrame): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "30 minutes")
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "30 minutes")
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"), "full_outer")
      .select(col("purchase_id"), coalesce(col("user_id"), col("click_user")).as("uid"),
        col("purchase_ts"), col("click_id"), col("click_ts"))
  }

  /** Stream-static enrichment join — the standard fact-stream ×
    * dimension pattern: each micro-batch broadcast-joins the STATIC
    * side (no streaming state, no watermark needed; Spark re-resolves
    * the static relation per batch, so slowly-changing dim updates are
    * picked up at the next micro-batch). At scale the dim stays under
    * the broadcast threshold or becomes a bucketed table; the stream
    * side never shuffles. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey))

  /** Idempotent foreachBatch sink: overwrite-by-batch-id parquet dirs, so
    * a replayed micro-batch lands in the same place (effectively-once). */
  def idempotentParquetSink(out: String)(df: DataFrame, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")

  /** Streaming CDC upsert into the TRANSACTIONAL lake — the streaming
    * half of `t_cdc_upsert` as [[graft.ingest.SnapshotLake]] MERGE:
    * every micro-batch is one versioned, optimistically-retried,
    * changefeed-materializing commit, so the upserted table gets time
    * travel, CDF, stats/bloom skipping and concurrent-batch-writer
    * safety for free, and the lake's version history IS the batch
    * history.
    *
    * Exactly-once: the merge commit carries the (queryId, batchId)
    * marker in its ATOMIC commit-file claim ([[SnapshotLake.mergeMarked]]),
    * so "applied" and "recorded as batch N" cannot come apart; a
    * replayed batch is detected by the writer's watermark
    * ([[graft.ingest.SnapshotLake.streamWriterScope]]) and skipped whole
    * (merge is NOT idempotent against its own changefeed — a blind
    * re-merge would publish a duplicate CDF restatement even though the
    * data rows converge). The watermark is query-scoped exactly like the
    * append sink's: a fresh query whose batch ids restart at 0 is not
    * mistaken for a replay, and a direct invocation (no queryId) is
    * guarded only by anonymous markers.
    *
    * Batch shape contract: the caller collapses the batch to one row
    * per key (last-wins by (ts, event_id) for CDC, against the lake's
    * current rows for the batch's keys, so an out-of-order older event
    * cannot overwrite a newer one — and tombstones stay in the table
    * for the same reason) BEFORE the sink — merge applies the source
    * verbatim, so in-batch duplicates would both insert. First batch on
    * a never-committed lake lands as the table-creating append; empty
    * batches commit an empty generation so the watermark advances across
    * idle windows (the append-sink rule).
    */
  def snaplakeUpsertSink(lake: graft.ingest.SnapshotLake,
      keyCols: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val (queryId, watermark) = lake.streamWriterScope(spark)
    if (watermark.exists(_ >= batchId))
      return // replay of this writer's own batch (same watermark scope)
    if (lake.latestVersion(spark).isEmpty || batch.isEmpty)
      lake.commitMarked(batch, overwrite = false, Some(batchId), queryId)
    else
      lake.mergeMarked(batch, keyCols, Some(batchId), queryId)
  }

  /** Run any of the above to completion against a bounded source:
    * AvailableNow trigger + checkpoint, blocking until drained. */
  def runOnce(result: DataFrame, checkpoint: String, out: String,
      mode: OutputMode = OutputMode.Append): Unit = {
    val q = result.writeStream
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(idempotentParquetSink(out) _)
      .start()
    q.awaitTermination()
  }
}
