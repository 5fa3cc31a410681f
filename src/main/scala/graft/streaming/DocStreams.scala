package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.ingest.SnapshotLake

/** Streaming document ingest with content-level exact dedup against a
  * persistent fingerprint ledger — the reference's resumable saved-work
  * ledger (app.js:438-455 semantics) upgraded from URL-identity to
  * content identity (md5 of text), running continuously.
  *
  * Per micro-batch: dedup within the batch (first doc_id wins per
  * fingerprint), anti-join against the ledger of everything already
  * accepted, write survivors to the output corpus and append their
  * fingerprints to the ledger.
  *
  * Scale/safety design:
  *  - The ledger is a [[SnapshotLake]] of (fp, doc_id) rows at
  *    `ledgerDir` ([[ledger]]), created with auto-Blooms on `fp` and
  *    auto-compaction. The anti-join reads it through the ordinary
  *    snaplake scan filtered by the batch's distinct fingerprints
  *    ([[ledgerScan]]), so file pruning skips every ledger file whose
  *    Bloom rules them all out.
  *  - Exactly-once ledger: each batch's fingerprints land in one append
  *    commit carrying the (queryId, batchId) marker
  *    ([[SnapshotLake.commitMarked]]), and a batch at or below the
  *    writer's watermark ([[SnapshotLake.streamWriterScope]]) is a
  *    replay and returns before touching anything.
  *  - Output is EFFECTIVELY-ONCE: survivors are written with dynamic
  *    partition overwrite keyed by `ingest_batch=<batchId>`, so a replay
  *    after a crash between the corpus write and the ledger commit
  *    overwrites its own partition rather than appending duplicates.
  *  - Storage stays bounded: auto-compaction folds the per-batch
  *    generations, and after each fold the ledger is vacuumed down to
  *    the fold and the batch commit before it ([[commitBatch]]).
  *  - OPERATIONAL CONTRACT: the checkpoint, the ledger, and the output
  *    corpus form ONE unit — reset or relocate them together. Deleting
  *    only the checkpoint restarts foreachBatch ids at 0 while the
  *    corpus still carries the old ids, and the batch-keyed partition
  *    overwrite would collide with the earlier epoch's partitions.
  */
object DocStreams {

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def fromParquetDir(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(DocSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)

  /** The fingerprint ledger: one (fp, doc_id) row per admitted document,
    * readable with `format("snaplake")` and time travel. */
  def ledger(ledgerDir: String): SnapshotLake = new SnapshotLake(ledgerDir)

  /** `lake`, with auto-Blooms on `bloomCols` and auto-compaction set up
    * when it has no commit yet (the first batch creates it). */
  private[streaming] def openLedger(spark: SparkSession, lake: SnapshotLake,
      bloomCols: Seq[String]): SnapshotLake = {
    if (lake.latestVersion(spark).isEmpty) {
      lake.enableAutoBlooms(spark, bloomCols)
      lake.enableAutoCompact(spark)
    }
    lake
  }

  /** The latest version of `lake` (None before its first commit),
    * filtered to the rows whose `keys.columns.head` column holds one of
    * `keys`' values, so the scan's file pruning skips each file whose
    * envelope or Bloom rules them all out. Over
    * [[SnapshotLake.BloomScopeCap]] distinct keys the whole table is
    * read, as merge scopes. */
  private[streaming] def ledgerScan(lake: SnapshotLake,
      keys: DataFrame): Option[DataFrame] = {
    val spark = keys.sparkSession
    lake.latestVersion(spark).map { v =>
      val all = lake.readAt(spark, v)
      val head = keys.distinct().limit(SnapshotLake.BloomScopeCap + 1)
        .collect().map(_.get(0)).filter(_ != null)
      if (head.length > SnapshotLake.BloomScopeCap) all
      else all.filter(col(keys.columns.head).isin(head.toIndexedSeq: _*))
    }
  }

  /** Append `rows` to ledger `lake` as stream batch `batchId` of
    * `queryId`. When the commit's auto-compaction folds the ledger,
    * every version before the batch commit is vacuumed: the batch
    * commit keeps the replay marker, and the generations it reads stay
    * for readers that resolved it. */
  private[streaming] def commitBatch(lake: SnapshotLake, rows: DataFrame,
      batchId: Long, queryId: Option[String]): Unit = {
    val spark = rows.sparkSession
    val v = lake.commitMarked(rows, overwrite = false, Some(batchId), queryId)
    if (lake.latestVersion(spark).exists(_ > v)) lake.vacuum(spark, retainLast = 2)
  }

  /** foreachBatch body: ledger-dedup `batch` and write survivors. */
  def dedupIngestSink(spark: SparkSession, ledgerDir: String,
      outDir: String)(batch: DataFrame, batchId: Long): Unit = {
    val lake = openLedger(spark, ledger(ledgerDir), Seq("fp"))
    val (queryId, watermark) = lake.streamWriterScope(spark)
    if (watermark.exists(_ >= batchId)) return // replay of a committed batch
    // persist: the fingerprinted batch feeds the key collection, the
    // anti-join, and (via `fresh`) two writes — uncached each consumer
    // would re-hash the batch text.
    // Null text gets a SENTINEL fp, not NULL: md5(NULL)=NULL made the
    // two dedup tiers disagree — the within-batch window groups NULL
    // keys as equal (dropping all but one null-text doc) while the
    // cross-batch anti-join on fp treats NULL as never-equal (so the
    // survivor was re-admitted every batch, never ledgered). The
    // sentinel collapses null texts together in BOTH tiers, matching
    // the batch twin's groupBy(md5(text)) null-key semantics
    // (Dedup.exactDupGroups); "null" is 4 chars, so it cannot collide
    // with a 32-hex md5.
    val fingerprinted = batch
      .withColumn("fp", coalesce(md5(col("text")), lit("null"))).persist()
    try {
      // within-batch: first doc_id wins per fingerprint
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      val batchFirst = fingerprinted
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .drop("rk")
      // cross-batch: drop anything already in the ledger, scanning only
      // the ledger files that may hold one of the batch's fingerprints
      val fresh = ledgerScan(lake, fingerprinted.select(col("fp")))
        .fold(batchFirst)(l => batchFirst.join(l.select(col("fp")), Seq("fp"), "left_anti"))
      fresh.persist()
      try {
        // data first, ledger second; the batch-keyed dynamic overwrite
        // makes the data write idempotent under replay (see class doc)
        fresh.drop("fp").withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch").parquet(outDir)
        commitBatch(lake, fresh.select(col("fp"), col("doc_id")), batchId, queryId)
      } finally fresh.unpersist()
    } finally fingerprinted.unpersist()
  }

  /** Drain a bounded doc stream through the dedup-ingest sink. */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
      outDir: String, checkpoint: String): Unit = {
    val q = fromParquetDir(spark, srcDir).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(dedupIngestSink(spark, ledgerDir, outDir) _)
      .start()
    q.awaitTermination()
  }
}
