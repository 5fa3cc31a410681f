package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

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
  *  - The ledger is (fp, doc_id) rows PARTITIONED BY a 2-hex-char
  *    fingerprint prefix (`pfx`, 256 values). Each batch collects its ≤256
  *    distinct prefixes driver-side (pruning metadata, not data) and the
  *    anti-join reads only matching `pfx=` partitions — a small batch
  *    scans a fraction of the ledger instead of all of it.
  *  - Appends land in the CURRENT generation dir; every `compactEvery`
  *    batches the ledger is rewritten to one file per prefix in a fresh
  *    `gen_<batchId>` dir and an atomic CURRENT-pointer swap commits it
  *    (same read-merge-swap as [[EventStreams.upsertSnapshotSink]]), so
  *    ledger file count stays bounded over the stream's lifetime instead
  *    of growing one file set per batch.
  *  - Output is EFFECTIVELY-ONCE: survivors are written with dynamic
  *    partition overwrite keyed by `ingest_batch=<batchId>`, so a replay
  *    after a crash between the two writes overwrites its own partition
  *    rather than appending duplicates; a replay after both writes
  *    anti-joins to empty and touches nothing.
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

  /** Ledger read schema — explicit, because a crash can leave dirs with no
    * committed part files where schema inference would wedge every replay.
    * `pfx` is the partition column. */
  private val LedgerSchema = "fp STRING, doc_id BIGINT, pfx STRING"

  def fromParquetDir(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(DocSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)

  /** All fingerprints currently in the ledger (reader view). */
  def ledgerFingerprints(spark: SparkSession, ledgerDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(ledgerDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    GenPointer.readPtr(fs, ledgerDir).filter(g => fs.exists(new Path(s"$ledgerDir/$g")))
      .map(g => spark.read.schema(LedgerSchema).parquet(s"$ledgerDir/$g"))
      .getOrElse(spark.range(0).selectExpr("CAST(NULL AS STRING) AS fp",
        "CAST(NULL AS BIGINT) AS doc_id", "CAST(NULL AS STRING) AS pfx")
        .limit(0))
  }

  /** foreachBatch body: ledger-dedup `batch` and write survivors.
    * `compactEvery` > 0 rewrites the ledger to one file per prefix every
    * that many batches. */
  def dedupIngestSink(spark: SparkSession, ledgerDir: String,
      outDir: String, compactEvery: Int = 16)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(ledgerDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // Resolve (or initialize) the current ledger generation. Writing the
    // pointer before any data is safe: a missing gen dir reads as an
    // empty ledger.
    val gen = GenPointer.readPtr(fs, ledgerDir).getOrElse {
      fs.mkdirs(new Path(ledgerDir))
      val g = s"gen_$batchId"
      GenPointer.swapPtr(spark, fs, ledgerDir, g)
      g
    }
    val genPath = s"$ledgerDir/$gen"
    // persist: the fingerprinted batch feeds the prefix collection, the
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
    // with a 32-hex md5 and its pfx "nu" is a disjoint partition
    // (r13 review).
    val fingerprinted = batch
      .withColumn("fp", coalesce(md5(col("text")), lit("null")))
      .withColumn("pfx", substring(col("fp"), 1, 2)).persist()
    try {
      // ≤256 distinct 2-hex prefixes: pruning METADATA for the ledger
      // read, not a data collect
      val prefixes = fingerprinted.select(col("pfx")).distinct()
        .collect().map(_.getString(0)).toSeq
      // within-batch: first doc_id wins per fingerprint
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"))
      val batchFirst = fingerprinted
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .drop("rk")
      // cross-batch: drop anything already in the ledger, scanning only
      // the batch's prefix partitions
      val fresh =
        if (fs.exists(new Path(genPath)))
          batchFirst.join(
            spark.read.schema(LedgerSchema).parquet(genPath)
              .filter(col("pfx").isin(prefixes: _*)).select(col("fp")),
            Seq("fp"), "left_anti")
        else batchFirst
      fresh.persist()
      try {
        // data first, ledger second; the batch-keyed dynamic overwrite
        // makes the data write idempotent under replay (see class doc)
        fresh.drop("fp", "pfx").withColumn("ingest_batch", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_batch").parquet(outDir)
        fresh.select(col("fp"), col("doc_id"), col("pfx"))
          .write.mode("append").partitionBy("pfx").parquet(genPath)
      } finally fresh.unpersist()
    } finally fingerprinted.unpersist()
    // Maintenance: periodically rewrite the whole ledger to one file per
    // prefix in a fresh generation, swap the pointer, drop old gens. A
    // crash mid-compaction leaves CURRENT on the old (complete)
    // generation; the partial next-gen dir is deleted by the stray-gen
    // sweep of a later compaction.
    val next = s"gen_c$batchId"
    // `next != gen` guards the replay of a compaction batch whose pointer
    // swap committed before the crash: CURRENT already names this batch's
    // generation, and re-compacting would read and overwrite one path.
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0 &&
        next != gen && fs.exists(new Path(genPath))) {
      spark.read.schema(LedgerSchema).parquet(genPath)
        .repartition(col("pfx")) // all rows of a pfx in one task → 1 file/pfx
        .sortWithinPartitions(col("fp"))
        .write.mode("overwrite").partitionBy("pfx")
        .parquet(s"$ledgerDir/$next")
      GenPointer.swapPtr(spark, fs, ledgerDir, next)
      // keep the predecessor one cycle (readers that resolved the old
      // generation finish their scan; same rollback margin as
      // upsertSnapshotSink); older/stray gens are swept
      fs.listStatus(new Path(ledgerDir)).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("gen_") && name != next && name != gen)
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Drain a bounded doc stream through the dedup-ingest sink. */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
      outDir: String, checkpoint: String, compactEvery: Int = 16): Unit = {
    val q = fromParquetDir(spark, srcDir).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(dedupIngestSink(spark, ledgerDir, outDir, compactEvery) _)
      .start()
    q.awaitTermination()
  }
}
