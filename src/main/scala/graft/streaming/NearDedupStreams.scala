package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming NEAR-duplicate ingest — [[DocStreams]] upgraded from exact
  * content identity to MinHash similarity: a document is admitted iff no
  * already-admitted document estimates Jaccard ≥ τ against it. This is
  * the online form of the batch dedup tiers (`Dedup.minhashDupPairs`),
  * the shape a continuously-crawling pipeline actually runs: dedup AT
  * ingest, against everything ever admitted, with bounded per-doc state.
  *
  * Ledger (one generation dir, same CURRENT-pointer chassis as
  * [[DocStreams]], two tables inside):
  *  - `sigs/`:    (doc_id, sig ARRAY<BIGINT>) partitioned by `spfx`
  *                (doc_id mod 256) — 128 longs per admitted doc, the
  *                bounded state that replaces unbounded shingle storage.
  *  - `buckets/`: (band, bucket, doc_id) partitioned by `pfx`
  *                (bucket mod 256) — the inverted LSH index. A batch
  *                collects its ≤256 touched prefixes (metadata, not
  *                data) and the candidate join reads only those
  *                partitions.
  *
  * Per micro-batch:
  *  1. signature + band buckets for incoming docs (bit-identical banding
  *     to the batch operators via [[graft.ml.Dedup.bandBuckets]]);
  *  2. candidates = batch buckets ⋈ pruned ledger buckets; estimated
  *     Jaccard = matching-component fraction of the two signatures;
  *     est ≥ τ against any ledger doc → rejected. A REPLAYED doc
  *     collides with its own ledger rows at est = 1.0, which is exactly
  *     what makes replay a no-op — self-pairs are the idempotence
  *     mechanism, not an artifact;
  *  3. survivors run greedy minimum-id admission within the batch
  *     (the lexicographically-first maximal independent set over the
  *     est ≥ τ candidate graph — identical to processing the batch
  *     sequentially by doc_id), computed as the standard iterative
  *     frontier: admit docs with no smaller-id surviving neighbor,
  *     remove them and their neighbors, repeat (each round admits the
  *     smallest survivor, so it terminates);
  *  4. admitted docs land in the corpus via batch-keyed dynamic
  *     partition overwrite (effectively-once, as in DocStreams), then
  *     sigs (the per-doc ADMISSION RECORD, tagged with the admitting
  *     batch id), then buckets. Any crash point replays to the
  *     identical state: data-only → identical recompute overwrites
  *     itself; data+sigs → the id guard marks the docs REPLAYED, the
  *     partition rewrite includes them unchanged, and their bucket rows
  *     are (re-)appended, healing the lost buckets write; all three →
  *     same path, with the duplicate bucket rows being benign
  *     (candidates are distinct, compaction dedups).
  *
  * Like every banded tier here, admission uses the LSH candidate
  * restriction: only pairs sharing a band bucket are compared (recall
  * 1-(1-p^r)^b per the S-curve), and the decision statistic is the
  * signature estimate, not exact Jaccard — bounded state means the
  * shingle sets are gone. Both facts are part of the operator's
  * contract, and the spec's sequential reference applies the identical
  * rule.
  *
  * OPERATIONAL CONTRACT (shared with [[DocStreams]] and any batch-keyed
  * overwrite sink): the checkpoint, the ledger, and the output corpus
  * form ONE unit — reset or relocate them together. Deleting only the
  * checkpoint restarts foreachBatch ids at 0 while the ledger and
  * corpus still carry the old ids, so batch-keyed partition overwrites
  * and the replayed-vs-resent classification would collide with
  * earlier epochs' partitions. Likewise doc_id is an immutable record
  * id: a re-crawled or rewritten document must arrive under a NEW id.
  * The ledger must also live on a filesystem with ATOMIC RENAME
  * (HDFS, POSIX local): the CURRENT-pointer swap relies on
  * FileContext.rename(OVERWRITE) being all-or-nothing, which object
  * stores like S3A do not guarantee — a crash mid-swap there can leave
  * a missing or partial pointer. On such stores, front the pointer
  * with a consistent metadata layer (e.g. a table-format commit log)
  * rather than pointing this sink at the bucket directly.
  */
object NearDedupStreams {

  private val SigSchema =
    "doc_id BIGINT, sig ARRAY<BIGINT>, ingest_batch BIGINT, spfx STRING"
  private val BucketSchema = "band INT, bucket BIGINT, doc_id BIGINT, pfx STRING"

  private def estJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / graft.ml.Dedup.NumHashes

  private def readOrEmpty(spark: SparkSession, path: String, schema: String,
      fs: org.apache.hadoop.fs.FileSystem): DataFrame =
    if (fs.exists(new org.apache.hadoop.fs.Path(path)))
      spark.read.schema(schema).parquet(path)
    else {
      val fields = schema.split(",").map(_.trim.split(" ", 2))
      spark.range(0).selectExpr(
        fields.map(f => s"CAST(NULL AS ${f(1)}) AS ${f(0)}").toIndexedSeq: _*)
    }

  /** Admitted signatures currently in the ledger (reader view). */
  def ledgerSigs(spark: SparkSession, ledgerDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(ledgerDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    GenPointer.readPtr(fs, ledgerDir)
      .map(g => readOrEmpty(spark, s"$ledgerDir/$g/sigs", SigSchema, fs))
      .getOrElse(readOrEmpty(spark, s"$ledgerDir/__none__", SigSchema, fs))
  }

  /** foreachBatch body: near-dedup `batch` against the ledger and itself,
    * write admitted docs, extend the ledger. */
  def nearDedupIngestSink(spark: SparkSession, ledgerDir: String,
      outDir: String, tau: Double, compactEvery: Int = 16,
      maxMisRounds: Int = 256)(
      batch: DataFrame, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.ml.Dedup
    val fs = new Path(ledgerDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val gen = GenPointer.readPtr(fs, ledgerDir).getOrElse {
      fs.mkdirs(new Path(ledgerDir))
      val g = s"gen_$batchId"
      GenPointer.swapPtr(spark, fs, ledgerDir, g)
      g
    }
    val genPath = s"$ledgerDir/$gen"

    // 1. signatures + band buckets for the batch (all per-batch persists
    // are released below — a leaked one accumulates forever in a
    // long-running stream, so the eager shingle/signature builds run
    // INSIDE the guarded region: a failure mid-build must still release
    // whatever persisted before the throw). The batch itself is cached
    // too: it feeds shingling, the id-guard join, the MIS seed, and the
    // corpus write, and uncached each would re-read the source files.
    batch.persist()
    var sh: DataFrame = null
    var sigs: DataFrame = null
    try {
      sh = Dedup.shingled(batch)
      sigs = Dedup.minhashSignatures(sh)
      val bands = Dedup.bandBuckets(sigs)
        .withColumn("pfx", format_string("%02x", pmod(col("bucket"), lit(256L))))
        .persist()
      try {
        val prefixes = bands.select(col("pfx")).distinct()
          .collect().map(_.getString(0)).toSeq // ≤256 prune keys (metadata)

        // 2. ledger rejection: candidates via the pruned inverted index,
        // estimate on the stored signatures
        val ledgerBuckets = readOrEmpty(spark, s"$genPath/buckets",
          BucketSchema, fs).filter(col("pfx").isin(prefixes: _*))
        val cands = bands
          .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
          .join(ledgerBuckets
            .select(col("doc_id").as("old_id"), col("band"), col("bucket")),
            Seq("band", "bucket"))
          .select(col("new_id"), col("old_id")).distinct()
          // materialized once: both the spfx-prune collect below and the
          // simRejected join consume cands — unmaterialized, the pruned
          // ledger-bucket scan and the band join would run TWICE per
          // micro-batch on the hot ingest path (r13 review)
          .localCheckpoint()
        val candPfx = cands.select(
            format_string("%02x", pmod(col("old_id"), lit(256L))).as("spfx"))
          .distinct().collect().map(_.getString(0)).toSeq
        val oldSigs = readOrEmpty(spark, s"$genPath/sigs", SigSchema, fs)
          .filter(col("spfx").isin(candPfx: _*))
          .select(col("doc_id").as("old_id"), col("sig").as("old_sig"))
        val simRejected = cands
          .join(sigs.select(col("doc_id").as("new_id"), col("sig")), "new_id")
          .join(oldSigs, "old_id")
          .filter(estJaccard(col("sig"), col("old_sig")) >= tau)
          .select(col("new_id").as("doc_id")).distinct()
        // ADMISSION RECORD by identity. doc_id is an immutable record id
        // (the operator's contract: a re-crawled/rewritten document gets
        // a NEW id) — so a batch doc whose id is already in the sigs
        // ledger was admitted before, and splits two ways on the
        // ledger's recorded ingest_batch:
        //  - REPLAYED (recorded batch == this batch): this is a crash
        //    replay. The doc must be (a) excluded from fresh admission,
        //    (b) INCLUDED in this batch's corpus rewrite — the dynamic
        //    overwrite replaces the whole partition, and omitting
        //    originally-admitted docs would drop them — and (c) have its
        //    bucket rows re-appended, healing the crash window where the
        //    sigs append landed but the buckets write did not.
        //  - RESENT (recorded batch != this batch): the same record
        //    arriving again in a later batch. It lives in its original
        //    partition already — reject it here, rewrite nothing.
        // Both kinds still BLOCK their in-batch near-duplicates (they
        // are admitted corpus content), via preEdges below.
        val batchIdPfx = batch
          .select(format_string("%02x", pmod(col("doc_id"), lit(256L)))
            .as("spfx"))
          .distinct().collect().map(_.getString(0)).toSeq
        val preAdmitted = batch.select(col("doc_id")).join(
          readOrEmpty(spark, s"$genPath/sigs", SigSchema, fs)
            .filter(col("spfx").isin(batchIdPfx: _*))
            .select(col("doc_id"), col("ingest_batch")),
          Seq("doc_id"), "inner")
          .localCheckpoint()
        val replayed = preAdmitted.filter(col("ingest_batch") === batchId)
          .select(col("doc_id"))
        val ledgerRejected = simRejected
          .unionByName(preAdmitted.select(col("doc_id"))).distinct()

        // 3. within-batch greedy min-id admission over surviving docs
        val pairs = Dedup.lshCandidates(sigs)
          .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
          .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
          .filter(estJaccard(col("sa"), col("sb")) >= tau)
          .select(col("doc_a"), col("doc_b"))
        // already-admitted batch members block their in-batch near-dups
        // exactly as admitted ledger content does
        val preIds = preAdmitted.select(col("doc_id"))
        val rejectedByPre = pairs
          .join(preIds.withColumnRenamed("doc_id", "doc_a"), "doc_a")
          .select(col("doc_b").as("doc_id"))
          .unionByName(pairs
            .join(preIds.withColumnRenamed("doc_id", "doc_b"), "doc_b")
            .select(col("doc_a").as("doc_id")))
          .distinct()
        // remaining starts from the FULL batch, not the signed docs: a
        // document too short to shingle (< ShingleWidth tokens) has no
        // signatures, hence no candidates in either direction — by the
        // admission rule it is admitted unconditionally, not silently
        // dropped. Sub-shingle docs bypassing near-dedup is the
        // operator's contract; their replay idempotence comes from the
        // identity-based admission record above.
        var remaining = batch.select(col("doc_id"))
          .join(ledgerRejected, Seq("doc_id"), "left_anti")
          .join(rejectedByPre, Seq("doc_id"), "left_anti")
          .localCheckpoint()
        var edges = pairs
          .join(remaining.withColumnRenamed("doc_id", "doc_a"), "doc_a")
          .join(remaining.withColumnRenamed("doc_id", "doc_b"), "doc_b")
          .localCheckpoint()
        var admitted = spark.range(0).select(col("id").as("doc_id"))
        var done = remaining.isEmpty
        var rounds = 0
        while (!done) {
          // the same round budget as the batch twin
          // (Dedup.sequentialAdmission, NOTES r12): a chain of
          // near-duplicates inside ONE micro-batch makes the greedy
          // dependency depth — and the round count, at ~4
          // driver-blocking localCheckpoint actions each — linear in
          // chain length. A pathological batch must fail the query
          // LOUDLY naming the knob, not stall the stream for hours
          // inside foreachBatch.
          rounds += 1
          if (rounds > maxMisRounds)
            throw new IllegalStateException(
              s"nearDedupIngestSink: batch $batchId exceeded " +
                s"maxMisRounds=$maxMisRounds MIS rounds — the batch's " +
                "near-dup graph has a pathological greedy dependency " +
                "chain; raise maxMisRounds deliberately, shrink the " +
                "trigger so chains split across batches, or pre-collapse " +
                "with exact dedup upstream")
          // frontier: no surviving smaller-id neighbor
          val blocked = edges.select(col("doc_b").as("doc_id")).distinct()
          val frontier = remaining.join(blocked, Seq("doc_id"), "left_anti")
            .localCheckpoint()
          admitted = admitted.union(frontier).localCheckpoint()
          // remove the frontier and everything it rejects
          val rejected = edges
            .join(frontier.withColumnRenamed("doc_id", "doc_a"), "doc_a")
            .select(col("doc_b").as("doc_id")).distinct()
          remaining = remaining
            .join(frontier, Seq("doc_id"), "left_anti")
            .join(rejected, Seq("doc_id"), "left_anti")
            .localCheckpoint()
          edges = edges
            .join(remaining.withColumnRenamed("doc_id", "doc_a"), "doc_a")
            .join(remaining.withColumnRenamed("doc_id", "doc_b"), "doc_b")
            .localCheckpoint()
          done = remaining.isEmpty
        }

        // 4. writes: corpus (effectively-once), then sigs, then buckets.
        // The corpus set for THIS partition = newly admitted ∪ replayed
        // originals (the dynamic overwrite replaces the whole partition,
        // so the replayed docs must be rewritten alongside, identically).
        val writeSet = admitted.unionByName(replayed).localCheckpoint()
        val fresh = batch.join(writeSet, "doc_id").persist()
        try {
          fresh.withColumn("ingest_batch", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("ingest_batch").parquet(outDir)
          // EVERY newly admitted doc gets a sigs-ledger admission row
          // (signless docs carry a null sig — they can never
          // similarity-reject anyone, by design); replayed docs already
          // have theirs, so appending only `admitted` keeps the record
          // one row per admitted doc under any replay
          admitted.join(sigs, Seq("doc_id"), "left")
            .withColumn("ingest_batch", lit(batchId))
            .withColumn("spfx",
              format_string("%02x", pmod(col("doc_id"), lit(256L))))
            .select(col("doc_id"), col("sig"), col("ingest_batch"), col("spfx"))
            .write.mode("append").partitionBy("spfx")
            .parquet(s"$genPath/sigs")
          // buckets for newly admitted AND replayed docs — re-appending a
          // replayed doc's rows heals the sigs-landed/buckets-lost crash
          // window; duplicates are benign (candidates distinct, and
          // compaction dedups)
          bands.join(writeSet, "doc_id")
            .select(col("band"), col("bucket"), col("doc_id"), col("pfx"))
            .write.mode("append").partitionBy("pfx")
            .parquet(s"$genPath/buckets")
        } finally fresh.unpersist()
      } finally bands.unpersist()
    } finally {
      if (sigs != null) sigs.unpersist()
      if (sh != null) sh.unpersist()
      batch.unpersist()
    }

    // maintenance: same generation-swap compaction as DocStreams
    val next = s"gen_c$batchId"
    if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0 &&
        next != gen && fs.exists(new Path(genPath))) {
      readOrEmpty(spark, s"$genPath/sigs", SigSchema, fs)
        .repartition(col("spfx")).sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").partitionBy("spfx")
        .parquet(s"$ledgerDir/$next/sigs")
      readOrEmpty(spark, s"$genPath/buckets", BucketSchema, fs)
        .distinct() // crash-replay bucket duplicates compact away here
        .repartition(col("pfx")).sortWithinPartitions(col("bucket"))
        .write.mode("overwrite").partitionBy("pfx")
        .parquet(s"$ledgerDir/$next/buckets")
      GenPointer.swapPtr(spark, fs, ledgerDir, next)
      fs.listStatus(new Path(ledgerDir)).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("gen_") && name != next && name != gen)
          fs.delete(st.getPath, true)
      }
    }
  }

  /** Drain a bounded doc stream through the near-dedup ingest sink. */
  def runOnce(spark: SparkSession, srcDir: String, ledgerDir: String,
      outDir: String, tau: Double, checkpoint: String,
      compactEvery: Int = 16, maxMisRounds: Int = 256): Unit = {
    val q = DocStreams.fromParquetDir(spark, srcDir).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(
        nearDedupIngestSink(spark, ledgerDir, outDir, tau, compactEvery,
          maxMisRounds) _)
      .start()
    q.awaitTermination()
  }
}
