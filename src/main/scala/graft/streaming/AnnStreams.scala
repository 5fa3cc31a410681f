package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ml.Similarity
import graft.ml.Similarity.IvfPqIndex

/** Streaming ANN enrichment — the online half of the IVF-PQ tier: every
  * arriving embedding is a QUERY against a frozen [[IvfPqIndex]], and
  * each micro-batch emits the arrival's top-k nearest corpus vectors by
  * ADC score. This is the shape a continuously-ingesting training-data
  * pipeline runs similarity in: the corpus index is trained and encoded
  * offline (one batch job), then a stream of new documents is enriched
  * with "what does this arrival resemble?" — near-dup flagging against a
  * reference corpus, retrieval-context attachment, or contamination
  * tagging against an eval set, all without ever rebuilding the index on
  * the hot path.
  *
  * Composition, not new machinery: the per-batch transform IS
  * [[Similarity.ivfpqProbe]] — the same probe half the scored
  * `ns_similarity_ivfpq` query runs — applied inside `foreachBatch`, so
  * streamed results are bit-identical to the batch tier on the same
  * arrivals (AnnStreamsSpec pins this batch-parity). Per micro-batch the
  * query side (centroid probes + ADC LUT) is broadcast — a few hundred
  * rows per arrival — and the corpus-sized code table is joined on the
  * inverted-list key; with an `eager` index the codes are materialized
  * pre-partitioned by `lid`, so a batch's cost is proportional to the
  * probed lists, not the corpus.
  *
  * Delivery is effectively-once via the batch-id-keyed overwrite sink
  * ([[EventStreams.idempotentParquetSink]]): a replayed micro-batch
  * re-probes the SAME frozen index (nothing about the index depends on
  * what streamed through it) and overwrites its own partition with
  * identical rows.
  */
object AnnStreams {

  /** Per-batch enrichment: probe `batch` (vec_id, embedding, ...) against
    * the frozen index. Pure — safe under micro-batch replay. */
  def annEnrichBatch(index: IvfPqIndex, k: Int, nprobe: Int)(
      batch: DataFrame): DataFrame =
    Similarity.ivfpqProbe(index,
      batch.select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      k, nprobe)

  /** foreachBatch sink: enrich, then land in `out/batch_id=N` via the
    * idempotent overwrite sink. */
  def annEnrichSink(index: IvfPqIndex, k: Int, nprobe: Int, out: String)(
      batch: DataFrame, batchId: Long): Unit =
    EventStreams.idempotentParquetSink(out)(
      annEnrichBatch(index, k, nprobe)(batch), batchId)

  /** Per-batch enrichment WITH the refine stage: ADC retrieves `rerankK`
    * candidates from the frozen index, then only those candidates' raw
    * vectors are fetched from `corpusVectors` (the durable
    * (vec_id, embedding) table the index was built from — e.g. the
    * SnapshotLake snapshot) and re-scored with the exact cosine; the
    * emitted top-k carries TRUE similarities, the property downstream
    * dedup/contamination thresholds need. The rerank is
    * [[Similarity.exactRerank]], the same implementation the batch
    * `ns_similarity_ivfpq_rerank` query ends with. */
  def annEnrichRerankedBatch(index: IvfPqIndex, corpusVectors: DataFrame,
      k: Int, rerankK: Int, nprobe: Int)(batch: DataFrame): DataFrame = {
    // same guard as the batch twin (ivfpqTopKReranked): fewer candidates
    // than k would silently truncate every query's neighbor list
    require(rerankK >= k, s"rerankK=$rerankK must be >= k=$k")
    val queries =
      batch.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cands = Similarity.ivfpqProbe(index, queries, rerankK, nprobe)
      .select(col("query_id"), col("vec_id"))
    Similarity.exactRerank(cands,
      corpusVectors.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")),
      queries.select(col("vec_id").as("query_id"), col("v").as("qv")), k)
  }

  /** foreachBatch sink for the reranked enrichment. */
  def annEnrichRerankedSink(index: IvfPqIndex, corpusVectors: DataFrame,
      k: Int, rerankK: Int, nprobe: Int, out: String)(
      batch: DataFrame, batchId: Long): Unit =
    EventStreams.idempotentParquetSink(out)(
      annEnrichRerankedBatch(index, corpusVectors, k, rerankK, nprobe)(batch),
      batchId)

  /** GROWING-index ingest sink — the online half of FAISS add(): each
    * micro-batch's arrivals are encoded under the frozen quantizer
    * ([[Similarity.ivfpqEncode]] — the same implementation the build
    * uses) and the code rows are appended as one
    * [[graft.ingest.SnapshotLake]] commit, so later probes that read
    * the lake see them. The quantizer never moves; growth is
    * append-only rows. A REPLAYED batch is detected by its batch-id
    * marker and skipped whole; the one crash window (commit landed,
    * marker lost) re-appends byte-identical rows that [[grownCodes]]
    * collapses on (vec_id, sub). Commit-per-batch means the lake's
    * versions ARE the ingest history: time travel reads the index as
    * of any batch. */
  def indexAppendSink(index: IvfPqIndex, lake: graft.ingest.SnapshotLake,
      markerDir: String)(batch: DataFrame, batchId: Long): Unit = {
    // batch-id marker = replay detection, like every batch-keyed sink
    // here: without it a failure-restart replay would append a duplicate
    // generation and the lake's version history would drift off the
    // batch history. The crash window between commit and marker leaves
    // AT MOST one duplicated batch, which [[grownCodes]]'s collapse
    // absorbs; marker and checkpoint form one reset-together unit with
    // the lake (the DocStreams operational contract).
    import org.apache.hadoop.fs.Path
    val fs = new Path(markerDir)
      .getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new Path(s"$markerDir/batch-$batchId")
    if (fs.exists(marker)) return
    // guard on the RAW batch (cheap scan): encodeVectors emits rows for
    // every input vector, so codes is empty iff batch is — probing
    // codes.isEmpty instead would run the whole encode pipeline once
    // for the probe and again for the commit's write
    if (!batch.isEmpty) {
      lake.commit(Similarity.ivfpqEncode(index,
        batch.select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))),
        overwrite = false)
    }
    fs.mkdirs(new Path(markerDir))
    fs.create(marker, true).close()
    // sweep dead markers: once addBatch(B) runs, every batch < B is
    // committed in the stream's checkpoint and can never be re-queried
    // (replay is only ever of the newest uncommitted batch), so their
    // markers are dead weight — without a sweep the dir grows one file
    // per micro-batch forever (a year at one batch/minute ≈ 500k
    // zero-byte files: namenode object pressure on HDFS, ever-slower
    // listings on object stores). Keeping only the newest marker keeps
    // the marker metadata bounded.
    fs.listStatus(new Path(markerDir)).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("batch-") &&
          scala.util.Try(name.stripPrefix("batch-").toLong)
            .toOption.exists(_ < batchId))
        fs.delete(st.getPath, false)
    }
  }

  /** The grown code table: the lake's latest snapshot with replayed
    * appends collapsed on the (vec_id, sub) code key. Empty (not an
    * error) while the lake has no commits yet, so composing before the
    * first arrival just yields the base index. ID CONTRACT (the
    * DocStreams rule): vec_id is an immutable record id, disjoint from
    * the base corpus — a vector re-arriving under an OLD id with a
    * changed embedding would leave two different rows per (vec_id, sub)
    * and an arbitrary-per-sub collapse could mix subspaces of the old
    * and new embedding; re-ingest under a new id instead. */
  def grownCodes(spark: SparkSession, lake: graft.ingest.SnapshotLake): DataFrame =
    lake.latestVersion(spark) match {
      case None => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "lid BIGINT, vec_id BIGINT, sub INT, cid INT"))
      case Some(_) => lake.read(spark).dropDuplicates("vec_id", "sub")
    }

  /** The base index plus everything streamed into the lake — the frame
    * a probe service holds. The collapse runs over the UNION, so even a
    * base-corpus vec_id illegally re-ingested (see [[grownCodes]]'s id
    * contract) cannot double its ADC sum in [[Similarity.ivfpqProbe]]'s
    * per-(query, vec) aggregate. */
  def grownIndex(spark: SparkSession, lake: graft.ingest.SnapshotLake,
      index: IvfPqIndex): IvfPqIndex =
    index.copy(codes = index.codes.unionByName(grownCodes(spark, lake))
      .dropDuplicates("vec_id", "sub"))

  /** Drain `srcDir` (parquet arrivals, one micro-batch per file) through
    * the enrichment sink with Trigger.AvailableNow. */
  def runOnce(spark: SparkSession, srcDir: String, index: IvfPqIndex,
      k: Int, nprobe: Int, outDir: String, checkpoint: String): Unit =
    drain(spark, srcDir, checkpoint, annEnrichSink(index, k, nprobe, outDir))

  /** [[runOnce]] with the refine stage ([[annEnrichRerankedSink]]). */
  def runOnceReranked(spark: SparkSession, srcDir: String,
      index: IvfPqIndex, corpusVectors: DataFrame, k: Int, rerankK: Int,
      nprobe: Int, outDir: String, checkpoint: String): Unit =
    drain(spark, srcDir, checkpoint,
      annEnrichRerankedSink(index, corpusVectors, k, rerankK, nprobe, outDir))

  /** Compact the growth lake: rewrite the collapsed code table as ONE
    * generation (an overwrite commit), then vacuum everything older.
    * An append-only lake needs this periodically — every append commit
    * references all previous generations, so retention alone never
    * frees a file and a year-long stream would accumulate one tiny
    * parquet dir per batch (the same unbounded-small-files failure the
    * near-dedup ledger compacts away). Readers are safe throughout:
    * the overwrite commit publishes atomically, in-flight readers hold
    * their snapshot's immutable generations until vacuum, and a
    * replayed batch marker is untouched so ingest resumes cleanly.
    * Returns the compacted version. */
  def compactGrown(spark: SparkSession,
      lake: graft.ingest.SnapshotLake): Long = {
    val v = lake.commit(grownCodes(spark, lake), overwrite = true)
    lake.vacuum(spark, retainLast = 1)
    v
  }

  /** Drift gauge for the growing index: the fraction of the
    * probe-visible corpus that streamed in AFTER the quantizer froze.
    * FAISS's operational rule of thumb — retrain once the added
    * fraction is material — needs exactly this number. Counts are
    * distinct vec_ids over the code tables (metadata-sized aggregates;
    * a maintenance probe, not a hot-path cost). */
  def grownFraction(spark: SparkSession, lake: graft.ingest.SnapshotLake,
      index: IvfPqIndex): Double = {
    // 'Grown' = lake ids the index does NOT already probe (left_anti on
    // vec_id). After rebuildIndex the lake holds the full re-encoded
    // corpus AND the returned index probes that same table — counting
    // every lake id as grown would report ~0.5 drift with zero new
    // arrivals and make maybeRebuild retrain on every maintenance cycle.
    val grown = grownCodes(spark, lake).select(col("vec_id"))
      .join(index.codes.select(col("vec_id")).distinct(), Seq("vec_id"),
        "left_anti")
      .distinct().count()
    val base = index.codes.select(col("vec_id")).distinct().count()
    if (base + grown == 0L) 0.0 else grown.toDouble / (base + grown)
  }

  /** REBUILD — the retrain-and-re-add half of FAISS index maintenance:
    * retrain the coarse + PQ quantizers on the CURRENT corpus
    * ([[Similarity.ivfpqIndexTrained]]) and re-encode every vector as
    * ONE overwrite commit to the growth lake. `corpus` must be the full
    * raw-vector table (base ∪ streamed arrivals) — codes alone cannot
    * be re-quantized, which is why a real pipeline always keeps the
    * source embedding table (here: whatever fed [[indexAppendSink]]).
    *
    * The commit is atomic and versioned: in-flight probes keep their
    * snapshot, and the PRE-rebuild code table remains time-travel
    * readable (`lake.readAt`) until vacuum — the spec pins both. The
    * returned index probes the committed codes (durable storage, not
    * training lineage). Runs under the lake's single-maintainer
    * contract: a racing append commit aborts one writer (abort-on-race),
    * so schedule rebuilds like compaction. After a rebuild the OLD base
    * index is obsolete — continue ingest with the returned index (its
    * quantizer is the new frozen artifact) and compose later growth via
    * [[grownIndex]] exactly as before. */
  def rebuildIndex(spark: SparkSession, lake: graft.ingest.SnapshotLake,
      corpus: DataFrame, nlist: Int = 16, m: Int = 8, ksub: Int = 16,
      dim: Int = 64, coarseIters: Int = 5, pqIters: Int = 3)
      : (IvfPqIndex, Long) = {
    val trained = Similarity.ivfpqIndexTrained(corpus, Seq.empty,
      nlist, m, ksub, dim, coarseIters, pqIters)
    val v = lake.commit(trained.codes, overwrite = true)
    (trained.copy(codes = lake.readAt(spark, v)
      .select(col("lid"), col("vec_id"), col("sub"), col("cid"))), v)
  }

  /** DISTRIBUTION drift of the streamed arrivals against the population
    * the frozen quantizer was trained on: [[Similarity.embeddingDrift]]
    * with reference = vectors the index already probes and current =
    * everything else in `corpus` (the arrivals), collapsed to one
    * population. This is the principled retrain trigger — a stream can
    * drift without growing (few arrivals, far from the codebook) and
    * grow without drifting (many arrivals, same geometry), so
    * [[maybeRebuild]] gates on BOTH signals. Returns 0.0 when either
    * side is empty (no drift measurable — embeddingDrift's drop rule,
    * which also makes the post-rebuild state read as zero drift: after
    * re-encoding, every corpus id is reference).
    *
    * Scale: the membership tag is one vec_id equi-join; the statistic
    * itself is the ONE (label, dim) partial-sum shuffle embeddingDrift
    * documents — |dim| rows reach the driver, never vectors. */
  def indexDrift(spark: SparkSession, index: IvfPqIndex,
      corpus: DataFrame): Double = {
    val row = Similarity.embeddingDrift(tagIndexMembership(index, corpus),
      col("is_ref")).select(col("mean_shift_l2")).collect()
    if (row.isEmpty) 0.0 else row(0).getDouble(0)
  }

  /** [[indexDrift]] in DIMENSIONLESS units:
    * [[Similarity.embeddingDriftZ]]'s RMS two-sample z over the same
    * membership split. Under no drift this reads ≈1.0 for ANY batch
    * size (each per-dimension statistic is the mean shift over its own
    * standard error), so — unlike the raw embedding-unit mean-shift —
    * one finite threshold works for every corpus, and
    * [[maybeRebuild]]'s drift gate can ship ON
    * ([[DefaultDriftZ]] = 2.0, the two-sigma cut). Returns 0.0 when
    * either side is empty, which keeps post-rebuild reads at zero —
    * and ALSO when `drift_z` itself is NULL, which happens on a
    * degenerate reference where every dimension is zero-variance (all
    * t dropped by the exact num = 0 test → count(t) = 0): no standard
    * error exists to scale a shift, so the z gate abstains and
    * [[maybeRebuild]] falls back to its grown-fraction signal instead
    * of NPE-ing on `Row.getDouble` (AnnStreamsSpec pins the
    * constant-reference case). */
  def indexDriftZ(spark: SparkSession, index: IvfPqIndex,
      corpus: DataFrame): Double = {
    val row = Similarity.embeddingDriftZ(tagIndexMembership(index, corpus),
      col("is_ref")).select(col("drift_z")).collect()
    if (row.isEmpty || row(0).isNullAt(0)) 0.0 else row(0).getDouble(0)
  }

  private def tagIndexMembership(index: IvfPqIndex,
      corpus: DataFrame): DataFrame = {
    val known = index.codes.select(col("vec_id")).distinct()
      .withColumn("is_ref", lit(true))
    corpus.join(known, Seq("vec_id"), "left")
      .select(lit("index").as("label"), col("embedding"),
        coalesce(col("is_ref"), lit(false)).as("is_ref"))
  }

  /** The default drift gate: rebuild when the arrivals' RMS two-sample
    * z ([[indexDriftZ]]) exceeds two sigma. No-drift streams read ≈1.0
    * at any batch size; the AnnStreamsSpec −3× fixture reads ≈3.2. */
  val DefaultDriftZ: Double = 2.0

  /** Rebuild iff the appended fraction exceeds `threshold` OR the
    * arrivals' dimensionless distribution drift ([[indexDriftZ]])
    * exceeds `driftThreshold`; otherwise return the composed grown
    * index unchanged. The maintenance loop a probe service runs
    * between ingest waves.
    *
    * `driftThreshold` defaults to [[DefaultDriftZ]] (2.0) — the gate
    * ships ON: the two-sample z normalization
    * ([[Similarity.embeddingDriftZ]]) reads ≈1.0 under no drift at any
    * batch size, so two sigma is meaningful everywhere, where the raw
    * mean-shift L2 in embedding units has no corpus-independent cut.
    * Pass +∞ to restore grown-fraction-only behavior. The drift
    * statistic is computed only when the grown gate did not
    * already fire and the threshold is finite; its cost is the one
    * (label, dim) partial-sum shuffle embeddingDriftZ documents — a
    * maintenance-cycle probe, not a hot-path cost. */
  def maybeRebuild(spark: SparkSession, lake: graft.ingest.SnapshotLake,
      index: IvfPqIndex, corpus: DataFrame, threshold: Double = 0.3,
      nlist: Int = 16, m: Int = 8, ksub: Int = 16, dim: Int = 64,
      coarseIters: Int = 5, pqIters: Int = 3,
      driftThreshold: Double = DefaultDriftZ)
      : (IvfPqIndex, Option[Long]) = {
    val composed = grownIndex(spark, lake, index)
    val trip = grownFraction(spark, lake, index) > threshold ||
      (driftThreshold.isFinite &&
        // drift measured over the COMPOSED probe population vs the
        // frozen training population: arrivals = ids the base index
        // does not know
        indexDriftZ(spark, index, corpus) > driftThreshold)
    if (trip) {
      val (idx, v) = rebuildIndex(spark, lake, corpus, nlist, m, ksub, dim,
        coarseIters, pqIters)
      (idx, Some(v))
    } else (composed, None)
  }

  /** [[runOnce]] for the growing-index ingest ([[indexAppendSink]]). */
  def runOnceGrow(spark: SparkSession, srcDir: String, index: IvfPqIndex,
      lake: graft.ingest.SnapshotLake, markerDir: String,
      checkpoint: String): Unit =
    drain(spark, srcDir, checkpoint, indexAppendSink(index, lake, markerDir))

  private def drain(spark: SparkSession, srcDir: String, checkpoint: String,
      sink: (DataFrame, Long) => Unit): Unit = {
    val src = spark.readStream
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val q = src.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
    q.awaitTermination()
  }
}
