package graft.streaming

import org.apache.spark.sql.functions._
import graft.{SparkSpecBase, Tables}
import java.nio.file.Files

/** Drives the streaming transforms through a real file-source streaming
  * query (AvailableNow trigger, checkpointed, foreachBatch parquet sink)
  * and asserts parity with the equivalent batch computation.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  /** Stage the events table as a micros-timestamp parquet dir the file
    * source can read (the raw table is TIMESTAMP(NANOS)). Two files so the
    * source has multiple splits. */
  private lazy val stagedDir: String = {
    val dir = Files.createTempDirectory("graft_events").toString
    val e = Tables.events(spark, sf0001)
    e.filter($"event_id" % 2 === 0).coalesce(1).write.mode("append").parquet(dir)
    e.filter($"event_id" % 2 === 1).coalesce(1).write.mode("append").parquet(dir)
    dir
  }

  private def runToParquet(result: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val out = Files.createTempDirectory("graft_stream_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    EventStreams.runOnce(result, ckpt, out)
    spark.read.parquet(s"$out/batch_id=*")
  }

  test("tumbling windows: streaming result == batch result for closed windows") {
    val streamed = runToParquet(
      EventStreams.tumblingAgg(EventStreams.fromParquetDir(spark, stagedDir)))
    val events = Tables.events(spark, sf0001)
    val batch = events
      .groupBy(window($"ts", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("total_value"))
      .select($"window.start".as("window_start"), $"window.end".as("window_end"),
        $"event_type", $"n")
    // append mode emits only windows finalized by the last watermark
    val maxTs = events.agg(max($"ts")).collect().head.getTimestamp(0)
    val horizon = new java.sql.Timestamp(maxTs.getTime - 20 * 60 * 1000)
    val expected = batch.filter($"window_end" <= horizon)
      .select($"window_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val got = streamed.select($"window_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(expected.subsetOf(got), s"missing ${(expected -- got).size} windows")
    // nothing fabricated: every emitted row matches the batch computation
    val all = batch.select($"window_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(got.subsetOf(all))
  }

  test("session windows: streamed sessions match batch session_window") {
    val streamed = runToParquet(
      EventStreams.sessionAgg(EventStreams.fromParquetDir(spark, stagedDir)))
    val batch = Tables.events(spark, sf0001)
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", $"session_window.start".as("session_start"), $"n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    val got = streamed.select($"user_id", $"session_start", $"n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(batch), "streamed session not present in batch result")
  }

  test("JSONL file source feeds the same windowed aggregation as parquet") {
    // the streaming transforms are source-agnostic: a JSONL landing dir
    // (the common crawl-ingest format) must produce the same closed
    // windows as the parquet staging the other tests use
    val dir = Files.createTempDirectory("graft_events_jsonl").toString
    Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value", $"props")
      .coalesce(1).write.mode("append").json(dir)
    val src = spark.readStream.schema(EventStreams.EventSchema)
      .option("maxFilesPerTrigger", "1").json(dir)
    val streamed = runToParquet(EventStreams.tumblingAgg(src))
      .select($"window_start", $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed.nonEmpty)
    val batch = Tables.events(spark, sf0001)
      .groupBy(window($"ts", "10 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"event_type", $"n")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(streamed.subsetOf(batch),
      s"JSONL-sourced windows fabricated rows: ${(streamed -- batch).size}")
  }

  test("dropDuplicatesWithinWatermark collapses replayed events") {
    val dupDir = Files.createTempDirectory("graft_events_dup").toString
    val e = Tables.events(spark, sf0001).limit(200).cache()
    e.coalesce(1).write.mode("append").parquet(dupDir)
    e.coalesce(1).write.mode("append").parquet(dupDir) // full replay
    val streamed = runToParquet(
      EventStreams.dedupById(EventStreams.fromParquetDir(spark, dupDir)))
    assert(streamed.count() == e.count())
    assert(streamed.select($"event_id").distinct().count() == e.count())
  }

  test("stream-stream join matches the batch time-range join") {
    val streamed = runToParquet(
      EventStreams.purchaseClickJoin(EventStreams.fromParquetDir(spark, stagedDir)))
    val e = Tables.events(spark, sf0001)
    val p = e.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("purchase_ts"))
    val c = e.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("click_user"), $"ts".as("click_ts"))
    val batch = p.join(c,
        $"user_id" === $"click_user" &&
          $"click_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR") &&
          $"click_ts" <= $"purchase_ts")
      .select($"purchase_id", $"click_id")
      .as[(Long, Long)].collect().toSet
    val got = streamed.select($"purchase_id", $"click_id")
      .as[(Long, Long)].collect().toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(batch), "stream-stream join fabricated pairs")
    // inner stream-stream join emits every in-watermark match; with all
    // data fitting in the run, expect full parity
    assert(got == batch, s"missing ${(batch -- got).size} of ${batch.size} pairs")
  }

  test("stream-stream left-outer join emits matches plus watermark-expired unmatched rows") {
    val streamed = runToParquet(
      EventStreams.purchaseClickLeftJoin(EventStreams.fromParquetDir(spark, stagedDir)))
    val e = Tables.events(spark, sf0001)
    val p = e.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("purchase_ts"))
    val c = e.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("click_user"), $"ts".as("click_ts"))
    val batch = p.join(c,
        $"user_id" === $"click_user" &&
          $"click_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR") &&
          $"click_ts" <= $"purchase_ts", "left_outer")
      .select($"purchase_id", $"click_id", $"purchase_ts")
    val gotPairs = streamed.filter($"click_id".isNotNull)
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    val batchPairs = batch.filter($"click_id".isNotNull)
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    // the matched half behaves exactly like the inner join: eager, complete
    assert(gotPairs == batchPairs,
      s"matched side: missing ${(batchPairs -- gotPairs).size}, " +
        s"fabricated ${(gotPairs -- batchPairs).size}")
    // a null row emits only when the click watermark passes purchase_ts
    // (beyond it no in-watermark click can still match); the final
    // watermark is max(click_ts) - 30 min, so unmatched purchases older
    // than that horizon MUST have been emitted, and nothing else may be
    // the global watermark is the MIN across both watermarked inputs
    val maxTs = e.filter($"event_type".isin("click", "purchase"))
      .groupBy($"event_type").agg(max($"ts").as("m"))
      .agg(min($"m")).collect().head.getTimestamp(0)
    val horizon = new java.sql.Timestamp(maxTs.getTime - 30 * 60 * 1000)
    val gotNull = streamed.filter($"click_id".isNull)
      .select($"purchase_id").as[Long].collect().toSet
    val batchNull = batch.filter($"click_id".isNull)
      .select($"purchase_id").as[Long].collect().toSet
    val mustEmit = batch.filter($"click_id".isNull && $"purchase_ts" < horizon)
      .select($"purchase_id").as[Long].collect().toSet
    assert(gotNull.subsetOf(batchNull), "fabricated unmatched purchases")
    assert(mustEmit.subsetOf(gotNull),
      s"withheld ${(mustEmit -- gotNull).size} expired unmatched purchases")
    assert(mustEmit.nonEmpty, "horizon left no expired unmatched purchases to check")
  }

  test("stream-stream full-outer join: both unmatched directions emit by their horizons") {
    val streamed = runToParquet(
      EventStreams.purchaseClickFullJoin(EventStreams.fromParquetDir(spark, stagedDir)))
    val e = Tables.events(spark, sf0001)
    val p = e.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("purchase_ts"))
    val c = e.filter($"event_type" === "click")
      .select($"event_id".as("click_id"), $"user_id".as("click_user"), $"ts".as("click_ts"))
    val batch = p.join(c,
        $"user_id" === $"click_user" &&
          $"click_ts" >= $"purchase_ts" - expr("INTERVAL 1 HOUR") &&
          $"click_ts" <= $"purchase_ts", "full_outer")
    val gotPairs = streamed.filter($"purchase_id".isNotNull && $"click_id".isNotNull)
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    val batchPairs = batch.filter($"purchase_id".isNotNull && $"click_id".isNotNull)
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(gotPairs == batchPairs, "matched side diverged from batch")
    val maxClick = c.agg(max($"click_ts")).collect().head.getTimestamp(0)
    val maxPurch = p.agg(max($"purchase_ts")).collect().head.getTimestamp(0)
    // Spark keeps ONE global watermark = min over all watermarked inputs
    val wm = new java.sql.Timestamp(
      math.min(maxClick.getTime, maxPurch.getTime) - 30 * 60 * 1000)
    // unmatched purchase: evictable once the watermark passes purchase_ts
    val pHorizon = wm
    // unmatched click: a purchase up to 1h AHEAD could still match, so
    // eviction needs the watermark past click_ts + 1h
    val cHorizon = new java.sql.Timestamp(wm.getTime - 60 * 60 * 1000)
    val gotNullP = streamed.filter($"click_id".isNull)
      .select($"purchase_id").as[Long].collect().toSet
    val gotNullC = streamed.filter($"purchase_id".isNull)
      .select($"click_id").as[Long].collect().toSet
    val batchNullP = batch.filter($"click_id".isNull)
      .select($"purchase_id").as[Long].collect().toSet
    val batchNullC = batch.filter($"purchase_id".isNull)
      .select($"click_id").as[Long].collect().toSet
    assert(gotNullP.subsetOf(batchNullP) && gotNullC.subsetOf(batchNullC),
      "fabricated unmatched rows")
    val mustP = batch.filter($"click_id".isNull && $"purchase_ts" < pHorizon)
      .select($"purchase_id").as[Long].collect().toSet
    val mustC = batch.filter($"purchase_id".isNull && $"click_ts" < cHorizon)
      .select($"click_id").as[Long].collect().toSet
    assert(mustP.subsetOf(gotNullP),
      s"withheld ${(mustP -- gotNullP).size} expired unmatched purchases")
    assert(mustC.subsetOf(gotNullC),
      s"withheld ${(mustC -- gotNullC).size} expired unmatched clicks")
    assert(mustP.nonEmpty && mustC.nonEmpty, "horizons left nothing to check")
  }

  test("stream-static enrichment join matches the batch dimension join") {
    val dim = Tables.customer(spark, sf0001)
      .join(Tables.nation(spark, sf0001), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name")
    val streamed = runToParquet(
      EventStreams.enrichWithDim(EventStreams.fromParquetDir(spark, stagedDir),
          dim, "user_id", "c_custkey")
        .select($"event_id", $"n_name"))
    val batch = EventStreams.enrichWithDim(
        Tables.events(spark, sf0001), dim, "user_id", "c_custkey")
      .select($"event_id", $"n_name")
      .as[(Long, String)].collect().toSet
    val got = streamed.select($"event_id", $"n_name")
      .as[(Long, String)].collect().toSet
    assert(got.nonEmpty)
    // stateless per-batch broadcast join: exact parity, nothing dropped
    assert(got == batch,
      s"missing ${(batch -- got).size}, fabricated ${(got -- batch).size}")
  }

  test("idempotent sink: rewriting a batch id does not duplicate rows") {
    val out = Files.createTempDirectory("graft_sink").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    EventStreams.idempotentParquetSink(out)(df, 7L)
    EventStreams.idempotentParquetSink(out)(df, 7L) // replay of same batch
    assert(spark.read.parquet(s"$out/batch_id=*").count() == 2)
  }

  test("doc ingest ledger: streamed exact-dedup admits one doc per content") {
    val src = Files.createTempDirectory("graft_docs_src").toString
    val ledger = Files.createTempDirectory("graft_docs_ledger").toString + "/l"
    val out = Files.createTempDirectory("graft_docs_out").toString + "/o"
    val ckpt = Files.createTempDirectory("graft_docs_ckpt").toString
    val docs = Tables.documents(spark, sf0001)
    // two arrival waves so the ledger has to carry state across batches
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(src)
    DocStreams.runOnce(spark, src, ledger, out, ckpt)
    val kept = spark.read.parquet(out)
    // one admitted doc per distinct content, nothing fabricated
    assert(kept.count() ==
      docs.select(md5($"text")).distinct().count())
    assert(kept.select(md5($"text")).distinct().count() == kept.count())
    // replaying a wave admits nothing new (ledger anti-join)
    val before = kept.count()
    DocStreams.dedupIngestSink(spark, ledger, out)(
      docs.filter($"doc_id" % 2 === 0), 999L)
    assert(spark.read.parquet(out).count() == before)
  }

  test("doc ledger: null-text docs dedup consistently across both tiers") {
    // md5(NULL) = NULL once made the tiers disagree — the
    // within-batch window collapsed NULL keys (groupBy semantics) while
    // the cross-batch anti-join on a NULL fp never matched, so the one
    // survivor was re-admitted every batch and never ledgered. The
    // sentinel fp must make both tiers treat null texts as one content
    // (the batch twin Dedup.exactDupGroups groupBy(md5(text)) collapses
    // NULL keys the same way).
    val ledger = Files.createTempDirectory("graft_docs_nl").toString + "/l"
    val out = Files.createTempDirectory("graft_docs_nl_out").toString + "/o"
    val nulls = Seq(
      (910001L, null.asInstanceOf[String], "en", "synthetic", 0L),
      (910002L, null.asInstanceOf[String], "en", "synthetic", 0L),
      (910003L, "", "en", "synthetic", 0L)) // empty ≠ null: distinct content
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    DocStreams.dedupIngestSink(spark, ledger, out)(nulls, 0L)
    val wave1 = spark.read.parquet(out).select($"doc_id").as[Long]
      .collect().toSet
    // within-batch: first id wins among the null texts; the
    // empty-string doc is different content and survives alongside
    assert(wave1 == Set(910001L, 910003L), s"admitted $wave1")
    // cross-batch: a RESENT null-text doc must hit the ledger, not be
    // re-admitted (the pre-fix behavior re-admitted it every batch)
    DocStreams.dedupIngestSink(spark, ledger, out)(
      nulls.filter($"doc_id" === 910002L), 1L)
    val wave2 = spark.read.parquet(out).select($"doc_id").as[Long]
      .collect().toSet
    assert(wave2 == Set(910001L, 910003L),
      s"null-text doc escaped the ledger: $wave2")
  }

  test("doc ledger: pruned scans, bounded versions, replay-safe writes") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val ledger = Files.createTempDirectory("graft_docs_ledger2").toString + "/l"
    val out = Files.createTempDirectory("graft_docs_out2").toString + "/o"
    val docs = Tables.documents(spark, sf0001)
    val sink = DocStreams.dedupIngestSink(spark, ledger, out) _
    val lake = DocStreams.ledger(ledger)
    // 9 batches cross the auto-compaction threshold once; after every
    // batch the live generations stay under it, and the vacuum after
    // each fold keeps the on-disk versions bounded instead of growing
    // one generation per batch forever
    var beforeLast: Option[java.io.File] = None
    (1L to 9L).foreach { b =>
      if (b == 9L) beforeLast = LedgerCopies.take(ledger)
      sink(docs.filter($"doc_id" % 9 === (b - 1)), b)
      val n = lake.autoCompactConfig(spark).map(_._1).getOrElse(fail("no auto-compaction"))
      val live = lake.dirsAt(spark, lake.latestVersion(spark).get).size
      assert(live < n, s"batch $b: $live live ledger generations")
      assert(lake.versions(spark).size <= n + 1,
        s"batch $b: ${lake.versions(spark).size} ledger versions on disk")
    }
    assert(lake.history(spark).filter($"op" === "compact").count() > 0,
      "the ledger never compacted")
    // a batch of unseen documents scans only the ledger files whose
    // Blooms may hold one of its fingerprints: fewer than the ledger has
    val unseen = (1 to 5).map(i => s"unseen document $i").toDF("text")
      .select(md5($"text").as("fp"))
    val scan = DocStreams.ledgerScan(lake, unseen).get
    scan.collect()
    val filesRead = scan.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.getOrElse(fail("no file scan in the ledger read"))
    val held = lake.read(spark).inputFiles.length
    assert(filesRead < held, s"unseen batch read $filesRead of $held ledger files")
    // ledger holds exactly the admitted fingerprints
    val n0 = spark.read.parquet(out).count()
    assert(lake.read(spark).count() == n0)
    // full-replay idempotence: rerunning a completed batch changes
    // nothing, the batch whose commit folded the ledger included
    sink(docs.filter($"doc_id" % 9 === 3), 4L)
    sink(docs.filter($"doc_id" % 9 === 7), 8L)
    assert(spark.read.parquet(out).count() == n0)
    assert(lake.read(spark).count() == n0)
    // crash-between-writes replay: the corpus write landed but the
    // ledger commit was lost (the ledger restored to its copy from
    // before the batch); the rerun must OVERWRITE its own ingest_batch
    // partition, not append duplicates, and re-ledger the batch
    LedgerCopies.restore(ledger, beforeLast)
    sink(docs.filter($"doc_id" % 9 === 8), 9L)
    assert(spark.read.parquet(out).count() == n0,
      "replay after ledger loss duplicated corpus rows")
    assert(lake.read(spark).count() == n0)
  }

  test("doc ledger: query restarts neither replay nor swallow batch 0") {
    val src = Files.createTempDirectory("graft_docs_rq_src").toString
    val ledger = Files.createTempDirectory("graft_docs_rq_ledger").toString + "/l"
    val out = Files.createTempDirectory("graft_docs_rq_out").toString + "/o"
    val ckpt = Files.createTempDirectory("graft_docs_rq_ckpt").toString
    val docs = Tables.documents(spark, sf0001)
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100) // strictly increasing mtimes → deterministic batch order
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(src)
    val lake = DocStreams.ledger(ledger)
    def corpus(dir: String) = spark.read.parquet(dir)
      .select($"doc_id", $"ingest_batch".cast("long")).as[(Long, Long)].collect().toSet
    def ledgered = lake.read(spark).select($"fp", $"doc_id").as[(String, Long)].collect().toSet
    def queryId(checkpoint: String): String = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$checkpoint/metadata")).get("id").asText()
    DocStreams.runOnce(spark, src, ledger, out, ckpt)
    val (corpus0, ledger0) = (corpus(out), ledgered)
    assert(corpus0.map(_._2) == Set(0L, 1L) && ledger0.size == corpus0.size)
    // the same query restarted on its checkpoint: nothing is replayed
    DocStreams.runOnce(spark, src, ledger, out, ckpt)
    assert(corpus(out) == corpus0 && ledgered == ledger0)
    // a fresh query (new checkpoint, its own corpus) against the same
    // ledger: its batch 0 holds already-ledgered docs and unseen ones
    val src2 = Files.createTempDirectory("graft_docs_rq_src2").toString
    val out2 = Files.createTempDirectory("graft_docs_rq_out2").toString + "/o"
    val ckpt2 = Files.createTempDirectory("graft_docs_rq_ckpt2").toString
    val unseen = (1 to 3).map(i =>
      (920000L + i, s"unseen document $i", "en", "synthetic", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.limit(20).unionByName(unseen).coalesce(1).write.mode("append").parquet(src2)
    DocStreams.runOnce(spark, src2, ledger, out2, ckpt2)
    // batch 0 is not swallowed by the first query's watermark (1): the
    // unseen docs are admitted in it, and nothing ledgered is re-admitted
    assert(corpus(out2) == (1 to 3).map(i => (920000L + i, 0L)).toSet)
    assert(lake.lastStreamBatchId(spark, Some(queryId(ckpt2))).contains(0L))
    assert(lake.lastStreamBatchId(spark, Some(queryId(ckpt))).contains(1L))
    assert(ledgered.size == ledger0.size + 3)
  }

  test("upsert snapshot sink: streamed merge == batch latest-per-user") {
    import org.apache.spark.sql.DataFrame
    val lake = new graft.ingest.SnapshotLake(
      Files.createTempDirectory("graft_snap").toString + "/t")
    val ckpt = Files.createTempDirectory("graft_snap_ckpt").toString
    val cols = Seq("user_id", "ts", "event_type", "value", "event_id").map(col)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    // the batch shape snaplakeUpsertSink takes: one row per user,
    // last-wins by (ts, event_id) over the batch and the lake's current
    // rows for the batch's users, so an older event arriving later
    // cannot overwrite a newer one ('error' tombstones stay in the table
    // for the same reason; the reader view hides them)
    def upsert(batch: DataFrame, batchId: Long): Unit = {
      val b = batch.select(cols: _*)
      val current = lake.latestVersion(spark).fold(b.limit(0))(v =>
        lake.readAt(spark, v).join(b.select($"user_id"), Seq("user_id"), "left_semi")
          .select(cols: _*))
      val collapsed = b.unionByName(current)
        .withColumn("rk", row_number().over(w)).filter($"rk" === 1).drop("rk")
      EventStreams.snaplakeUpsertSink(lake, Seq("user_id"))(collapsed, batchId)
    }
    def active = lake.read(spark).filter($"event_type" =!= "error")
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
    val q = EventStreams.fromParquetDir(spark, stagedDir)
      .writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch(upsert _)
      .start()
    q.awaitTermination()
    // batch expectation: globally-latest event per user, hidden if it is
    // an 'error' tombstone
    val expected = Tables.events(spark, sf0001)
      .withColumn("rk", row_number().over(w)).filter($"rk" === 1)
      .filter($"event_type" =!= "error")
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
    assert(active == expected)
    // replaying the final micro-batch must not change the snapshot
    val last = spark.read.parquet(stagedDir).filter($"event_id" % 2 === 1)
    upsert(last, 999L)
    assert(active == expected)
    // a crash-recovery replay of the SAME batch id is skipped whole
    val v = lake.latestVersion(spark)
    upsert(last, 999L)
    assert(lake.latestVersion(spark) == v)
    assert(active == expected)
  }
}
