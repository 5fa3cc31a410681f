package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.SparkSpecBase
import graft.sources.SnapLakeSource

/** [[graft.sources.SnapLakeSink]]: `writeStream.format("snaplake")` —
  * one commit per micro-batch with the batch id inside the commit JSON
  * (atomic data+marker), replay detection through the commit log,
  * Complete-mode overwrite commits, and a lake tailed as a stream while
  * a stream writes it (the bronze→silver composition).
  */
class SnapLakeSinkSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val srcSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("append stream: one commit per batch, batch id in the log") {
    val src = tmp("graft_sink_src")
    val root = tmp("graft_sink_lake") + "/lake"
    val ckpt = tmp("graft_sink_ckpt")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    val q = spark.readStream.schema(srcSchema).parquet(src)
      .writeStream.format("snaplake")
      .option("checkpointLocation", ckpt).start(root)
    val lake = new SnapshotLake(root)
    try {
      q.processAllAvailable()
      assert(lake.versions(spark) == Seq(1L))
      Seq((3L, "c")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      assert(lake.versions(spark) == Seq(1L, 2L),
        "second micro-batch should append commit v2")
    } finally q.stop()
    assert(spark.read.format("snaplake").load(root)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(lake.lastStreamBatchId(spark).contains(1L),
      "batch-id watermark not recorded in the commit log")
    // time travel into the stream's history: v1 is exactly batch 0
    assert(lake.readAt(spark, 1L).count() == 2)
  }

  test("streaming MERGE sink: versioned upserts, exactly-once on replay") {
    val src = tmp("graft_umerge_src")
    val root = tmp("graft_umerge_lake") + "/lake"
    val ckpt = tmp("graft_umerge_ckpt")
    val lake = new SnapshotLake(root)
    var qid: String = null // the stream's stable query id (checkpoint identity)
    def run(): Unit = {
      val q = spark.readStream.schema(srcSchema).parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(
          graft.streaming.EventStreams.snaplakeUpsertSink(lake, Seq("id")) _)
        .start()
      try { q.processAllAvailable(); qid = q.id.toString } finally q.stop()
    }
    // replays below must run UNDER THE QUERY'S OWN SCOPE: the watermark
    // is queryId-scoped, and an anonymous caller is by contract never
    // matched against a real query's markers (see the anonymous-writer
    // test below)
    def asQuery[A](body: => A): A = {
      val key = "sql.streaming.queryId"
      spark.sparkContext.setLocalProperty(key, qid)
      try body finally spark.sparkContext.setLocalProperty(key, null)
    }
    // batch 0 creates the table (append path of the sink)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    run()
    assert(lake.versions(spark) == Seq(1L))
    // batch 1: update id=2, insert id=3 -> ONE versioned merge commit
    Seq((2L, "B"), (3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    run()
    assert(lake.versions(spark) == Seq(1L, 2L))
    assert(spark.read.format("snaplake").load(root)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c")),
      "merge must apply the batch as an upsert, not an append")
    assert(lake.history(spark).filter(col("op") === "merge").count() == 1L)
    assert(lake.lastStreamBatchId(spark).contains(1L),
      "merge commit must carry the batch-id watermark")
    // time travel into the upsert history: v1 is the pre-merge table
    assert(lake.readAt(spark, 1L).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // exactly-once: a replay of batch 1 (same watermark scope) must
    // skip WHOLE -- no new version, its rows never applied
    asQuery {
      graft.streaming.EventStreams.snaplakeUpsertSink(lake, Seq("id"))(
        Seq((9L, "X")).toDF("id", "v"), 1L)
    }
    assert(lake.versions(spark) == Seq(1L, 2L),
      "replayed batch id must not publish a new version")
    assert(spark.read.format("snaplake").load(root)
      .filter(col("id") === 9L).count() == 0L)
    // and the next REAL batch still lands
    asQuery {
      graft.streaming.EventStreams.snaplakeUpsertSink(lake, Seq("id"))(
        Seq((1L, "A2")).toDF("id", "v"), 2L)
    }
    assert(lake.versions(spark) == Seq(1L, 2L, 3L))
    assert(spark.read.format("snaplake").load(root)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "A2"), (2L, "B"), (3L, "c")))
  }

  test("blooms=on: every micro-batch commit carries its bloom sidecar") {
    // the streaming sink lands through commitMarked, so the auto-bloom
    // tier applies per micro-batch — a long-lived streamed table keeps
    // point-lookup skipping without any maintenance job. (The build is
    // one extra scan of the new generation per batch: opt-in cost.)
    val src = tmp("graft_sinkab_src")
    val root = tmp("graft_sinkab_lake") + "/lake"
    val ckpt = tmp("graft_sinkab_ckpt")
    val lake = new SnapshotLake(root)
    lake.enableAutoBlooms(spark, Seq("id"), expectedNdvPerFile = 100)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    val q = spark.readStream.schema(srcSchema).parquet(src)
      .writeStream.format("snaplake")
      .option("checkpointLocation", ckpt).start(root)
    try {
      q.processAllAvailable()
      Seq((3L, "c")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val conf = spark.sparkContext.hadoopConfiguration
    val vs = lake.versions(spark)
    assert(vs.size >= 2)
    vs.flatMap(v => lake.dirsAt(spark, v)).distinct.foreach { gen =>
      assert(GenBlooms.load(conf, s"$root/$gen").isDefined,
        s"streamed generation $gen missing its auto-built bloom sidecar")
    }
  }

  test("auto-compact: a stream-written table keeps a bounded gen count") {
    // the headline claim of the tier: many tiny micro-batches, no
    // external maintenance job, and the latest snapshot never holds
    // more than ~maxSmallGens generations (each fold runs as a
    // follow-on commit inside the sink's own commit path)
    val src = tmp("graft_sinkac_src")
    val root = tmp("graft_sinkac_lake") + "/lake"
    val ckpt = tmp("graft_sinkac_ckpt")
    val lake = new SnapshotLake(root)
    lake.enableAutoCompact(spark, maxSmallGens = 3,
      smallBytes = 64 * 1024)
    val q = spark.readStream.schema(srcSchema).parquet(src)
      .writeStream.format("snaplake")
      .option("checkpointLocation", ckpt).start(root)
    try {
      (0 until 7).foreach { k =>
        Seq((k.toLong, s"v$k")).toDF("id", "v").coalesce(1)
          .write.mode("append").parquet(src)
        q.processAllAvailable()
      }
    } finally q.stop()
    val vLatest = lake.latestVersion(spark).get
    val dirs = lake.dirsAt(spark, vLatest)
    assert(dirs.size <= 3,
      s"7 micro-batches must stay folded under the threshold: $dirs")
    // folds are layout-only: every row answers exactly once
    assert(spark.read.format("snaplake").load(root)
      .as[(Long, String)].collect().toSet ==
      (0 until 7).map(k => (k.toLong, s"v$k")).toSet)
    // replay watermark survives interleaved compact commits: the scan
    // skips them and finds the newest batch marker
    assert(lake.lastStreamBatchId(spark).contains(6L),
      "batch-id watermark lost behind compact commits")
  }

  test("a replayed batch id is skipped whole; newer ids commit") {
    val root = tmp("graft_sink_replay") + "/lake"
    val lake = new SnapshotLake(root)
    val sink = new SnapLakeSource().createSink(spark.sqlContext,
      Map("path" -> root), Nil, OutputMode.Append())
    sink.addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
    sink.addBatch(1L, Seq((2L, "b")).toDF("id", "v"))
    assert(lake.versions(spark) == Seq(1L, 2L))
    // checkpoint replay after a crash re-offers the last batch
    sink.addBatch(1L, Seq((2L, "b")).toDF("id", "v"))
    assert(lake.versions(spark) == Seq(1L, 2L),
      "replayed batch committed a duplicate")
    assert(spark.read.format("snaplake").load(root).count() == 2)
    // an interleaved BATCH-API commit must not mask the stream watermark
    lake.commit(Seq((9L, "z")).toDF("id", "v"))
    sink.addBatch(1L, Seq((2L, "b")).toDF("id", "v"))
    assert(lake.versions(spark) == Seq(1L, 2L, 3L),
      "watermark scan stopped at the untagged commit")
    sink.addBatch(2L, Seq((3L, "c")).toDF("id", "v"))
    assert(spark.read.format("snaplake").load(root).count() == 4)
  }

  test("replay watermark is per query: a new query's batch 0 commits") {
    val root = tmp("graft_sink_qid") + "/lake"
    val lake = new SnapshotLake(root)
    val sink = new SnapLakeSource().createSink(spark.sqlContext,
      Map("path" -> root), Nil, OutputMode.Append())
    val key = "sql.streaming.queryId"
    def asQuery[A](qid: String)(body: => A): A = {
      spark.sparkContext.setLocalProperty(key, qid)
      try body finally spark.sparkContext.setLocalProperty(key, null)
    }
    asQuery("query-A") {
      sink.addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
      sink.addBatch(1L, Seq((2L, "b")).toDF("id", "v"))
      // A's own replay is still suppressed
      sink.addBatch(1L, Seq((2L, "b")).toDF("id", "v"))
    }
    assert(lake.versions(spark) == Seq(1L, 2L))
    // a NEW query (fresh checkpoint) restarts batch ids at 0 — its
    // batches must commit, not be mistaken for replays of query A
    asQuery("query-B") {
      sink.addBatch(0L, Seq((3L, "c")).toDF("id", "v"))
    }
    assert(lake.versions(spark) == Seq(1L, 2L, 3L),
      "a new query's first batch was swallowed by the old watermark")
    assert(spark.read.format("snaplake").load(root).count() == 3)
    // and B's replay of its own batch is suppressed
    asQuery("query-B") {
      sink.addBatch(0L, Seq((3L, "c")).toDF("id", "v"))
    }
    assert(lake.versions(spark) == Seq(1L, 2L, 3L))
  }

  test("anonymous writer: scoped markers never swallow it; its own replay still skips") {
    // the r10-ADVICE data-loss hazard: a lake previously streamed by a
    // REAL query (markers carry its queryId) is later written by a
    // caller WITHOUT the queryId local property, batch ids restarting
    // at 0. Under an unscoped watermark those batches were skipped
    // whole — silent data loss. Contract now: an anonymous writer
    // consults only anonymous markers.
    val root = tmp("graft_sink_anon") + "/lake"
    val lake = new SnapshotLake(root)
    val sink = new SnapLakeSource().createSink(spark.sqlContext,
      Map("path" -> root), Nil, OutputMode.Append())
    val key = "sql.streaming.queryId"
    spark.sparkContext.setLocalProperty(key, "query-A")
    try {
      sink.addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
      sink.addBatch(1L, Seq((2L, "b")).toDF("id", "v"))
    } finally spark.sparkContext.setLocalProperty(key, null)
    assert(lake.versions(spark) == Seq(1L, 2L))
    // anonymous batch 0 against query-A's watermark (which sits at 1):
    // must COMMIT, not be mistaken for a replay
    sink.addBatch(0L, Seq((3L, "c")).toDF("id", "v"))
    assert(lake.versions(spark) == Seq(1L, 2L, 3L),
      "anonymous writer's batch swallowed by a scoped watermark")
    // the anonymous writer's OWN replay is still suppressed
    sink.addBatch(0L, Seq((3L, "c")).toDF("id", "v"))
    assert(lake.versions(spark) == Seq(1L, 2L, 3L),
      "anonymous replay committed a duplicate")
    // and the merge sink honors the same scope split
    graft.streaming.EventStreams.snaplakeUpsertSink(lake, Seq("id"))(
      Seq((1L, "A2")).toDF("id", "v"), 1L)
    assert(spark.read.format("snaplake").load(root)
      .as[(Long, String)].collect().toSet ==
      Set((1L, "A2"), (2L, "b"), (3L, "c")),
      "anonymous merge batch 1 swallowed (anonymous watermark is 0)")
    spark.sparkContext.setLocalProperty(key, "query-A")
    try {
      // query-A replaying its own batch 1 is still a skip
      sink.addBatch(1L, Seq((9L, "x")).toDF("id", "v"))
    } finally spark.sparkContext.setLocalProperty(key, null)
    assert(spark.read.format("snaplake").load(root)
      .filter(col("id") === 9L).count() == 0L)
  }

  test("Complete mode: each trigger overwrite-commits the aggregate") {
    val src = tmp("graft_sink_agg_src")
    val root = tmp("graft_sink_agg_lake") + "/lake"
    val ckpt = tmp("graft_sink_agg_ckpt")
    Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    val q = spark.readStream.schema(srcSchema).parquet(src)
      .groupBy(col("v")).agg(count(lit(1)).as("n"))
      .writeStream.format("snaplake").outputMode("complete")
      .option("checkpointLocation", ckpt).start(root)
    try {
      q.processAllAvailable()
      assert(spark.read.format("snaplake").load(root)
        .as[(String, Long)].collect().toSet == Set(("x", 2L), ("y", 1L)))
      Seq((4L, "y"), (5L, "y")).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(src)
      q.processAllAvailable()
      // overwrite commit: the LATEST version is the whole current
      // aggregate, and the previous aggregate is still time-travelable
      assert(spark.read.format("snaplake").load(root)
        .as[(String, Long)].collect().toSet == Set(("x", 2L), ("y", 3L)))
      val lake = new SnapshotLake(root)
      assert(lake.readAt(spark, lake.latestVersion(spark).get - 1)
        .as[(String, Long)].collect().toSet == Set(("x", 2L), ("y", 1L)))
    } finally q.stop()
  }

  test("bronze→silver: a stream-written lake tailed by the stream source") {
    val src = tmp("graft_chain_src")
    val bronze = tmp("graft_chain_bronze") + "/lake"
    val silver = tmp("graft_chain_out")
    val ckptIn = tmp("graft_chain_ckpt_in")
    val ckptOut = tmp("graft_chain_ckpt_out")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(src)
    val ingest = spark.readStream.schema(srcSchema).parquet(src)
      .writeStream.format("snaplake")
      .option("checkpointLocation", ckptIn).start(bronze)
    try {
      ingest.processAllAvailable()
      // the downstream leg tails the bronze COMMIT LOG
      val refine = spark.readStream.format("snaplake").load(bronze)
        .withColumn("v", upper(col("v")))
        .writeStream.format("parquet")
        .option("path", silver).option("checkpointLocation", ckptOut).start()
      try {
        refine.processAllAvailable()
        assert(spark.read.parquet(silver).as[(Long, String)].collect().toSet ==
          Set((1L, "A"), (2L, "B")))
        // new arrivals flow through both legs
        Seq((3L, "c")).toDF("id", "v").coalesce(1)
          .write.mode("append").parquet(src)
        ingest.processAllAvailable()
        refine.processAllAvailable()
        assert(spark.read.parquet(silver).count() == 3,
          "append did not propagate through the chained lake")
      } finally refine.stop()
    } finally ingest.stop()
  }
}
