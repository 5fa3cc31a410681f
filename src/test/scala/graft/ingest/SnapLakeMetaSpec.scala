package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.sources.SnapLakeSource

/** Generation metadata captured at write time: the recorded schema a
  * read resolves instead of inferring, the auto-Bloom sidecar built
  * inside the commit's write job, INT64 timestamps that harvest an
  * envelope, the sidecar cache, and the Spark-job budget these buy. */
class SnapLakeMetaSpec extends SparkSpecBase {
  import spark.implicits._

  /** Pinned byte counts; each test says what it measures. */
  private val BloomSidecarBytes = 851L
  private val DeleteRewriteBytes = 9356L

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snapmeta").toString + "/lake"

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The schema Spark's own inference gives a version: a `mergeSchema`
    * read over its generations. */
  private def inferred(root: String, v: Long): StructType = {
    val gens = new SnapshotLake(root).dirsAt(spark, v)
    spark.read.option("mergeSchema", "true")
      .parquet(gens.map(g => s"$root/$g"): _*).schema
  }

  /** Every version's recorded-schema reads (readAt and the data source)
    * equal the inferred schema: field order, types, nullability. */
  private def assertSchemaParity(root: String): Unit = {
    val lake = new SnapshotLake(root)
    lake.versions(spark).foreach { v =>
      lake.dirsAt(spark, v).foreach { g =>
        assert(GenStats.schema(conf, s"$root/$g").isDefined,
          s"version $v: generation $g has no recorded schema")
      }
      val want = inferred(root, v)
      assert(lake.readAt(spark, v).schema == want, s"readAt($v)")
      assert(spark.read.format("snaplake").option("versionAsOf", v.toString)
        .load(root).schema == want, s"versionAsOf $v")
    }
  }

  /** Spark jobs started by `body`. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBridge.waitListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      GraftBridge.waitListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.getOrElse(fail("no FileSourceScanExec in plan"))
  }

  private def readBytes(p: String): Array[Byte] = Files.readAllBytes(Paths.get(p))

  test("recorded schemas resolve every read exactly as mergeSchema inference") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.enableAutoCompact(spark, maxSmallGens = 3, smallBytes = 1L << 30)
    lake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // appends that add columns, one also omitting and reordering
    lake.commit(Seq((3L, "c", 0.5)).toDF("id", "name", "score"))
    lake.commit(Seq(("t", 4L)).toDF("tag", "id"))
    // merge whose source brings another new column
    lake.merge(Seq((2L, "B", 7)).toDF("id", "name", "rank"), Seq("id"))
    val compacted = lake.history(spark).collect().exists(_.getString(1) == "compact")
    assert(compacted, "precondition: auto-compaction folded the tail")
    lake.delete(spark, col("id") === 1L)
    lake.restore(spark, 2L)
    // an empty streamed micro-batch still commits a generation
    val sink = new SnapLakeSource().createSink(spark.sqlContext,
      Map("path" -> root), Nil, OutputMode.Append())
    sink.addBatch(0L, spark.createDataFrame(
      java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("id", LongType), StructField("late", DateType)))))
    assertSchemaParity(root)
    // the latest version's union (its order follows generation names,
    // as inference's does)
    assert(lake.read(spark).schema.fieldNames.toSet ==
      Set("id", "name", "score", "late"))
  }

  test("a generation without a recorded schema falls back to inference") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a")).toDF("id", "name"))
    lake.commit(Seq((2L, 0.5)).toDF("id", "score"))
    // an older writer's sidecar: stats but no schema
    val gen = lake.dirsAt(spark, 1L).head
    val p = s"$root/$gen/${GenStats.StatsFileName}"
    val txt = new String(readBytes(p), "UTF-8")
    val legacy = txt.replaceFirst(""""schema"\s*:\s*"(\\.|[^"\\])*"\s*,""", "")
    assert(legacy != txt, "test setup: schema field not found")
    Files.write(Paths.get(p), legacy.getBytes("UTF-8"))
    assert(GenStats.schema(conf, s"$root/$gen").isEmpty)
    assert(GenStats.load(conf, s"$root/$gen").isDefined, "stats still load")
    assert(lake.read(spark).schema == inferred(root, 2L))
    assert(lake.read(spark).count() == 2)
  }

  test("write-time _blooms.json is bit-identical to the rescan's") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // lenient like the auto tier: the timestamp column is unsupported
    // and "nope" absent, so both passes fingerprint id, name, score, flag
    val cols = Seq("ID", "name", "score", "flag", "ts", "nope")
    lake.enableAutoBlooms(spark, cols, expectedNdvPerFile = 500)
    val rows = (0 until 300).map { i =>
      (if (i % 17 == 0) None else Some(i.toLong * 31),
        if (i % 5 == 0) null else s"n$i", i * 0.5 - 20.0, i % 3 == 0,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    }
    lake.commit(rows.toDF("id", "name", "score", "flag", "ts").repartition(3))
    lake.commit(spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("id", LongType), StructField("name", StringType)))))
    lake.delete(spark, col("id") === 31L)
    lake.merge(Seq((62L, "m", 1.0, true)).toDF("id", "name", "score", "flag"),
      Seq("id"))
    val gens = lake.versions(spark).flatMap(v => lake.dirsAt(spark, v)).distinct
    assert(gens.size == 4)
    gens.foreach { g =>
      val sidecar = s"$root/$g/${GenBlooms.BloomsFileName}"
      val atWrite = readBytes(sidecar)
      Files.delete(Paths.get(sidecar))
      GenBlooms.write(spark, s"$root/$g", cols, expectedNdvPerFile = 500,
        strict = false)
      assert(java.util.Arrays.equals(atWrite, readBytes(sidecar)),
        s"generation $g: write-time sidecar differs from the rescan's")
    }
    // the empty generation's sidecar names no file, as a rescan's does
    val empty = lake.dirsAt(spark, 2L).last
    assert(GenBlooms.load(conf, s"$root/$empty").contains(Map.empty))
    // and no per-task bloom parts are left under the root
    val leftovers = Files.walk(Paths.get(root)).toArray.map(_.toString)
      .filter(n => n.contains("_temporary") || n.endsWith(".tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("parsed sidecars are cached until a republish replaces them") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    val genPath = s"$root/${lake.dirsAt(spark, 1L).head}"
    val stats = GenStats.load(conf, genPath)
    assert(stats.isDefined && (GenStats.load(conf, genPath).get eq stats.get),
      "an unchanged _stats.json is parsed once")
    GenBlooms.write(spark, genPath, Seq("id"), expectedNdvPerFile = 100)
    val blooms = GenBlooms.load(conf, genPath).get
    assert(GenBlooms.load(conf, genPath).get eq blooms)
    assert(blooms.values.head.keySet == Set("id"))
    // a backfill republish is seen by the next load
    GenBlooms.write(spark, genPath, Seq("id", "v"), expectedNdvPerFile = 100)
    assert(GenBlooms.load(conf, genPath).get.values.head.keySet == Set("id", "v"))
    val p = Paths.get(genPath, GenStats.StatsFileName)
    Files.write(p, new String(Files.readAllBytes(p), "UTF-8")
      .replaceFirst(""""v"\s*:\s*\d+\s*,""", "").getBytes("UTF-8"))
    assert(GenStats.load(conf, genPath).isEmpty, "stale sidecar served from cache")
    lake.computeStats(spark)
    assert(GenStats.load(conf, genPath).exists(_.values.map(_.rows).sum == 2L))
  }

  test("default-session timestamps are INT64 micros, so a range filter prunes") {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val root = freshRoot()
      val lake = new SnapshotLake(root)
      (0 until 4).foreach { m =>
        lake.commit((1 to 50).map(d => (m * 100L + d,
          java.sql.Timestamp.valueOf(f"2024-${m + 1}%02d-${d % 28 + 1}%02d 00:00:00")))
          .toDF("id", "l_shipdate").coalesce(1))
      }
      val live = lake.dirsAt(spark, 4L).size
      val got = filesRead(spark.read.format("snaplake").load(root)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("2024-02-01 00:00:00")) &&
          col("l_shipdate") < lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))))
      assert(got < live, s"range scan read $got of $live live files")
      assert(got == 1L)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Bytes of every file under `dir`, its hidden checksums included. */
  private def bytesUnder(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  test("byte budget: auto-Blooms are sized to each file's rows, under the cap") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // the default cap (100,000 distinct values per file) would give each
    // file a 2^20-bit bloom; three 100-row files get 1,024 bits each
    lake.enableAutoBlooms(spark, Seq("id"))
    lake.commit(spark.range(0, 300, 1, 3).select(col("id"), (col("id") % 7).as("v")))
    val gen = s"$root/${lake.dirsAt(spark, 1L).head}"
    val blooms = GenBlooms.load(conf, gen).get
    assert(blooms.size == 3 && blooms.values.forall(_("id").m == 1024),
      blooms.map { case (f, b) => f -> b("id").m })
    val sidecar = Files.size(Paths.get(gen, GenBlooms.BloomsFileName))
    info(s"_blooms.json of three 100-row files: $sidecar bytes")
    assert(sidecar == BloomSidecarBytes, s"_blooms.json is $sidecar bytes")
    // every file still answers for its own keys, and only for them
    (0L until 300L by 37L).foreach { k =>
      assert(filesRead(spark.read.format("snaplake").load(root).filter(col("id") === k)) == 1L)
    }
  }

  test("byte budget: one-key delete in a 3-file generation rewrites 1 file") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.enableAutoBlooms(spark, Seq("id"), expectedNdvPerFile = 1000)
    // three files holding ids [0, 1000), [1000, 2000), [2000, 3000)
    lake.commit(spark.range(0, 3000, 1, 3).select(col("id"), (col("id") % 7).as("v")))
    val gen = lake.dirsAt(spark, 1L).head
    val genBytes = bytesUnder(s"$root/$gen")
    val v = lake.delete(spark, col("id") === 1500L)
    val c = lake.commitAt(spark, v)
    // the other two files of the generation carry by reference
    assert(c.dirs.head == gen && c.files.get(gen).exists(_.size == 2), c.json)
    val Seq(rewrite) = c.dirs.tail
    val added = bytesUnder(s"$root/$rewrite")
    info(s"one-key delete: generation $genBytes bytes, rewrite adds $added bytes")
    val m = c.metrics.get
    assert((m.filesAdded, m.filesRemoved, m.filesCarried) == (1L, 1L, 2L), m)
    def parquetBytes(d: String): Long = Files.list(Paths.get(root, d)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).map(f => Files.size(Paths.get(f))).sum
    assert(m.bytesRemoved + m.bytesCarried == parquetBytes(gen) &&
      m.bytesAdded == parquetBytes(rewrite), m)
    val h = lake.history(spark).filter(col("version") === v).head()
    assert(Commit.Metrics.Names.map(h.getAs[Long](_)) == m.values)
    assert(added == DeleteRewriteBytes, s"the rewrite added $added bytes")
    assert(lake.read(spark).count() == 2999L)
    assert(lake.read(spark).filter(col("id") === 1500L).count() == 0L)
    assert(lake.changesBetween(spark, 1L, v).as[(Long, Long, String, Long)].collect().toSeq ==
      Seq((1500L, 1500L % 7, "delete", v)))
  }

  test("job budget: append 1, resolve 0, point delete and small merge pinned") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.enableAutoBlooms(spark, Seq("id"), expectedNdvPerFile = 1000)
    lake.commit(spark.range(0, 1000).select(col("id"), (col("id") % 7).as("v"))
      .repartition(2))
    val append = jobsOf(lake.commit(spark.range(1000, 1100)
      .select(col("id"), (col("id") % 7).as("v"))))
    val resolve = jobsOf(spark.read.format("snaplake").load(root))
    val delete = jobsOf(lake.delete(spark, col("id") === 1050L))
    val merge = jobsOf(lake.merge(Seq((5L, 99L), (2000L, 1L)).toDF("id", "v"),
      Seq("id")))
    info(s"jobs: append $append, resolve $resolve, delete $delete, merge $merge")
    assert(append == 1, s"append commit ran $append jobs")
    assert(resolve == 0, s"resolving format(snaplake).load ran $resolve jobs")
    assert(delete == 2, s"one-key delete ran $delete jobs")
    // the source envelope, the Bloom-scoping key collect, and the
    // rewrite and changefeed writes with their shuffle stages
    assert(merge == 11, s"small merge ran $merge jobs")
    assert(lake.read(spark).count() == 1100)
    // an empty source scopes nothing from its envelope alone
    val emptyMerge = jobsOf(lake.merge(Seq.empty[(Long, Long)].toDF("id", "v"),
      Seq("id")))
    // without Blooms the key tuples are never collected
    val plain = new SnapshotLake(freshRoot())
    plain.commit(spark.range(0, 1000).select(col("id"), (col("id") % 7).as("v"))
      .repartition(2))
    val plainMerge = jobsOf(plain.merge(Seq((5L, 99L), (2000L, 1L)).toDF("id", "v"),
      Seq("id")))
    // a Bloom backfill runs one scan job per generation: the recorded
    // schema leaves no inference job to run before it
    plain.commit(spark.range(3000, 3100).select(col("id"), (col("id") % 7).as("v")))
    val backfill = jobsOf(plain.computeBlooms(spark, Seq("id"), expectedNdvPerFile = 1000))
    info(s"jobs: empty-source merge $emptyMerge, merge without Blooms $plainMerge, " +
      s"Bloom backfill of 2 generations $backfill")
    assert(emptyMerge == 4, s"empty-source merge ran $emptyMerge jobs")
    assert(plainMerge == 9, s"merge without Blooms ran $plainMerge jobs")
    assert(backfill == 2, s"computeBlooms ran $backfill jobs")
  }
}
