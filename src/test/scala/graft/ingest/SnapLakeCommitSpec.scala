package graft.ingest

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.{LongType, StringType, StructField}

import graft.SparkSpecBase
import graft.sources.SnapLakeStreamSource

/** The commit log's record format ([[Commit]]): files in every shape
  * earlier writers left on disk still parse, the serializer writes those
  * same bytes, and a changefeed walk opens each commit file at most once
  * (a repeat lookup is served from the parsed-record cache). */
class SnapLakeCommitSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snapcommit").toString + "/lake"

  private def writeCommit(root: String, v: Long, json: String): Unit = {
    val p = Paths.get(f"$root/_commits/v$v%08d.json")
    Files.createDirectories(p.getParent)
    Files.write(p, json.getBytes("UTF-8"))
  }

  test("commit files of every on-disk shape parse; tagged ones re-serialize byte for byte") {
    val root = freshRoot()
    // the minimal untagged form, then each tagged shape the writers produce
    val files = Seq(
      """{"version":1,"op":"create","dirs":["gen-a1"]}""",
      """{"version":2,"dirs":["gen-a1"]}""",
      """{"version":3,"op":"merge","batchId":2,"rewrite":true,"dirs":["gen-a1","gen-b2"]}""",
      """{"version":4,"op":"append","batchId":5,"queryId":"q-1","dirs":["gen-a1","gen-b2","gen-c3"]}""",
      """{"version":5,"op":"restore","dirs":["gen-a1"]}""")
    files.zipWithIndex.foreach { case (j, i) => writeCommit(root, i + 1L, j) }
    val lake = new SnapshotLake(root)
    assert(lake.versions(spark) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(lake.dirsAt(spark, 2L) == Seq("gen-a1"))
    assert(lake.dirsAt(spark, 4L) == Seq("gen-a1", "gen-b2", "gen-c3"))
    val hist = lake.history(spark).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(hist == Seq((1L, "create", 1), (2L, "unknown", 1), (3L, "merge", 2),
      (4L, "append", 3), (5L, "restore", 1)))
    assert(lake.commitAt(spark, 3L).rewrite && !lake.commitAt(spark, 5L).rewrite)
    // watermarks: any query's newest marker, one query's, and the
    // anonymous writer's (markers without a query id only)
    assert(lake.lastStreamBatchId(spark).contains(5L))
    assert(lake.lastStreamBatchId(spark, Some("q-1")).contains(5L))
    assert(lake.lastStreamBatchId(spark, Some("q-2")).isEmpty)
    assert(lake.lastAnonymousStreamBatchId(spark).contains(2L))
    Seq(1, 3, 4, 5).foreach { i =>
      assert(lake.commitAt(spark, i.toLong).json == files(i - 1), s"version $i")
    }
    assert(lake.commitAt(spark, 2L) == Commit(2L, "unknown", Seq("gen-a1")))
    intercept[IllegalArgumentException](lake.commitAt(spark, 6L))
    // a deleted and re-created root serves its new commit files
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    writeCommit(root, 1L, """{"version":1,"op":"create","dirs":["gen-d4e5"]}""")
    assert(lake.dirsAt(spark, 1L) == Seq("gen-d4e5"))
    intercept[IllegalArgumentException](lake.commitAt(spark, 2L))
  }

  test("a changefeed walk opens each commit file at most once; a repeat lookup opens none") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    lake.commit(Seq((3L, "c")).toDF("id", "v"))
    lake.delete(spark, org.apache.spark.sql.functions.col("id") === 3L)
    lake.commit(Seq((4L, "d")).toDF("id", "v"))
    lake.restore(spark, 2L)
    val last = lake.latestVersion(spark).get
    spark.sparkContext.hadoopConfiguration
      .set("fs.countfs.impl", classOf[CountingFs].getName)
    // each read goes through its own alias of the root, so no commit
    // file of it has been parsed before
    def alias(name: String): String = {
      val link = Paths.get(root).resolveSibling(name)
      Files.createSymbolicLink(link, Paths.get(root))
      s"countfs://$link"
    }
    def commitOpens(body: => Unit): Map[String, Int] = {
      CountingFs.reset()
      body
      CountingFs.opens.asScala.toMap.collect {
        case (p, n) if p.contains("/_commits/") => p -> n.get
      }
    }

    val batchRoot = alias("batch")
    val batch = commitOpens(new SnapshotLake(batchRoot).changesBetween(spark, 0L, last))
    assert(batch.size == last, s"changesBetween opened ${batch.keySet}")
    assert(batch.values.forall(_ == 1), s"changesBetween opens: $batch")

    val streamRoot = alias("stream")
    val streamSchema = lake.read(spark).schema
      .add(StructField(SnapshotLake.ChangeTypeCol, StringType))
      .add(StructField(SnapshotLake.CommitVersionCol, LongType))
    val source = new SnapLakeStreamSource(spark, streamRoot, streamSchema,
      None, changeFeed = true)
    val stream = commitOpens(source.getBatch(None, LongOffset(last)))
    assert(stream.size == last, s"readChangeFeed batch opened ${stream.keySet}")
    assert(stream.values.forall(_ == 1), s"readChangeFeed batch opens: $stream")

    // a parsed version costs one status probe and no open
    CountingFs.reset()
    val again = new SnapshotLake(batchRoot).commitAt(spark, 2L)
    assert(again.dirs == lake.dirsAt(spark, 2L))
    assert(CountingFs.opens.isEmpty, s"repeat lookup opened ${CountingFs.opens}")
    assert(CountingFs.statuses.asScala.map(_._2.get).sum == 1)
  }
}

/** A local filesystem under the test-only `countfs` scheme that counts
  * opens and status probes per path. */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def getScheme: String = "countfs"

  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int) = {
    CountingFs.count(CountingFs.opens, f)
    super.open(f, bufferSize)
  }

  override def getFileStatus(f: org.apache.hadoop.fs.Path) = {
    CountingFs.count(CountingFs.statuses, f)
    super.getFileStatus(f)
  }
}

object CountingFs {
  val opens = new ConcurrentHashMap[String, AtomicInteger]()
  val statuses = new ConcurrentHashMap[String, AtomicInteger]()

  private def count(m: ConcurrentHashMap[String, AtomicInteger],
      f: org.apache.hadoop.fs.Path): Unit =
    m.computeIfAbsent(f.toUri.getPath, _ => new AtomicInteger).incrementAndGet()

  def reset(): Unit = { opens.clear(); statuses.clear() }
}
