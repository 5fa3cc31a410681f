package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkSpecBase

/** [[SnapshotLake.optimize]] / [[SnapshotLake.optimizeZOrder]]: the
  * maintenance pass that makes manifest stats actually skip — content
  * parity, generation collapse, envelope tightening measured through the
  * scan's own file counts, and the optimistic-abort contract.
  */
class SnapLakeOptimizeSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snapopt").toString

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.get.metrics("numFiles").value
  }

  test("optimize collapses arrival-ordered generations into prunable files") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // 4 appends, each spanning the WHOLE key domain (id % 4 == k) — the
    // shape streaming ingest produces: every file's envelope covers
    // everything, stats prune nothing
    (0 until 4).foreach { k =>
      lake.commit(spark.range(0, 2000).toDF("id")
        .filter(col("id") % 4 === k).coalesce(2), overwrite = k == 0)
    }
    val narrow = () => filesRead(spark.read.format("snaplake").load(root)
      .filter(col("id") >= 100 && col("id") < 200))
    // every generation holds matching rows, so each contributes a file
    // (coalesce(2) halves are contiguous — the id<200 half of each gen)
    assert(narrow() == 4L, "pre-optimize every generation should match the range")
    val v = lake.optimize(spark, 8, Seq(col("id")))
    assert(v == 5L)
    // same predicate now touches only the clustered slice
    val after = narrow()
    assert(after == 1L, s"post-optimize range read $after files, want 1")
    // content parity and a time-travelable pre-optimize snapshot
    assert(spark.read.format("snaplake").load(root).count() == 2000)
    assert(lake.readAt(spark, 4L).count() == 2000)
    assert(lake.dirsAt(spark, v).size == 1, "optimize should emit one generation")
    // vacuum completes the maintenance story: old generations reclaimed
    lake.vacuum(spark, retainLast = 1)
    assert(lake.versions(spark) == Seq(5L))
    assert(spark.read.format("snaplake").load(root).count() == 2000)
  }

  test("optimizeZOrder tightens envelopes on both keys at once") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // 100×100 grid in row-major arrival order: x-envelopes are tight
    // already, y-envelopes span everything
    lake.commit(spark.range(0, 10000)
      .select((col("id") / 100).cast("long").as("x"), (col("id") % 100).as("y")),
      overwrite = true)
    lake.optimizeZOrder(spark, Seq(col("x"), col("y")), 16)
    val total = filesRead(spark.read.format("snaplake").load(root))
    assert(total == 16L)
    val xs = filesRead(spark.read.format("snaplake").load(root)
      .filter(col("x") >= 10 && col("x") < 20))
    val ys = filesRead(spark.read.format("snaplake").load(root)
      .filter(col("y") >= 10 && col("y") < 20))
    assert(xs <= 8L, s"x-range should prune most of 16 files, read $xs")
    assert(ys <= 8L, s"y-range should prune most of 16 files, read $ys")
    // answers unchanged
    assert(spark.read.format("snaplake").load(root)
      .filter(col("x") >= 10 && col("x") < 20).count() == 1000)
    assert(spark.read.format("snaplake").load(root)
      .filter(col("y") >= 10 && col("y") < 20).count() == 1000)
  }

  test("optimizeZOrderN: three keys all prune after one clustering pass") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // 20×20×20 grid in row-major order: only x is naturally clustered
    lake.commit(spark.range(0, 8000).select(
      (col("id") / 400).cast("long").as("x"),
      ((col("id") / 20) % 20).cast("long").as("y"),
      (col("id") % 20).as("z")), overwrite = true)
    lake.optimizeZOrder(spark, Seq(col("x"), col("y"), col("z")), 16, 12)
    def files(f: org.apache.spark.sql.Column): Long =
      filesRead(spark.read.format("snaplake").load(root).filter(f))
    assert(files(lit(true)) == 16L)
    // a narrow range on EACH key individually prunes — with three keys
    // sharing the curve each gets weaker pruning than a 2-key layout
    // would give it (the inherent trade), but every key must beat the
    // unclustered layout's read-everything
    Seq(col("x"), col("y"), col("z")).foreach { k =>
      val n = files(k >= 5 && k < 8)
      assert(n <= 12L, s"$k range read $n of 16 files after 3-key zorder")
    }
    assert(spark.read.format("snaplake").load(root)
      .filter(col("y") >= 5 && col("y") < 8).count() == 1200)
  }

  test("compactSmall folds the small tail, carries the big body") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // one "big" base generation plus five tiny streaming-style appends
    lake.commit(spark.range(0, 50000).toDF("id"), overwrite = true)
    (0 until 5).foreach { k =>
      lake.commit(spark.range(50000 + k * 10, 50010 + k * 10).toDF("id")
        .coalesce(1))
    }
    val before = lake.dirsAt(spark, 6L)
    val bigGen = lake.dirsAt(spark, 1L).head
    val v = lake.compactSmall(spark, maxBytes = 64 * 1024, Seq(col("id")))
    assert(v == 7L)
    val after = lake.dirsAt(spark, v)
    assert(after.contains(bigGen), "the big generation must carry by reference")
    assert(after.size == 2, s"tail should fold into one generation: $after")
    assert(spark.read.format("snaplake").load(root).count() == 50050)
    // idempotent steady state: one small gen left → nothing to do
    assert(lake.compactSmall(spark, maxBytes = 64 * 1024, Seq(col("id"))) == v)
    // the fold is layout-only: the changefeed for it is empty
    assert(lake.changesBetween(spark, 6L, 7L).count() == 0)
    // pre-compaction versions stay time-travelable until vacuumed
    assert(lake.readAt(spark, 6L).count() == 50050)
    assert(before.size == 6)
  }

  test("auto-compact: the commit path keeps the small tail bounded") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(spark.range(0, 50000).toDF("id"), overwrite = true)
    lake.enableAutoCompact(spark, maxSmallGens = 3, smallBytes = 64 * 1024)
    // tiny appends: the third one crosses the threshold and its commit
    // triggers the fold as a follow-on commit
    (0 until 3).foreach { k =>
      lake.commit(spark.range(50000 + k * 10, 50010 + k * 10).toDF("id")
        .coalesce(1))
    }
    val vLatest = lake.latestVersion(spark).get
    val dirs = lake.dirsAt(spark, vLatest)
    assert(dirs.size == 2,
      s"3 small gens should have folded to 1 beside the big body: $dirs")
    assert(dirs.contains(lake.dirsAt(spark, 1L).head),
      "the big generation must carry by reference through auto-compact")
    // the compaction is its own commit AFTER the triggering append
    val hist = lake.history(spark).collect()
      .map(r => r.getAs[Long]("version") -> r.getAs[String]("op")).toMap
    assert(hist(vLatest) == "compact", s"history: $hist")
    assert(spark.read.format("snaplake").load(root).count() == 50030)
    // below threshold nothing compacts (the folded tiny gen is itself
    // still "small", so the tail is {folded, new} = 2 < 3)
    lake.commit(spark.range(60000, 60010).toDF("id").coalesce(1))
    assert(lake.dirsAt(spark, lake.latestVersion(spark).get).size == 3,
      "under-threshold tail must not trigger a fold")
    // disable stops the tier: a further tiny append accretes normally
    // even though it crosses the old threshold
    lake.disableAutoCompact(spark)
    lake.commit(spark.range(70000, 70010).toDF("id").coalesce(1))
    assert(lake.dirsAt(spark, lake.latestVersion(spark).get).size == 4)
    assert(spark.read.format("snaplake").load(root).count() == 50050)
  }

  test("optimize rebases across a racing append; aborts on a racing rewrite") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    // a layout rewrite claims nothing about row content, so a racing
    // APPEND generation carries forward by reference and optimize lands:
    // content = clustered snapshot + the winner's rows
    val racy = new SnapshotLake(root) {
      override protected def onBeforePublish(): Unit =
        new SnapshotLake(root).commit(Seq((2L, "b")).toDF("id", "v"))
    }
    val v = racy.optimize(spark, 1, Seq(col("id")))
    assert(v == 3L, s"optimize should land at v3 after rebasing, got $v")
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")), "racing append lost across optimize")
    // a racing REWRITE (delete) invalidates the consumed snapshot — the
    // optimize's output would resurrect the deleted row — must abort
    val racy2 = new SnapshotLake(root) {
      override protected def onBeforePublish(): Unit = {
        val l = new SnapshotLake(root)
        l.delete(spark, col("id") === 1L)
      }
    }
    intercept[java.util.ConcurrentModificationException] {
      racy2.optimize(spark, 1, Seq(col("id")))
    }
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((2L, "b")), "abort must preserve the winning delete")
  }

  test("auto-compact carries the configured sort columns into the fold") {
    // a table maintained with optimize(sortCols) must not have its
    // auto-folded tail rewritten UNSORTED — that silently degrades
    // clustering (and stats-envelope tightness) until the next full
    // optimize. enableAutoCompact(sortCols) threads the columns through
    // to compactSmall's repartitionByRange + sortWithinPartitions.
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(spark.range(0, 50000).toDF("id"), overwrite = true)
    lake.enableAutoCompact(spark, maxSmallGens = 3,
      smallBytes = 64 * 1024, sortCols = Seq("id"))
    assert(lake.autoCompactConfig(spark).exists(_._3 == Seq("id")))
    // shuffled tiny appends: each gen's rows arrive in hash order, so a
    // sort-free fold would stay unsorted with near-certainty
    (0 until 3).foreach { k =>
      lake.commit(spark.range(50000 + k * 200, 50200 + k * 200).toDF("id")
        .repartition(4).coalesce(1))
    }
    val vLatest = lake.latestVersion(spark).get
    val dirs = lake.dirsAt(spark, vLatest)
    assert(dirs.size == 2, s"tail should have folded: $dirs")
    val folded = dirs.filterNot(_ == lake.dirsAt(spark, 1L).head).head
    // per-FILE sortedness of the folded generation (parquet preserves
    // row order; one file per ~smallBytes)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/$folded"))
      .filter(_.getPath.getName.endsWith(".parquet")).foreach { st =>
        val ids = spark.read.parquet(st.getPath.toString)
          .select("id").as[Long].collect()
        assert(ids.sameElements(ids.sorted),
          s"auto-folded file ${st.getPath.getName} is not sorted by id")
      }
    assert(spark.read.format("snaplake").load(root).count() == 50600)
  }

  test("compactSmall and optimize drop the empty generations they fold") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    val empty = spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      Seq((0L, "")).toDF("id", "v").schema)
    lake.commit(Seq((1L, "a")).toDF("id", "v"))
    lake.commit(empty)
    lake.commit(Seq((2L, "b")).toDF("id", "v"))
    lake.commit(empty)
    val v = lake.compactSmall(spark, maxBytes = 1L << 30, Seq(col("id")))
    assert(lake.dirsAt(spark, v).size == 1, lake.dirsAt(spark, v))
    lake.commit(empty)
    val v2 = lake.optimize(spark, 1, Seq(col("id")))
    assert(lake.dirsAt(spark, v2).size == 1, lake.dirsAt(spark, v2))
    assert(lake.read(spark).as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }
}
