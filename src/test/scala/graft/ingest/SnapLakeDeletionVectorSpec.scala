package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Deletes by deletion vector ([[DeletionVectors]]): every case keeps a
  * copy-on-write model of each version's rows and checks `read`,
  * `readAt`, `format("snaplake")`, `changesBetween` and the changefeed
  * stream against it. */
class SnapLakeDeletionVectorSpec extends SparkSpecBase {
  import spark.implicits._

  private type Rows = Vector[(Long, Long)]

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snapdv").toString + "/lake"

  /** Rows (id, id % 7) for ids [lo, hi) in `files` files. */
  private def table(lo: Long, hi: Long, files: Int): DataFrame =
    spark.range(lo, hi, 1, files).select(col("id"), (col("id") % 7).as("v"))

  private def rowsOf(lo: Long, hi: Long): Rows = (lo until hi).map(i => (i, i % 7)).toVector

  private def sorted(df: DataFrame): Rows =
    df.select(col("id"), col("v")).as[(Long, Long)].collect().toVector.sorted

  /** The copy-on-write model: each version's rows. */
  private final class Model(val lake: SnapshotLake, val root: String) {
    var versions = Map.empty[Long, Rows]
    def record(v: Long, rows: Rows): Unit = versions += v -> rows
    def latest: Rows = versions(versions.keys.max)
  }

  private def model(load: DataFrame, rows: Rows, setup: SnapshotLake => Unit = _ => ()): Model = {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    setup(lake)
    val m = new Model(lake, root)
    m.record(lake.commit(load), rows)
    m
  }

  /** Apply a delete to the lake and the model. */
  private def delete(m: Model, p: org.apache.spark.sql.Column, drop: ((Long, Long)) => Boolean): Long = {
    val v = m.lake.delete(spark, p)
    if (!m.versions.contains(v)) m.record(v, m.latest.filterNot(drop))
    v
  }

  /** The change rows (id, v, type, version) the model implies for
    * versions (from, to]: a version's deletes are the rows it lost, its
    * inserts the rows it gained, as multisets. */
  private def expectedFeed(m: Model, from: Long, to: Long): Seq[(Long, Long, String, Long)] =
    m.versions.keys.toSeq.sorted.filter(v => v > from && v <= to).flatMap { v =>
      val prev = m.versions.getOrElse(v - 1, Vector.empty)
      val cur = m.versions(v)
      cur.diff(prev).map(r => (r._1, r._2, "insert", v)) ++
        prev.diff(cur).map(r => (r._1, r._2, "delete", v))
    }.sorted

  private def feedRows(df: DataFrame): Seq[(Long, Long, String, Long)] =
    df.select(col("id"), col("v"), col(SnapshotLake.ChangeTypeCol),
      col(SnapshotLake.CommitVersionCol)).as[(Long, Long, String, Long)].collect().toSeq.sorted

  /** Every read surface agrees with the model at every version. */
  private def assertModel(m: Model): Unit = {
    val vs = m.lake.versions(spark)
    assert(vs == m.versions.keys.toSeq.sorted, "the lake's versions")
    vs.foreach { v =>
      val want = m.versions(v).sorted
      assert(sorted(m.lake.readAt(spark, v)) == want, s"readAt($v)")
      assert(sorted(spark.read.format("snaplake").option("versionAsOf", v.toString)
        .load(m.root)) == want, s"versionAsOf $v")
    }
    assert(sorted(m.lake.read(spark)) == m.latest.sorted, "read")
    val want = expectedFeed(m, 0L, vs.last)
    assert(feedRows(m.lake.changesBetween(spark, 0L, vs.last)) == want, "changesBetween")
    val name = s"dv_feed_${System.nanoTime()}"
    val q = spark.readStream.format("snaplake").option("readChangeFeed", "true")
      .load(m.root).writeStream.format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      assert(feedRows(spark.table(name)) == want, "changefeed stream")
    } finally q.stop()
  }

  /** The one data file version `v` reads of its only generation. */
  private def onlyFile(m: Model, v: Long): (String, String) = {
    val Seq(g) = m.lake.commitAt(spark, v).gens
    val names = g.files.getOrElse(Files.list(java.nio.file.Paths.get(m.root, g.dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq)
    val Seq(f) = names
    (g.dir, f)
  }

  test("deletes at row positions 4095 and 4096 straddle a vectorized batch") {
    val load = table(0, 10000, 1).withColumn("s", struct(col("id").as("i"), col("v")))
      .withColumn("a", array(col("v"), col("id")))
    val m = model(load, rowsOf(0, 10000))
    val v = delete(m, col("id").isin(0L, 4095L, 4096L, 9999L), r => Set(0L, 4095L, 4096L, 9999L)(r._1))
    val (dir, file) = onlyFile(m, v)
    val c = m.lake.commitAt(spark, v)
    assert(c.dvs(dir)(file).rows == 4L, c.json)
    assert(c.files.isEmpty && c.dirs == m.lake.dirsAt(spark, 1L), "no data file is written")
    // nested columns are remapped with their rows
    val nested = m.lake.read(spark)
    assert(nested.filter(col("s.i") =!= col("id") || col("a")(1) =!= col("id")).count() == 0L)
    assert(nested.select(col("s.i")).as[Long].collect().sorted.toSeq ==
      m.latest.map(_._1).sorted)
    assertModel(m)
  }

  test("a file of several row groups read in several splits") {
    val keys = Seq("parquet.block.size", "spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("parquet.block.size", (64 * 1024).toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (128 * 1024).toString)
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    try {
      val load = spark.range(0, 200000, 1, 1).select(col("id"), (col("id") % 7).as("v"),
        sha2(col("id").cast("string"), 256).as("pad"))
      val m = model(load, rowsOf(0, 200000))
      val (dir, file) = onlyFile(m, 1L)
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"${m.root}/$dir/$file"), spark.sparkContext.hadoopConfiguration))
      val groups = try footer.getRowGroups.size() finally footer.close()
      assert(groups > 2, s"$groups row groups")
      assert(m.lake.read(spark).rdd.getNumPartitions > 2, "the file is read in several splits")
      delete(m, col("id") % 997 === 0L, _._1 % 997 == 0L)
      delete(m, col("id") >= 150000L && col("id") < 150100L, r => r._1 >= 150000L && r._1 < 150100L)
      assertModel(m)
    } finally before.foreach {
      case (k, Some(x)) => spark.conf.set(k, x)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the row-based parquet reader drops the same rows") {
    val key = "spark.sql.parquet.enableVectorizedReader"
    spark.conf.set(key, "false")
    try {
      val m = model(table(0, 5000, 2), rowsOf(0, 5000))
      delete(m, col("id") % 3 === 0L, _._1 % 3 == 0L)
      assertModel(m)
    } finally spark.conf.unset(key)
  }

  test("a second delete in a file unions its deletion vector") {
    val m = model(table(0, 1000, 1), rowsOf(0, 1000))
    val v2 = delete(m, col("id") < 10L, _._1 < 10L)
    val v3 = delete(m, col("id") >= 990L, _._1 >= 990L)
    val (dir, file) = onlyFile(m, v3)
    val (d2, d3) = (m.lake.commitAt(spark, v2).dvs(dir)(file), m.lake.commitAt(spark, v3).dvs(dir)(file))
    assert(d2.rows == 10L && d3.rows == 20L && d2.file != d3.file, (d2, d3))
    // the second delete read the file under its first vector: the rows
    // it removed are only its own
    assert(m.lake.commitAt(spark, v3).metrics.flatMap(_.rowsRemoved).contains(10L))
    // a delete that matches only deleted rows changes nothing
    assert(m.lake.delete(spark, col("id") < 5L) == v3)
    assertModel(m)
  }

  test("a delete of every row of a file drops the file from the manifest") {
    val m = model(table(0, 100, 2), rowsOf(0, 100))
    val v = delete(m, col("id") < 50L, _._1 < 50L)
    val c = m.lake.commitAt(spark, v)
    assert(c.dvs.isEmpty, c.json)
    assert(c.metrics.exists(mt => mt.filesRemoved == 1L && mt.filesCarried == 1L &&
      mt.rowsRemoved.contains(50L) && mt.dvsChanged.contains(0L)), c.json)
    assert(c.gens.head.files.exists(_.size == 1), c.json)
    val v2 = delete(m, lit(true), _ => true)
    // the generation stays, reading no file: the table keeps its schema
    assert(m.lake.commitAt(spark, v2).gens.map(_.files) == Seq(Some(Nil)))
    assert(m.lake.read(spark).columns.toSeq == Seq("id", "v"))
    assert(m.lake.read(spark).count() == 0L)
    assertModel(m)
  }

  test("merge, compactSmall and optimize rewrite a DV'd file without its rows or vector") {
    val m = model(table(0, 400, 2), rowsOf(0, 400))
    def dvFiles(v: Long) = m.lake.commitAt(spark, v).dvs.values.flatMap(_.keys).size
    delete(m, col("id") % 5 === 0L, _._1 % 5 == 0L)
    // a merge into the file replaces key 1 and re-inserts deleted key 5
    val src = Seq((1L, 100L), (5L, 500L)).toDF("id", "v")
    val vm = m.lake.merge(src, Seq("id"))
    m.record(vm, m.latest.filterNot(r => r._1 == 1L) ++ Seq((1L, 100L), (5L, 500L)))
    assert(dvFiles(vm) < dvFiles(vm - 1), m.lake.commitAt(spark, vm).json)
    m.lake.commit(table(1000, 1010, 1))
    m.record(m.lake.latestVersion(spark).get, m.latest ++ rowsOf(1000, 1010))
    delete(m, col("id") === 1003L, _._1 == 1003L)
    val vc = m.lake.compactSmall(spark, 1L << 30, Seq(col("id")))
    m.record(vc, m.latest)
    assert(dvFiles(vc) == 0, m.lake.commitAt(spark, vc).json)
    delete(m, col("id") === 7L, _._1 == 7L)
    val vo = m.lake.optimize(spark, 2, Seq(col("id")))
    m.record(vo, m.latest)
    assert(dvFiles(vo) == 0 && m.lake.read(spark).inputFiles.length == 2)
    assertModel(m)
  }

  test("time travel before a delete, and restore, read the deleted rows again") {
    val m = model(table(0, 300, 3), rowsOf(0, 300))
    val vd = delete(m, col("id") % 2 === 0L, _._1 % 2 == 0L)
    assert(m.lake.readAt(spark, vd - 1).count() == 300L)
    val vr = m.lake.restore(spark, vd - 1)
    m.record(vr, m.versions(vd - 1))
    assert(m.lake.commitAt(spark, vr).dvs.isEmpty)
    // restoring the delete's version marks the rows again
    val vr2 = m.lake.restore(spark, vd)
    m.record(vr2, m.versions(vd))
    assertModel(m)
  }

  test("a racing delete on the same file aborts; on a disjoint file it rebases") {
    val m = model(table(0, 100, 4), rowsOf(0, 100))
    // ids [0,25), [25,50), [50,75), [75,100): one per file
    val racy = new SnapshotLake(m.root) {
      override protected def onBeforePublish(): Unit =
        m.record(new SnapshotLake(m.root).delete(spark, col("id") === 80L),
          m.latest.filterNot(_._1 == 80L))
    }
    val v = racy.delete(spark, col("id") === 10L)
    m.record(v, m.latest.filterNot(_._1 == 10L))
    assert(v == 3L && m.lake.commitAt(spark, v).dvs.values.map(_.size).sum == 2)
    val racy2 = new SnapshotLake(m.root) {
      override protected def onBeforePublish(): Unit =
        m.record(new SnapshotLake(m.root).delete(spark, col("id") === 30L),
          m.latest.filterNot(_._1 == 30L))
    }
    intercept[java.util.ConcurrentModificationException] {
      racy2.delete(spark, col("id") === 31L)
    }
    assert(m.lake.latestVersion(spark).contains(4L))
    // the loser's vector file is gone with it
    val dvs = Files.list(java.nio.file.Paths.get(m.root, DeletionVectors.DirName)).count()
    assert(dvs == 3L, s"$dvs deletion-vector files")
    assertModel(m)
  }

  test("a table that never deletes reads through the stock parquet format") {
    val m = model(table(0, 100, 2), rowsOf(0, 100))
    def format(df: DataFrame) = df.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.relation.fileFormat.getClass
    }.get
    assert(format(m.lake.read(spark)) ==
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
    delete(m, col("id") === 3L, _._1 == 3L)
    assert(format(m.lake.read(spark)) == classOf[graft.sources.DvParquetFileFormat])
    assert(format(m.lake.readAt(spark, 1L)) ==
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat])
    assertModel(m)
  }
}
