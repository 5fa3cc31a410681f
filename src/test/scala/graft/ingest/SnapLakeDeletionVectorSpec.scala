package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Deletes and merges by deletion vector ([[DeletionVectors]]): every
  * case keeps a copy-on-write model of each version's rows and checks
  * `read`, `readAt`, `format("snaplake")`, `changesBetween` and the
  * changefeed stream against it. A null `id` is modelled as
  * `Long.MinValue`. */
class SnapLakeDeletionVectorSpec extends SparkSpecBase {
  import spark.implicits._

  private type Rows = Vector[(Long, Long)]

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snapdv").toString + "/lake"

  /** Rows (id, id % 7) for ids [lo, hi) in `files` files. */
  private def table(lo: Long, hi: Long, files: Int): DataFrame =
    spark.range(lo, hi, 1, files).select(col("id"), (col("id") % 7).as("v"))

  private def rowsOf(lo: Long, hi: Long): Rows = (lo until hi).map(i => (i, i % 7)).toVector

  private val idOrMin = coalesce(col("id"), lit(Long.MinValue))

  private def sorted(df: DataFrame): Rows =
    df.select(idOrMin, col("v")).as[(Long, Long)].collect().toVector.sorted

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

  /** Apply an upsert of `src` rows (id, v; a None id is a null key) to
    * the lake and the model: rows whose id a source row holds are
    * replaced by the source rows, null keys match nothing. */
  private def merge(m: Model, src: Seq[(Option[Long], Long)],
      via: Option[SnapshotLake] = None): Long = {
    val v = via.getOrElse(m.lake).merge(src.toDF("id", "v"), Seq("id"))
    val keys = src.flatMap(_._1).toSet
    m.record(v, m.latest.filterNot(r => keys(r._1)) ++
      src.map { case (id, x) => (id.getOrElse(Long.MinValue), x) })
    v
  }

  /** The data files of `dir` in name order. */
  private def parts(m: Model, dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(m.root, dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith(".")).toSeq.sorted

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
    df.select(idOrMin, col("v"), col(SnapshotLake.ChangeTypeCol),
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
    val Seq(f) = g.files.getOrElse(parts(m, g.dir))
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

  test("merge marks a DV'd file; compactSmall and optimize rewrite it without its rows or vector") {
    val m = model(table(0, 400, 2), rowsOf(0, 400))
    def dvFiles(v: Long) = m.lake.commitAt(spark, v).dvs.values.flatMap(_.keys).size
    val vd = delete(m, col("id") % 5 === 0L, _._1 % 5 == 0L)
    // a merge into the first file replaces key 1 and re-inserts deleted
    // key 5: the file's vector gains key 1's row, the other file's stays
    val vm = merge(m, Seq((Some(1L), 100L), (Some(5L), 500L)))
    val gen = m.lake.dirsAt(spark, 1L).head
    val Seq(first, second) = parts(m, gen)
    val (dvd, dvm) = (m.lake.commitAt(spark, vd).dvs(gen), m.lake.commitAt(spark, vm).dvs(gen))
    assert(dvm(first).rows == dvd(first).rows + 1 && dvm(second) == dvd(second), (dvd, dvm))
    assert(m.lake.commitAt(spark, vm).metrics.flatMap(_.rowsRemoved).contains(1L))
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

  test("a merge unions a file's deletion vector; one replacing every row of a file drops it") {
    val m = model(table(0, 200, 2), rowsOf(0, 200))
    // ids [0, 100) and [100, 200), one file each
    val gen = m.lake.dirsAt(spark, 1L).head
    val Seq(first, second) = parts(m, gen)
    delete(m, col("id") % 5 === 0L, _._1 % 5 == 0L)
    // an update in each file that already has a vector, and a deleted key
    // re-inserted
    val v1 = merge(m, Seq((Some(1L), 10L), (Some(5L), 50L), (Some(151L), 15L)))
    val c1 = m.lake.commitAt(spark, v1)
    assert(c1.dvs(gen).map { case (f, dv) => f -> dv.rows } == Map(first -> 21L, second -> 21L), c1.json)
    assert(c1.metrics.exists(mt => mt.rowsRemoved.contains(2L) && mt.dvsChanged.contains(2L) &&
      mt.filesRemoved == 0L), c1.json)
    // replace every row of the second file: it leaves the manifest, and
    // no vector is written for it; so does the one-row file of the last
    // merge's source that held key 151
    val v2 = merge(m, (100L until 200L).map(i => (Some(i), i * 2)))
    val c2 = m.lake.commitAt(spark, v2)
    assert(c2.files(gen) == Seq(first) && c2.dvs(gen).keySet == Set(first), c2.json)
    assert(c2.metrics.exists(mt => mt.filesRemoved == 2L && mt.dvsChanged.contains(0L) &&
      mt.rowsRemoved.contains(80L)), c2.json)
    assertModel(m)
  }

  test("a merge with null and duplicate source keys") {
    val m = model(table(0, 100, 2), rowsOf(0, 100))
    // null keys match nothing and insert; a duplicated key replaces the
    // target row once and inserts both source rows
    val v = merge(m, Seq((None, 7L), (None, 8L), (Some(3L), 30L), (Some(3L), 31L), (Some(500L), 5L)))
    val c = m.lake.commitAt(spark, v)
    assert(c.dvs.values.flatMap(_.values).map(_.rows).toSeq == Seq(1L), c.json)
    assert(m.lake.read(spark).filter(col("id").isNull).count() == 2L)
    // an all-null-key source marks nothing
    val v2 = merge(m, Seq((None, 9L)))
    assert(m.lake.commitAt(spark, v2).dvs == c.dvs)
    assertModel(m)
  }

  test("a LONG-keyed source that adds a column merges into an INT-keyed table") {
    val m = model(table(0, 100, 2).select(col("id").cast("int").as("id"), col("v")), rowsOf(0, 100))
    val v = m.lake.merge(Seq((5L, 55L, "w5"), (1000L, 1L, "w1000")).toDF("id", "v", "w"), Seq("id"))
    m.record(v, m.latest.filterNot(_._1 == 5L) ++ Seq((5L, 55L), (1000L, 1L)))
    val fresh = m.lake.dirsAt(spark, v).last
    // the source is stored in the table's key type, with its new column
    val stored = GenStats.schema(spark.sparkContext.hadoopConfiguration, s"${m.root}/$fresh").get
    assert(stored("id").dataType == org.apache.spark.sql.types.IntegerType, stored)
    val read = m.lake.read(spark)
    assert(read.schema.fieldNames.toSeq == Seq("id", "v", "w") &&
      read.schema("id").dataType == org.apache.spark.sql.types.IntegerType, read.schema)
    assert(read.filter(col("w").isNotNull).select(col("id"), col("w")).as[(Int, String)]
      .collect().toSet == Set((5, "w5"), (1000, "w1000")))
    assertModel(m)
  }

  test("time travel and restore across a merge") {
    val m = model(table(0, 300, 3), rowsOf(0, 300))
    val vm = merge(m, (0L until 300L by 7L).map(i => (Some(i), -i - 1)) :+ ((Some(999L), 9L)))
    assert(m.lake.readAt(spark, vm - 1).filter(col("v") < 0L).count() == 0L)
    val vr = m.lake.restore(spark, vm - 1)
    m.record(vr, m.versions(vm - 1))
    assert(m.lake.commitAt(spark, vr).dvs.isEmpty)
    // restoring the merge's version marks the rows again and reads its
    // source generation
    val vr2 = m.lake.restore(spark, vm)
    m.record(vr2, m.versions(vm))
    assert(m.lake.commitAt(spark, vr2).gens == m.lake.commitAt(spark, vm).gens)
    assertModel(m)
  }

  test("a delete racing a merge on the same row aborts; on a disjoint file it rebases") {
    val m = model(table(0, 100, 4), rowsOf(0, 100))
    // ids [0,25), [25,50), [50,75), [75,100): one per file
    def racing(hook: => Unit): SnapshotLake = new SnapshotLake(m.root) {
      var fired = false
      override protected def onBeforePublish(): Unit = if (!fired) { fired = true; hook }
    }
    // a delete in another file lands first; the merge rebases over it
    val v3 = merge(m, Seq((Some(10L), 1L)), Some(racing(
      delete(m, col("id") === 80L, _._1 == 80L))))
    assert(v3 == 3L)
    // a delete of the row the merge replaces lands first: the merge aborts
    intercept[java.util.ConcurrentModificationException] {
      racing(delete(m, col("id") === 30L, _._1 == 30L))
        .merge(Seq((30L, 3L)).toDF("id", "v"), Seq("id"))
    }
    // and a merge of the row a delete removes lands first: the delete aborts
    intercept[java.util.ConcurrentModificationException] {
      racing(merge(m, Seq((Some(40L), 4L)))).delete(spark, col("id") === 40L)
    }
    assert(m.lake.latestVersion(spark).contains(5L))
    // the losers left no generation and no vector file behind
    val gens = Files.list(java.nio.file.Paths.get(m.root)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString).filter(_.startsWith("gen-")).toSet
    assert(gens == m.lake.versions(spark).flatMap(m.lake.dirsAt(spark, _)).toSet, gens)
    val dvs = Files.list(java.nio.file.Paths.get(m.root, DeletionVectors.DirName)).count()
    assert(dvs == 4L, s"$dvs deletion-vector files")
    assertModel(m)
  }

  test("a restore that un-marks a merge's key aborts it; one outside its scope rebases") {
    val m = model(table(0, 100, 4), rowsOf(0, 100))
    // ids [0,25), [25,50), [50,75), [75,100): one per file
    def restoring(to: Long): SnapshotLake = new SnapshotLake(m.root) {
      var fired = false
      override protected def onBeforePublish(): Unit = if (!fired) {
        fired = true
        m.record(new SnapshotLake(m.root).restore(spark, to), m.versions(to))
      }
    }
    // a restore that brings back a row of another file lands first: the
    // merge rebases over it
    val vd = delete(m, col("id") === 80L, _._1 == 80L)
    val vm = merge(m, Seq((Some(10L), 1L)), Some(restoring(vd - 1)))
    assert(vm == vd + 2)
    // a restore that brings back the row of the merge's key lands first:
    // the merge, which marked nothing in that file, aborts instead of
    // leaving the key twice
    val vd2 = delete(m, col("id") === 20L, _._1 == 20L)
    intercept[java.util.ConcurrentModificationException] {
      restoring(vd2 - 1).merge(Seq((20L, 2L)).toDF("id", "v"), Seq("id"))
    }
    assert(m.lake.latestVersion(spark).contains(vd2 + 1))
    assert(m.lake.read(spark).filter(col("id") === 20L).as[(Long, Long)].collect().toSeq ==
      Seq((20L, 20L % 7)))
    assertModel(m)
  }
}
