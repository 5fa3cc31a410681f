package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkSpecBase
import graft.ingest.GenStats.{ColStats, FileStats}
import graft.sources.StatsPruning

/** Manifest-stats data skipping on the snaplake source: footer-harvested
  * per-file envelopes ([[GenStats]]), conservative pruning
  * ([[graft.sources.StatsPruning]]), and the end-to-end contract that
  * skipping changes a scan's file count but never its answer.
  */
class SnapLakeSkipSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snapskip").toString

  /** Execute and return (rows, files-read) from the scan's own metric —
    * collect() so the inspected plan instance is the one that ran
    * (count() would plan and execute a separate tree). */
  private def runCounting(df: DataFrame): (Long, Long) = {
    val n = df.collect().length.toLong
    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    (n, scan.metrics("numFiles").value)
  }

  test("commit harvests per-file envelopes from the parquet footers") {
    val root = freshRoot()
    val df = Seq(
      (1L, 1.5, "apple", true),
      (4L, -2.0, "pear", false),
      (9L, 0.25, "fig", true)
    ).toDF("id", "score", "name", "flag").coalesce(1)
    new SnapshotLake(root).commit(df, overwrite = true)
    val lake = new SnapshotLake(root)
    val gen = lake.dirsAt(spark, 1L).head
    val stats = GenStats.load(
      spark.sparkContext.hadoopConfiguration, s"$root/$gen").get
    assert(stats.size == 1)
    val fs = stats.values.head
    assert(fs.rows == 3)
    assert(fs.cols("id") == ColStats("l", Some(1L), Some(9L), Some(0L)))
    assert(fs.cols("score") == ColStats("d", Some(-2.0), Some(1.5), Some(0L)))
    assert(fs.cols("name") == ColStats("s", Some("apple"), Some("pear"), Some(0L)))
    assert(fs.cols("flag") == ColStats("b", Some(false), Some(true), Some(0L)))
  }

  test("range predicate schedules only the files its envelope intersects") {
    val root = freshRoot()
    // 8 files with disjoint id ranges — the layout a range-partitioned
    // 100 TB table would have
    spark.range(0, 8000).select(col("id"), (col("id") * 2).as("v"))
      .repartitionByRange(8, col("id"))
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    val all = runCounting(spark.read.format("snaplake").load(root))
    assert(all == ((8000L, 8L)), s"expected 8 files, got $all")
    // a range inside one file's envelope → exactly 1 file read
    val narrow = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") >= 100 && col("id") < 200))
    assert(narrow._1 == 100L)
    assert(narrow._2 == 1L, s"narrow range read ${narrow._2} files, want 1")
    // an equality miss outside every envelope → zero files, zero tasks
    val miss = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") === 1000000L))
    assert(miss == ((0L, 0L)), s"miss should scan nothing, got $miss")
    // IN list spanning two envelopes → 2 files
    val in2 = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id").isin(10L, 7990L)))
    assert(in2._1 == 2L && in2._2 == 2L, s"IN should scan 2 files, got $in2")
    // time travel reads through the same scan, so it prunes alike
    val lake = new SnapshotLake(root)
    val v = lake.latestVersion(spark).get
    val narrowAt = runCounting(lake.readAt(spark, v)
      .filter(col("id") >= 100 && col("id") < 200))
    assert(narrowAt == ((100L, 1L)), s"readAt narrow range read $narrowAt, want 1 file")
    val missAt = runCounting(lake.readAt(spark, v).filter(col("id") === 1000000L))
    assert(missAt == ((0L, 0L)), s"readAt miss should scan nothing, got $missAt")
    val inAt = runCounting(lake.readAt(spark, v).filter(col("id").isin(10L, 7990L)))
    assert(inAt == ((2L, 2L)), s"readAt IN should scan 2 files, got $inAt")
  }

  test("skipping never changes an answer: parity across filter shapes") {
    val root = freshRoot()
    val base = spark.range(0, 2000).select(
      col("id"),
      when(col("id") % 13 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("doc-"), lpad(col("id").cast("string"), 5, "0")))
        .as("name"),
      (col("id").cast("double") / 7.0).as("score"))
    base.repartitionByRange(5, col("id"))
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    val lakeDf = spark.read.format("snaplake").load(root)
    val filters = Seq(
      col("id") < 50,
      col("id") >= 1990,
      col("id") === 777 || col("id") === 1,
      col("name").isNull,
      col("name").isNotNull && col("score") > 250.0,
      col("name").startsWith("doc-000"),
      col("name") > "doc-01900")
    filters.foreach { f =>
      val got = lakeDf.filter(f).orderBy(col("id")).collect().toSeq
      val want = base.filter(f).orderBy(col("id")).collect().toSeq
      assert(got == want, s"parity broke under filter $f")
    }
  }

  test("null envelopes: IsNotNull skips an all-null file, IsNull a full one") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // gen 1: v entirely null; gen 2: v fully populated
    lake.commit(Seq((1L, Option.empty[String]), (2L, Option.empty[String]))
      .toDF("id", "v").coalesce(1), overwrite = true)
    lake.commit(Seq((3L, Some("x")), (4L, Some("y")))
      .toDF("id", "v").coalesce(1))
    val notNull = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("v").isNotNull))
    assert(notNull == ((2L, 1L)), s"IsNotNull should skip the null file: $notNull")
    val isNull = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("v").isNull))
    assert(isNull == ((2L, 1L)), s"IsNull should skip the populated file: $isNull")
    // a value predicate can also skip the all-null file
    val eq = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("v") === "x"))
    assert(eq == ((1L, 1L)), s"equality should skip the all-null file: $eq")
  }

  test("a generation without _stats.json is read whole, never pruned") {
    val root = freshRoot()
    spark.range(0, 100).toDF("id").repartitionByRange(2, col("id"))
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    spark.range(100, 200).toDF("id").repartitionByRange(2, col("id"))
      .write.format("snaplake").mode(SaveMode.Append).save(root)
    val lake = new SnapshotLake(root)
    // simulate an older writer: drop gen 1's stats file
    val gen1 = lake.dirsAt(spark, 1L).head
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/$gen1/${GenStats.StatsFileName}"), false))
    // filter matches nothing anywhere: gen 2's 2 files prune on stats,
    // gen 1's 2 files must survive (no stats — no proof)
    val r = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") === 5000L))
    assert(r == ((0L, 2L)), s"statless gen must be kept: $r")
    // and answers stay right
    assert(spark.read.format("snaplake").load(root)
      .filter(col("id") < 150).count() == 150)
  }

  test("auto blooms: appends after enableAutoBlooms stay point-prunable") {
    // Freshness (r8 verdict gap): computeBlooms is a one-shot backfill,
    // so without the table-level setting every post-backfill commit
    // silently decays point-lookup skipping to envelope-only. With
    // blooms=on, the commit path builds the new generation's sidecar
    // at write time — a point miss schedules zero files even on data
    // appended AFTER the backfill.
    val root = freshRoot()
    spark.range(0, 4000).select((col("id") * 7919L).as("id"))
      .repartition(4)
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    val lake = new SnapshotLake(root)
    // requested casing differs from the schema on purpose — resolution
    // is case-insensitive like Spark's own
    lake.enableAutoBlooms(spark, Seq("ID"), expectedNdvPerFile = 4000)
    lake.computeBlooms(spark, Seq("id"), expectedNdvPerFile = 4000)
    // append AFTER the backfill: the new generation builds its sidecar
    // inside the commit, before publish
    new SnapshotLake(root).commit(
      spark.range(4000, 4100).select((col("id") * 7919L).as("id"))
        .repartition(2))
    val conf = spark.sparkContext.hadoopConfiguration
    val lake2 = new SnapshotLake(root)
    val vLatest = lake2.latestVersion(spark).get
    lake2.dirsAt(spark, vLatest).foreach { gen =>
      assert(GenBlooms.load(conf, s"$root/$gen").isDefined,
        s"generation $gen has no bloom sidecar under blooms=on")
    }
    // point miss (in-range, not a multiple of 7919) → zero files
    val miss = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") === 3959501L))
    assert(miss == ((0L, 0L)),
      s"auto-bloomed append must keep the miss at zero files: $miss")
    // a key present only in the APPENDED generation still answers
    val hit = spark.read.format("snaplake").load(root)
      .filter(col("id") === 4050L * 7919L).collect()
    assert(hit.length == 1)
    // disable: later appends are conservatively kept (no sidecar)
    lake2.disableAutoBlooms(spark)
    new SnapshotLake(root).commit(
      spark.range(4100, 4200).select((col("id") * 7919L).as("id")))
    val vAfter = new SnapshotLake(root).latestVersion(spark).get
    val newGen = new SnapshotLake(root).dirsAt(spark, vAfter)
      .filterNot(lake2.dirsAt(spark, vLatest).contains).head
    assert(GenBlooms.load(conf, s"$root/$newGen").isEmpty,
      "disableAutoBlooms must stop sidecar builds")
    // probe INSIDE the bloomless generation's envelope (4150·7919 + 1:
    // in its id range, not a multiple) — with no sidecar the file must
    // be conservatively scanned, while the bloomed generations prune
    val missAfter = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") === 4150L * 7919L + 1L))
    assert(missAfter._1 == 0L && missAfter._2 >= 1L,
      s"bloomless generation must be conservatively scanned: $missAfter")
  }

  test("bloom column resolution: case-insensitive, unknown name throws") {
    val root = freshRoot()
    Seq((1L, "a"), (2L, "b")).toDF("OKey", "v").coalesce(1)
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    val lake = new SnapshotLake(root)
    val gen = lake.dirsAt(spark, 1L).head
    // differently-cased request must build the bloom, not no-op
    GenBlooms.write(spark, s"$root/$gen", Seq("okey"),
      expectedNdvPerFile = 100)
    val conf = spark.sparkContext.hadoopConfiguration
    val byFile = GenBlooms.load(conf, s"$root/$gen").get
    assert(byFile.values.head.contains("okey"),
      s"sidecar keys: ${byFile.values.head.keySet}")
    // a name matching NOTHING is an operator error, not a silent no-op
    val ex = intercept[RuntimeException] {
      GenBlooms.write(spark, s"$root/$gen", Seq("nope"))
    }
    assert(ex.getMessage.contains("no column matching"))
    // ...and so is a RESOLVED column whose type has no bloom support —
    // a silent skip would leave no sidecar and no signal (strict only;
    // the auto-bloom commit path stays lenient for schema evolution)
    val tdf = Seq((java.sql.Date.valueOf("2024-01-01"), 1L)).toDF("d", "k")
    val root2 = freshRoot()
    tdf.coalesce(1).write.format("snaplake").mode(SaveMode.Overwrite)
      .save(root2)
    val gen2 = new SnapshotLake(root2).dirsAt(spark, 1L).head
    val ex2 = intercept[RuntimeException] {
      GenBlooms.write(spark, s"$root2/$gen2", Seq("d"))
    }
    assert(ex2.getMessage.contains("unsupported bloom type"))
    // lenient mode on the same input: no-op, no sidecar, no throw
    GenBlooms.write(spark, s"$root2/$gen2", Seq("d"), strict = false)
    assert(GenBlooms.load(spark.sparkContext.hadoopConfiguration,
      s"$root2/$gen2").isEmpty)
  }

  test("_stats.json version gate: an unversioned sidecar reads as absent") {
    // A pre-v2 sidecar predates -0.0 folding and the MICROS-only
    // timestamp rule: min=max=-0.0 would wrongly prune `x = 0.0` and
    // millis-unit envelopes would compare against micros literals.
    // Unversioned ⇒ dropped (absent = never prune), like _blooms.json.
    val root = freshRoot()
    spark.range(0, 100).toDF("id").coalesce(1)
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    val lake = new SnapshotLake(root)
    val gen = lake.dirsAt(spark, 1L).head
    val conf = spark.sparkContext.hadoopConfiguration
    assert(GenStats.load(conf, s"$root/$gen").isDefined)
    // strip the version field, as a pre-v2 writer's file would lack it
    val p = new org.apache.hadoop.fs.Path(s"$root/$gen/${GenStats.StatsFileName}")
    val fs = p.getFileSystem(conf)
    val txt = {
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val legacy = txt.replaceFirst(""""v"\s*:\s*\d+\s*,""", "")
    assert(legacy != txt, "test setup: version field not found to strip")
    val out = fs.create(p, true)
    try out.write(legacy.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(GenStats.load(conf, s"$root/$gen").isEmpty,
      "unversioned _stats.json must read as absent")
    // and the table still answers, just without pruning
    val r = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") === 5000L))
    assert(r == ((0L, 1L)), s"legacy-stats gen must be kept whole: $r")
    // BACKFILL: computeStats re-harvests the stale generation from its
    // footers (replacing the legacy sidecar) and pruning comes back
    lake.computeStats(spark)
    assert(GenStats.load(conf, s"$root/$gen").isDefined,
      "computeStats must rebuild the stale sidecar")
    val r2 = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") === 5000L))
    assert(r2 == ((0L, 0L)), s"envelope pruning not recovered: $r2")
  }

  test("NaN-bearing doubles lose their parquet min/max but are never pruned") {
    // parquet-mr omits min/max (keeping null_count) for float/double
    // chunks containing NaN — absent envelope must read as UNKNOWN, not
    // as an all-NULL proof, or real rows vanish from filtered reads
    val root = freshRoot()
    Seq((1L, 1.5), (2L, Double.NaN), (3L, -0.5)).toDF("id", "score")
      .coalesce(1)
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    val lake = new SnapshotLake(root)
    val gen = lake.dirsAt(spark, 1L).head
    val cs = GenStats.load(spark.sparkContext.hadoopConfiguration,
      s"$root/$gen").get.values.head.cols.get("score")
    // precondition of the regression: the envelope really is absent
    assert(cs.forall(c => c.min.isEmpty && c.max.isEmpty),
      s"expected NaN to suppress the parquet envelope, got $cs")
    // NaN sorts above every double in Spark, so score > 1.0 keeps both
    // the 1.5 row and the NaN row — the point is the FILE count: 1, not 0
    val got = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("score") > 1.0))
    assert(got == ((2L, 1L)), s"NaN-statless file was pruned: $got")
    // and the merge scoping arm of the same inference: an upsert keyed
    // on the statless double column must still replace its target row
    lake.merge(Seq((1.5, "hit")).toDF("score", "tag")
      .select(col("score"), col("tag")), Seq("score"))
    val rows = spark.read.format("snaplake").load(root)
      .filter(col("score") === 1.5).collect()
    assert(rows.length == 1 && rows.head.getAs[String]("tag") == "hit",
      "merge scoped away the NaN-statless generation")
  }

  test("a statless row group with VALUES invalidates the whole file envelope") {
    // r14 sweep: parquet omits min/max for a NaN-bearing double chunk
    // while OTHER row groups of the same file keep theirs. Excluding the
    // statless chunk from the merged envelope (instead of refusing to
    // build one) yields a PARTIAL envelope — and a predicate matching
    // only values that live in the statless group would wrongly prune
    // the file. Force multiple row groups with a tiny block size; NaN
    // and the out-of-envelope value 999.0 land in the LAST rows.
    val dir = Files.createTempDirectory("graft_partial_env").toString + "/g"
    val pad = "x" * 400
    val rows = (0 until 600).map { i =>
      val score =
        if (i == 580) Double.NaN
        else if (i == 590) 999.0
        else (i % 10).toDouble
      (i.toLong, score, pad)
    }
    rows.toDF("id", "score", "pad").coalesce(1)
      .sortWithinPartitions(col("id"))
      .write.option("parquet.block.size", "8192")
      .option("parquet.page.size", "2048").parquet(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    GenStats.write(conf, dir)
    val fileStats = GenStats.load(conf, dir).get.values.head
    // precondition: the tiny block size really produced several groups —
    // the id envelope (statful in every group) must still be complete
    assert(fileStats.cols("id") ==
      ColStats("l", Some(0L), Some(599L), Some(0L)))
    fileStats.cols.get("score") match {
      case None => () // correct: partial envelope refused
      case Some(cs) =>
        // if an envelope exists it must NOT prune score = 999.0 — the
        // value lives in the NaN group whose stats parquet omitted
        assert(StatsPruning.mayMatch(
          org.apache.spark.sql.catalyst.expressions.EqualTo(
            org.apache.spark.sql.catalyst.expressions.AttributeReference(
              "score", org.apache.spark.sql.types.DoubleType)(),
            org.apache.spark.sql.catalyst.expressions.Literal(999.0)),
          fileStats),
          s"partial envelope $cs wrongly prunes a value from the " +
            "statless row group")
    }
  }

  test("millis-unit timestamps harvest no envelope and never mis-prune") {
    // Catalyst pushes TIMESTAMP literals as MICROSECOND longs; a table
    // written with outputTimestampType=TIMESTAMP_MILLIS stores millis in
    // the footer stats. Comparing those units prunes files that DO hold
    // matching rows — so the harvester must refuse non-MICROS units
    // (absent stats = never pruned), not record them.
    val root = freshRoot()
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      val df = Seq(
        (1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")),
        (2L, java.sql.Timestamp.valueOf("2026-06-15 12:30:00"))
      ).toDF("id", "ts").coalesce(1)
      df.write.format("snaplake").mode(SaveMode.Overwrite).save(root)
      val lake = new SnapshotLake(root)
      val gen = lake.dirsAt(spark, 1L).head
      val cols = GenStats.load(spark.sparkContext.hadoopConfiguration,
        s"$root/$gen").get.values.head.cols
      assert(!cols.contains("ts"),
        s"millis-unit timestamp column must carry NO stats, got ${cols.get("ts")}")
      assert(cols.contains("id"), "plain long column should still harvest")
      // the filter that a millis-vs-micros compare would wrongly prune:
      // micros literal ≫ millis-stored max
      val got = runCounting(spark.read.format("snaplake").load(root)
        .filter(col("ts") === lit(java.sql.Timestamp.valueOf("2026-06-15 12:30:00"))))
      assert(got == ((1L, 1L)), s"millis-unit file was mis-pruned: $got")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    // control: the MICROS unit (Catalyst's own) harvests and skips
    val root2 = freshRoot()
    try {
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
        .toDF("id", "ts").coalesce(1)
        .write.format("snaplake").mode(SaveMode.Overwrite).save(root2)
      val lake2 = new SnapshotLake(root2)
      val gen2 = lake2.dirsAt(spark, 1L).head
      assert(GenStats.load(spark.sparkContext.hadoopConfiguration,
        s"$root2/$gen2").get.values.head.cols.contains("ts"),
        "micros timestamps should harvest an envelope")
      val miss = runCounting(spark.read.format("snaplake").load(root2)
        .filter(col("ts") === lit(java.sql.Timestamp.valueOf("1999-01-01 00:00:00"))))
      assert(miss == ((0L, 0L)), s"micros miss should schedule zero files: $miss")
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  test("bloom sidecars: equality miss on an unclustered key schedules zero files") {
    // the case envelopes CANNOT serve: ids hash-scattered across files,
    // so every file's min/max spans the whole domain and a point query
    // keeps everything — the bloom tier answers definite absence per file
    val root = freshRoot()
    spark.range(0, 4000)
      .select((col("id") * 7919L).as("id"),
        concat(lit("u"), col("id") * 7919L).as("payload"))
      .repartition(6) // arbitrary placement: wide envelopes by design
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    val lake = new SnapshotLake(root)
    // precondition: envelopes alone cannot prune this point miss
    val noBloom = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") === 3959501L)) // in-range, not a multiple of 7919
    assert(noBloom == ((0L, 6L)),
      s"expected envelopes to keep all 6 files pre-bloom: $noBloom")
    lake.computeBlooms(spark, Seq("id", "payload"), expectedNdvPerFile = 4000)
    // point miss → zero files, zero tasks
    val miss = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") === 3959501L))
    assert(miss == ((0L, 0L)), s"bloom miss should schedule nothing: $miss")
    // string key misses prune too
    val smiss = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("payload") === "nope"))
    assert(smiss == ((0L, 0L)), s"string bloom miss: $smiss")
    // a present key still reads its file(s) and answers correctly
    val hit = spark.read.format("snaplake").load(root)
      .filter(col("id") === 7L * 7919L).collect()
    assert(hit.length == 1 && hit.head.getAs[String]("payload") == s"u${7 * 7919}")
    // IN over one present + one absent key: at most the present key's
    // files schedule, and the row comes back
    val in = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id").isin(7L * 7919L, 3959501L)))
    assert(in._1 == 1L && in._2 <= 2L, s"IN should prune the absent member: $in")
    // parity sweep: blooms never change an answer
    assert(spark.read.format("snaplake").load(root)
      .filter(col("id") < 2000 * 7919L).count() == 2000)
    // appends after the bloom pass: the new generation has no sidecar
    // and is conservatively kept until the next computeBlooms
    new SnapshotLake(root).commit(Seq((3959501L, "late")).toDF("id", "payload"))
    val late = spark.read.format("snaplake").load(root)
      .filter(col("id") === 3959501L).collect()
    assert(late.length == 1 && late.head.getAs[String]("payload") == "late",
      "bloomless new generation must never be pruned")
  }

  test("bloom value canonicalization: ±0.0 fold, int widths fold, no cross-hits") {
    // SQL equality says -0.0 = 0.0: a file holding -0.0 must answer
    // "maybe" to a 0.0 probe or bloom pruning changes query answers
    val b = new GenBlooms.Bloom(1024, 7, "d")
    b.add(-0.0d)
    assert(b.mightContain(0.0d) && b.mightContain(-0.0d),
      "-0.0 and 0.0 must hash identically")
    assert(!b.mightContain(1.0d))
    // a float row value must admit the (double-normalized) literal probe
    val bf = new GenBlooms.Bloom(1024, 7, "d")
    bf.add(2.5f)
    assert(bf.mightContain(2.5d))
    // integral widths normalize to Long on both sides
    val bi = new GenBlooms.Bloom(1024, 7, "l")
    bi.add(42)
    assert(bi.mightContain(42L))
    // UTF8String (Catalyst literal space) vs String (row space)
    val bs = new GenBlooms.Bloom(1024, 7, "s")
    bs.add("doc-7")
    assert(bs.mightContain(
      org.apache.spark.unsafe.types.UTF8String.fromString("doc-7")))
    assert(!bs.mightContain("doc-8"))
    // CROSS-KIND probes are never a proof: a Double probed against a
    // Long-tagged bloom could still match after Spark's implicit cast
    assert(bi.mightContain(42.0d) && bi.mightContain("42"),
      "cross-kind probe must answer maybe, not definitely-absent")
  }

  test("pruning evaluator: proofs prune, unknowns keep") {
    val f = FileStats(100L, Map(
      "n" -> ColStats("l", Some(10L), Some(20L), Some(0L)),
      "s" -> ColStats("s", Some("bb"), Some("dd"), Some(5L)),
      "allnull" -> ColStats("l", None, None, Some(100L))))
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{LongType, StringType}
    val n = AttributeReference("n", LongType)()
    val s = AttributeReference("s", StringType)()
    val an = AttributeReference("allnull", LongType)()
    val zz = AttributeReference("zz", LongType)()
    def may(e: Expression) = StatsPruning.mayMatch(e, f)
    assert(!may(EqualTo(n, Literal(9L))) && may(EqualTo(n, Literal(10L))))
    assert(!may(LessThan(n, Literal(10L))) && may(LessThan(n, Literal(11L))))
    assert(!may(GreaterThan(n, Literal(20L))) && may(GreaterThanOrEqual(n, Literal(20L))))
    // reversed operands
    assert(!may(GreaterThan(Literal(10L), n)))
    // And prunes if either side proves; Or needs both
    assert(!may(And(EqualTo(n, Literal(15L)), EqualTo(n, Literal(99L)))))
    assert(may(Or(EqualTo(n, Literal(15L)), EqualTo(n, Literal(99L)))))
    assert(!may(Or(EqualTo(n, Literal(98L)), EqualTo(n, Literal(99L)))))
    // strings: range + prefix truncation
    assert(!may(EqualTo(s, Literal("aa"))) && may(EqualTo(s, Literal("cc"))))
    assert(may(StartsWith(s, Literal("b"))) && !may(StartsWith(s, Literal("e"))))
    assert(may(StartsWith(s, Literal("dd"))) && !may(StartsWith(s, Literal("aa"))))
    // null facts
    assert(may(IsNull(s)) && !may(IsNull(n)))
    assert(!may(IsNotNull(an)) && !may(EqualTo(an, Literal(1L))))
    // unknown column / unknown shape / type mismatch → keep
    assert(may(EqualTo(zz, Literal(1L))))
    assert(may(EqualTo(n, Literal(15.0))))
    assert(may(EqualTo(Abs(n), Literal(15L))))
  }

  test("bloom sidecar with case-colliding column keys loads as ABSENT") {
    // write() rejects colliding column sets up front, but a
    // legacy/foreign same-version sidecar can carry two columns that
    // collide under lowercasing; keeping the last entry silently would
    // let a probe consult the WRONG column's bloom and wrongly prune
    // files. The contract is None: absent means "never prune", always
    // safe, and computeBlooms rebuilds a sane sidecar.
    val dir = Files.createTempDirectory("graft_bloomcol").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val b64 = java.util.Base64.getEncoder
      .encodeToString(Array.fill[Byte](16)(0x55))
    def bloomNode(tag: String) =
      s"""{"m": 128, "k": 2, "t": "$tag", "b": "$b64"}"""
    def writeSidecar(cols: String): Unit =
      Files.write(java.nio.file.Paths.get(dir, GenBlooms.BloomsFileName),
        s"""{"_v": ${GenBlooms.FormatVersion},
           | "part-0.parquet": {$cols}}""".stripMargin.getBytes("UTF-8"))
    writeSidecar(s""""Id": ${bloomNode("l")}, "ID": ${bloomNode("l")}""")
    assert(GenBlooms.load(conf, dir).isEmpty,
      "case-colliding sidecar must read as absent, not last-wins")
    // sanity: the same sidecar WITHOUT the collision loads fine, so the
    // guard rejects the collision, not the format
    writeSidecar(s""""Id": ${bloomNode("l")}, "other": ${bloomNode("l")}""")
    val loaded = GenBlooms.load(conf, dir)
    assert(loaded.isDefined &&
      loaded.get("part-0.parquet").keySet == Set("id", "other"))
  }

  test("stats republish never exposes a reader to a broken window") {
    // computeStats backfills into PUBLISHED generations, so load() can
    // run concurrently with write()'s publish. The publish is an atomic
    // replace, so a reader sees either the old or the new sidecar —
    // NEVER an absent one, a ChecksumException or a partial file.
    // Hammer load() from 4 threads across 25 republishes.
    val dir = Files.createTempDirectory("graft_statsrace").toString
    spark.range(0, 1000).toDF("id").coalesce(2)
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    GenStats.write(conf, dir)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val reads = new java.util.concurrent.atomic.AtomicLong
    val absent = new java.util.concurrent.atomic.AtomicLong
    val readers = (1 to 4).map { _ =>
      val t = new Thread(() => {
        while (!stop.get()) {
          try GenStats.load(conf, dir) match {
            case Some(stats) =>
              reads.incrementAndGet()
              // a parsed sidecar must be COMPLETE: both files, right rows
              if (stats.values.map(_.rows).sum != 1000L)
                failures.add(s"partial sidecar visible: $stats")
            case None => absent.incrementAndGet()
          } catch {
            case e: Throwable => failures.add(s"${e.getClass.getName}: ${e.getMessage}")
          }
        }
      })
      t.start(); t
    }
    try (1 to 25).foreach(_ => GenStats.write(conf, dir))
    finally { stop.set(true); readers.foreach(_.join(10000)) }
    assert(failures.isEmpty, s"reader failures: ${failures.toArray.mkString("; ")}")
    assert(reads.get() > 0, "hammer never completed a read")
    assert(absent.get() == 0, s"a reader saw no sidecar ${absent.get()} time(s)")
  }

  test("stats backfill over a checksummed-era sidecar clears the stale .crc") {
    // computeStats backfills _stats.json into PUBLISHED generations; a
    // sidecar written by a pre-raw (checksummed) build left a .crc
    // describing the OLD content. The raw-fs rename doesn't touch it,
    // and it would permanently fail any checksummed read of the new
    // file — write() must delete it (the GenBlooms/_constraints publish
    // hygiene).
    val dir = Files.createTempDirectory("graft_statscrc").toString
    spark.range(0, 100).toDF("id").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir, GenStats.StatsFileName)
    val fsAll = p.getFileSystem(conf)
    // simulate the pre-raw build: write THROUGH the checksummed fs so a
    // .crc describing this (stale) content exists next to the sidecar
    val out = fsAll.create(p, true)
    try out.write("{\"_v\": 1}".getBytes("UTF-8")) finally out.close()
    val crc = fsAll match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getChecksumFile(p)
      case _ => fail("local test fs is expected to be checksummed")
    }
    assert(fsAll.exists(crc), "precondition: stale .crc present")
    GenStats.write(conf, dir)
    assert(!fsAll.exists(crc),
      "stale .crc must be deleted on publish or checksummed reads fail")
    // the backfilled sidecar is current-format and readable
    val stats = GenStats.load(conf, dir)
    assert(stats.isDefined && stats.get.values.map(_.rows).sum == 100L)
    // and a CHECKSUMMED read (a foreign tool going through the default
    // fs) no longer trips over a mismatched checksum
    val in = fsAll.open(p)
    try assert(new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      .contains("\"v\"")) finally in.close()
  }

  test("_stats.json version gate: a FUTURE version reads as absent too") {
    // != FormatVersion, not < : a future writer that bumped the version
    // changed the stats VALUE SPACE's meaning, and pruning v(N+1)
    // envelopes with vN semantics could wrongly skip files holding
    // matching rows — the same hazard class as the unversioned case,
    // in the other direction (GenBlooms.load always had the != gate;
    // r13 review aligned GenStats).
    val root = freshRoot()
    spark.range(0, 100).toDF("id").coalesce(1)
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    val lake = new SnapshotLake(root)
    val gen = lake.dirsAt(spark, 1L).head
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$root/$gen/${GenStats.StatsFileName}")
    val fs = p.getFileSystem(conf)
    val txt = {
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val future = txt.replaceFirst(""""v"\s*:\s*\d+""",
      s""""v" : ${GenStats.FormatVersion + 1}""")
    assert(future != txt, "test setup: version field not found")
    val out = fs.create(p, true)
    try out.write(future.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    assert(GenStats.load(conf, s"$root/$gen").isEmpty,
      "future-versioned _stats.json must read as absent, never trusted")
    // conservative whole-read, correct answers
    val r = runCounting(spark.read.format("snaplake").load(root)
      .filter(col("id") === 5L))
    assert(r == ((1L, 1L)), s"future-stats gen must be kept whole: $r")
  }
}
