package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

/** Copy-on-write MERGE/DELETE on [[SnapshotLake]]: upsert and delete
  * semantics, stats-scoped rewrites (untouched files carry forward by
  * reference), the no-op delete fast path, and the optimistic-abort
  * publication contract under a racing commit.
  */
class SnapLakeMergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snapmerge").toString

  /** Generations version `v` reads exactly as version `u` does — the
    * same files of each: carried by reference, untouched. */
  private def carried(lake: SnapshotLake, u: Long, v: Long): Set[String] =
    lake.commitAt(spark, v).gens.toSet.intersect(lake.commitAt(spark, u).gens.toSet).map(_.dir)

  test("merge: updates replace by key, inserts append, others survive") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("id", "name", "v"), overwrite = true)
    val src = Seq((2L, "B!", 200), (9L, "i", 90)).toDF("id", "name", "v")
    val v = lake.merge(src, Seq("id"))
    assert(v == 2L)
    assert(lake.read(spark).as[(Long, String, Int)].collect().toSet ==
      Set((1L, "a", 10), (2L, "B!", 200), (3L, "c", 30), (9L, "i", 90)))
    // time travel still shows the pre-merge table
    assert(lake.readAt(spark, 1L).count() == 3)
  }

  test("merge rewrite is scoped: non-intersecting generations carry forward") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // three generations with disjoint id ranges
    lake.commit(spark.range(0, 100).toDF("id").withColumn("v", lit("old")),
      overwrite = true)
    lake.commit(spark.range(100, 200).toDF("id").withColumn("v", lit("old")))
    lake.commit(spark.range(200, 300).toDF("id").withColumn("v", lit("old")))
    val before = lake.dirsAt(spark, 3L)
    // source touches only the middle generation's envelope
    val v = lake.merge(Seq((150L, "new")).toDF("id", "v"), Seq("id"))
    val after = lake.dirsAt(spark, v)
    // the two untouched generations are re-referenced, not rewritten
    assert(carried(lake, 3L, v) == Set(before(0), before(2)),
      s"expected 2 carried generations: before=$before after=$after")
    assert(after.filterNot(before.contains).size == 1, s"one rewrite generation expected: $after")
    val rows = lake.read(spark).as[(Long, String)].collect()
    assert(rows.length == 300)
    assert(rows.toMap.apply(150L) == "new")
    assert(rows.count(_._2 == "old") == 299)
  }

  test("merge into a statless generation rewrites it conservatively") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "x")).toDF("id", "v"), overwrite = true)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen1 = lake.dirsAt(spark, 1L).head
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/$gen1/${GenStats.StatsFileName}"), false)
    val v = lake.merge(Seq((99L, "y")).toDF("id", "v"), Seq("id"))
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (99L, "y")))
    // conservative: the statless generation was rewritten, not carried
    assert(!lake.dirsAt(spark, v).contains(gen1))
  }

  test("delete: predicate rows go, NULL-evaluating rows stay") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, Some(5)), (2L, None), (3L, Some(50)))
      .toDF("id", "score"), overwrite = true)
    val v = lake.delete(spark, col("score") > 10)
    assert(v == 2L)
    // id=2's NULL score must survive a score>10 delete (SQL semantics)
    assert(lake.read(spark).select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("delete scoping: proven-clean generations carry; full miss is a no-op") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(spark.range(0, 100).toDF("id"), overwrite = true)
    lake.commit(spark.range(100, 200).toDF("id"))
    val before = lake.dirsAt(spark, 2L)
    // predicate outside every envelope: no-op, no new version
    assert(lake.delete(spark, col("id") >= 1000) == 2L)
    assert(lake.latestVersion(spark).get == 2L)
    // predicates the optimizer folds to false match nothing either
    assert(lake.delete(spark, lit(false)) == 2L)
    assert(lake.delete(spark, col("id") === 5L && lit(false)) == 2L)
    assert(lake.latestVersion(spark).get == 2L)
    // predicate inside one generation only
    val v = lake.delete(spark, col("id") < 50)
    assert(v == 3L)
    val after = lake.dirsAt(spark, v)
    assert(carried(lake, 2L, v) == Set(before(1)),
      s"one generation should carry: before=$before after=$after")
    assert(lake.read(spark).count() == 150)
  }

  test("merge scoping prunes DATE and TIMESTAMP keys like the read path") {
    val keys = Seq[(String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "date" -> (i => date_add(lit(java.sql.Date.valueOf("2024-01-01")), i.cast("int"))),
      "timestamp" -> (i => timestamp_seconds(lit(1704067200L) + i * 3600)))
    keys.foreach { case (kind, keyAt) =>
      val root = freshRoot()
      val lake = new SnapshotLake(root)
      def rows(lo: Long, hi: Long, v: String) =
        spark.range(lo, hi).select(keyAt(col("id")).as("k"), lit(v).as("v"))
      // two generations with disjoint key ranges
      lake.commit(rows(0, 10, "old"), overwrite = true)
      lake.commit(rows(100, 110, "old"))
      val Seq(early, late) = lake.dirsAt(spark, 2L)
      // a one-row upsert inside the later generation's range only
      val v = lake.merge(rows(105, 106, "new"), Seq("k"))
      val after = carried(lake, 2L, v)
      assert(after.contains(early) && !after.contains(late),
        s"$kind key: the earlier generation must carry by reference: $after")
      assert(lake.read(spark).filter(col("v") === "new").count() == 1, kind)
      assert(lake.read(spark).count() == 20, kind)
    }
  }

  test("merge keys typed unlike the target column still replace the matching row") {
    import org.apache.spark.sql.Column
    val days = (i: Column) => date_add(lit(java.sql.Date.valueOf("2024-01-01")), i.cast("int"))
    val hours = (i: Column) => timestamp_seconds(lit(1704067200L) + i * 3600)
    // (case, target key, source key): the join casts one side, while the
    // stored DATE days, TIMESTAMP micros and local TIMESTAMP_NTZ micros
    // all compare as Long, so their envelopes must not scope the merge
    val cases = Seq[(String, Column => Column, Column => Column)](
      ("DATE into TIMESTAMP", i => days(i).cast("timestamp"), days),
      ("TIMESTAMP into DATE", days, i => days(i).cast("timestamp")),
      ("TIMESTAMP_NTZ into TIMESTAMP", hours, i => hours(i).cast("timestamp_ntz")))
    val tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try cases.foreach { case (name, tgtKey, srcKey) =>
      val lake = new SnapshotLake(freshRoot())
      def rows(key: Column => Column, lo: Long, hi: Long, v: String) =
        spark.range(lo, hi).select(key(col("id")).as("k"), lit(v).as("v"))
      lake.commit(rows(tgtKey, 0, 10, "old"), overwrite = true)
      lake.commit(rows(tgtKey, 100, 110, "old"))
      lake.merge(rows(srcKey, 5, 6, "new"), Seq("k"))
      val out = lake.read(spark)
      assert(out.count() == 20, s"$name: the matched row must be replaced, not duplicated")
      assert(out.filter(col("v") === "new").count() == 1, name)
    } finally spark.conf.set("spark.sql.session.timeZone", tz)
  }

  test("appends and merges store the table's own column types; a forbidden cast publishes nothing") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    def typeOf(lake: SnapshotLake, c: String) = lake.read(spark).schema(c).dataType
    // a LONG id appended into an INT-id lake, then a LONG-keyed merge
    // that carries the first generation forward
    val intIds = new SnapshotLake(freshRoot())
    intIds.commit(Seq((1, "a")).toDF("id", "v"), overwrite = true)
    intIds.commit(Seq((2L, "b")).toDF("id", "v"))
    intIds.merge(Seq((2L, "B")).toDF("id", "v"), Seq("id"))
    assert(intIds.dirsAt(spark, 3L).head == intIds.dirsAt(spark, 1L).head)
    assert(typeOf(intIds, "id") == IntegerType)
    assert(intIds.read(spark).as[(Int, String)].collect().toSet == Set((1, "a"), (2, "B")))
    // an INT id appended into a LONG-id lake
    val longIds = new SnapshotLake(freshRoot())
    longIds.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    longIds.commit(Seq((2, "b")).toDF("id", "v"))
    assert(typeOf(longIds, "id") == LongType)
    assert(longIds.read(spark).as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // a merge whose non-key n is LONG into an INT-n lake, one generation carried
    val root = freshRoot()
    val ints = new SnapshotLake(root)
    ints.commit(Seq((1L, 10), (2L, 20)).toDF("id", "n"), overwrite = true)
    ints.commit(Seq((100L, 1000)).toDF("id", "n"))
    ints.merge(Seq((1L, 11L)).toDF("id", "n"), Seq("id"))
    assert(ints.dirsAt(spark, 3L).contains(ints.dirsAt(spark, 2L).last), "nothing carried")
    assert(typeOf(ints, "n") == IntegerType)
    assert(ints.read(spark).as[(Long, Int)].collect().toSet ==
      Set((1L, 11), (2L, 20), (100L, 1000)))
    // STRING into INT is no store assignment under ANSI: refused before
    // any generation is written
    def gens = new java.io.File(root).list().count(_.startsWith("gen-"))
    val (versions, genCount) = (ints.versions(spark), gens)
    intercept[IllegalArgumentException](ints.commit(Seq((3L, "x")).toDF("id", "n")))
    intercept[IllegalArgumentException](ints.merge(Seq((3L, "x")).toDF("id", "n"), Seq("id")))
    assert(ints.versions(spark) == versions && gens == genCount)
  }

  test("a racing append DISJOINT from the merge scope rebases; in-scope aborts") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    // racing append outside the merge's key envelope (id=7 vs scope
    // id=1): its generation provably holds none of the merge's keys, so
    // the merge REBASES — carries the winner's generation forward by
    // reference and lands; both writers' rows survive
    val racy = new SnapshotLake(root) {
      override protected def onBeforePublish(): Unit =
        new SnapshotLake(root).commit(Seq((7L, "g")).toDF("id", "v"))
    }
    val v = racy.merge(Seq((1L, "A")).toDF("id", "v"), Seq("id"))
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (7L, "g")), "disjoint race should rebase, not abort")
    assert(lake.latestVersion(spark).contains(v))
    // racing append INSIDE the scope (same key): the merge computed
    // without seeing that row, so landing it would silently miss an
    // update — must abort, and the winner's row survives
    val racy2 = new SnapshotLake(root) {
      override protected def onBeforePublish(): Unit =
        new SnapshotLake(root).commit(Seq((1L, "z")).toDF("id", "v"))
    }
    intercept[java.util.ConcurrentModificationException] {
      racy2.merge(Seq((1L, "B")).toDF("id", "v"), Seq("id"))
    }
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "A"), (1L, "z"), (7L, "g")),
      "abort must leave the winner's commit intact and publish nothing")
    // rerun rebases cleanly on the new snapshot (replaces BOTH id=1 rows)
    val v2 = lake.merge(Seq((1L, "B")).toDF("id", "v"), Seq("id"))
    assert(lake.readAt(spark, v2).as[(Long, String)].collect().toSet ==
      Set((1L, "B"), (7L, "g")))
  }

  test("two concurrent merges over disjoint key ranges both land") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // two generations with disjoint key envelopes
    lake.commit(spark.range(0, 100).toDF("id")
      .withColumn("v", lit("old")), overwrite = true)
    lake.commit(spark.range(1000, 1100).toDF("id")
      .withColumn("v", lit("old2")))
    val srcA = spark.range(0, 10).toDF("id").withColumn("v", lit("A"))
    val srcB = spark.range(1000, 1010).toDF("id").withColumn("v", lit("B"))
    // merge B races into merge A's publish window; their scopes touch
    // different generations, so A's rebase carries B's rewrite forward
    // and BOTH land — the serialization-killer case at 100 TB (many
    // independent upsert streams over disjoint key ranges)
    var raced = false
    val racy = new SnapshotLake(root) {
      override protected def onBeforePublish(): Unit =
        if (!raced) { raced = true
          new SnapshotLake(root).merge(srcB, Seq("id")) }
    }
    val vA = racy.merge(srcA, Seq("id"))
    assert(vA == 4L, s"expected A to land at v4 after rebasing over B, got $vA")
    val got = lake.read(spark).as[(Long, String)].collect().toSet
    val want = ((0L until 10L).map(_ -> "A") ++
      (10L until 100L).map(_ -> "old") ++
      (1000L until 1010L).map(_ -> "B") ++
      (1010L until 1100L).map(_ -> "old2")).toSet
    assert(got == want, "both merges' updates must be present")
    // the changefeed across both versions reports each merge's own rows
    val feed = lake.changesBetween(spark, 2L, 4L)
      .filter(col(SnapshotLake.ChangeTypeCol) === "insert")
      .select($"id", $"v").as[(Long, String)].collect().toSet
    assert(feed == ((0L until 10L).map(_ -> "A") ++
      (1000L until 1010L).map(_ -> "B")).toSet)

    // CONFLICTING concurrent merges (same generation): the racer
    // rewrites the generation this merge consumed — must still abort
    val srcC = spark.range(20, 30).toDF("id").withColumn("v", lit("C"))
    val srcD = spark.range(5, 15).toDF("id").withColumn("v", lit("D"))
    var raced2 = false
    val racy2 = new SnapshotLake(root) {
      override protected def onBeforePublish(): Unit =
        if (!raced2) { raced2 = true
          new SnapshotLake(root).merge(srcD, Seq("id")) }
    }
    intercept[java.util.ConcurrentModificationException] {
      racy2.merge(srcC, Seq("id"))
    }
    // D (the winner) landed; C published nothing
    val after = lake.read(spark).as[(Long, String)].collect().toMap
    assert(after(5L) == "D" && after(20L) == "old" && after(0L) == "A")
  }

  test("bloom-tier scoping: unsorted generations carry when blooms reject the keys") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // INTERLEAVED key ranges: both generations' envelopes span the whole
    // domain, so the envelope tier alone would rewrite both for any
    // in-range upsert — the unsorted-layout case the bloom tier exists for
    lake.commit(spark.range(0, 100).select((col("id") * 2).as("id"))
      .withColumn("v", lit("even")), overwrite = true)
    lake.commit(spark.range(0, 100).select((col("id") * 2 + 1).as("id"))
      .withColumn("v", lit("odd")))
    lake.computeBlooms(spark, Seq("id"), expectedNdvPerFile = 1000)
    val before = lake.dirsAt(spark, 2L)
    val Seq(evenGen, oddGen) = before
    // a 2-row EVEN-key upsert: the odd generation's blooms reject both
    // keys, so it must carry forward BY REFERENCE
    val v = lake.merge(Seq((2L, "E2"), (4L, "E4")).toDF("id", "v"), Seq("id"))
    val after = carried(lake, 2L, v)
    assert(after.contains(oddGen) && !after.contains(evenGen),
      s"bloom scoping failed: before=$before after=$after")
    val got = lake.read(spark).as[(Long, String)].collect().toMap
    assert(got(2L) == "E2" && got(4L) == "E4" && got(6L) == "even" &&
      got(7L) == "odd" && got.size == 200)
    // DELETE through the same tier: bloom the merge's new generation,
    // then delete one odd key — the (bloomed) even rewrite must carry
    lake.computeBlooms(spark, Seq("id"), expectedNdvPerFile = 1000)
    val beforeDel = lake.dirsAt(spark, v)
    val evenGen2 = beforeDel.filterNot(_ == oddGen).head
    val v2 = lake.delete(spark, col("id") === 7L)
    val afterDel = carried(lake, v, v2)
    assert(afterDel.contains(evenGen2) && !afterDel.contains(oddGen),
      s"bloom delete scoping failed: before=$beforeDel after=$afterDel")
    assert(lake.read(spark).count() == 199)
    assert(lake.read(spark).filter(col("id") === 7L).count() == 0)
  }

  test("four genuinely concurrent disjoint merges all land under contention") {
    // no deterministic hook — real threads racing the claim loop: each
    // merges its own key range (disjoint generations), so every loser
    // must REBASE across the winners' commits, possibly several times
    // (bounded retries). All four must land; content must be the union.
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    val ranges = Seq((0L, 100L), (1000L, 1100L), (2000L, 2100L), (3000L, 3100L))
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      lake.commit(spark.range(lo, hi).toDF("id").withColumn("v", lit("old")),
        overwrite = i == 0)
    }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = ranges.map { case (lo, _) =>
      new Thread(() =>
        try new SnapshotLake(root).merge(
          spark.range(lo, lo + 10).toDF("id").withColumn("v", lit(s"m$lo")),
          Seq("id"))
        catch { case t: Throwable => failures.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(failures.isEmpty,
      s"concurrent disjoint merges failed: ${failures.peek()}")
    assert(lake.latestVersion(spark).contains(8L),
      s"expected 4 base + 4 merge commits, got ${lake.latestVersion(spark)}")
    val got = lake.read(spark).as[(Long, String)].collect().toSet
    val want = ranges.flatMap { case (lo, hi) =>
      (lo until hi).map(id => id -> (if (id < lo + 10) s"m$lo" else "old"))
    }.toSet
    assert(got == want, "merged content diverged under contention")
  }

  test("merge I/O is bounded by the affected tail, not the table") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // a BIG body generation and a small tail with a disjoint key range
    lake.commit(spark.range(0, 300000).toDF("id")
      .withColumn("payload", concat(lit("x"), col("id"))), overwrite = true)
    lake.commit(spark.range(1000000, 1000100).toDF("id")
      .withColumn("payload", lit("tail")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigGen = lake.dirsAt(spark, 1L).head
    val bigBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(s"$root/$bigGen")).getLength
    // measure task INPUT during a merge that touches only the tail
    val bytesRead = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      lake.merge(Seq((1000050L, "upd")).toDF("id", "payload"), Seq("id"))
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the body generation (multi-MB) must never be scanned: the merge's
    // reads are the tail generation + the one-row source + its own
    // validation/stats read-back of the small rewrite
    assert(bytesRead.get() < bigBytes / 4,
      s"merge read ${bytesRead.get()} bytes vs body $bigBytes — " +
        "stats scoping stopped excluding the untouched generation")
    assert(lake.read(spark).count() == 300100)
  }

  test("merge with an evolved source schema widens the table") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    // source carries a new column; untouched target rows read it null
    lake.merge(Seq((2L, "B", "fresh"), (3L, "c", "fresh"))
      .toDF("id", "v", "tag"), Seq("id"))
    val got = lake.read(spark).select("id", "v", "tag")
      .as[(Long, String, Option[String])].collect().toSet
    assert(got == Set((1L, "a", None), (2L, "B", Some("fresh")),
      (3L, "c", Some("fresh"))))
  }

  test("merge through the source: format-written lake accepts upserts") {
    val root = freshRoot()
    spark.range(0, 50).select(col("id"), lit("base").as("tag"))
      .write.format("snaplake").mode(SaveMode.Overwrite).save(root)
    val lake = new SnapshotLake(root)
    lake.merge(Seq((10L, "up"), (60L, "ins")).toDF("id", "tag"), Seq("id"))
    val got = spark.read.format("snaplake").load(root)
      .groupBy(col("tag")).count().as[(String, Long)].collect().toMap
    assert(got == Map("base" -> 49L, "up" -> 1L, "ins" -> 1L))
  }

  test("delete under schema evolution: predicate column absent from the affected subset") {
    // gen1 predates column c; gen2 carries c with envelope [10, 20].
    // delete(c === 99) prunes gen2 OUT of scope (99 misses its
    // envelope) while gen1 — statless for c — stays conservatively
    // affected. Pre-r13, the affected subset was read with bare
    // mergeSchema over ITSELF, so c resolved nowhere and the filter
    // threw AnalysisException exactly when stats had done their job;
    // null-filled under the snapshot schema, gen1's rows evaluate the
    // predicate to NULL and are all kept.
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    lake.commit(Seq((3L, "c", 10), (4L, "d", 20)).toDF("id", "v", "c"))
    val v = lake.delete(spark, col("c") === 99)
    assert(v == 3L)
    assert(lake.read(spark).count() == 4, "no row matches c = 99")
    // and a real cross-evolution delete still works end-to-end
    val v2 = lake.delete(spark, col("c") === 10)
    assert(lake.readAt(spark, v2).count() == 3)
  }

  test("merge under schema evolution: key column absent from the affected subset") {
    // gen1 predates the merge key k; gen2 carries k in [100, 200]. A
    // source keyed k = 999 scopes gen2 out, leaving only gen1 affected
    // — whose merged-alone schema lacks k, so the pre-r13 key joins
    // failed analysis. Null-filled, gen1 rows match no source key and
    // all survive; the source row appends.
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    lake.commit(Seq((3L, "c", 100L), (4L, "d", 200L)).toDF("id", "v", "k"))
    val v = lake.merge(Seq((9L, "i", 999L)).toDF("id", "v", "k"), Seq("k"))
    val rows = lake.readAt(spark, v).select($"id").as[Long].collect().toSet
    assert(rows == Set(1L, 2L, 3L, 4L, 9L), s"got $rows")
  }

  test("merge with an empty or all-null-key source never rewrites the table") {
    // a NULL key tuple matches no target row, so a source with no
    // fully-non-null key provably touches nothing — pre-r13 the empty
    // source envelope scoped EVERY generation in (a silent full-table
    // rewrite to apply zero changes); now all generations carry forward
    // by reference.
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(spark.range(0, 100).toDF("id").withColumn("v", lit("x")),
      overwrite = true)
    lake.commit(spark.range(100, 200).toDF("id").withColumn("v", lit("x")))
    val before = lake.dirsAt(spark, 2L).toSet
    // empty source
    val v1 = lake.merge(Seq.empty[(Long, String)].toDF("id", "v"), Seq("id"))
    assert(before.subsetOf(lake.dirsAt(spark, v1).toSet),
      "empty-source merge rewrote carried generations")
    // all-null-key source: rows still APPEND (they match nothing), but
    // no existing generation rewrites
    val v2 = lake.merge(Seq((null.asInstanceOf[java.lang.Long], "n"))
      .toDF("id", "v"), Seq("id"))
    assert(before.subsetOf(lake.dirsAt(spark, v2).toSet),
      "all-null-key merge rewrote carried generations")
    assert(lake.readAt(spark, v2).count() == 201)
  }

  test("file-granular rewrites: rebase per file, restore, changefeed, vacuum and stream") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    // one generation of four files holding ids [0,25), [25,50), [50,75), [75,100)
    lake.commit(spark.range(0, 100, 1, 4).toDF("id").withColumn("v", lit("x")),
      overwrite = true)
    val gen = lake.dirsAt(spark, 1L).head
    def live(v: Long): Int = lake.commitAt(spark, v).gens.flatMap(g =>
      g.files.getOrElse(Files.list(java.nio.file.Paths.get(root, g.dir)).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq)).size
    // a delete racing into another file of the same generation: the
    // files this delete read are untouched, so it rebases and both land
    val racy = new SnapshotLake(root) {
      override protected def onBeforePublish(): Unit =
        new SnapshotLake(root).delete(spark, col("id") === 80L)
    }
    val v3 = racy.delete(spark, col("id") === 10L)
    assert(v3 == 3L)
    assert(lake.commitAt(spark, v3).files.get(gen).exists(_.size == 2))
    assert(lake.read(spark).count() == 98L)
    assert(live(3L) == 4, "two carried files and two one-file rewrites")
    // a racing delete in the SAME file rewrites a file this one read: abort
    val racy2 = new SnapshotLake(root) {
      override protected def onBeforePublish(): Unit =
        new SnapshotLake(root).delete(spark, col("id") === 30L)
    }
    intercept[java.util.ConcurrentModificationException] {
      racy2.delete(spark, col("id") === 31L)
    }
    assert(lake.latestVersion(spark).contains(4L))
    assert(lake.read(spark).filter(col("id") === 31L).count() == 1L)
    // restore to v1 reads the generation whole again; its changefeed is
    // the file-level restatement: the three rewritten files' rows come
    // back, the rewrites' rows go
    val v5 = lake.restore(spark, 1L)
    assert(lake.commitAt(spark, v5).gens == Seq(GenRef(gen)))
    val feed = lake.changesBetween(spark, 4L, v5)
      .groupBy(col("_change_type")).count().as[(String, Long)].collect().toMap
    assert(feed == Map("insert" -> 75L, "delete" -> 72L), feed)
    assert(lake.read(spark).count() == 100L)
    // vacuum keeps a generation while a retained version reads any file
    // of it; the rewrites only dropped versions read go
    val v6 = lake.delete(spark, col("id") === 60L)
    assert(lake.commitAt(spark, v6).files.get(gen).exists(_.size == 3))
    lake.vacuum(spark, retainLast = 1)
    assert(lake.versions(spark) == Seq(v6))
    assert(lake.read(spark).count() == 99L)
    val dirs = Files.list(java.nio.file.Paths.get(root)).toArray.map(_.toString)
      .filter(_.contains("/gen-")).toSet
    assert(dirs == lake.dirsAt(spark, v6).map(d => s"$root/$d").toSet, dirs)
    // a stream from v6 replays the partly read generation as v6 reads it
    val q = spark.readStream.format("snaplake").option("startingVersion", v6.toString)
      .load(root).writeStream.format("memory").queryName("file_granular_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_granular_stream").count() == 99L)
    } finally q.stop()
  }

  test("with auto-compaction on, a mutation rewrites a small generation whole") {
    val root = freshRoot()
    val lake = new SnapshotLake(root)
    lake.commit(spark.range(0, 100, 1, 4).toDF("id").withColumn("v", lit("x")))
    val gen = lake.dirsAt(spark, 1L).head
    // every generation is small: the next fold would rewrite the files a
    // file-granular delete carries, so the delete takes all four
    lake.enableAutoCompact(spark, maxSmallGens = 8, smallBytes = 1L << 30)
    val v2 = lake.delete(spark, col("id") === 10L)
    val c2 = lake.commitAt(spark, v2)
    assert(!c2.dirs.contains(gen) && c2.metrics.exists(_.filesRemoved == 4L), c2.json)
    // no generation is small: the delete rewrites only the file in scope
    lake.enableAutoCompact(spark, maxSmallGens = 8, smallBytes = 1L)
    val Seq(rewrite) = c2.dirs
    val c3 = lake.commitAt(spark, lake.delete(spark, col("id") === 60L))
    assert(c3.files.get(rewrite).exists(_.size == 3) && c3.metrics.exists(_.filesRemoved == 1L), c3.json)
    assert(lake.read(spark).count() == 98L)
  }
}
