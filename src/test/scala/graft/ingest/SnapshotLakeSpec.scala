package graft.ingest

import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import java.nio.file.Files

/** SnapshotLake: commit-log versioning, snapshot isolation, time
  * travel, optimistic concurrency, and vacuum retention. */
class SnapshotLakeSpec extends SparkSpecBase {
  import spark.implicits._

  private def freshLake(): (SnapshotLake, String) = {
    val root = Files.createTempDirectory("graft_snap").toString
    (new SnapshotLake(root), root)
  }

  test("commit/read round trip, append manifests, time travel") {
    val (lake, _) = freshLake()
    val a = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b = Seq((3L, "c")).toDF("id", "v")
    assert(lake.commit(a) == 1L)
    assert(lake.commit(b, overwrite = false) == 2L)
    assert(lake.versions(spark) == Seq(1L, 2L))
    // latest = union of the append chain
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // TIME TRAVEL: version 1 is exactly the first commit
    assert(lake.readAt(spark, 1L).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // append reuses the previous generation (O(1) data movement): v2's
    // manifest lists v1's directory plus one new one
    assert(lake.dirsAt(spark, 2L).size == 2)
    assert(lake.dirsAt(spark, 2L).head == lake.dirsAt(spark, 1L).head)
  }

  test("readers are isolated from in-flight writes and later commits") {
    val (lake, root) = freshLake()
    lake.commit(Seq((1L, "a")).toDF("id", "v"))
    // a reader bound BEFORE any new write activity
    val reader = lake.read(spark)
    // IN-FLIGHT write: a generation directory lands with NO commit file
    // (exactly the writer crash window / not-yet-published state) — the
    // table must not see it
    Seq((99L, "ghost")).toDF("id", "v")
      .write.parquet(s"$root/gen-deadbeef0000")
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a")), "uncommitted generation leaked into a read")
    // a second committed version appears...
    lake.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = false)
    assert(lake.read(spark).count() == 2)
    // ...but the pre-existing reader still returns ITS snapshot
    // (generations are immutable; the plan pinned version 1's files)
    assert(reader.as[(Long, String)].collect().toSet == Set((1L, "a")),
      "snapshot isolation broken: old reader saw a later commit")
  }

  test("losing the commit race retries and re-bases on the winner") {
    val (lake, root) = freshLake()
    lake.commit(Seq((1L, "a")).toDF("id", "v"))
    // simulate a RACING WINNER: another writer published version 2
    // (manifest = same dirs as v1 — a no-op commit) before our append's
    // rename lands
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1dirs = lake.dirsAt(spark, 1L)
    val winner = s"""{"version":2,"dirs":[${v1dirs.map("\"" + _ + "\"").mkString(",")}]}"""
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_commits/v00000002.json"), false)
    try out.write(winner.getBytes("UTF-8")) finally out.close()
    // our append must publish as version 3, rebased on the winner's
    // snapshot — not clobber v2, not lose the append
    val v = lake.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = false)
    assert(v == 3L, s"expected rebased version 3, got $v")
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("claim collision exercises the retry branch; winner never clobbered") {
    // the previous test's winner lands BEFORE commit() reads the latest
    // version, so the first claim targets v3 and succeeds — the
    // FileAlreadyExistsException branch (delete tmp, re-base, re-claim)
    // never runs there. Force it deterministically: a lake whose FIRST
    // latestVersion read is stale (pre-winner) must collide with the
    // winner's v2, take the retry branch, and publish a re-based v3.
    val (lake0, root) = freshLake()
    lake0.commit(Seq((1L, "a")).toDF("id", "v"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v1dirs = lake0.dirsAt(spark, 1L)
    val winner = s"""{"version":2,"dirs":[${v1dirs.map("\"" + _ + "\"").mkString(",")}]}"""
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_commits/v00000002.json"), false)
    try out.write(winner.getBytes("UTF-8")) finally out.close()
    val stale = new java.util.concurrent.atomic.AtomicBoolean(true)
    val lake = new SnapshotLake(root) {
      override def latestVersion(s: org.apache.spark.sql.SparkSession) =
        if (stale.getAndSet(false)) Some(1L) else super.latestVersion(s)
    }
    val v = lake.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = false)
    assert(!stale.get, "commit never consulted latestVersion")
    assert(v == 3L, s"expected collision then re-based version 3, got $v")
    // the winner's v2 content survived the collision byte-for-byte —
    // the local claim is link(2), which atomically FAILS on an existing
    // destination instead of replacing it like rename(2) would
    assert(lake.dirsAt(spark, 2L) == v1dirs, "winner's commit clobbered")
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // the losing claim's tmp file was cleaned up by the retry branch
    val residue = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$root/_commits"))
      .map(_.getPath.getName).filter(_.startsWith(".tmp"))
    assert(residue.isEmpty, s"retry left tmp residue: ${residue.mkString(",")}")
  }

  test("diff: inserts, deletes, updates as pairs, EXCEPT ALL multiplicity") {
    val (lake, _) = freshLake()
    lake.commit(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "dup"), (4L, "dup"))
      .toDF("id", "v"))
    // v2: 1 unchanged, 2 updated, 3 deleted, 5 inserted, one dup copy dropped
    lake.commit(Seq((1L, "a"), (2L, "B"), (5L, "e"), (4L, "dup"))
      .toDF("id", "v"), overwrite = true)
    val got = lake.diff(spark, 1L, 2L)
      .as[(Long, String, String)].collect()
      .groupBy(_._3).view.mapValues(_.map(r => (r._1, r._2)).toSeq.sorted).toMap
    assert(got("insert") == Seq((2L, "B"), (5L, "e")))
    // the update's old row, the delete, and ONE of the two dup copies
    assert(got("delete") == Seq((2L, "b"), (3L, "c"), (4L, "dup")))
  }

  test("commitInitial: atomic create — loser cleans up, winner's table intact") {
    val (lake0, root) = freshLake()
    // fresh root: commitInitial creates version 1
    assert(lake0.commitInitial(Seq((1L, "a")).toDF("id", "v")) == Some(1L))
    // existing table: reports pre-existing without touching it
    assert(lake0.commitInitial(Seq((9L, "z")).toDF("id", "v")).isEmpty)
    // RACE: a lake whose pre-check read is stale (still believes the
    // root is empty) must lose the atomic v1 claim, sweep its own
    // generation, and leave the winner untouched — an exists-check
    // followed by plain commit would instead rebase and clobber
    val stale = new java.util.concurrent.atomic.AtomicBoolean(true)
    val racer = new SnapshotLake(root) {
      override def latestVersion(s: org.apache.spark.sql.SparkSession) =
        if (stale.getAndSet(false)) None else super.latestVersion(s)
    }
    assert(racer.commitInitial(Seq((8L, "y")).toDF("id", "v")).isEmpty)
    assert(lake0.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a")), "racing create clobbered the winner")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("gen-"))
    assert(gens.length == 1, s"loser left generation residue: ${gens.mkString(",")}")
  }

  test("restore republishes an old snapshot without moving data") {
    val root = Files.createTempDirectory("graft_snap_restore").toString
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    lake.commit(Seq((9L, "oops")).toDF("id", "v"), overwrite = true) // bad deploy
    val v = lake.restore(spark, 1L)
    assert(v == 3L)
    // the head is byte-identical to v1's manifest — same generations,
    // zero data movement
    assert(lake.dirsAt(spark, 3L) == lake.dirsAt(spark, 1L))
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // the bad version stays time-travelable until vacuumed
    assert(lake.readAt(spark, 2L).count() == 1)
    // vacuum keeps the restored generations live (head references them)
    lake.vacuum(spark, retainLast = 1)
    assert(lake.versions(spark) == Seq(3L))
    assert(lake.read(spark).count() == 2)
  }

  test("vacuum drops only generations owned by expired commits") {
    val (lake, root) = freshLake()
    lake.commit(Seq((1L, "a")).toDF("id", "v"))
    lake.commit(Seq((2L, "b")).toDF("id", "v"), overwrite = true)
    lake.commit(Seq((3L, "c")).toDF("id", "v"), overwrite = true)
    // an in-flight (uncommitted) generation must survive any vacuum
    Seq((99L, "ghost")).toDF("id", "v")
      .write.parquet(s"$root/gen-feedface0000")
    val keepDir = lake.dirsAt(spark, 3L).head
    // version 1's commit record is now cached; the vacuum must still
    // make it unreadable
    assert(lake.dirsAt(spark, 1L).nonEmpty)
    lake.vacuum(spark, retainLast = 1)
    assert(lake.versions(spark) == Seq(3L))
    assert(lake.read(spark).as[(Long, String)].collect().toSet ==
      Set((3L, "c")))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(d: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/$d"))
    assert(exists(keepDir), "live generation vacuumed")
    assert(exists("gen-feedface0000"), "in-flight generation vacuumed")
    // expired versions' generations are gone
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).count(_.startsWith("gen-")) == 2)
    // and time travel to an expired version fails fast
    intercept[IllegalArgumentException] { lake.readAt(spark, 1L) }
  }

  test("diff aligns evolved schemas: appended-column versions still reconcile") {
    // exceptAll demands equal column counts, but schema-evolving
    // appends are the lake's headline feature — pre-r13 diff() threw
    // exactly when an evolved table needed auditing. Aligned on the
    // union schema (null-filled), a pre-evolution row equals its
    // null-extended self, so the diff is precisely the appended rows.
    val root = Files.createTempDirectory("graft_snap_diffev").toString + "/lake"
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), overwrite = true)
    lake.commit(Seq((3L, "c", 30)).toDF("id", "v", "extra"))
    val d = lake.diff(spark, 1L, 2L)
    val ins = d.filter(col("op") === "insert")
      .select(col("id"), col("extra")).as[(Long, Option[Int])].collect().toSet
    assert(ins == Set((3L, Some(30))), s"got $ins")
    assert(d.filter(col("op") === "delete").count() == 0)
  }

  test("commit filenames past 8 digits stay visible (version 100,000,000)") {
    // %08d pads to AT LEAST 8 digits; an exact-8 listing regex would
    // publish v100000000 yet never list it — latestVersion stuck below
    // an existing commit wedges every later claim on the same "next"
    // version forever. Simulated by republishing a real manifest under
    // the 9-digit name.
    val root = Files.createTempDirectory("graft_snap_digits").toString + "/lake"
    val lake = new SnapshotLake(root)
    lake.commit(Seq((1L, "a")).toDF("id", "v"), overwrite = true)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(s"$root/_commits/v00000001.json")
    val dst = new org.apache.hadoop.fs.Path(s"$root/_commits/v100000000.json")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    assert(lake.versions(spark) == Seq(1L, 100000000L),
      s"9-digit commit invisible: ${lake.versions(spark)}")
    // and the lake keeps committing PAST it instead of wedging
    val v = lake.commit(Seq((2L, "b")).toDF("id", "v"))
    assert(v == 100000001L, s"next version should clear the 9-digit mark: $v")
  }
}
