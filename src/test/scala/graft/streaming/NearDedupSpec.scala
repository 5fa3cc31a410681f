package graft.streaming

import org.apache.spark.sql.functions._
import graft.{SparkSpecBase, Tables}
import graft.ml.Dedup
import java.nio.file.Files

/** Streaming near-dup ingest vs a SEQUENTIAL reference: admit each doc
  * (stream order: wave, then doc_id) iff no already-admitted doc sharing
  * a band bucket estimates Jaccard ≥ τ — the exact rule the sink
  * implements (ledger rejection + within-batch greedy min-id MIS equals
  * sequential processing by construction; this test proves it on real
  * data).
  */
class NearDedupSpec extends SparkSpecBase {
  import spark.implicits._

  private def sigsRows(ledger: String) = NearDedupStreams.sigsLedger(ledger).read(spark)
  private def bucketRows(ledger: String) = NearDedupStreams.bucketsLedger(ledger).read(spark)

  test("near-dup ingest: streamed admission == sequential greedy; replay no-op") {
    // two sub-shingle-width docs (duplicates of each other): no
    // signatures → no candidates in either direction → BOTH admitted
    // unconditionally. That near-dedup cannot see below the shingle
    // width is the operator's contract; silently DROPPING such docs
    // (the pre-fix behavior) is data loss this pins against.
    val tiny = Seq((900001L, "tiny doc", "en", "synthetic", 8L),
        (900002L, "tiny doc", "en", "synthetic", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val docs = Tables.documents(spark, sf0001).unionByName(tiny)
    val src = Files.createTempDirectory("graft_nd_src").toString
    val ledger = Files.createTempDirectory("graft_nd_ledger").toString + "/l"
    val out = Files.createTempDirectory("graft_nd_out").toString + "/o"
    val ckpt = Files.createTempDirectory("graft_nd_ckpt").toString
    val tau = 0.5

    // two arrival waves: even doc_ids, then odd
    docs.filter($"doc_id" % 2 === 0).coalesce(1).write.mode("append").parquet(src)
    Thread.sleep(1100) // strictly increasing mtimes → deterministic batch order
    docs.filter($"doc_id" % 2 === 1).coalesce(1).write.mode("append").parquet(src)
    val bucketsBefore = LedgerCopies.take(s"$ledger/buckets")
    NearDedupStreams.runOnce(spark, src, ledger, out, tau, ckpt)

    val got = spark.read.parquet(out).select($"doc_id")
      .as[Long].collect().toSet

    // sequential reference with the same signatures, buckets, and rule
    val sigs = Dedup.minhashSignatures(Dedup.shingled(docs))
    val sigMap = sigs.as[(Long, Array[Long])].collect().toMap
    val bandMap = Dedup.bandBuckets(sigs)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    spark.catalog.clearCache() // minhashSignatures persists
    def est(a: Array[Long], b: Array[Long]): Double =
      a.iterator.zip(b.iterator).count { case (x, y) => x == y }.toDouble / a.length
    val order = sigMap.keys.toSeq.sortBy(id => (id % 2, id))
    val inv = collection.mutable.Map.empty[(Int, Long), List[Long]]
    val expected = collection.mutable.Set.empty[Long]
    order.foreach { id =>
      val cands = bandMap(id).flatMap(inv.get).flatten
      if (!cands.exists(o => est(sigMap(id), sigMap(o)) >= tau)) {
        expected += id
        bandMap(id).foreach(bb => inv.update(bb, id :: inv.getOrElse(bb, Nil)))
      }
    }
    // sub-shingle docs never sign, so the rule admits them unconditionally
    val signless = docs.select($"doc_id").as[Long].collect().toSet -- sigMap.keySet
    assert(signless == Set(900001L, 900002L))
    expected ++= signless
    assert(got == expected.toSet,
      s"admission diverged: missing ${(expected -- got).size}, " +
        s"extra ${(got -- expected).size} of ${expected.size}")
    // the dedup genuinely bit (planted near-dups exist at sf0.001)
    assert(got.size < docs.count())

    // ledger state: one admission row per admitted doc (signless docs
    // carry a null sig — pure replay markers, invisible to similarity)
    assert(sigsRows(ledger).count() == got.size)

    // full replay of wave 0 by a writer the stream's watermark does not
    // cover: admitted docs are marked REPLAYED by the admission record
    // and rewritten identically — corpus and ledger unchanged, no bucket
    // row added
    val bucketCount = bucketRows(ledger).count()
    NearDedupStreams.nearDedupIngestSink(spark, ledger, out, tau)(
      docs.filter($"doc_id" % 2 === 0), 0L)
    assert(spark.read.parquet(out).select($"doc_id")
      .as[Long].collect().toSet == got)
    assert(sigsRows(ledger).count() == got.size)
    assert(bucketRows(ledger).count() == bucketCount)

    // crash window: sigs landed, buckets commits lost. Simulate by
    // restoring the buckets table as it was before the stream ran (it
    // did not exist), then replay BOTH batches (what a restarted stream
    // does). The id guard must keep every originally-admitted doc in its
    // partition (the pre-fix bug dropped them and admitted their rejected
    // near-dups instead), and the bucket rows must be healed, once each.
    LedgerCopies.restore(s"$ledger/buckets", bucketsBefore)
    NearDedupStreams.nearDedupIngestSink(spark, ledger, out, tau)(
      docs.filter($"doc_id" % 2 === 0), 0L)
    NearDedupStreams.nearDedupIngestSink(spark, ledger, out, tau)(
      docs.filter($"doc_id" % 2 === 1), 1L)
    assert(spark.read.parquet(out).select($"doc_id")
      .as[Long].collect().toSet == got,
      "crash-window replay changed the corpus")
    assert(sigsRows(ledger).count() == got.size)
    assert(bucketRows(ledger).select($"doc_id").distinct().count() ==
      (got -- signless).size, "bucket rows not healed for admitted docs")
    assert(bucketRows(ledger).count() == bucketRows(ledger).distinct().count(),
      "healing committed a bucket row twice")

    // RESENT record (same doc_id, later batch): rejected by identity,
    // nothing rewritten anywhere
    NearDedupStreams.nearDedupIngestSink(spark, ledger, out, tau)(
      docs.filter($"doc_id" % 2 === 0), 999L)
    assert(spark.read.parquet(out).select($"doc_id")
      .as[Long].collect().toSet == got,
      "resent records changed the corpus")
    assert(sigsRows(ledger).count() == got.size)
    spark.catalog.clearCache()
  }

  test("batch twin parity: streamed admission == Dedup.sequentialAdmission on decisive fixtures") {
    // the scored batch twin (ns_near_dedup_replay) claims to replay the
    // STREAM's admission rule; this ties the two implementations
    // together on a fixture where their decision statistics coincide:
    // verbatim duplicates estimate 1.0 (est-Jaccard == exact Jaccard),
    // unrelated docs ~0, so the stream's signature estimate and the
    // twin's exact-verify decide identically. Waves are doc_id mod 3 on
    // both sides (the twin's definition; fed to the sink as batches
    // 0/1/2 in order).
    val A = "alpha beta gamma delta epsilon zeta eta theta"
    val B = "one two three four five six seven eight nine"
    val rows = Seq(
      (6L, A), (9L, A), (4L, A), (2L, A), // group A: waves 0,0,1,2
      (1L, B), (5L, B), // group B: waves 1,2
      (3L, "u3a u3b u3c u3d u3e u3f"), (7L, "u7a u7b u7c u7d u7e u7f"),
      (8L, "u8a u8b u8c u8d u8e u8f"), (10L, "uXa uXb uXc uXd uXe uXf"),
      (11L, "uYa uYb uYc uYd uYe uYf"), (12L, "uZa uZb uZc uZd uZe uZf"))
    val docs = rows.map { case (id, t) => (id, t, "en", "synthetic", 8L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ledger = Files.createTempDirectory("graft_tw_ledger").toString + "/l"
    val out = Files.createTempDirectory("graft_tw_out").toString + "/o"
    (0 until 3).foreach { w =>
      NearDedupStreams.nearDedupIngestSink(spark, ledger, out, 0.5)(
        docs.filter($"doc_id" % 3 === w), w.toLong)
    }
    val streamed = spark.read.parquet(out).select($"doc_id")
      .as[Long].collect().toSet
    val twin = Dedup.sequentialAdmission(docs, 0.5, 3)
      .as[(Long, Long)].collect()
    spark.catalog.clearCache() // sequentialAdmission persists its pair graph
    assert(twin.map(_._1).toSet == streamed,
      s"batch twin diverged from the stream: twin=${twin.map(_._1).toSet} " +
        s"stream=$streamed")
    // and the expected set itself: group winners are the earliest
    // wave's min id (6 for A — wave 0; 1 for B — wave 1), isolated all in
    assert(streamed == Set(6L, 1L, 3L, 7L, 8L, 10L, 11L, 12L))
    // the twin's wave tags match doc_id mod 3
    twin.foreach { case (id, w) => assert(w == id % 3) }
  }

  test("τ-boundary divergence: the sink decides on the signature ESTIMATE, not exact Jaccard") {
    // The batch-twin parity test above runs on DECISIVE fixtures where
    // estimate and exact agree; this pins the contract where they
    // DISAGREE. Both fixtures are a 40-token base doc
    // vs a tail-rewrite variant (replace the last k tokens): distinct
    // 5-shingles are 36 per doc, shared = 36-k, so exact J = (36-k)/(36+k)
    // exactly, while the 128-component signature estimate scatters
    // around it (σ ≈ 0.044). Found by deterministic search over the
    // replacement vocabulary; the in-test recomputation below keeps the
    // straddle claim self-verifying rather than hardcoded lore.
    val tau = 0.5
    val base = (1 to 40).map(i => f"b$i%03d").mkString(" ")
    // A: exact 23/49 ≈ 0.469 < τ ≤ est (0.5390625) → sink REJECTS the
    // variant (bounded ledger state retains only signatures — the
    // estimate IS its decision statistic), exact-twin admits both
    val varA = ((1 to 27).map(i => f"b$i%03d") ++
      (1 to 13).map(i => f"v001_$i%03d")).mkString(" ")
    // B: exact 24/48 = 0.5 ≥ τ > est (0.4765625) → sink ADMITS both,
    // exact-twin rejects the variant
    val varB = ((1 to 28).map(i => f"b$i%03d") ++
      (1 to 12).map(i => f"v003_$i%03d")).mkString(" ")
    def docsOf(variant: String) =
      Seq((1L, base, "en", "synthetic", 8L), (2L, variant, "en", "synthetic", 8L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // self-verify the straddle (est from the real signatures, exact from
    // the real shingle sets — constants drifting makes THIS line fail
    // with the reason, not the admission asserts below)
    def straddle(variant: String): (Double, Double) = {
      val sh = Dedup.shingled(docsOf(variant))
      val m = Dedup.minhashSignatures(sh).as[(Long, Array[Long])].collect().toMap
      val est = m(1L).zip(m(2L)).count(p => p._1 == p._2).toDouble / Dedup.NumHashes
      val sets = sh.select($"doc_id", $"shingles").as[(Long, Seq[String])].collect().toMap
      val inter = sets(1L).toSet.intersect(sets(2L).toSet).size
      val exact = inter.toDouble / (sets(1L).size + sets(2L).size - inter)
      spark.catalog.clearCache()
      (exact, est)
    }
    val (exactA, estA) = straddle(varA)
    assert(exactA < tau && estA >= tau, s"fixture A drifted: exact=$exactA est=$estA")
    val (exactB, estB) = straddle(varB)
    assert(exactB >= tau && estB < tau, s"fixture B drifted: exact=$exactB est=$estB")

    def runSink(variant: String): Set[Long] = {
      val ledger = Files.createTempDirectory("graft_div_ledger").toString + "/l"
      val out = Files.createTempDirectory("graft_div_out").toString + "/o"
      val docs = docsOf(variant)
      NearDedupStreams.nearDedupIngestSink(spark, ledger, out, tau)(
        docs.filter($"doc_id" === 1), 0L)
      NearDedupStreams.nearDedupIngestSink(spark, ledger, out, tau)(
        docs.filter($"doc_id" === 2), 1L)
      spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet
    }
    // direction A: estimate says dup → the sink rejects; the exact-verify
    // twin sees no pair at all and admits both
    assert(runSink(varA) == Set(1L), "sink did not reject on the estimate")
    val twinA = Dedup.sequentialAdmission(docsOf(varA), tau)
      .select($"doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    assert(twinA == Set(1L, 2L), s"exact twin rejected a sub-τ pair: $twinA")
    // direction B: estimate says unique → the sink admits both; the twin's
    // exact verify finds the pair and rejects the later doc
    assert(runSink(varB) == Set(1L, 2L), "sink did not admit on the estimate")
    val twinB = Dedup.sequentialAdmission(docsOf(varB), tau)
      .select($"doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    assert(twinB == Set(1L), s"exact twin admitted an exact-dup pair: $twinB")
  }

  test("long run: 21 batches + crash replays, compaction bounds files and rows") {
    // over a long stream with crash-healing re-appends, do bucket
    // duplicates, small per-batch files and old versions accumulate
    // without bound, or do auto-compaction and the vacuum after each
    // fold keep both ledger tables tight? Drive 21 micro-batches (docs
    // sliced by doc_id % 21) with two simulated crashes (the buckets
    // commit lost after the sigs commit landed) and one full replay,
    // then pin: bucket rows are never duplicated, live generations stay
    // under the auto-compaction threshold, on-disk versions and
    // generation directories stay bounded, and the admission record
    // stays one row per admitted doc throughout.
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf0001)
    val ledger = Files.createTempDirectory("graft_ndl_ledger").toString + "/l"
    val out = Files.createTempDirectory("graft_ndl_out").toString + "/o"
    val tau = 0.5
    val nBatches = 21
    val sink = NearDedupStreams.nearDedupIngestSink(spark, ledger, out, tau) _
    val tables = Seq("sigs" -> NearDedupStreams.sigsLedger(ledger),
      "buckets" -> NearDedupStreams.bucketsLedger(ledger))
    val fs = new Path(ledger).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def assertBounded(i: Int): Unit = tables.foreach { case (name, lake) =>
      val n = lake.autoCompactConfig(spark).map(_._1)
        .getOrElse(fail(s"batch $i: $name has no auto-compaction"))
      val live = lake.dirsAt(spark, lake.latestVersion(spark).get).size
      assert(live < n, s"batch $i: $name holds $live live generations")
      val versions = lake.versions(spark).size
      assert(versions <= n + 1, s"batch $i: $name keeps $versions versions")
      val dirs = fs.listStatus(new Path(s"$ledger/$name"))
        .count(_.getPath.getName.startsWith("gen-"))
      assert(dirs < 2 * n, s"batch $i: $name keeps $dirs generation directories")
    }
    def assertNoDupBuckets(i: Int): Unit = {
      val b = bucketRows(ledger)
      assert(b.count() == b.distinct().count(), s"batch $i: duplicate bucket rows")
    }
    (0 until nBatches).foreach { i =>
      val batch = docs.filter($"doc_id" % nBatches === i)
      val bucketsBefore = LedgerCopies.take(s"$ledger/buckets")
      sink(batch, i.toLong)
      if (i == 7 || i == 13) {
        // crash after the sigs commit: the buckets table is restored to
        // its copy from before the batch, and the batch replays
        LedgerCopies.restore(s"$ledger/buckets", bucketsBefore)
        sink(batch, i.toLong)
        assertNoDupBuckets(i)
      }
      assertBounded(i)
    }
    // auto-compaction really ran on both tables
    tables.foreach { case (name, lake) =>
      assert(lake.history(spark).filter($"op" === "compact").count() > 0,
        s"$name never compacted")
    }
    // a full replay of a committed batch is a no-op
    val corpus = spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet
    val bucketCount = bucketRows(ledger).count()
    sink(docs.filter($"doc_id" % nBatches === 19), 19L)
    assert(spark.read.parquet(out).select($"doc_id").as[Long].collect().toSet == corpus)
    assert(bucketRows(ledger).count() == bucketCount)
    assertNoDupBuckets(nBatches)
    // admission record: exactly one sigs row per corpus doc, despite
    // two healed crashes and a replay; every signed doc has its buckets
    assert(sigsRows(ledger).count() == corpus.size)
    assert(sigsRows(ledger).select($"doc_id").distinct().count() == corpus.size)
    assert(bucketRows(ledger).select($"doc_id").distinct().count() ==
      sigsRows(ledger).filter($"sig".isNotNull).count())
    spark.catalog.clearCache()
  }

  test("maxMisRounds bounds the per-batch MIS loop — LOUD error, not a stalled stream") {
    // the streaming twin of ScaleSpec's sequentialAdmission budget test
    // (the sink's loop once stayed unbounded after the batch path
    // gained the knob): one micro-batch carrying a near-dup CHAIN
    // 1-2, 2-3, ..., 9-10 (same 24-token sliding-window fixture — J =
    // 19/21 adjacent, 18/22 at distance 2, τ = 0.85 keeps exactly the
    // path) has greedy dependency depth 5, so maxMisRounds = 1 must
    // throw naming the knob instead of silently stalling foreachBatch.
    val words = (1 to 33).map(i => f"w$i%03d")
    val chain = (1 to 10).map(i =>
      (i.toLong, words.slice(i - 1, i + 23).mkString(" "), "en",
        "synthetic", 120L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tau = 0.85
    val ledger = Files.createTempDirectory("graft_nd_mis").toString + "/l"
    val out = Files.createTempDirectory("graft_nd_mis_out").toString + "/o"
    val e = intercept[IllegalStateException] {
      NearDedupStreams.nearDedupIngestSink(spark, ledger, out, tau,
        maxMisRounds = 1)(chain, 0L)
    }
    assert(e.getMessage.contains("maxMisRounds"),
      s"budget error must name the knob: ${e.getMessage}")
    spark.catalog.clearCache()
    // the error is the BUDGET, not the fixture: the same batch under the
    // default budget completes (fresh ledger — the budgeted attempt
    // wrote nothing before the loop). NOT pinned to the exact odd-id
    // set here: the sink decides on the SIGNATURE ESTIMATE (its
    // contract — the τ-boundary test above owns that), and at τ = 0.85
    // this chain's margins (J 0.905 adjacent / 0.818 at distance 2) sit
    // ~1.5σ from a 128-hash estimate, so individual edges may flip;
    // exact-set admission is pinned on exact-verified pairs by
    // ScaleSpec's batch-twin chain test.
    val ledger2 = Files.createTempDirectory("graft_nd_mis2").toString + "/l"
    val out2 = Files.createTempDirectory("graft_nd_mis_out2").toString + "/o"
    NearDedupStreams.nearDedupIngestSink(spark, ledger2, out2, tau)(chain, 0L)
    val admitted = spark.read.parquet(out2)
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted.contains(1L) && admitted.size >= 3 &&
        admitted.size <= 6,
      s"default-budget admission not a plausible chain MIS: $admitted")
    spark.catalog.clearCache()
  }
}
