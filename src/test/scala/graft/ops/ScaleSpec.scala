package graft.ops

import org.apache.spark.sql.functions._
import graft.{SparkSpecBase, Tables}
import java.nio.file.Files

/** Scale-pattern demonstrations: bucketed co-located joins (shuffle
  * elimination) and salted aggregation (skew spreading) — verified for
  * both CORRECTNESS (same results as the direct forms) and PLAN SHAPE
  * (the shuffle really disappears / the salt really pre-aggregates).
  */
class ScaleSpec extends SparkSpecBase {
  import spark.implicits._

  /** Disable broadcast + AQE for the block, SAVING and RESTORING any
    * pre-existing session values (unset would discard them). */
  private def withForcedShufflePlanning[A](body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "-1")
    spark.conf.set(keys(1), "false")
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    // warehouse.dir is a static conf; an explicit DB LOCATION suffices
    val wh = Files.createTempDirectory("graft_wh").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '$wh/graft_bkt'")
    spark.sql("USE graft_bkt")
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path (the tiny test tables would otherwise
      // broadcast, which sidesteps bucketing entirely)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val o = Tables.orders(spark, sf0001)
      val li = Tables.lineitem(spark, sf0001)
      o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")

      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString

      // both sides bucketed on the join key → co-located SMJ, no shuffle
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(500)}")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.take(800)}")
      // and the result matches the plain (shuffling) join
      val direct = li.join(o, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == direct)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
      spark.sql("DROP DATABASE IF EXISTS graft_bkt CASCADE")
      spark.sql("USE default")
    }
  }

  test("approx_count_distinct within 5% of exact at rsd=0.01") {
    val li = Tables.lineitem(spark, sf0001)
    val r = li.agg(
      countDistinct($"l_partkey").as("exact_p"),
      countDistinct($"l_orderkey").as("exact_o"),
      approx_count_distinct($"l_partkey", 0.01).as("ap"),
      approx_count_distinct($"l_orderkey", 0.01).as("ao")).collect().head
    val (ep, eo) = (r.getAs[Long]("exact_p"), r.getAs[Long]("exact_o"))
    assert(math.abs(r.getAs[Long]("ap") - ep) <= 0.05 * ep)
    assert(math.abs(r.getAs[Long]("ao") - eo) <= 0.05 * eo)
  }

  test("salted aggregation equals direct aggregation") {
    // orders has bounded custkeys → every key is 'hot' relative to 150
    val o = Tables.orders(spark, sf0001)
    val direct = o.groupBy($"o_custkey")
      .agg(sum($"o_totalprice").as("total"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val salted = Skew.saltedSumCount(o, $"o_custkey", $"o_totalprice", 16)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (total, n)) =>
      assert(n == direct(k)._2)
      assert(math.abs(total - direct(k)._1) < 1e-6)
    }
  }

  test("partition pruning: lang-partitioned layout reads only the filtered partition") {
    val dir = Files.createTempDirectory("graft_part").toString
    val docs = Tables.documents(spark, sf0001)
    // coalesce(1): exactly one file per lang partition, so the
    // numFiles == 1 assertion below is about pruning, not input splits
    docs.coalesce(1).write.partitionBy("lang").mode("overwrite").parquet(dir)
    val q = spark.read.parquet(dir).filter($"lang" === "en")
      .select($"doc_id", $"n_chars")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"no partition filter in scan:\n${plan.take(800)}")
    assert(q.count() == docs.filter($"lang" === "en").count())
    // the executed scan must have touched exactly the one en partition
    // file (5 lang partitions × 1 file each were written)
    q.collect()
    val scan = q.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.metrics("numFiles").value == 1,
      s"scan read ${scan.metrics("numFiles").value} files; pruning failed")
  }

  test("count-min sketch heavy hitters: estimates bound true counts") {
    val docs = Tables.documents(spark, sf0001)
    val tok = docs.select(explode(split(trim(lower($"text")), "\\s+")).as("token"))
      .filter($"token" =!= "")
    val cms = tok.stat.countMinSketch($"token", eps = 0.001, confidence = 0.99,
      seed = 42)
    val exact = tok.groupBy($"token").count()
      .orderBy($"count".desc, $"token").limit(20)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val n = tok.count()
    exact.foreach { case (t, c) =>
      val est = cms.estimateCount(t)
      assert(est >= c, s"CMS underestimated $t: $est < $c") // CMS never undercounts
      assert(est <= c + (0.001 * n).toLong + 1,
        s"CMS overestimate out of eps bound for $t: $est vs $c (n=$n)")
    }
  }

  test("training mix: the domain-cap heap never buffers document text") {
    // the pipeline projects token counts BEFORE TopKPerKey so the heap
    // state per (source, partition) is cap × a few scalars — text
    // flowing through it would make per-task state corpus-text-sized
    graft.plans.TopK.ensurePlanning(spark)
    val df = graft.SparkEntry.queries("ns_training_mix")(spark, sf0001)
    val heaps = df.queryExecution.optimizedPlan.collect {
      case t: graft.plans.TopKPerKeyNode => t
    }
    assert(heaps.nonEmpty, "training mix should plan through TopKPerKeyNode")
    heaps.foreach { t =>
      (t.output ++ t.children.flatMap(_.output)).foreach(a =>
        assert(a.name != "text",
          "document text must not flow through the domain-cap heap"))
    }
    spark.catalog.clearCache()
  }

  test("dsir scoring join broadcasts the bucket table (map-side scoring)") {
    val docs = Tables.documents(spark, sf0001)
    val plan = graft.ml.Corpus.dsirScore(docs, $"lang" === "en", 1024)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"bucket-table join is not broadcast:\n${plan.take(800)}")
  }

  test("cdc upsert shuffles each side once; join reuses the window partitioning") {
    val q = graft.SparkEntry.queries("t_cdc_upsert")(spark, sf0001)
    val plan = q.queryExecution.executedPlan.toString
    // one hashpartitioning exchange per windowed side; the full-outer
    // join and final sort must not add per-side re-shuffles on user_id
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"expected <=2 key shuffles, got $shuffles:\n${plan.take(1200)}")
  }

  test("char entropy shuffles twice: (doc, char) combine, then doc window+agg") {
    val plan = graft.ml.TextAnalysis.charEntropy(Tables.documents(spark, sf0001))
      .queryExecution.executedPlan.toString
    // partial agg combines map-side on (doc_id, ch); the doc_id window's
    // partitioning then satisfies the final group-by's distribution
    // (doc_id ⊆ grouping keys), so no third exchange appears
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected 2 shuffles, got $shuffles:\n${plan.take(1200)}")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"missing map-side combine:\n${plan.take(800)}")
  }

  test("minhash candidate generation shuffles (band, bucket, id) longs only") {
    // the 100 TB dedup property: LSH candidate generation must never ship
    // text or shingle arrays — only the constant-size banded sketch rows.
    // (The later verify step joins shingles for CANDIDATES only, which is
    // |candidate pairs| ≪ |corpus| by the S-curve; this test pins the
    // all-rows stage.) Broadcast + AQE would hide the exchanges at test
    // scale, so force the shuffle path a large corpus takes.
    val docs = Tables.documents(spark, sf0001)
    val exchanges = withForcedShufflePlanning {
      val sh = graft.ml.Dedup.shingled(docs)
      val sigs = sh.select($"doc_id",
        graft.functions.MinHashSig.minhashSig($"shingles", 128).as("sig"))
      graft.ml.Dedup.lshCandidates(sigs)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
    }
    val bucketExchanges = exchanges.filter(
      _.outputPartitioning.toString.contains("bucket"))
    assert(bucketExchanges.nonEmpty, "no band/bucket-keyed exchange found")
    bucketExchanges.foreach { e =>
      val bad = e.child.output.filter(a =>
        a.dataType.simpleString.contains("string") ||
        a.dataType.simpleString.contains("array"))
      assert(bad.isEmpty,
        s"candidate exchange ships variable-width data: ${bad.map(a =>
          s"${a.name}:${a.dataType.simpleString}").mkString(", ")}")
    }
  }

  /** (a, b) id pairs of a `bucketPairs` frame over (k, id) rows, with the
    * member passed as a bare id or as an `id`-keyed struct. */
  private def bucketPairIds(df: org.apache.spark.sql.DataFrame, tile: Int,
      asStruct: Boolean): Set[(Long, Long)] = {
    val member =
      if (asStruct) struct($"id", ($"id" * 10).as("payload")) else $"id"
    val pairs = Skew.bucketPairs(df, Seq($"k"), member, tile)
    val ids =
      if (asStruct) pairs.select($"a.id", $"b.id") else pairs.select($"a", $"b")
    ids.as[(Long, Long)].collect().toSet
  }

  test("bucketPairs equals a direct self-join on edge inputs") {
    val tile = 3
    // ids within a bucket in scrambled order, so a tiled bucket must sort
    def bucket(k: String, n: Int, base: Long): Seq[(String, Option[Long])] =
      (0 until n).map(i => (k, Option(base + (i * 5L) % n)))
    val cases: Seq[(String, Seq[(String, Option[Long])])] = Seq(
      "empty frame" -> Nil,
      "all singletons" -> Seq(("k1", Some(1L)), ("k2", Some(2L)), ("k3", Some(3L))),
      "null member id" -> Seq(("k", None), ("k", Some(1L)), ("k", Some(2L)),
        ("j", None), ("j", Some(5L))),
      "repeated id" -> Seq(("k", Some(1L)), ("k", Some(1L)), ("k", Some(2L)),
        ("h", Some(4L)), ("h", Some(4L)), ("h", Some(5L)), ("h", Some(6L)),
        ("h", Some(7L))),
      "tile-1" -> bucket("k", tile - 1, 10L),
      "tile" -> bucket("k", tile, 10L),
      "tile+1" -> bucket("k", tile + 1, 10L),
      "2*tile+1" -> bucket("k", 2 * tile + 1, 10L),
      "mixed sizes, shared pairs" -> (bucket("a", tile - 1, 0L) ++
        bucket("b", tile, 0L) ++ bucket("c", tile + 1, 0L) ++
        bucket("d", 2 * tile + 1, 0L) ++ Seq(("e", Some(99L)))))
    cases.foreach { case (name, rows) =>
      val df = rows.toDF("k", "id")
      val direct = df.select($"k", $"id".as("id_a"))
        .join(df.select($"k", $"id".as("id_b")), "k")
        .filter($"id_a" < $"id_b").select($"id_a", $"id_b")
        .as[(Long, Long)].collect().toSet
      for (asStruct <- Seq(false, true); t <- Seq(tile, Skew.PairTile)) {
        val got = bucketPairIds(df, t, asStruct)
        assert(got == direct, s"$name (tile $t, struct member $asStruct): " +
          s"missing ${direct -- got}, fabricated ${got -- direct}")
      }
    }
    // the member payload travels with its id through the tiled branch
    val df = bucket("k", 2 * tile + 1, 10L).toDF("k", "id")
    val payloads = Skew.bucketPairs(df, Seq($"k"),
        struct($"id", ($"id" * 10).as("payload")), tile)
      .select($"a.id", $"a.payload", $"b.id", $"b.payload")
      .as[(Long, Long, Long, Long)].collect()
    assert(payloads.nonEmpty &&
      payloads.forall(r => r._2 == r._1 * 10 && r._4 == r._3 * 10))
  }

  test("bucketPairs tiles a hot bucket over tasks under default AQE") {
    // one hot bucket (200 members -> 19,900 pairs), default session: AQE
    // on, default broadcast threshold. The expanding stage's partial
    // distinct writes each pair once, so the stage whose written records
    // equal the pair count is the one that expanded them; count its
    // tasks that wrote any.
    val k = 200
    val df = (1L to k.toLong).map(id => ("hot", id)).toDF("k", "id")
    val expected = (for (a <- 1L to k; b <- a + 1 to k) yield (a, b)).toSet
    def expandingTasks(tile: Int): Int = {
      val written = scala.collection.mutable.Map
        .empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) written.synchronized {
            written.getOrElseUpdate(t.stageId,
              scala.collection.mutable.ArrayBuffer.empty[Long]) +=
              t.taskMetrics.shuffleWriteMetrics.recordsWritten
          }
      }
      spark.sparkContext.addSparkListener(listener)
      val got = try {
        val ids = Skew.bucketPairs(df, Seq($"k"), $"id", tile)
          .as[(Long, Long)].collect().toSet
        org.apache.spark.sql.GraftBridge.waitListenerBus(spark.sparkContext)
        ids
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(got == expected, s"tile $tile: pair set diverges")
      val expanding = written.values.filter(_.sum == expected.size.toLong)
      assert(expanding.size == 1,
        s"tile $tile: no single stage wrote the ${expected.size} pairs: $written")
      expanding.head.count(_ > 0)
    }
    assert(expandingTasks(Skew.PairTile) == 1,
      "a bucket within tile expands as one unit, in one task")
    val spread = expandingTasks(16)
    assert(spread > 1,
      s"hot bucket's pairs expanded in $spread task(s); tiling spread nothing")
  }

  test("dup-cluster propagation survives a hot hub: salted join parity + spread") {
    // star graph: one hub near-dup to 10^4 leaves — the boilerplate-corpus
    // shape where the propagation join edges⋈labels would serialize the
    // hub's entire edge list onto one reducer
    val n = 10000
    val hub = 50000L
    val pairs = spark.range(1, n + 1)
      .select(lit(hub).as("doc_a"), $"id".as("doc_b"))
    // parity: the salted path (default) computes exactly the unsalted
    // clustering — a single component labeled by its min member (1)
    val salted = graft.ml.Dedup.dupClusters(pairs, saltBuckets = 8)
      .as[(Long, Long)].collect().toSet
    val unsalted = graft.ml.Dedup.dupClusters(pairs, saltBuckets = 1)
      .as[(Long, Long)].collect().toSet
    assert(salted == unsalted, s"salted clustering diverges: " +
      s"missing ${(unsalted -- salted).size}, fabricated ${(salted -- unsalted).size}")
    assert(salted.size == n + 1 && salted.forall(_._2 == 1L),
      "star graph must collapse to one component labeled 1")
    // bounded reducer rows: the hub's fact rows land in many independent
    // (key, salt) reducer KEYS instead of one. Assert on the logical join
    // keys (physical partitions can collide several salt cells at 32
    // shuffle partitions; at cluster scale the partitioner spreads them,
    // but the per-key bound is what caps a single reducer's work).
    val g = 8
    val edges = pairs.select($"doc_b".as("u"), $"doc_a".as("v"))
    val labels = pairs.select($"doc_a".as("v"), lit(1L).as("label")).distinct()
    val joined = Skew.saltedEnrichJoin(edges, "v", $"u", labels, g)
    val perCell = joined
      .groupBy($"v", pmod(xxhash64($"u"), lit(g.toLong)).as("cell"))
      .agg(count(lit(1)).as("rows")).as[(Long, Long, Long)].collect()
    assert(perCell.length >= g / 2,
      s"hub edges concentrated in ${perCell.length} cells; salting spread nothing")
    assert(perCell.map(_._3).max <= 2L * n / g,
      s"one reducer key still holds ${perCell.map(_._3).max} of $n hub rows (g=$g)")
    // plan: the join exchange must be keyed on the salt cell
    val exchanges = withForcedShufflePlanning {
      Skew.saltedEnrichJoin(edges, "v", $"u", labels, g)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
    }
    assert(exchanges.exists(_.outputPartitioning.toString.contains("__salt")),
      "no salt-keyed exchange in the enrich-join plan")
  }

  test("dup-cluster rounds run ONE action each: the converge probe rides the checkpoint") {
    // each propagation round must be a single Spark ACTION (the eager
    // localCheckpoint, whose observe() hands back Σlabel) — a separate
    // per-round sum scan would double the job count of a 100 TB
    // clustering run. Actions, not jobs: AQE splits one action into a
    // job per shuffle stage, which is noise; QueryExecutionListener
    // counts exactly the driver-side actions.
    val pairs = (1L to 200L).map(i => (5000L, i)).toDF("doc_a", "doc_b")
    pairs.count() // warm lazy session init outside the counted region
    // drain the async listener bus BEFORE registering: the warm count's
    // onSuccess event is posted asynchronously and can otherwise be
    // delivered to the listener registered below (observed once as a
    // spurious extra "count" action, r17)
    org.apache.spark.sql.GraftBridge.waitListenerBus(spark.sparkContext)
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = actions.add(s"FAILED:$funcName")
    }
    spark.listenerManager.register(l)
    val clusters = try {
      val c = graft.ml.Dedup.dupClusters(pairs, saltBuckets = 8)
        .as[(Long, Long)].collect().toSet
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark.sparkContext)
      c
    } finally spark.listenerManager.unregister(l)
    // star graph: seed labels leaves correctly, round 1 pulls the hub's
    // min through, round 2 proves the fixpoint — 3 checkpoints total
    assert(clusters.size == 201 && clusters.forall(_._2 == 1L))
    val counted = actions.toArray(Array.empty[String]).toSeq
    assert(counted.count(_ == "localCheckpoint") == 3,
      s"expected 3 checkpoint actions (seed + 2 rounds), got: $counted")
    assert(counted.forall(a => a == "localCheckpoint" || a == "collect"),
      s"extra per-round actions crept in: $counted")
  }

  test("train-order shuffle never single-partitions: per-shard windows only") {
    // the 100 TB property of ns_train_order: the permutation is
    // materialized with per-shard windows — a global ORDER BY (or an
    // unpartitioned window) would drag the corpus into one partition
    val docs = Tables.documents(spark, sf0001)
    val q = graft.ml.Corpus.trainOrder(docs, seed = 42, nShards = 8)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"train order plan single-partitions:\n${plan.take(800)}")
    assert(plan.contains("hashpartitioning(shard"),
      s"window is not shard-partitioned:\n${plan.take(800)}")
    // and the permutation is a bijection: every doc exactly once, with
    // per-shard positions forming 1..count(shard)
    val rows = q.select($"doc_id", $"shard", $"position")
      .as[(Long, Int, Int)].collect()
    assert(rows.map(_._1).distinct.length == docs.count())
    rows.groupBy(_._2).values.foreach { shard =>
      assert(shard.map(_._3).sorted.toSeq == (1 to shard.length))
    }
  }

  test("capped jaccard: a corpus-common shingle generates zero candidates") {
    // the 100 TB property of the SCORED jaccard path (ns_dedup_jaccard and
    // its cluster/keep/best downstreams): a boilerplate shingle shared by
    // k docs must contribute NOTHING to the candidate self-join — uncapped
    // it contributes C(k,2) rows, the quadratic blowup that kills
    // boilerplate-heavy corpora at scale.
    // Fixture: 60 docs, each 5 unique filler tokens + the same 5-token
    // trailing run -> exactly ONE corpus-common shingle (df = 63 with the
    // twins below, far over the cap) and otherwise unique shingles; 3
    // planted twin pairs are verbatim copies, sharing rare (df = 2)
    // shingles.
    val cap = 10
    val base = (1 to 60).map(i =>
      (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e end of boilerplate run common"))
    val twins = Seq(1, 2, 3).map(i => (100L + i, base(i - 1)._2))
    val docs = (base ++ twins).toDF("doc_id", "text")
    val sh = graft.ml.Dedup.shingled(docs)
    val cands = graft.ml.Dedup.cappedCandidates(sh, cap)
      .as[(Long, Long)].collect().toSet
    // the common shingle is OUT of the candidate exchange: the ~C(63,2) =
    // 1953 all-pairs candidates it would contribute are absent; only the
    // twins' rare shared shingles generate candidates
    assert(cands == Set((1L, 101L), (2L, 102L), (3L, 103L)),
      s"candidate set not rare-shingle-bounded: ${cands.size} pairs")
    // end-to-end parity: the capped output still equals the exact pair
    // set (twin pairs at jaccard 1.0; non-twin pairs share only the
    // common shingle, jaccard 1/11 — under threshold either way)
    val capped = graft.ml.Dedup.jaccardPairsCapped(docs, 0.5, cap)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val exact = graft.ml.Dedup.jaccardPairs(docs, 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(capped == exact && capped == cands)
    // plan shape: df must come from a hash aggregate (map-side partial
    // collapses a hot shingle to one row per partition), NEVER a window
    // over the shingle partition — WindowExec would sort and buffer each
    // hot group wholesale in a single task, the exact failure the cap
    // removes (review-pass finding, round 7). Collected with AQE OFF:
    // under AQE executedPlan is an AdaptiveSparkPlanExec LEAF, so a bare
    // collect sees nothing and the assertion would be vacuous.
    val windows = withForcedShufflePlanning {
      graft.ml.Dedup.cappedCandidates(sh, cap)
        .queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
    }
    assert(windows.isEmpty,
      s"cappedCandidates plans a group-buffering window: ${windows.mkString("; ").take(600)}")
    spark.catalog.clearCache() // shingled() persists
  }

  test("a duplicate cluster WIDER than the df cap: capped jaccard misses " +
    "it BY DESIGN, the minhash tier catches it — both sides pinned") {
    // The cap's documented miss class (r13 review): verbatim copies of
    // otherwise-unique text, more of them than the cap — EVERY shared
    // shingle has df = cluster size > cap, so cappedCandidates emits
    // nothing for the cluster. That is the deliberate 100-TB trade (no
    // quadratic hot-shingle join), NOT silent wrongness: the scored
    // oracle replays the same cap (jaccardCappedCtes), and the recall
    // path for such clusters is the minhash tier, whose identical
    // signatures bucket verbatim copies regardless of df. A normal
    // rare-shingle twin pair in the same corpus must be found by BOTH.
    val cap = 10
    val cluster = (1 to 14).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
    val twinPair = Seq(
      (100L, "one two three four five six seven eight"),
      (101L, "one two three four five six seven eight"))
    val filler = (200 to 215).map(i =>
      (i.toLong, s"f${i}a f${i}b f${i}c f${i}d f${i}e f${i}f"))
    val docs = (cluster ++ twinPair ++ filler).toDF("doc_id", "text")
    val clusterPairs = (for {
      a <- 1 to 14; b <- (a + 1) to 14
    } yield (a.toLong, b.toLong)).toSet
    val capped = graft.ml.Dedup.jaccardPairsCapped(docs, 0.5, cap)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)),
      s"capped path should find ONLY the rare-shingle twin pair: $capped")
    spark.catalog.clearCache() // shingled() persists
    val minhash = graft.ml.Dedup.minhashDupPairs(docs, 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(minhash == clusterPairs + ((100L, 101L)),
      s"minhash tier must catch the >cap cluster: ${minhash.size} pairs")
    spark.catalog.clearCache()
  }

  test("dup-span gram counting: a hot boilerplate gram never buffers in a window") {
    // the 100 TB property of ns_dup_ngram_spans / ns_dup_span_removal:
    // gram occurrence counts come from a partial-aggregating groupBy
    // (a hot gram collapses to one row per map partition) + semi-join
    // probe, NEVER count().over(Window.partitionBy(gh)) — WindowExec
    // would buffer a corpus-common gram's whole occurrence list in ONE
    // task, and boilerplate grams are by definition un-cappable (they
    // are the signal, not noise). Fixture: one 3-gram planted in 75%
    // of the docs; every other gram is doc-unique.
    val docs = ((1 to 30).map(i =>
        (i.toLong, s"u${i}x u${i}y shared boiler plate u${i}z")) ++
      (31 to 40).map(i =>
        (i.toLong, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f")))
      .toDF("doc_id", "text")
    // correctness: exactly the planted gram flags; spans cover its 3 tokens
    val spans = graft.ml.Dedup.dupNgramSpans(docs, 3)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    (1 to 30).foreach { i =>
      val (_, nGrams, nDup, maxRun, spanToks) = spans(i.toLong)
      assert(nGrams == 4 && nDup == 1 && maxRun == 1 && spanToks == 3,
        s"doc $i: got ($nGrams, $nDup, $maxRun, $spanToks)")
    }
    (31 to 40).foreach(i => assert(spans(i.toLong)._3 == 0,
      s"doc $i wrongly flagged"))
    val cleaned = graft.ml.Dedup.removeDupSpans(docs, 3)
      .select($"doc_id", $"clean_text").as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "u1x u1y u1z" && cleaned(31L).startsWith("u31a"),
      s"span removal wrong: ${cleaned(1L)} / ${cleaned(31L)}")
    // plan shape (AQE off so executedPlan is walkable): the ONLY window
    // allowed is the per-doc run numbering — no window may partition on
    // the gram hash, and the gram count must be a hash aggregate
    Seq(graft.ml.Dedup.dupNgramSpans(docs, 3),
        graft.ml.Dedup.removeDupSpans(docs, 3)).foreach { q =>
      val (windows, aggs) = withForcedShufflePlanning {
        val p = q.queryExecution.executedPlan
        (p.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        },
         p.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        })
      }
      windows.foreach { w =>
        assert(!w.partitionSpec.exists(_.toString.contains("gh")),
          s"gram-partitioned window survives: ${w.partitionSpec.mkString(", ")}")
      }
      assert(aggs.exists(_.groupingExpressions.exists(_.toString.contains("gh"))),
        "gram occurrence count is not a hash aggregate")
    }
    // shuffle-volume sanity: the hot gram's 30 occurrence rows collapse
    // map-side, so the gh-keyed aggregate exchange carries FAR fewer
    // records than the 30+10 grams-per-occurrence a window shuffle would
    // ship twice (once to sort, once out). Records, not bytes: bytes
    // swing with compression.
    val (_, recs) = graft.ShuffleMeter.shuffleMetrics(spark) {
      graft.ml.Dedup.dupNgramSpans(docs, 3).collect()
    }
    val totalGrams = 30 * 4 + 10 * 4
    assert(recs < 6L * totalGrams,
      s"dup-span shuffle ships $recs records for $totalGrams grams")
  }

  test("fuzzy-join signature exchanges carry hashed longs, never variant strings") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", substring($"text", 1, 24).as("s"))
    // at test scale the sig table broadcasts and AQE hides exchanges
    // behind the adaptive root; the claim under test is the SHUFFLE path
    // a large corpus takes, so force it and plan non-adaptively
    val exchanges = withForcedShufflePlanning {
      graft.ml.Fuzzy.fuzzyPairs(docs, "doc_id", "s", 2)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
    }
    assert(exchanges.nonEmpty)
    // any exchange keyed on the signature must ship (sig: long, id) rows
    // only — the 100 TB property: candidate generation never shuffles
    // the strings themselves
    val sigExchanges = exchanges.filter(
      _.outputPartitioning.toString.contains("sig"))
    assert(sigExchanges.nonEmpty, "no signature-keyed exchange found")
    sigExchanges.foreach { e =>
      val tpes = e.child.output.map(_.dataType.simpleString).toSet
      assert(!tpes.contains("string"),
        s"signature exchange ships strings: ${e.child.output.map(a =>
          s"${a.name}:${a.dataType.simpleString}").mkString(", ")}")
    }
    spark.catalog.clearCache() // fuzzyPairs persists its signature table
  }

  test("tf-idf df counting: a term in every document never buffers in a window") {
    // the 100 TB property of ns_tfidf_top_terms (r10 verdict #1): document
    // frequency comes from a partial-aggregating groupBy over tf + a probe
    // join, NEVER count().over(Window.partitionBy(term)) — "the" appears
    // in every document, so WindowExec would buffer its entire
    // (doc_id, term, tf) row set in ONE task, and Zipf-hot terms are the
    // signal, not cappable noise. Fixture: one term planted in ALL docs;
    // every other term is doc-unique.
    val docs = (1 to 40).map(i =>
      (i.toLong, s"u${i}a u${i}b common u${i}c")).toDF("doc_id", "text")
    // correctness: df(common)=40 → idf=0, so 'common' never outranks the
    // doc-unique terms (idf=ln(40)); each doc's top-3 is its unique terms
    val top = graft.ml.TextAnalysis.tfidfTopTerms(docs, 3)
      .as[(Long, Int, String, Double)].collect()
    assert(top.length == 40 * 3)
    top.foreach { case (d, _, term, tfidf) =>
      assert(term.startsWith(s"u$d") && math.abs(tfidf - math.log(40.0)) < 1e-6,
        s"doc $d ranked ($term, $tfidf)")
    }
    // plan shape (AQE off so executedPlan is walkable): the ONLY window
    // allowed is the per-doc rank (bounded by doc vocabulary — the same
    // bound `text` itself imposes); no window may partition on term, and
    // df must be a hash aggregate grouping on term
    val (windows, aggs) = withForcedShufflePlanning {
      val p = graft.ml.TextAnalysis.tfidfTopTerms(docs, 3)
        .queryExecution.executedPlan
      (p.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w },
       p.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a })
    }
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty &&
        w.partitionSpec.forall(_.toString.contains("doc_id")),
        s"non-doc-keyed window survives: ${w.partitionSpec.mkString(", ")}")
    }
    assert(aggs.exists(a => a.groupingExpressions.size == 1 &&
      a.groupingExpressions.head.toString.contains("term")),
      "df is not a term-grouped hash aggregate")
    // skewed-shape shuffle pricing (r10 verdict #6): the hot term's 40
    // tf rows collapse map-side in the df branch; total records stay a
    // small multiple of the 160 (doc, term) pairs — a window shape ships
    // every pair into the term sort and back out again
    val (_, recs) = graft.ShuffleMeter.shuffleMetrics(spark) {
      graft.ml.TextAnalysis.tfidfTopTerms(docs, 3).collect()
    }
    assert(recs < 6L * 160,
      s"tf-idf shuffle ships $recs records for 160 (doc, term) pairs")
  }

  test("lm-perplexity background counts: a corpus-common bigram never buffers in a window") {
    // same property for ns_lm_perplexity's bigram background count
    // (r10 verdict #1): cb comes from groupBy(bg).agg(sum) + probe join,
    // never sum(tf).over(Window.partitionBy(bg)). Fixture: 'of the'
    // planted in 75% of docs.
    val docs = ((1 to 30).map(i => (i.toLong, s"u${i}x of the u${i}y")) ++
      (31 to 40).map(i => (i.toLong, s"u${i}a u${i}b u${i}c")))
      .toDF("doc_id", "text")
    val ppl = graft.ml.TextAnalysis.lmPerplexity(docs)
      .as[(Long, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(ppl.size == 40 && ppl.values.forall(_._2 > 0))
    // hot-bigram docs share the high-count 'of the' background → lower
    // avg_nlp than the all-unique-bigram docs
    assert(ppl(1L)._3 < ppl(31L)._3,
      s"hot-bigram doc not cheaper: ${ppl(1L)._3} vs ${ppl(31L)._3}")
    val windows = withForcedShufflePlanning {
      graft.ml.TextAnalysis.lmPerplexity(docs)
        .queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w }
    }
    assert(windows.isEmpty,
      s"lm-perplexity plans a window: ${windows.mkString("; ").take(400)}")
    val (_, recs) = graft.ShuffleMeter.shuffleMetrics(spark) {
      graft.ml.TextAnalysis.lmPerplexity(docs).collect()
    }
    // 30*3 + 10*2 = 110 (doc, bigram) pairs + 140 token rows for uni
    assert(recs < 6L * 250,
      s"lm-perplexity shuffle ships $recs records for 250 base rows")
  }

  test("fuzzy dup-group reduction: a hot duplicate string never buffers in a window") {
    // the 100 TB property of the distinct-string reduction itself
    // (r10 verdict #2): each string's representative id comes from
    // groupBy(s).agg(min(id)) + a probe join back, NEVER
    // min(id).over(Window.partitionBy(s)) — the operator's premise is
    // that corpora are dup-heavy, so a boilerplate prefix shared by 1%
    // of rows would land its whole group in one WindowExec task.
    // Fixture: one string duplicated across 60% of rows.
    val rows = (1L to 60L).map(i => (i, "the quick brown fox")) ++
      (61L to 100L).map(i => (i, s"unique string number $i"))
    val df = rows.toDF("id", "s")
    val pairs = graft.ml.Fuzzy.fuzzyPairs(df, "id", "s", 1)
      .as[(Long, Long, Int)].collect()
    // the hot group alone contributes C(60,2) zero-distance pairs
    val zeros = pairs.filter(_._3 == 0)
    assert(zeros.length == 60 * 59 / 2,
      s"expected 1770 lev-0 pairs, got ${zeros.length}")
    assert(zeros.forall(p => p._1 < p._2 && p._2 <= 60L))
    // plan shape: NO window anywhere (fuzzyPairs is now windowless); the
    // representative table must be a hash aggregate grouping on s. The
    // membership table is persisted inside fuzzyPairs, so its
    // construction plan sits BEHIND an InMemoryTableScan boundary —
    // walk through cached relations or the assertions are vacuous.
    spark.catalog.clearCache()
    def deepNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n }.flatMap {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          s +: deepNodes(s.relation.cachedPlan)
        case n => Seq(n)
      }
    val nodes = withForcedShufflePlanning {
      deepNodes(graft.ml.Fuzzy.fuzzyPairs(df, "id", "s", 1)
        .queryExecution.executedPlan)
    }
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    val aggs = nodes.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a }
    assert(windows.isEmpty,
      s"fuzzy pairs plans a window: ${windows.mkString("; ").take(400)}")
    assert(aggs.exists(a => a.groupingExpressions.size == 1 &&
      a.groupingExpressions.head.toString.contains("s")),
      "dup-group reduction is not an s-grouped hash aggregate")
    spark.catalog.clearCache() // fuzzyPairs persists its membership table
  }

  test("sequential admission survives a hot dup cluster: min-id only, no window, 3 actions/wave") {
    // the boilerplate-corpus shape for the admission batch twin: ONE
    // text duplicated across 60% of the corpus (a 60-doc clique in the
    // pair graph spanning all 3 waves) + isolated docs. Greedy must
    // admit exactly the clique's min id plus every isolated doc, the
    // plan must stay window-free (the loop is anti/semi-joins), and the
    // per-wave MIS loop must terminate in ONE round on a clique — a
    // round count growing with cluster SIZE (rather than graph depth)
    // would be the scale regression.
    val hot = "the quick brown fox jumps over the lazy dog again"
    val rows = (1L to 60L).map(i => (i, hot)) ++
      (61L to 100L).map(i => (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"))
    val df = rows.toDF("doc_id", "text")
    val got = graft.ml.Dedup.sequentialAdmission(df, 0.5, 3)
      .as[(Long, Long)].collect().toMap
    // clique winner = the min id of the EARLIEST wave touching the
    // clique: doc 3 (wave 0) precedes doc 1 (wave 1) in the
    // (wave, doc_id) order — wave order outranks raw id, exactly the
    // streaming semantics (earlier batches admit first). Isolated docs
    // all admitted.
    assert(got.keySet == (Set(3L) ++ (61L to 100L)),
      s"admitted ${got.keySet.toSeq.sorted}")
    assert(got(3L) == 0L)
    spark.catalog.clearCache()
    // action bound: each wave is (<=1 MIS round on a clique) -> the
    // driver loop runs a constant number of localCheckpoint actions per
    // wave regardless of cluster size (depth-bounded, not size-bounded)
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = actions.add(s"FAILED:$funcName")
    }
    spark.listenerManager.register(l)
    try {
      graft.ml.Dedup.sequentialAdmission(df, 0.5, 3).collect()
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    val checkpoints = actions.toArray(Array.empty[String])
      .count(_ == "localCheckpoint")
    // per wave: 1 remaining + 1 edges + (1 round x 2: frontier +
    // next-remaining; the dead final edge checkpoint is skipped and the
    // emptiness probes ride the checkpoints, r17) = 4 -> <= 13 for 3
    // waves; a size-coupled loop would blow well past this
    assert(checkpoints <= 13,
      s"admission loop ran $checkpoints checkpoint actions on a 1-round graph")
    spark.catalog.clearCache()
  }

  test("sequential admission on a CHAIN: odd ids admitted, depth-linear rounds, budget fails loudly") {
    // the worst-case twin of the clique test above (r11 verdict #3): a
    // PATH-shaped dup graph 1-2, 2-3, ..., 9-10 has greedy dependency
    // depth n/2 — the MIS loop's round count is linear in chain length,
    // the one admission shape that cannot be parallelized away
    // (lexicographically-first MIS is P-complete). This pins (a) the
    // admitted set (odd ids — greedy walks the chain), (b) that the
    // round count really is depth-shaped (action count grows with n,
    // documented, not accidental), and (c) that maxMisRounds converts a
    // pathological corpus into a LOUD error naming the knob instead of
    // an unbounded driver loop.
    //
    // Fixture: doc i = 24 consecutive words from a shared word stream
    // (sliding window, step 1). Distinct 5-shingles per doc = 20;
    // adjacent docs share 19 -> J = 19/21 ≈ 0.905 >= τ; distance-2 share
    // 18 -> J = 18/22 ≈ 0.818 < τ = 0.85. So the exact-verified pair
    // graph is exactly the path.
    val words = (1 to 33).map(i => f"w$i%03d")
    val rows = (1 to 10).map(i =>
      (i.toLong, words.slice(i - 1, i + 23).mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val tau = 0.85
    // precondition: the pair graph IS the path (banded candidates +
    // exact verify found every adjacent pair and nothing else)
    val graph = graft.ml.Dedup.minhashDupPairs(df, tau)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    assert(graph == (1L to 9L).map(i => (i, i + 1)).toSet,
      s"pair graph is not the chain: $graph")
    // one wave -> the whole chain hits a single MIS loop; greedy min-id
    // admits the odd ids in ceil(n/2) rounds
    val got = graft.ml.Dedup.sequentialAdmission(df, tau, nWaves = 1)
      .select($"doc_id").as[Long].collect().toSet
    spark.catalog.clearCache()
    assert(got == Set(1L, 3L, 5L, 7L, 9L), s"admitted $got")
    // depth shape: count localCheckpoint actions — 3 per round since
    // r17 (emptiness probes ride the checkpoints via observe(),
    // `admitted` is a lazy union of checkpointed frontiers, the final
    // round skips its dead edge checkpoint): 2 wave-fixed + 5 rounds x 3
    // - 1 skipped = 16; assert a band that a clique-shaped (1-round, ~4)
    // or size-coupled (hundreds) loop would both violate
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.add(funcName)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      graft.ml.Dedup.sequentialAdmission(df, tau, nWaves = 1).collect()
      org.apache.spark.sql.GraftBridge.waitListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    spark.catalog.clearCache()
    val checkpoints = actions.toArray(Array.empty[String])
      .count(_ == "localCheckpoint")
    assert(checkpoints >= 13 && checkpoints <= 19,
      s"chain of depth 5 ran $checkpoints checkpoint actions — not the " +
        "documented 3-per-round depth shape")
    // the budget: 3 rounds cannot finish a depth-5 chain — must throw
    // the documented error, not hang or return a partial set
    val e = intercept[IllegalStateException] {
      graft.ml.Dedup.sequentialAdmission(df, tau, nWaves = 1,
        maxMisRounds = 3).collect()
    }
    spark.catalog.clearCache()
    assert(e.getMessage.contains("maxMisRounds=3") &&
      e.getMessage.contains("dependency depth"),
      s"budget error message drifted: ${e.getMessage}")
  }

  test("exact cosine dup pairs: tiled block join, no full-corpus broadcast") {
    // the 100 TB property of the SCORED exact all-pairs path
    // (ns_cosine_dup_pairs at τ=0.45, where no S-curve filters): O(n²)
    // cosines are inherent, but no task may hold the corpus. The tiled
    // plan joins on the (ta, tb) block-pair grid, so per-task state is
    // one tile side (n/B vectors) and NOTHING is broadcast — the
    // full-corpus broadcast this replaces is a multi-GB driver ship at
    // 5M vectors and the first thing to die at 100×.
    val emb = graft.Tables.embeddings(spark, sf0001)
    val b = 8
    // parity vs the definitionally-correct form: condition cross join
    val e = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val brute = e.select($"vec_id".as("vec_a"), $"v".as("va"))
      .crossJoin(e.select($"vec_id".as("vec_b"), $"v".as("vb")))
      .filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b",
        round(graft.ml.Similarity.cosine($"va", $"vb"), 6).as("c"))
      .filter($"c" >= 0.45)
      .as[(Long, Long, Double)].collect().toSet
    val tiled = graft.ml.Similarity.cosineDupPairsExact(emb, 0.45, b)
      .as[(Long, Long, Double)].collect().toSet
    assert(tiled == brute, s"tiled ${tiled.size} != brute ${brute.size}")
    // plan shape, non-adaptively and with broadcast allowed (the claim
    // is that the plan never ASKS for one, not that a tiny threshold
    // forbids it): no broadcast of either side, no nested-loop join —
    // an equi-join on the tile grid is all that may appear
    val plan = withForcedShufflePlanning {
      graft.ml.Similarity.cosineDupPairsExact(emb, 0.45, b)
        .queryExecution.executedPlan
    }
    val broadcasts = plan.collect {
      case x: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => x
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(broadcasts.isEmpty,
      s"exact path still broadcasts: ${broadcasts.mkString("; ").take(400)}")
    // tile boundedness in the data itself: every (ta, tb) key group's
    // right side is one block = n/B rows (+1 for remainder) — the
    // per-task memory bound the tiling exists to provide
    val n = emb.count()
    val maxBlock = emb
      .groupBy(pmod($"vec_id", lit(b))).count()
      .agg(max($"count")).as[Long].head()
    assert(maxBlock <= n / b + 1, s"block skew: $maxBlock rows > ${n / b + 1}")
  }

  test("banded cosine candidates: one grouped exchange, no bucket-keyed join, " +
      "no banded-table broadcast (r17)") {
    // the 100 TB property of the SCORED banded path
    // (ns_cosine_dup_pairs_banded): the old two-sided band self-join
    // planned a BroadcastHashJoin whose BUILD side was the banded table
    // itself — corpus × nBands rows, a corpus-proportional broadcast
    // that hits the 8 GB/512M-row cap at scale. The grouped rewrite must
    // leave NO join keyed on the (band, bucket) key anywhere in the
    // plan, and the bucket-keyed exchange may ship only fixed-width
    // sketch rows / aggregate buffers — never the double vectors.
    val emb = graft.Tables.embeddings(spark, sf0001)
    val aug = graft.ml.Similarity.withNoisyTwins(emb)
    val plan = withForcedShufflePlanning {
      graft.ml.Similarity.cosineDupPairsBanded(aug, 0.85,
        nBands = 128, rowsPerBand = 10).queryExecution.executedPlan
    }
    def keysOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p match {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          j.leftKeys.map(_.toString)
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          j.leftKeys.map(_.toString)
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          j.leftKeys.map(_.toString)
        case _ => Nil
      }
    val bucketJoins = plan.collect {
      case j if keysOf(j).exists(_.contains("bucket")) => j.nodeName
    }
    assert(bucketJoins.isEmpty,
      s"banded candidate self-join is back: ${bucketJoins.mkString(", ")}")
    val bucketExchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("bucket") => e
    }
    assert(bucketExchanges.nonEmpty, "no (band, bucket)-keyed exchange found")
    bucketExchanges.foreach { e =>
      val bad = e.child.output.filter(a =>
        a.dataType.simpleString.contains("array<double>") ||
        a.dataType.simpleString.contains("string"))
      assert(bad.isEmpty,
        s"banded exchange ships vectors/text: ${bad.map(a =>
          s"${a.name}:${a.dataType.simpleString}").mkString(", ")}")
    }
  }

  test("lshCandidates with tile = 1 returns the exact pair set") {
    // identical documents share every band bucket; tile = 1 sends every
    // non-singleton bucket through the tiled branch (this input raised
    // under the old per-bucket size bound)
    val docs = (Seq.fill(6)("alpha beta gamma delta epsilon zeta") ++
        Seq("one two three four five six", "one two three four five seven"))
      .zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
      .toDF("doc_id", "text")
    try {
      val sigs = graft.ml.Dedup.minhashSignatures(graft.ml.Dedup.shingled(docs))
      val banded = graft.ml.Dedup.bandBuckets(sigs)
      val direct = banded.select($"band", $"bucket", $"doc_id".as("doc_a"))
        .join(banded.select($"band", $"bucket", $"doc_id".as("doc_b")),
          Seq("band", "bucket"))
        .filter($"doc_a" < $"doc_b").select($"doc_a", $"doc_b")
        .as[(Long, Long)].collect().toSet
      val tiled = graft.ml.Dedup.lshCandidates(sigs, tile = 1)
        .as[(Long, Long)].collect().toSet
      assert(tiled == direct)
      assert((for (a <- 1L to 6L; b <- a + 1 to 6L) yield (a, b)).toSet
        .subsetOf(tiled))
    } finally spark.catalog.clearCache()
  }

  test("skewKurt power sums survive cluster-scale row counts without " +
      "wrapping Long (fixed-point overflow class, r16 audit)") {
    // The drift-z ADVICE bug generalized: sum(w^4) over a Long
    // accumulator with w ≈ 560 (the events table's real value range)
    // exceeds Long.MaxValue (9.22e18) at ~1.0e8 rows per event_type —
    // a few-GB events table, far below the 100 TB design point. Under
    // ANSI the aggregation CRASHES (ARITHMETIC_OVERFLOW) exactly when
    // the data gets big. 1.2e8 rows alternating 560/540 puts the raw
    // s4 at ~1.1e19 > Long.MaxValue while keeping exact expected
    // moments: a symmetric two-point distribution has skewness 0 and
    // excess kurtosis −2 (m4/m2² = d⁴/(d²)² = 1), so the assertions
    // are closed-form, not golden.
    val events = spark.range(120L * 1000 * 1000).select(
      lit("click").as("event_type"),
      when($"id" % 2 === 0, lit(560.0)).otherwise(lit(540.0)).as("value"))
    val r = Extras.skewKurt(events).head()
    assert(r.getLong(r.fieldIndex("n")) == 120L * 1000 * 1000)
    assert(r.getDouble(r.fieldIndex("skewness")) == 0.0,
      s"skewness of a symmetric two-point distribution must round to 0, " +
        s"got ${r.getDouble(r.fieldIndex("skewness"))}")
    assert(r.getDouble(r.fieldIndex("kurtosis")) == -2.0,
      s"excess kurtosis of a two-point distribution must round to -2, " +
        s"got ${r.getDouble(r.fieldIndex("kurtosis"))}")
  }
}
