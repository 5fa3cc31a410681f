package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.ZOrder2

/** Data-layout queries: the z-order clustering key as a driver-contract
  * query (the write path itself — [[Layout.writeZOrdered]] / compaction —
  * is exercised in LayoutSpec; file layout is not SQL-observable).
  */
object LayoutPack extends QueryPack {

  /** Deterministic per-scale-factor lake root under java.io.tmpdir —
    * the ONE spelling of the tag + sanitization rule every snaplake
    * query's lifecycle comment references (re-used across bench reps /
    * Verify / explain dumps so tables don't leak per invocation; was
    * copy-pasted 11×, r13 review). */
  private def snapRoot(tag: String, d: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"),
      tag + "_" + d.replaceAll("[^A-Za-z0-9.]+", "_")).toString

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Z-order (Morton) key over (l_partkey, l_suppkey) — the multi-column
    // clustering sort key — summarized as a per-z-range histogram with
    // min/max envelopes (what parquet footer pruning would see per file).
    "l_zorder_key" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(ZOrder2.zorder(col("l_partkey"), col("l_suppkey"), 21).as("z"))
        .groupBy(shiftright(col("z"), 10).as("z_bucket"))
        .agg(count(lit(1)).as("n"), min(col("z")).as("min_z"),
          max(col("z")).as("max_z"))
        .orderBy(col("z_bucket"))
    }),

    // Three-key Morton clustering key — ZOrderN composed purely from
    // Spark's own codegen bitwise functions (no custom expression
    // needed at arbitrary arity); same per-z-range envelope summary as
    // l_zorder_key. 21 bits/key (the full 63) because the keys are RAW
    // here (no min-max normalization): 18 bits covered sf0.1's ~150k
    // max l_orderkey but silently dropped the high bits of sf1's ~1.5M
    // keys — identical orderkey contributions for keys 2^18 apart, an
    // unclusterable curve the oracle's mirrored truncation kept green
    // (r13 review). 2^21 covers ~2.1M; beyond that, raw-key interleave
    // is the wrong tool anyway — the WRITER path (Layout.zOrderClusterN)
    // min-max normalizes and is scale-proof.
    "l_zorder_key3" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(graft.functions.ZOrderN.zorder(
          Seq(col("l_partkey"), col("l_suppkey"), col("l_orderkey")), 21)
          .as("z"))
        .groupBy(shiftright(col("z"), 12).as("z_bucket"))
        .agg(count(lit(1)).as("n"), min(col("z")).as("min_z"),
          max(col("z")).as("max_z"))
        .orderBy(col("z_bucket"))
    }),

    // SnapshotLake time travel THROUGH the registered Spark source: commit
    // the even-doc_id half, append the rest, then read the overwrite's
    // version — the answer is that version's half alone, proving the
    // commit log (not the file listing) defines what a version contains.
    // The root is DETERMINISTIC per scale factor and re-used across
    // invocations (bench reps, Verify, explain dumps), with a
    // retainLast=2 vacuum bounding growth to this invocation's two
    // commits — a fresh temp dir per call would leak a full table copy
    // per rep.
    "l_snaplake_timetravel" -> ((s, d) => {
      val root = snapRoot("graft_snapq", d)
      val docs = graft.Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
      docs.filter(col("doc_id") % 2 === 0)
        .write.format("snaplake").mode("overwrite").save(root)
      val lake = new graft.ingest.SnapshotLake(root)
      val v = lake.latestVersion(s).get // this invocation's overwrite
      docs.filter(col("doc_id") % 2 =!= 0)
        .write.format("snaplake").mode("append").save(root)
      lake.vacuum(s, retainLast = 2) // keeps exactly v and v+1
      s.read.format("snaplake").option("versionAsOf", v.toString).load(root)
        .orderBy(col("doc_id"))
    }),

    // Manifest-stats data skipping end-to-end: range-partition orders
    // into 8 snaplake files with disjoint o_orderkey envelopes, then
    // aggregate under a key-range predicate — the stats-pruned FileIndex
    // schedules only the 1-2 files the range intersects (asserted
    // plan-level in SnapLakeSkipSpec; the oracle here pins that pruning
    // never changes the answer). Deterministic reused root + vacuum, same
    // lifecycle discipline as l_snaplake_timetravel.
    "l_snaplake_skipping" -> ((s, d) => {
      val root = snapRoot("graft_snapsk", d)
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartitionByRange(8, col("o_orderkey"))
        .write.format("snaplake").mode("overwrite").save(root)
      new graft.ingest.SnapshotLake(root).vacuum(s, retainLast = 1)
      s.read.format("snaplake").load(root)
        .filter(col("o_orderkey") < 300)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          QueryPack.moneyRound(sum(QueryPack.decMoney(col("o_totalprice"))))
            .as("sum_price"))
        .orderBy(col("o_orderpriority"))
    }),

    // Copy-on-write MERGE through the lake API: upsert every third doc
    // (text_len bumped by 1000) and insert shifted-key copies of the
    // first ten — updates replace by key, inserts append, everything
    // else carries. The scoping machinery (untouched generations
    // re-referenced, not rewritten) is asserted in SnapLakeMergeSpec;
    // the oracle pins the upsert ANSWER. Deterministic reused root +
    // vacuum, same lifecycle as the other snaplake queries.
    "l_snaplake_merge" -> ((s, d) => {
      val root = snapRoot("graft_snapm", d)
      val base = graft.Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("text_len"))
      base.write.format("snaplake").mode("overwrite").save(root)
      val lake = new graft.ingest.SnapshotLake(root)
      val src = base.filter(col("doc_id") % 3 === 0)
        .withColumn("text_len", col("text_len") + 1000)
        .unionByName(base.filter(col("doc_id") < 10)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text_len")))
      lake.merge(src, Seq("doc_id"))
      lake.vacuum(s, retainLast = 2)
      s.read.format("snaplake").load(root).orderBy(col("doc_id"))
    }),

    // Copy-on-write DELETE with a stats-scopable range predicate: drop
    // the low-key docs, summarize the survivors. NULL-keeps semantics
    // and generation scoping are SnapLakeMergeSpec's; the oracle pins
    // the post-delete table.
    "l_snaplake_delete" -> ((s, d) => {
      val root = snapRoot("graft_snapdel", d)
      graft.Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .write.format("snaplake").mode("overwrite").save(root)
      val lake = new graft.ingest.SnapshotLake(root)
      lake.delete(s, col("doc_id") < 100)
      lake.vacuum(s, retainLast = 2)
      s.read.format("snaplake").load(root)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"))
        .orderBy(col("lang"))
    }),

    // RESTORE as rollback: commit a good snapshot, clobber it with a bad
    // overwrite, restore — a manifest-only commit re-referencing the good
    // version's generations (no data movement; SnapshotLakeSpec pins the
    // manifests equal). The answer is the good snapshot through the
    // restored head. Deterministic reused root + vacuum as the others.
    "l_snaplake_restore" -> ((s, d) => {
      val root = snapRoot("graft_snapr", d)
      val base = graft.Tables.documents(s, d)
        .select(col("doc_id"), col("lang"))
      base.write.format("snaplake").mode("overwrite").save(root)
      val lake = new graft.ingest.SnapshotLake(root)
      val good = lake.latestVersion(s).get
      base.limit(3).write.format("snaplake").mode("overwrite").save(root)
      lake.restore(s, good)
      lake.vacuum(s, retainLast = 1)
      s.read.format("snaplake").load(root)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // Row-level CHANGEFEED of a merge: the mutation materialized its
    // exact changes (_cdf inside the rewrite generation, atomic with
    // the commit), so the feed is pre-image deletes + source inserts —
    // unchanged rows never appear, and the read costs change-sized I/O,
    // not table-sized diffing (contrast l_snaplake_diff, the audit
    // form). _commit_version is dropped from the output because the
    // reused root's version counter grows across invocations.
    // Incremental aggregate maintenance from the changefeed — the
    // materialized-view refresh pattern a lakehouse table format exists
    // to enable: the per-lang rollup is maintained by applying the
    // CDF's insert/delete deltas (updates arrive as delete+insert
    // pairs, so signed sums handle them for free) to the BASE-version
    // aggregate; the base table is never rescanned after its mutation.
    // The scored output IS the incrementally-maintained aggregate and
    // the oracle recomputes the final state from scratch — equality is
    // the MV-maintenance correctness claim, per driver run. Scale: the
    // full scan happens once at the base version; each refresh costs
    // O(changed rows) — the whole point of row-level CDF at 100 TB.
    // Count and sum are the self-maintainable aggregates (min/max are
    // not under deletes — they need the full-recompute fallback).
    "l_snaplake_incr_agg" -> ((s, d) => {
      val root = snapRoot("graft_snapia", d)
      val base = graft.Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
      base.write.format("snaplake").mode("overwrite").save(root)
      val lake = new graft.ingest.SnapshotLake(root)
      val v = lake.latestVersion(s).get
      // v+1: upsert (+7 len) every doc_id%4==0; v+2: delete every %10==0
      lake.merge(base.filter(col("doc_id") % 4 === 0)
        .withColumn("text_len", col("text_len") + 7), Seq("doc_id"))
      lake.delete(s, col("doc_id") % 10 === 0)
      lake.vacuum(s, retainLast = 3)
      val agg0 = lake.readAt(s, v).groupBy(col("lang"))
        .agg(count(lit(1)).as("n0"), sum(col("text_len")).as("len0"))
      val sgn = when(col(graft.ingest.SnapshotLake.ChangeTypeCol)
        === "insert", 1L).otherwise(-1L)
      val deltas = lake.changesBetween(s, v, v + 2)
        .groupBy(col("lang"))
        .agg(sum(sgn).as("dn"), sum(sgn * col("text_len")).as("dlen"))
      // full outer: a lang introduced purely by post-base inserts (none
      // in this mutation, but the maintenance rule must be total) has
      // no base row; a fully-deleted lang nets to n = 0 and drops
      agg0.join(deltas, Seq("lang"), "full_outer")
        .select(col("lang"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n"),
          (coalesce(col("len0"), lit(0L)) + coalesce(col("dlen"), lit(0L)))
            .as("len_sum"))
        .filter(col("n") > 0)
        .orderBy(col("lang"))
    }),

    "l_snaplake_cdf" -> ((s, d) => {
      val root = snapRoot("graft_snapcdf", d)
      val base = graft.Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("text_len"))
      base.write.format("snaplake").mode("overwrite").save(root)
      val lake = new graft.ingest.SnapshotLake(root)
      val v = lake.latestVersion(s).get
      val src = base.filter(col("doc_id") % 4 === 0)
        .withColumn("text_len", col("text_len") + 7)
        .unionByName(base.filter(col("doc_id") < 5)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text_len")))
      lake.merge(src, Seq("doc_id"))
      lake.vacuum(s, retainLast = 2)
      lake.changesBetween(s, v, v + 1)
        .select(col("doc_id"), col("text_len"),
          col(graft.ingest.SnapshotLake.ChangeTypeCol).as("change_type"))
        .orderBy(col("change_type"), col("doc_id"))
    }),

    // Version-diff changefeed: overwrite-commit a mutated copy (every
    // fifth doc's text_len bumped — a simulated update), then diff the
    // two versions — updates surface as delete+insert pairs, untouched
    // rows cancel under EXCEPT ALL. Deterministic reused root + vacuum,
    // same lifecycle discipline as l_snaplake_timetravel.
    "l_snaplake_diff" -> ((s, d) => {
      val root = snapRoot("graft_snapd", d)
      val base = graft.Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("text_len"))
      base.write.format("snaplake").mode("overwrite").save(root)
      val lake = new graft.ingest.SnapshotLake(root)
      val v = lake.latestVersion(s).get
      base.withColumn("text_len",
          col("text_len") + when(col("doc_id") % 5 === 0, 1).otherwise(0))
        .write.format("snaplake").mode("overwrite").save(root)
      lake.vacuum(s, retainLast = 2)
      lake.diff(s, v, v + 1)
        .orderBy(col("op"), col("doc_id"), col("text_len"))
    }),

    // CONCURRENT disjoint merges through the rebase path: two
    // range-disjoint generations (doc_id <200 / >=200), then merge B
    // (high keys) races into merge A's (low keys) publish window via
    // the onBeforePublish hook — A loses its claim, proves B's new
    // generation disjoint from its key envelope, and REBASES: both
    // writers land, nothing serializes through abort-and-rerun. The
    // oracle pins the combined upsert answer, which only exists if
    // neither writer aborted nor clobbered the other.
    "l_snaplake_rebase" -> ((s, d) => {
      val root = snapRoot("graft_snaprb", d)
      val base = graft.Tables.documents(s, d)
        .select(col("doc_id"), length(col("text")).as("text_len"))
      base.filter(col("doc_id") < 200)
        .write.format("snaplake").mode("overwrite").save(root)
      base.filter(col("doc_id") >= 200)
        .write.format("snaplake").mode("append").save(root)
      def bumped(cond: org.apache.spark.sql.Column) =
        base.filter(cond && col("doc_id") % 5 === 0)
          .withColumn("text_len", col("text_len") + 1000)
      val srcB = bumped(col("doc_id") >= 200)
      @volatile var raced = false
      val racy = new graft.ingest.SnapshotLake(root) {
        override protected def onBeforePublish(): Unit =
          if (!raced) { raced = true
            new graft.ingest.SnapshotLake(root).merge(srcB, Seq("doc_id"))
          }
      }
      racy.merge(bumped(col("doc_id") < 200), Seq("doc_id"))
      val lake = new graft.ingest.SnapshotLake(root)
      lake.vacuum(s, retainLast = 1)
      s.read.format("snaplake").load(root).orderBy(col("doc_id"))
    }),

    // Operation HISTORY (DESCRIBE HISTORY analog): run a deterministic
    // overwrite→merge→delete→optimize→restore sequence, vacuum to
    // exactly those five commits, and report (seq, op, n_dirs) — seq is
    // a row_number over version order because the reused root's version
    // counter grows across invocations. Pins that every mutation path
    // stamps its operation into the commit log.
    "l_snaplake_history" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val root = snapRoot("graft_snaph", d)
      val lake = new graft.ingest.SnapshotLake(root)
      graft.Tables.documents(s, d).select(col("doc_id"), col("lang"))
        .write.format("snaplake").mode("overwrite").save(root)
      val v0 = lake.latestVersion(s).get
      lake.merge(s.range(0, 1).select(col("id").as("doc_id"),
        lit("xx").as("lang")), Seq("doc_id"))
      lake.delete(s, col("doc_id") === 1L)
      lake.optimize(s, 1, Seq(col("doc_id")))
      lake.restore(s, v0)
      lake.vacuum(s, retainLast = 5)
      lake.history(s)
        .withColumn("seq",
          row_number().over(Window.orderBy(col("version"))))
        .select(col("seq"), col("op"), col("n_dirs"))
        .orderBy(col("seq"))
    }),

    // Bloom-sidecar point lookups end-to-end: keys stored SPARSE
    // (o_orderkey * 7919) and hash-scattered across 6 files, so every
    // file's min/max envelope spans the whole domain and cannot prune a
    // point probe; computeBlooms builds the opt-in fingerprint tier and
    // the IN probe schedules only files whose blooms admit a member —
    // zero for the absent key (asserted plan-level in SnapLakeSkipSpec;
    // the oracle pins that bloom pruning never changes the answer).
    "l_snaplake_bloom" -> ((s, d) => {
      val root = snapRoot("graft_snapbl", d)
      Tables.orders(s, d)
        .select((col("o_orderkey") * 7919L).as("okey"), col("o_orderpriority"))
        .repartition(6)
        .write.format("snaplake").mode("overwrite").save(root)
      val lake = new graft.ingest.SnapshotLake(root)
      lake.vacuum(s, retainLast = 1)
      lake.computeBlooms(s, Seq("okey"), expectedNdvPerFile = 30000)
      s.read.format("snaplake").load(root)
        .filter(col("okey").isin(7L * 7919L, 101L * 7919L, 3959501L))
        .orderBy(col("okey"))
    }),

    // The AUTO-bloom tier driver-gated end to end: blooms=on makes the
    // post-backfill append build its own sidecar at commit time, so the
    // probe set spans a backfilled generation (even keys), an
    // auto-bloomed one (odd keys, committed AFTER computeBlooms), and
    // an absent key the blooms prune to zero files (plan-level
    // assertions in SnapLakeSkipSpec; the oracle pins answers never
    // change).
    "l_snaplake_autobloom" -> ((s, d) => {
      val root = snapRoot("graft_snapab", d)
      def half(parity: Int) = Tables.orders(s, d)
        .filter(col("o_orderkey") % 2 === parity)
        .select((col("o_orderkey") * 7919L).as("okey"), col("o_orderpriority"))
        .repartition(4)
      half(0).write.format("snaplake").mode("overwrite").save(root)
      val lake = new graft.ingest.SnapshotLake(root)
      lake.vacuum(s, retainLast = 1)
      lake.enableAutoBlooms(s, Seq("okey"), expectedNdvPerFile = 30000)
      lake.computeBlooms(s, Seq("okey"), expectedNdvPerFile = 30000)
      lake.commit(half(1))
      s.read.format("snaplake").load(root)
        .filter(col("okey").isin(7L * 7919L, 100L * 7919L, 3959501L))
        .orderBy(col("okey"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "l_zorder_key" -> {
      val z = ZOrder2.sqlExpr("l_partkey", "l_suppkey", 21)
      s"""WITH zt AS (SELECT $z AS z FROM lineitem)
         |SELECT z >> 10 AS z_bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(z) AS min_z, max(z) AS max_z
         |FROM zt GROUP BY 1 ORDER BY z_bucket""".stripMargin
    },

    "l_zorder_key3" -> {
      val z = graft.functions.ZOrderN.sqlExpr(
        Seq("l_partkey", "l_suppkey", "l_orderkey"), 21)
      s"""WITH zt AS (SELECT $z AS z FROM lineitem)
         |SELECT z >> 12 AS z_bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(z) AS min_z, max(z) AS max_z
         |FROM zt GROUP BY 1 ORDER BY z_bucket""".stripMargin
    },

    // Version 1 of the lake is exactly the even-doc_id half of documents.
    "l_snaplake_timetravel" ->
      """SELECT doc_id, lang, CAST(length(text) AS INT) AS text_len
        |FROM documents WHERE doc_id % 2 = 0 ORDER BY doc_id""".stripMargin,

    // The filtered aggregate is plain SQL to the oracle — file layout
    // and pruning are invisible to it, which is the point.
    "l_snaplake_skipping" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE)
        |    AS sum_price
        |FROM orders WHERE o_orderkey < 300
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // The merged table: every third doc's text_len bumped, shifted-key
    // copies of the first ten appended.
    "l_snaplake_merge" ->
      """WITH b AS (SELECT doc_id, CAST(length(text) AS INT) AS text_len
        |           FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text_len + 1000 ELSE text_len END
        |    AS text_len
        |FROM b
        |UNION ALL
        |SELECT doc_id + 1000000 AS doc_id, text_len FROM b WHERE doc_id < 10
        |ORDER BY doc_id""".stripMargin,

    // Survivors of the range delete.
    "l_snaplake_delete" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id
        |FROM documents WHERE doc_id >= 100
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The restored head is the full base snapshot.
    "l_snaplake_restore" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // The merge's exact change rows: pre-image deletes of every fourth
    // doc, its updated insert, plus the shifted-key pure inserts.
    "l_snaplake_cdf" ->
      """WITH b AS (SELECT doc_id, CAST(length(text) AS INT) AS text_len
        |           FROM documents)
        |SELECT doc_id, text_len, 'delete' AS change_type
        |FROM b WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id, text_len + 7 AS text_len, 'insert' AS change_type
        |FROM b WHERE doc_id % 4 = 0
        |UNION ALL
        |SELECT doc_id + 2000000 AS doc_id, text_len, 'insert' AS change_type
        |FROM b WHERE doc_id < 5
        |ORDER BY change_type, doc_id""".stripMargin,

    // The MV-maintenance claim stated as plain SQL: the incrementally-
    // maintained rollup must equal the from-scratch aggregate over the
    // FINAL table state (base, +7 on every %4 survivor, %10 rows gone).
    "l_snaplake_incr_agg" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(length(text) +
        |    CASE WHEN doc_id % 4 = 0 THEN 7 ELSE 0 END) AS BIGINT)
        |    AS len_sum
        |FROM documents WHERE doc_id % 10 <> 0
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // The diff of base vs mutated-copy versions: every fifth doc's
    // delete+insert pair, EXCEPT ALL multiplicity.
    "l_snaplake_diff" ->
      """WITH v1 AS (SELECT doc_id, CAST(length(text) AS INT) AS text_len
        |             FROM documents),
        |v2 AS (SELECT doc_id, CAST(length(text) AS INT) +
        |         CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS text_len
        |       FROM documents),
        |ins AS (SELECT doc_id, text_len FROM v2
        |        EXCEPT ALL SELECT doc_id, text_len FROM v1),
        |del AS (SELECT doc_id, text_len FROM v1
        |        EXCEPT ALL SELECT doc_id, text_len FROM v2)
        |SELECT doc_id, text_len, 'insert' AS op FROM ins
        |UNION ALL SELECT doc_id, text_len, 'delete' AS op FROM del
        |ORDER BY op, doc_id, text_len""".stripMargin,

    // Both concurrent merges' updates present: every fifth doc bumped,
    // regardless of which half (= which racing writer) owned it.
    "l_snaplake_rebase" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN text_len + 1000 ELSE text_len END
        |    AS text_len
        |FROM (SELECT doc_id, CAST(length(text) AS INT) AS text_len
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // The five-operation audit trail as literal rows: the lake's
    // history is fully determined by the query's own mutation sequence.
    // The merge's rewrite generation holds the kept rows and the source
    // row in different files; the delete rewrites only the file holding
    // doc_id 1 and carries the others by reference, so its version
    // reads two generations.
    "l_snaplake_history" ->
      """SELECT * FROM (VALUES
        |  (1, 'overwrite', 1), (2, 'merge', 1), (3, 'delete', 2),
        |  (4, 'optimize', 1), (5, 'restore', 1))
        |AS t(seq, op, n_dirs) ORDER BY seq""".stripMargin,

    // Bloom pruning is invisible to the oracle — the point, as with
    // l_snaplake_skipping: the probe answer is plain SQL.
    "l_snaplake_bloom" ->
      """SELECT CAST(o_orderkey AS BIGINT) * 7919 AS okey, o_orderpriority
        |FROM orders
        |WHERE CAST(o_orderkey AS BIGINT) * 7919 IN (55433, 799819, 3959501)
        |ORDER BY okey""".stripMargin,

    // 55433 = 7·7919 (odd key, auto-bloomed append generation);
    // 791900 = 100·7919 (even key, backfilled base); 3959501 absent.
    "l_snaplake_autobloom" ->
      """SELECT CAST(o_orderkey AS BIGINT) * 7919 AS okey, o_orderpriority
        |FROM orders
        |WHERE CAST(o_orderkey AS BIGINT) * 7919 IN (55433, 791900, 3959501)
        |ORDER BY okey""".stripMargin
  )
}
