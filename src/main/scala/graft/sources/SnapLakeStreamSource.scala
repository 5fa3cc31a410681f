package graft.sources

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.types.StructType

import graft.ingest.{GenRef, SnapshotLake}

/** [[SnapshotLake]]'s commit log tailed as a Structured Streaming source
  * (`spark.readStream.format("snaplake").load(root)`): offsets are commit
  * VERSIONS, and the micro-batch for (start, end] is the parquet data of
  * the generation directories end's manifest lists that start's does not.
  *
  * Because append commits reference the previous manifest plus one new
  * generation, the delta of consecutive versions is exactly the appended
  * data — the lake's history IS the changelog, with no extra bookkeeping
  * (the same observation Delta's streaming source is built on). The
  * version arithmetic makes replay exact: a restarted query re-derives
  * batch (start, end] from the immutable manifests, so a checkpointed
  * offset always reproduces the same rows.
  *
  * OVERWRITE commits are not row-level deletes and a stream cannot
  * unsay emitted rows: an overwrite's freshly-introduced directories are
  * emitted like any append (the rewritten table content arrives as one
  * batch) and directories it dropped simply stop contributing — the
  * ignore-changes contract downstream consumers of table-format streams
  * already live with. Streams needing clean restatement semantics should
  * read upsert keys and apply them stateful-side (`t_cdc_upsert`).
  *
  * The stream schema is fixed when the source is created (standard
  * streaming contract); later appends with evolved schemas project onto
  * it — new columns are ignored, missing ones read as null, exactly how
  * a long-running reader of an evolving table must behave.
  */
class SnapLakeStreamSource(spark: SparkSession, root: String,
    override val schema: StructType, startingVersion: Option[Long],
    changeFeed: Boolean = false)
    extends Source {

  private val lake = new SnapshotLake(root)

  /** The table's own columns — in changefeed mode `schema` additionally
    * carries the two meta columns, which no parquet file has. */
  private val tableSchema: StructType =
    if (!changeFeed) schema
    else StructType(schema.fields.filterNot(f =>
      f.name == SnapshotLake.ChangeTypeCol ||
        f.name == SnapshotLake.CommitVersionCol))

  /** Offset value = last version already emitted; versions at or below
    * the base are history the stream starts after. `startingVersion` is
    * the first version to INCLUDE (Delta's option of the same name);
    * default 1 — the whole table, so a fresh stream first replays the
    * current snapshot and then follows new commits. */
  private val baseVersion: Long = startingVersion.map(_ - 1).getOrElse(0L)

  private def ver(o: Offset): Long = o.json.trim.toLong

  override def getOffset: Option[Offset] =
    lake.latestVersion(spark).filter(_ > baseVersion).map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val startV = start.map(ver).getOrElse(baseVersion)
    if (changeFeed) return changeBatch(startV, ver(end))
    val dirs = deltaDirs(startV, ver(end), checkpointed = start.isDefined)
    if (dirs.isEmpty) emptyStreamDf(schema)
    else streamingRead(dirs, tableSchema)
  }

  private def emptyStreamDf(s: StructType): DataFrame =
    GraftBridge.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(s), Nil, isStreaming = true))

  /** The lake's scan of `gens` ([[SnapshotLake.relation]]), pinned to
    * an explicit schema so evolved appends project instead of widening
    * mid-stream, flagged streaming for the incremental planner. */
  private def streamingRead(gens: Seq[GenRef], s: StructType): DataFrame =
    streaming(lake.relation(spark, gens, s))

  private def streaming(r: HadoopFsRelation): DataFrame =
    GraftBridge.ofRows(spark, LogicalRelation(r, isStreaming = true))

  /** CHANGEFEED batch for versions (startV, endV]: the same manifest
    * delta as [[SnapshotLake.changesBetween]] — appends and a merge's
    * source emit their new generations as inserts, merges and deletes
    * the rows their new deletion vectors mark as deletes, layout
    * rewrites nothing, blind overwrites restate file-level, and a merge
    * committed before merges marked rows its `_cdf/` — each row tagged
    * with change type and commit version. Any commit the walk needs
    * that vacuum has dropped is fatal ([[SnapshotLake.commitAt]]): a
    * changefeed cannot skip history without lying. */
  private def changeBatch(startV: Long, endV: Long): DataFrame = {
    // the shared tier walker — only frame construction (streaming
    // relations) is this source's own
    lake.walkChanges(spark, startV, endV, tableSchema, streaming)
      .reduceOption(_.unionByName(_)).getOrElse(emptyStreamDf(schema))
  }

  /** New directories of versions (startV, endV], each read as the
    * version that introduced it reads it (a restore may re-reference a
    * generation in part), walked VERSION BY
    * VERSION — diffing only the endpoint manifests would silently drop a
    * generation that was appended and then overwritten away inside one
    * batch window (committed rows whose delivery would depend on trigger
    * cadence). The seen-set keeps a generation dropped and re-referenced
    * WITHIN the window from re-emitting; re-references that cross batch
    * boundaries (only a RESTORE produces them) get the history check
    * below — either way its rows went out once, and emitted rows are
    * never retracted.
    *
    * RESTORE commits are the one kind that re-references generations
    * from manifests OLDER than the batch window, so their unseen dirs
    * get a history check: a backward walk over the committed manifests
    * of (earliest retained, startV] decides per dir whether this stream
    * already delivered it (skip — emitted rows are never retracted and
    * never re-sent) or never saw it (emit: e.g. a `startingVersion`
    * stream whose base postdates the drop). The walk early-exits the
    * moment every candidate resolves and runs ONLY for restore commits
    * with unseen dirs — appends/overwrites/rewrites introduce their own
    * generations (anything carried forward is in manifest(v-1) ⊆ seen),
    * so the normal path stays O(window) manifest reads. getBatch stays a
    * pure function of the offsets (the Source replay contract), which is
    * why the check re-derives history instead of remembering emissions.
    * A restore re-referencing a generation whose entire manifest history
    * has been vacuumed fails open to EMIT — the retention edge cannot
    * distinguish "delivered long ago" from "never delivered", and
    * restore+vacuum are already a single-maintainer pair.
    *
    * Vacuumed manifests: a missing START manifest on a CHECKPOINT restart
    * is fatal (resuming without the base would re-emit the whole snapshot
    * as duplicates — fail like any table-format stream whose checkpoint
    * predates retention); a missing base for a fresh `startingVersion`
    * stream degrades to snapshot-at-that-version (the oldest retained
    * version is a legitimate starting point). Missing manifests INSIDE
    * the range are skipped — vacuum drops contiguous prefixes, and any
    * still-live generation they introduced surfaces through the next
    * retained manifest's diff against the seen-set. */
  private def deltaDirs(startV: Long, endV: Long,
      checkpointed: Boolean): List[GenRef] = {
    val committedAll = lake.versions(spark) // one listing per batch, sorted
    val committed = committedAll.toSet
    def manifestAt(v: Long): Option[Seq[String]] =
      if (committed.contains(v)) Some(lake.dirsAt(spark, v)) else None
    val seen = scala.collection.mutable.Set.empty[String]
    if (startV > 0) manifestAt(startV) match {
      case Some(ds) => seen ++= ds
      case None if checkpointed => throw new IllegalStateException(
        s"checkpointed version $startV of $root has been vacuumed; " +
          "cannot resume without re-emitting — start a fresh stream")
      case None => () // startingVersion at the retention edge
    }
    // Which of `cands` appeared in a committed manifest of
    // [base, startV]? Those were already delivered by this stream (or
    // are pre-history the stream starts after — same answer: don't
    // re-emit). Backward from startV so the common re-reference (a
    // recent version) resolves in a read or two.
    def deliveredBefore(cands: Set[String]): Set[String] = {
      val unresolved = scala.collection.mutable.Set.empty[String] ++ cands
      val delivered = Set.newBuilder[String]
      val lo = math.max(baseVersion,
        committedAll.headOption.getOrElse(Long.MaxValue))
      var u = startV
      while (u >= lo && unresolved.nonEmpty) {
        manifestAt(u).foreach(_.foreach { d =>
          if (unresolved.remove(d)) delivered += d
        })
        u -= 1
      }
      delivered.result()
    }
    val out = scala.collection.mutable.ListBuffer.empty[GenRef]
    var v = startV + 1
    while (v <= endV) {
      if (committed.contains(v)) {
        val c = lake.commitAt(spark, v)
        val fresh = c.gens.filterNot(g => seen.contains(g.dir))
        val skip: Set[String] =
          if (c.op == "restore" && fresh.nonEmpty) deliveredBefore(fresh.map(_.dir).toSet)
          else Set.empty
        fresh.foreach { g => seen += g.dir; if (!skip.contains(g.dir)) out += g }
      }
      v += 1
    }
    out.toList
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"SnapLakeStreamSource[$root]"
}
