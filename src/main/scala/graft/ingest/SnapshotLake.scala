package graft.ingest

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  AttributeReference, Cast, EqualTo, EvalMode, Expression, GreaterThanOrEqual,
  LessThanOrEqual, Literal, Or, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf.StoreAssignmentPolicy
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}
import org.roaringbitmap.RoaringBitmap

/** Minimal snapshot-versioned table: a commit log + read-at-version over
  * the same immutable-generation machinery the ledgered sinks use — the
  * lightweight form of what a transactional table format (Delta/Iceberg)
  * provides, without importing one.
  *
  * Layout:
  * {{{
  *   root/
  *     _commits/v00000001.json   // {"version":1,"op":"create","dirs":["gen-ab12cd34"]}
  *     _commits/v00000002.json   // {"version":2,"op":"merge",
  *                               //  "dirs":["gen-ab12cd34","gen-99ff0011"],
  *                               //  "dvs":{"gen-ab12cd34":{"part-00000-….parquet":
  *                               //    {"file":"dv-5e6f….json","rows":2}}},
  *                               //  "metrics":{"files_added":1,…}}
  *     _commits/v00000003.json   // {"version":3,"op":"delete","dirs":[…],"files":{…},
  *                               //  "dvs":{…},…}
  *     _dv/dv-5e6f….json         // the deletion vectors one merge or delete changed
  *     gen-ab12cd34/  ...parquet...
  *                    _stats.json    // per-file envelopes + the Spark schema
  *                    _blooms.json   // per-file Blooms (auto-Blooms / computeBlooms)
  *     gen-99ff0011/  ...parquet...  // the merge's source rows
  * }}}
  *
  * Commits written before merges marked rows may also carry
  * `"rewrite":true`, and their one new generation a `_cdf/` directory
  * holding the row-level changes the merge (or, empty, the compaction)
  * materialized; only the changefeed of those older commits reads it.
  *
  * A generation's metadata is captured by the pass that writes it,
  * before its commit publishes it: the write job itself fills the
  * auto-Bloom sidecar ([[GenWriter]]), and the footer pass after it
  * ([[GenStats]]) records file envelopes and the generation's schema.
  * Reads, merges, deletes, time travel and compaction resolve a
  * version's schema from those records ([[schemaOf]]) instead of
  * running a schema-inference job. A commit file is one [[Commit]]
  * record (an append also carries a streaming writer's `batchId` and
  * `queryId`), parsed once per process ([[commitAt]]).
  *
  * Invariants that make this safe:
  *  - Generation directories are IMMUTABLE once a commit references them
  *    and are written BEFORE their commit file: an in-flight write is
  *    invisible (its gen dir exists but no commit lists it), so readers
  *    are isolated from writers for free.
  *  - A commit file is the ATOMIC publication point: written to a
  *    unique temp name, then atomically claimed WITHOUT overwrite —
  *    rename on HDFS (NameNode-atomic), hard link on the local
  *    filesystem (where Hadoop's no-overwrite rename is a non-atomic
  *    exists-check + rename(2); see [[claimVersion]]). Losing a
  *    race for version N fails the claim and the writer retries at
  *    N+1 — optimistic concurrency, never a torn or clobbered commit.
  *    On object stores (S3A) front the commit log with a consistent
  *    metadata layer instead of pointing it at the bucket.
  *  - A reader materializes its file listing when the DataFrame is
  *    created, and generations are never mutated — so a frame read at
  *    version N keeps returning version N even after later commits
  *    (snapshot isolation) until [[vacuum]] drops generations older
  *    than the retention horizon.
  *
  * Append commits reference the previous snapshot's directories plus the
  * new generation — O(1) data movement per append, like a table format's
  * manifest reuse; overwrite commits reference only the new generation.
  * Neither a merge nor a delete copies a data file: each gives every
  * data file with a replaced or deleted row a deletion vector
  * ([[DeletionVectors]]) that every read applies, and a merge writes its
  * source as one new generation. A file whose rows are all gone leaves
  * the manifest, so a commit may read a generation in part: its record
  * names that generation's remaining files ([[GenRef]]).
  * Schemas may evolve across appends: a version reads under the union
  * of its generations' schemas, as a `mergeSchema` read would infer it.
  */
object SnapshotLake {
  /** Changefeed meta columns, and the per-generation changefeed
    * directory of commits written before merges marked rows
    * (`_`-prefixed: invisible to the generation's data reads). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CdfDirName = "_cdf"

  /** Max distinct source key tuples collected for merge's bloom-tier
    * scoping — a bounded METADATA collect (≤ cap+1 narrow rows), never
    * data-path; bigger sources skip the bloom tier and scope by
    * envelopes alone. */
  val BloomScopeCap = 1024

  /** (root, generation) → its data files (bare name, bytes) in name
    * order. Generations are immutable, so an entry never invalidates;
    * vacuumed generations merely strand an entry (per-process, bounded
    * by generations ever listed). Keeps mutation scoping, operation
    * metrics and the per-commit auto-compact check from re-listing the
    * whole big body. */
  private[ingest] val genFiles =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[(String, Long)]]()

  /** Parsed commit records ([[SnapshotLake.commitAt]]). A commit file is
    * written once and never changed, so a repeat lookup costs one status
    * probe; a vacuumed one misses, and a re-created root's files differ
    * in length or mtime. */
  private[ingest] val commits = new SidecarCache[Commit](4096)

  /** Reentrancy guard: a fold's own publishRewrite fires the
    * auto-compact hook again; the guard no-ops that inner call. */
  private[ingest] val inAutoCompact =
    new ThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = false
    }
}

class SnapshotLake(root: String) {

  private val commitsDir = s"$root/_commits"

  private def hadoopFs(spark: SparkSession) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** All committed versions, ascending (empty for a fresh root). */
  def versions(spark: SparkSession): Seq[Long] = {
    val fs = hadoopFs(spark)
    val dir = new org.apache.hadoop.fs.Path(commitsDir)
    if (!fs.exists(dir)) Seq.empty
    // \d{8,}, not \d{8}: the writer's %08d pads to AT LEAST 8 digits,
    // so version 100,000,000 writes a 9-digit filename — an exact-8
    // match would publish the commit yet leave it invisible, wedging
    // every later claim on the same "next" version forever (the sort
    // below is numeric, so longer filenames order correctly; r13 review)
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d{8,}\\.json"))
      .map(_.drop(1).dropRight(5).toLong).sorted
  }

  def latestVersion(spark: SparkSession): Option[Long] =
    versions(spark).lastOption

  private def commitPath(version: Long) =
    new org.apache.hadoop.fs.Path(f"$commitsDir/v$version%08d.json")

  /** The commit record of `version`, read and parsed once per file and
    * then served from the process-wide cache ([[SnapshotLake.commits]]).
    * A version that was vacuumed or never written fails fast with
    * IllegalArgumentException. */
  private[graft] def commitAt(spark: SparkSession, version: Long): Commit =
    SnapshotLake.commits.load(hadoopFs(spark), commitPath(version))(t => Some(Commit.parse(t)))
      .getOrElse(throw new IllegalArgumentException(
        s"no commit for version $version under $root"))

  /** When the commit of `version` was published: its file's mtime (the
    * file is written once, atomically, and never touched again). */
  private def publishedAt(spark: SparkSession, version: Long): Long =
    hadoopFs(spark).getFileStatus(commitPath(version)).getModificationTime

  /** Generation directories of a committed version (names relative to
    * root, in commit order). */
  def dirsAt(spark: SparkSession, version: Long): Seq[String] =
    commitAt(spark, version).dirs

  /** Latest version whose commit file was published at or before
    * `tsMillis` — timestamp-based time travel on [[publishedAt]], so no
    * extra bookkeeping is needed; like any table format's timestampAsOf,
    * granularity is the store's mtime resolution. */
  def versionAt(spark: SparkSession, tsMillis: Long): Option[Long] =
    versions(spark).reverseIterator.find(publishedAt(spark, _) <= tsMillis)

  /** Operation HISTORY — the audit surface a table format exposes as
    * DESCRIBE HISTORY: one row per surviving commit with the operation
    * that published it (`create`/`append`/`overwrite`/`merge`/`delete`/
    * `optimize`/`zorder`/`compact`/`restore`; commits from writers
    * predating the tag read as `unknown`), the generation count, the
    * publication instant ([[versionAt]]'s clock), and for a merge, a
    * delete or a rewrite the data files and bytes it added, removed and
    * carried by reference, and for a merge or a delete the rows it
    * removed and the files whose deletion vector it changed
    * ([[Commit.Metrics]]; null where an
    * operation does not record them). Metadata-only:
    * one commit record per version, no data touched. Built with an
    * explicit schema (the createDataFrame/REPL-classloader contract
    * every frozen-table helper here follows). */
  def history(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = versions(spark).map { v =>
      val c = commitAt(spark, v)
      Row.fromSeq(Seq(v, c.op, c.dirs.size, publishedAt(spark, v)) ++
        c.metrics.fold(Seq.fill[Any](Commit.Metrics.Names.size)(null))(_.values))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("version", LongType),
        StructField("op", StringType),
        StructField("n_dirs", IntegerType),
        StructField("ts_millis", LongType)) ++
        Commit.Metrics.Names.map(StructField(_, LongType))))
  }

  /** TIME TRAVEL: the table exactly as committed at `version`. Reads
    * prune files exactly like `format("snaplake")` ([[relation]]). */
  def readAt(spark: SparkSession, version: Long): DataFrame =
    GraftBridge.ofRows(spark, LogicalRelation(relationAt(spark, version)))

  /** [[relation]] over the manifest of `version`, under its schema. */
  private[graft] def relationAt(spark: SparkSession, version: Long): HadoopFsRelation = {
    val gens = commitAt(spark, version).gens
    require(gens.nonEmpty, s"version $version lists no data directories")
    relation(spark, gens, schemaOf(spark, gens.map(_.dir)))
  }

  /** Generations `gens` as one DataFrame under their merged schema
    * ([[schemaOf]]). */
  private[graft] def readGens(spark: SparkSession, gens: Seq[GenRef]): DataFrame =
    readGens(spark, gens, schemaOf(spark, gens.map(_.dir)))

  /** Generations `gens` as one DataFrame under `schema` ([[relation]]). */
  private[graft] def readGens(spark: SparkSession, gens: Seq[GenRef],
      schema: StructType): DataFrame =
    GraftBridge.ofRows(spark, LogicalRelation(relation(spark, gens, schema)))

  /** The one scan of snaplake data: the data files of directories `gens`
    * (relative to the root — generations, or an older rewrite's `_cdf/`; a
    * [[GenRef]] with a file subset reads only those files) as Spark's own
    * parquet relation under `schema`, so pushdown, column pruning and
    * vectorized decoding are the parquet scan's. A file with a deletion
    * vector skips the rows it marks, and a file keyed in `only`
    * ([[DeletionVectors.key]]) reads just the rows that bitmap marks (a
    * changefeed's deleted rows); either way the relation reads through
    * [[graft.sources.DvParquetFileFormat]], and a relation with neither
    * through the stock parquet format. The relation lists its
    * files now: a frame keeps reading its version after later commits
    * (snapshot isolation), and a directory that no longer exists fails
    * here. Its file index ([[graft.sources.StatsFileIndex]]) drops each
    * file that [[graft.sources.FilePruning]] proves holds no row passing
    * the scan's pushed filters, from the generations' `_stats.json`
    * envelopes and, loaded only for an equality-shaped scan, their
    * `_blooms.json`. A directory without sidecars is never pruned. The
    * index also lists the commit log among its root paths, which makes
    * Spark refuse a single-path `INSERT INTO` that would drop files into
    * a committed generation. */
  private[graft] def relation(spark: SparkSession, gens: Seq[GenRef],
      schema: StructType, only: Map[String, RoaringBitmap] = Map.empty): HadoopFsRelation = {
    import org.apache.hadoop.fs.Path
    import graft.sources.RowMask
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hadoopFs(spark)
    val listed = gens.map { g =>
      g -> readBy(g, GenStats.dataFiles(fs, new Path(s"$root/${g.dir}")))(_.getPath.getName)
    }
    val masks: Map[Path, RowMask] = listed.flatMap { case (g, files) =>
      files.flatMap { st =>
        val f = st.getPath.getName
        only.get(DeletionVectors.key(g.dir, f))
          .map(b => RowMask(DeletionVectors.bytes(b), keepMarked = true))
          .orElse(g.dvs.get(f).map(dv =>
            RowMask(DeletionVectors.load(fs, root, g.dir, f, dv), keepMarked = false)))
          .map(st.getPath -> _)
      }
    }.toMap
    // sidecars are keyed by bare file name, the index by file path
    def byFile[V](load: String => Option[Map[String, V]]): Map[Path, V] =
      listed.flatMap { case (g, files) =>
        val sidecar = load(s"$root/${g.dir}").getOrElse(Map.empty)
        files.flatMap(st => sidecar.get(st.getPath.getName).map(st.getPath -> _))
      }.toMap
    val index = new graft.sources.StatsFileIndex(
      gens.map(g => new Path(s"$root/${g.dir}")), listed.flatMap(_._2),
      byFile(GenStats.load(conf, _)), new Path(commitsDir),
      () => byFile(GenBlooms.load(conf, _)), masks)
    HadoopFsRelation(index, partitionSchema = new StructType(),
      dataSchema = GraftBridge.asNullable(schema), bucketSpec = None,
      fileFormat = if (masks.isEmpty) new ParquetFileFormat()
        else new graft.sources.DvParquetFileFormat(),
      options = Map.empty)(spark)
  }

  /** The data files `gen` reads, with their bytes, from the per-process
    * listing of its directory ([[SnapshotLake.genFiles]]). */
  private def liveFiles(spark: SparkSession, gen: GenRef): Seq[(String, Long)] =
    readBy(gen, SnapshotLake.genFiles.computeIfAbsent((root, gen.dir), _ =>
      GenStats.dataFiles(hadoopFs(spark), new org.apache.hadoop.fs.Path(s"$root/${gen.dir}"))
        .map(st => st.getPath.getName -> st.getLen).sortBy(_._1)))(_._1)

  /** Of `all`, a listing of `gen`'s directory, the files `gen` reads. */
  private def readBy[A](gen: GenRef, all: Seq[A])(name: A => String): Seq[A] =
    gen.files.fold(all) { keep =>
      val k = keep.toSet
      all.filter(a => k(name(a)))
    }

  /** Every (directory, file, deletion vector) that `gens` read: a file
    * whose deletion vector changed reads as another entry. */
  private def fileSet(spark: SparkSession,
      gens: Seq[GenRef]): Set[(String, String, Option[Dv])] =
    gens.flatMap(g => liveFiles(spark, g).map(f => (g.dir, f._1, g.dvs.get(f._1)))).toSet

  /** The data files of `gens` and their bytes, in total. */
  private def filesAndBytes(spark: SparkSession, gens: Seq[GenRef]): (Long, Long) = {
    val files = gens.flatMap(liveFiles(spark, _))
    (files.size.toLong, files.map(_._2).sum)
  }

  /** `gen` read by only its files `kept`, with their deletion vectors. */
  private def subset(gen: GenRef, kept: Seq[String]): GenRef = {
    val k = kept.toSet
    GenRef(gen.dir, Some(kept), gen.dvs.filter(e => k(e._1)))
  }

  /** `gens` keeping only the files `keep(dir)` accepts: a generation
    * that keeps every file it reads stays as it is, one that keeps none
    * leaves the manifest, and the rest name the files they keep. */
  private def narrow(spark: SparkSession, gens: Seq[GenRef])(
      keep: String => String => Boolean): Seq[GenRef] =
    gens.flatMap { g =>
      val names = liveFiles(spark, g).map(_._1)
      val kept = names.filter(keep(g.dir))
      if (kept.size == names.size) Some(g)
      else if (kept.isEmpty) None
      else Some(subset(g, kept))
    }

  /** The schema of a read over generations `gens`: their recorded
    * write-time schemas ([[GenStats.schema]]) merged with Spark's own
    * `StructType.merge` — the union a `mergeSchema` read infers, without
    * that read's footer job. The fold runs in the order that inference
    * folds files, sorted by path, which under one root is generation
    * name order (fixed width), not manifest order: fields take the order
    * of their first appearance in that sequence, exactly as inferred.
    * If any generation has no recorded schema (written before schemas
    * were recorded, or by a foreign writer), the whole union is inferred
    * by one `mergeSchema` read: merging a partial inference into the
    * recorded ones could order fields differently. */
  private[graft] def schemaOf(spark: SparkSession,
      gens: Seq[String]): org.apache.spark.sql.types.StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val recorded = gens.sorted.map(g => GenStats.schema(conf, s"$root/$g"))
    if (recorded.nonEmpty && recorded.forall(_.isDefined)) {
      val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
      recorded.flatten.reduceLeft(
        org.apache.spark.sql.GraftBridge.mergeSchemas(_, _, caseSensitive))
    } else spark.read.option("mergeSchema", "true")
      .parquet(gens.map(d => s"$root/$d"): _*).schema
  }

  /** `df` with each column the table already has cast to the table's
    * type, as an INSERT into a typed table would under
    * `spark.sql.storeAssignmentPolicy` (ANSI and STRICT casts fail on
    * overflow): otherwise a write could publish a generation whose type
    * no read can merge with the others' (INT beside BIGINT). A cast the
    * policy forbids (STRING into INT under ANSI) is refused before
    * anything is written. Nested fields conform alike; columns and
    * fields new to the table keep their type (schema evolution). No job
    * runs. */
  private def conform(df: DataFrame, table: StructType): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    def find(fs: Array[org.apache.spark.sql.types.StructField], n: String) =
      fs.find(f => conf.resolver(f.name, n))
    def target(in: DataType, t: DataType): DataType = (in, t) match {
      case (s: StructType, ts: StructType) => StructType(s.fields.map(f =>
        find(ts.fields, f.name).fold(f)(tf => f.copy(dataType = target(f.dataType, tf.dataType)))))
      case (ArrayType(e, n), ArrayType(te, _)) => ArrayType(target(e, te), n)
      case (MapType(k, v, n), MapType(tk, tv, _)) => MapType(target(k, tk), target(v, tv), n)
      case _ => t
    }
    val policy = conf.storeAssignmentPolicy
    val plan = GraftBridge.plan(df)
    val out = plan.output.map(a => find(table.fields, a.name)
      .map(f => target(a.dataType, f.dataType)).filter(_ != a.dataType) match {
        case None => a
        case Some(t) =>
          require(policy match {
            case StoreAssignmentPolicy.ANSI => Cast.canANSIStoreAssign(a.dataType, t)
            case StoreAssignmentPolicy.STRICT => Cast.canUpCast(a.dataType, t)
            case _ => Cast.canCast(a.dataType, t)
          }, s"column ${a.name} of type ${a.dataType.sql} cannot be stored as ${t.sql} " +
            s"under spark.sql.storeAssignmentPolicy=$policy; write to $root refused")
          Alias(Cast(a, t, Some(conf.sessionLocalTimeZone),
            if (policy == StoreAssignmentPolicy.LEGACY) EvalMode.LEGACY else EvalMode.ANSI), a.name)()
      })
    if (out.forall(_.isInstanceOf[Attribute])) df
    else GraftBridge.ofRows(df.sparkSession, Project(out, plan))
  }

  /** The latest committed snapshot. */
  def read(spark: SparkSession): DataFrame = {
    val v = latestVersion(spark).getOrElse(
      sys.error(s"no committed version under $root"))
    readAt(spark, v)
  }

  /** Land `df` as a new commit; returns the published version.
    * `overwrite = true` replaces the table; `false` appends to the
    * current snapshot. Safe under concurrent committers (optimistic
    * retry on the commit-file rename). */
  def commit(df: DataFrame, overwrite: Boolean = false): Long =
    commitMarked(df, overwrite, None)

  /** Newest streaming batch id recorded in the commit log, scanning
    * newest→oldest past any untagged (batch-API) commits in between —
    * the replay watermark for [[graft.sources.SnapLakeSink]].
    *
    * `queryId` scopes the watermark to ONE streaming query (the stable
    * checkpoint identity): a NEW query writing the same table starts
    * its batch ids at 0 again, and comparing against another query's
    * watermark would silently swallow its first batches — the reason
    * table formats key stream transactions on (appId, version), not the
    * bare batch id. Passing None matches any marker (monitoring use).
    * The scan normally stops within a few commits: a live stream
    * writer's marker is always near the log tail. */
  def lastStreamBatchId(spark: SparkSession,
      queryId: Option[String] = None): Option[Long] =
    newestBatchMarker(spark)(c => queryId.forall(c.queryId.contains))

  /** Newest→oldest commit-log scan shared by the two watermark lookups:
    * the first commit that both satisfies `eligible` and carries a batch
    * marker wins. */
  private def newestBatchMarker(spark: SparkSession)(
      eligible: Commit => Boolean): Option[Long] =
    versions(spark).reverseIterator.map(commitAt(spark, _))
      .flatMap(c => c.batchId.filter(_ => eligible(c))).nextOption()

  /** Replay watermark for a writer WITHOUT a streaming query id: the
    * newest batch marker among commits that ALSO lack one. The sinks
    * use this (not [[lastStreamBatchId]](spark, None), which matches
    * ANY query's marker) when the queryId local property is absent
    * (direct addBatch invocation): an anonymous writer replaying its
    * own batch is still suppressed, but a fresh anonymous writer whose
    * batch ids start at 0 against a lake previously streamed by a REAL
    * query is never silently swallowed by that query's watermark —
    * that was silent data loss, not replay protection. Two DIFFERENT
    * anonymous writers interleaving on one lake remain
    * indistinguishable by construction; callers needing that must run
    * as real queries (or set the local property themselves). */
  private[graft] def lastAnonymousStreamBatchId(
      spark: SparkSession): Option[Long] =
    newestBatchMarker(spark)(_.queryId.isEmpty)

  /** The (queryId, replay watermark) pair for a streaming writer into
    * this lake — THE one implementation of the replay-guard scoping
    * rule, shared by [[graft.sources]]' SnapLakeSink,
    * [[graft.streaming.EventStreams.snaplakeUpsertSink]] and the
    * streaming ledgers ([[graft.streaming.DocStreams]],
    * [[graft.streaming.NearDedupStreams]]).
    *
    * queryId is the stable streaming-query id (checkpoint identity),
    * set as a local property on the stream's driver thread — scoping
    * the watermark to THIS query so a fresh query (new checkpoint,
    * batch ids restarting at 0) is not mistaken for a replay of the
    * previous writer. Absent (direct addBatch calls), only ANONYMOUS
    * markers are consulted: an unscoped watermark would let a real
    * query's old marker silently swallow a new anonymous writer's
    * whole batches — data loss dressed as replay protection.
    * A batch whose id is <= the returned watermark is a replay of this
    * same writer and must no-op. */
  def streamWriterScope(
      spark: SparkSession): (Option[String], Option[Long]) = {
    val queryId = Option(spark.sparkContext.getLocalProperty(
      "sql.streaming.queryId"))
    val watermark = queryId match {
      case some @ Some(_) => lastStreamBatchId(spark, some)
      case None => lastAnonymousStreamBatchId(spark)
    }
    (queryId, watermark)
  }

  /** [[commit]] plus an optional streaming (queryId, batchId) marker
    * persisted in the commit record — the exactly-once handshake for the
    * streaming sink (a replayed micro-batch is detected by
    * [[lastStreamBatchId]] >= its id UNDER THE SAME QUERY ID and
    * skipped whole). An append's columns that the table already has are
    * stored in the table's types ([[conform]]). */
  private[graft] def commitMarked(df: DataFrame, overwrite: Boolean,
      batchId: Option[Long], queryId: Option[String] = None): Long = {
    val spark = df.sparkSession
    val data = if (overwrite) df else latestVersion(spark)
      .fold(df)(v => conform(df, schemaOf(spark, dirsAt(spark, v))))
    // data first, under a writer-unique UNCOMMITTED generation — readers
    // cannot see it until the commit file below publishes it
    val gen = newGenName()
    writeGen(spark, data, gen)
    // losing the claim race retries against the re-read latest — an
    // append retry re-bases on the winner's snapshot, exactly the
    // optimistic-concurrency contract
    val v = retryClaim(spark) { next =>
      Commit.of(next, if (overwrite) "overwrite" else "append",
        (if (overwrite || next == 1) Nil else commitAt(spark, next - 1).gens) :+ GenRef(gen),
        batchId = batchId, queryId = queryId)
    }
    // post-publish, best-effort: the commit above is durable regardless
    maybeAutoCompact(spark)
    v
  }

  /** Commit `df` only as the TABLE-CREATING version 1; returns None if
    * any version already exists (including one published by a racing
    * creator — the loser of the atomic v1 claim cleans up its generation
    * and reports the table as pre-existing instead of retrying). This is
    * the atomic primitive behind SaveMode.ErrorIfExists/Ignore: a bare
    * exists-check before [[commit]] would be check-then-act, letting a
    * racing save silently overwrite a just-created table. */
  def commitInitial(df: DataFrame): Option[Long] = {
    val spark = df.sparkSession
    if (latestVersion(spark).isDefined) return None // cheap pre-check only
    val gen = newGenName()
    writeGen(spark, df, gen)
    if (claimVersion(spark, gen, Commit(1L, "create", Seq(gen))))
      Some(1L)
    else {
      hadoopFs(spark).delete(new org.apache.hadoop.fs.Path(s"$root/$gen"), true)
      None
    }
  }

  /** A fresh writer-unique generation name. */
  private def newGenName(): String =
    s"gen-${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"

  /** The one commit-claim step: write `commit` to a temp file named by
    * the writer-unique `token` (two writers colliding on a temp path
    * would turn the loser's retryable claim race into a spurious
    * failure), then atomically claim its version WITHOUT overwrite.
    * Returns false, temp file removed, when another committer already
    * holds that version.
    *
    * On HDFS, rename-without-overwrite is the primitive: the NameNode
    * checks-and-renames under one namespace lock. On the LOCAL
    * filesystem that same FileContext.rename is a client-side
    * exists-check followed by POSIX rename(2) — which REPLACES an
    * existing destination — so two racing committers could both
    * "win" and one commit would be silently clobbered (TOCTOU). The
    * POSIX primitive that atomically fails on an existing destination
    * is link(2), so local roots claim via Files.createLink instead. */
  private def claimVersion(spark: SparkSession, token: String,
      commit: Commit): Boolean = {
    val fs = hadoopFs(spark)
    // create makes the missing _commits directory of a fresh table
    val tmp = new org.apache.hadoop.fs.Path(s"$commitsDir/.tmp-$token-${commit.version}")
    val dst = commitPath(commit.version)
    val out = fs.create(tmp, true)
    try out.write(commit.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      if (fs.getScheme == "file") {
        java.nio.file.Files.createLink(java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        fs.delete(tmp, false)
      } else org.apache.hadoop.fs.FileContext.getFileContext(
        tmp.toUri, spark.sparkContext.hadoopConfiguration).rename(tmp, dst)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        fs.delete(tmp, false)
        false
    }
  }

  /** Write `df` as the still-UNPUBLISHED generation `gen` with its
    * metadata: the auto-Bloom sidecar from the write job itself, then
    * the footer-harvested stats and schema — all inside the generation,
    * so they are immutable alongside the data they describe — and last
    * the constraint check. */
  private def writeGen(spark: SparkSession, df: DataFrame, gen: String): Unit = {
    GenWriter.write(df, s"$root/$gen", autoBloomRequest(spark))
    GenStats.write(spark.sparkContext.hadoopConfiguration, s"$root/$gen")
    validateGen(spark, gen)
  }

  /** Test seam: invoked after a mutation has written what it publishes
    * (a merge's source generation, its or a delete's deletion vectors, a
    * compaction's generation) but before it claims the commit — the
    * window a concurrent commit would race into. No-op in production. */
  protected def onBeforePublish(): Unit = ()

  // ------------------------------------------------ auto bloom tier

  private def bloomColsPath = new org.apache.hadoop.fs.Path(
    s"$root/_bloomcols.json")

  /** Table-level bloom freshness: once enabled, EVERY write path
    * (append/overwrite commits, a merge's source, compaction,
    * optimize) builds `_blooms.json` for its new generation before
    * publishing, so point-lookup skipping and merge/delete bloom
    * scoping never decay to envelope-only as the table accretes
    * commits. [[computeBlooms]]
    * remains the one-shot backfill for generations that predate the
    * setting. Each file's Bloom is sized to the rows it holds, with
    * `expectedNdvPerFile` as the cap ([[GenBlooms.sized]]).
    * Administrative, like constraints: applies from the moment it is
    * set. */
  def enableAutoBlooms(spark: SparkSession, cols: Seq[String],
      expectedNdvPerFile: Int = 100000): Unit = {
    require(cols.nonEmpty, "enableAutoBlooms needs at least one column")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    val arr = node.putArray("cols")
    cols.foreach(arr.add)
    node.put("ndv", expectedNdvPerFile)
    AtomicOverwrite.publish(spark.sparkContext.hadoopConfiguration, bloomColsPath,
      mapper.writeValueAsString(node))
  }

  def disableAutoBlooms(spark: SparkSession): Unit = {
    val raw = rawFs(spark)
    raw.delete(bloomColsPath, false)
  }

  /** The enabled auto-bloom setting, if any: (columns, expectedNdv). */
  def autoBloomConfig(spark: SparkSession): Option[(Seq[String], Int)] =
    readControlJson(spark, bloomColsPath).flatMap { m =>
      import scala.jdk.CollectionConverters._
      val cols = m.path("cols").elements().asScala.map(_.asText()).toSeq
      if (cols.isEmpty) None else Some((cols, m.path("ndv").asInt(100000)))
    }

  /** Raw-fs read+parse of an administrative control file; None when
    * absent. The read-side twin of [[AtomicOverwrite.publish]], which
    * writes every control file. */
  private def readControlJson(spark: SparkSession,
      p: org.apache.hadoop.fs.Path)
      : Option[com.fasterxml.jackson.databind.JsonNode] = {
    val raw = rawFs(spark)
    if (!raw.exists(p)) return None
    val in = raw.open(p)
    val txt =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    Some(new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt))
  }

  /** The Bloom build a new generation's write should do for the auto
    * tier: its sidecar is filled by the write job itself ([[GenWriter]])
    * on the still-UNPUBLISHED generation, immutable alongside its data
    * like `_stats.json`. Best-effort: an unreadable setting builds no
    * sidecar rather than failing the commit — an absent sidecar only
    * costs pruning ("maybe"), never correctness. Column matching is
    * lenient (schema evolution may drop a configured column from one
    * commit). */
  private def autoBloomRequest(spark: SparkSession): Option[(Seq[String], Int)] =
    try autoBloomConfig(spark) catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"snaplake: auto-bloom setting unreadable for " +
          s"$root (this generation stays sidecar-less, never pruned): $e")
        None
    }

  // ---------------------------------------------- auto compaction

  private def autoCompactPath = new org.apache.hadoop.fs.Path(
    s"$root/_autocompact.json")

  /** Table-level AUTO-compaction — the write-path companion of
    * [[enableAutoBlooms]], and what keeps the streaming ledgers
    * ([[graft.streaming.DocStreams]]) bounded: once enabled, EVERY
    * publishing path — append/overwrite commits, streamed
    * micro-batches, merges, deletes and optimize — checks
    * the small-generation tail and runs [[compactSmall]] when it has
    * accumulated `maxSmallGens` generations under `smallBytes` each.
    * (commitInitial is exempt: a one-generation table has no tail.)
    * A stream-written table then holds a bounded generation count with
    * no external maintenance job. The compaction publishes its own
    * commit AFTER the triggering one (the ingested data is durable
    * either way); losing a race to a concurrent writer just skips the
    * cycle — the next commit re-checks. Old versions still need
    * [[vacuum]] for space, as ever. */
  /** `sortCols`: carried into every auto-fold so a table maintained
    * with `optimize(sortCols)` keeps its clustering — without it the
    * folded tail would be rewritten UNSORTED, silently degrading
    * skipping effectiveness until the next full optimize. */
  def enableAutoCompact(spark: SparkSession, maxSmallGens: Int = 8,
      smallBytes: Long = 32L << 20, sortCols: Seq[String] = Seq.empty): Unit = {
    require(maxSmallGens >= 2, "auto-compact needs maxSmallGens >= 2")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("maxSmallGens", maxSmallGens)
    node.put("smallBytes", smallBytes)
    if (sortCols.nonEmpty) {
      val arr = node.putArray("sortCols")
      sortCols.foreach(arr.add)
    }
    AtomicOverwrite.publish(spark.sparkContext.hadoopConfiguration, autoCompactPath,
      mapper.writeValueAsString(node))
  }

  def disableAutoCompact(spark: SparkSession): Unit =
    rawFs(spark).delete(autoCompactPath, false)

  /** The enabled auto-compact setting:
    * (maxSmallGens, smallBytes, sortCols). */
  def autoCompactConfig(spark: SparkSession): Option[(Int, Long, Seq[String])] =
    readControlJson(spark, autoCompactPath).flatMap { m =>
      val n = m.path("maxSmallGens").asInt(0)
      if (n < 2) None else {
        import scala.jdk.CollectionConverters._
        val sortCols = Option(m.get("sortCols")).toSeq
          .flatMap(_.elements().asScala.map(_.asText()))
        Some((n, m.path("smallBytes").asLong(32L << 20), sortCols))
      }
    }

  /** Best-effort post-commit compaction check for the auto tier. Never
    * fails the commit that triggered it: a compaction abort (racing
    * writer) or any other failure only defers folding to a later
    * commit. Called AFTER the triggering commit publishes — no commit
    * depends on it. Hot-path cost control: the config read is one
    * metadata probe; sizing only starts once the MANIFEST has at least
    * `maxSmallGens` generations (fewer total can't hold that many
    * smalls), and per-generation sizes come from the immutability cache
    * so steady state walks only the generations the last commit added.
    * Reentrancy guard: the fold's own publishRewrite fires this hook
    * again — the guard turns that inner call into a no-op instead of a
    * (terminating but wasteful) re-check. */
  private def maybeAutoCompact(spark: SparkSession): Unit = {
    if (SnapshotLake.inAutoCompact.get()) return
    try autoCompactConfig(spark).foreach { case (n, bytes, sortCols) =>
      val enoughGens = latestVersion(spark)
        .exists(v => dirsAt(spark, v).size >= math.max(2, n))
      if (enoughGens) {
        SnapshotLake.inAutoCompact.set(true)
        try compactSmall(spark, bytes,
          sortCols.map(org.apache.spark.sql.functions.col), minSmallGens = n)
        finally SnapshotLake.inAutoCompact.set(false)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"snaplake: auto-compact skipped this cycle for $root: $e")
    }
  }

  private def rawFs(spark: SparkSession) = SidecarCache.raw(hadoopFs(spark))

  // ------------------------------------------------ CHECK constraints

  private def constraintsPath = new org.apache.hadoop.fs.Path(
    s"$root/_constraints.json")

  /** Write-time CHECK constraints: named SQL boolean expressions every
    * committed row must satisfy (standard CHECK semantics — a row where
    * the expression is NULL passes). Administrative, not versioned:
    * they gate writes from the moment they are set. */
  def constraints(spark: SparkSession): Map[String, String] = {
    // control-file read goes through readControlJson — the shared pair
    // that owns the raw-filesystem (.crc hygiene) rationale; this method
    // had kept a hand-rolled copy of it (r13 review)
    import scala.jdk.CollectionConverters._
    readControlJson(spark, constraintsPath)
      .map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)
  }

  def addConstraint(spark: SparkSession, name: String, sqlExpr: String): Unit =
    writeConstraints(spark, constraints(spark) + (name -> sqlExpr))

  def dropConstraint(spark: SparkSession, name: String): Unit =
    writeConstraints(spark, constraints(spark) - name)

  private def writeConstraints(spark: SparkSession,
      cs: Map[String, String]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    cs.toSeq.sortBy(_._1).foreach { case (n, e) => node.put(n, e) }
    AtomicOverwrite.publish(spark.sparkContext.hadoopConfiguration, constraintsPath,
      mapper.writeValueAsString(node))
  }

  /** Validate a freshly-written, still-unpublished generation against
    * the table's constraints by READING IT BACK (column-pruned to the
    * constraint columns): validating on disk rather than on the input
    * plan means the input executes exactly once (a streaming sink's
    * re-wrapped batch must not re-run its incremental plan) and what is
    * checked is literally what a reader would see. On violation the
    * generation is deleted and the commit never happens — constraint
    * enforcement and atomicity compose. */
  private def validateGen(spark: SparkSession, gen: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    val cs = constraints(spark)
    if (cs.isEmpty) return
    // a fileless generation (empty batch/delete-all) has nothing to
    // check — and schema inference over it would fail
    if (!hasDataFiles(spark, gen)) return
    // ANY failure from here on (violation, malformed constraint, parse
    // or analysis error) must clean up the unpublished generation —
    // nothing sweeps orphans later
    try {
      val raw = readGens(spark, Seq(GenRef(gen)))
      // A constraint referencing a column this generation lacks must be
      // evaluated under evolved-read semantics: such a column reads as
      // NULL everywhere, so the missing attributes are ADDED as NULL
      // literals and the constraint runs. "CHECK passes NULL" makes this
      // a vacuous pass ONLY for null-propagating expressions — `id IS
      // NOT NULL` over a missing `id` yields FALSE, and skipping it
      // would let a column-dropping append commit rows every reader sees
      // as violations. Only single-part names are materializable this
      // way (a NULL literal has no fields to extract); constraints over
      // missing STRUCT roots keep the documented vacuous pass.
      val cols = raw.columns.map(_.toLowerCase).toSet
      // one parse per constraint — refs are consulted several times below
      val refsByName: Map[String,
          Seq[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute]] =
        cs.map { case (n, sql) =>
          n -> spark.sessionState.sqlParser.parseExpression(sql).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a
          }.toSeq
        }
      def refs(n: String) = refsByName(n)
      def missingStructRoots(n: String): Seq[String] = refs(n).collect {
        case a if a.nameParts.size > 1 &&
            !cols.contains(a.nameParts.head.toLowerCase) => a.nameParts.head
      }.distinct
      def missingSimple(n: String): Seq[String] = refs(n).collect {
        case a if a.nameParts.size == 1 &&
            !cols.contains(a.nameParts.head.toLowerCase) => a.nameParts.head
      }.distinct
      // a constraint whose only missing references are STRUCT roots keeps
      // the documented vacuous pass (a NULL literal has no fields to
      // extract, so evolved-read evaluation is impossible). But MIXING a
      // missing struct root with a missing single-part column must not
      // silently skip the whole constraint — that would bypass the very
      // IS-NOT-NULL gate evolved-read evaluation exists for. Refuse:
      // safer than a vacuous pass, and the error names the gap.
      cs.keys.toSeq.sorted.foreach { n =>
        if (missingStructRoots(n).nonEmpty && missingSimple(n).nonEmpty)
          throw new IllegalStateException(
            s"CHECK constraint '$n' (${cs(n)}) mixes missing nested " +
              s"columns (${missingStructRoots(n).mkString(",")}) with " +
              s"missing top-level columns (${missingSimple(n).mkString(",")})" +
              " — cannot be validated under evolved-read semantics; " +
              s"commit to $root refused")
      }
      val names = cs.keys.toSeq.sorted.filter(n => missingStructRoots(n).isEmpty)
      if (names.isEmpty) return
      val missing = names.flatMap(missingSimple).distinct
      val gdf = missing.foldLeft(raw)((df, c) => df.withColumn(c, lit(null)))
      // one aggregate pass counts violations of every constraint at
      // once; CHECK passes NULL: a violation is coalesce(expr, true) =
      // false
      val aggs = names.map(n => sum(when(
        not(coalesce(expr(cs(n)), lit(true))), 1L).otherwise(0L)).as(n))
      val row = gdf.agg(aggs.head, aggs.tail: _*).head()
      val broken = names.map(n => n -> row.getAs[Long](n)).filter(_._2 > 0)
      if (broken.nonEmpty)
        throw new IllegalStateException(
          broken.map { case (n, c) =>
            s"CHECK constraint '$n' (${cs(n)}) violated by $c row(s)"
          }.mkString("; ") + s" — commit to $root aborted")
    } catch {
      case scala.util.control.NonFatal(t) =>
        hadoopFs(spark).delete(
          new org.apache.hadoop.fs.Path(s"$root/$gen"), true)
        throw t
    }
  }

  /** Merge-on-read UPSERT: target rows whose key equals a source row's
    * key are replaced by that source row; source rows matching nothing
    * insert. No target row is copied: the merge marks the positions of
    * the rows it replaces in deletion vectors, as [[delete]] does, and
    * writes the source as one new generation. Only data files that may
    * hold a key in scope are scanned for those rows — each key within the
    * source's [min, max], and, for a source of at most
    * [[SnapshotLake.BloomScopeCap]] distinct keys, one of its key tuples
    * — judged per file by [[mayMatch]], the read path's own envelope and
    * Bloom check; files without stats (older writers) are scanned
    * conservatively. The source's columns that the table already has are
    * first cast to the table's types ([[conform]]), so keys compare,
    * scope and are stored in the table's own type; a key over a collated
    * string column does not bound the scope.
    *
    * Contract: source keys should be unique (a duplicated source key
    * inserts duplicates, same as repeated appends); null source keys
    * never match a target row and insert as-is. Publication is
    * optimistic ([[publishMarks]]): a racing commit whose new files are
    * out of the merge's scope, and which left the files it marks as they
    * were, is rebased across; any other race aborts with
    * ConcurrentModificationException (cleaning up its generation and
    * deletion vectors) instead of silently dropping the winner's rows —
    * rerun to rebase.
    */
  def merge(source: DataFrame, keyCols: Seq[String]): Long =
    mergeMarked(source, keyCols, None, None)

  /** [[merge]] plus the optional streaming (queryId, batchId) marker in
    * the commit record — the same exactly-once handshake [[commitMarked]]
    * gives the append sink, extended to the MUTATING commit: a replayed
    * micro-batch upsert is detected by [[lastStreamBatchId]] >= its id
    * under the same query id and skipped whole by the sink
    * ([[graft.streaming.EventStreams.snaplakeUpsertSink]]). The marker
    * rides the one atomic commit-file claim, so "merged" and "recorded
    * as batch N" cannot come apart. */
  def mergeMarked(source: DataFrame, keyCols: Seq[String],
      batchId: Option[Long], queryId: Option[String]): Long = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val spark = source.sparkSession
    import org.apache.spark.sql.functions.{col, min, max}
    val base = latestVersion(spark).getOrElse(
      sys.error(s"merge into a never-committed lake: $root"))
    val gens = commitAt(spark, base).gens
    val snapSchema = schemaOf(spark, gens.map(_.dir))
    // the key collect, the marking scan and the write each read the
    // source: cache it so an expensive or non-deterministic source runs
    // ONCE and the rows written cannot disagree with the rows marked
    val src = conform(source, snapSchema).persist()
    try {
      // the merge's key scope, judged per file by the read path's own check
      // ([[mayMatch]]). One job, a task per partition of the cached source
      // (filling the cache), collects the distinct key tuples up to the cap.
      val srcKeys = src.select(keyCols.map(col): _*)
      val keyTypes = srcKeys.schema.map(_.dataType)
      val keys = srcKeys.queryExecution.toRdd.mapPartitions { rows =>
        val proj = UnsafeProjection.create(keyTypes.toArray)
        val seen = scala.collection.mutable.HashSet.empty[UnsafeRow]
        while (rows.hasNext && seen.size <= SnapshotLake.BloomScopeCap) seen += proj(rows.next()).copy()
        Iterator.single(seen.toArray)
      }.collect().flatten.distinct
      val fits = keys.length <= SnapshotLake.BloomScopeCap
      // Envelope part: per key `k >= min AND k <= max` of the source, from
      // the tuples when they fit the cap, else from a parallel agg. A key
      // with no non-null source value matches no target row (equi-join
      // semantics), so the scope is `false`: an empty or all-null-key
      // source marks nothing and the merge degrades to a plain append.
      val bounds: Seq[Option[(Literal, Literal)]] = if (fits) keyTypes.zipWithIndex.map { case (t, i) =>
        val vs = keys.filterNot(_.isNullAt(i)).map(_.get(i, t))
        lazy val o = TypeUtils.getInterpretedOrdering(t)
        if (vs.isEmpty) None else Some((Literal(vs.min(o), t), Literal(vs.max(o), t)))
      } else {
        val aggs = keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))
        val env = src.agg(aggs.head, aggs.tail: _*).collect()(0)
        keyTypes.indices.map(i => Option.when(!env.isNullAt(2 * i))((
          Literal.create(env.get(2 * i), keyTypes(i)), Literal.create(env.get(2 * i + 1), keyTypes(i)))))
      }
      // Conformed, a source key has its target column's type. A collated
      // string key still proves nothing from stored values: the join
      // compares it case-blind, the envelope orders bytes. Such a key,
      // and one the table does not have, is left out of the scope.
      val resolver = spark.sessionState.conf.resolver
      val keyAttrs: Seq[(AttributeReference, Int)] = keyCols.zipWithIndex.flatMap {
        case (k, i) =>
          snapSchema.fields.find(f => resolver(f.name, k))
            .filter(f => f.dataType match { case s: StringType => s == StringType; case _ => true })
            .map(f => (AttributeReference(f.name, f.dataType)(), i))
      }
      val envScope: Expression =
        if (bounds.exists(_.isEmpty)) Literal.FalseLiteral
        else keyAttrs.map { case (a, i) =>
          val (lo, hi) = bounds(i).get
          And(GreaterThanOrEqual(a, lo), LessThanOrEqual(a, hi)): Expression
        }.reduceOption(And).getOrElse(Literal.TrueLiteral)
      // Bloom part, for tuples within the cap: the disjunction of their
      // equalities lets a file whose Blooms reject every tuple go unscanned
      // even when its envelope intersects (the unsorted layout, where every
      // envelope spans the key domain). Tuples holding NULL match nothing.
      // Every tuple lies in the envelope, so this check is the stricter one.
      val inKeyScope = mayMatch(spark, if (keyAttrs.isEmpty || !fits) Nil else
        Seq(keys.toSeq.filterNot(r => keyCols.indices.exists(r.isNullAt))
          .map(r => keyAttrs.map { case (a, i) =>
            EqualTo(a, Literal(r.get(i, keyTypes(i)), keyTypes(i))): Expression }.reduce(And))
          .reduceOption(Or).getOrElse(Literal.FalseLiteral)))
      val inEnvelope = mayMatch(spark, Seq(envScope))
      val conf = spark.sparkContext.hadoopConfiguration
      def inScope(gen: String): String => Boolean = {
        val envelope = inEnvelope(gen)
        if (!GenBlooms.load(conf, s"$root/$gen").exists(_.nonEmpty)) envelope
        else {
          lazy val inKeys = inKeyScope(gen)
          file => envelope(file) && inKeys(file)
        }
      }
      val affected = narrow(spark, gens)(inScope)
      // the files in scope read under the SNAPSHOT's full schema (missing
      // columns null-filled): under schema evolution they can predate a
      // key column entirely, and the key join below would fail analysis
      // on an unresolved column — null-filled, such rows simply match no
      // source key, which is the correct semantics
      val marks = if (affected.isEmpty) Map.empty[String, RoaringBitmap] else {
        val target = readGens(spark, affected, snapSchema)
        DeletionVectors.mark(target.join(srcKeys,
          keyCols.map(k => target(k) === srcKeys(k)).reduce(_ && _), "left_semi"))
      }
      val gen = newGenName()
      // validated like any ingest: a merge source can violate
      writeGen(spark, src, gen)
      // rebase-across check = the scoping check (envelope AND bloom
      // tiers): a racing commit's new file is safe to carry forward iff
      // it provably holds none of this merge's keys
      publishMarks(spark, base, affected, marks, inScope, "merge", Some(gen), batchId, queryId)
    } finally src.unpersist()
  }

  /** DELETE of rows matching `predicate`, by deletion vector: no data
    * file is copied. The data files that [[mayMatch]] — the read path's
    * own envelope and Bloom check — keeps in scope are scanned once for
    * the positions of their matching rows ([[DeletionVectors.mark]]), and
    * the commit gives each file with a match a deletion vector
    * ([[publishMarks]]). Every read of the table skips the marked rows
    * ([[relation]]); a compaction or optimize that rewrites the file
    * drops them and its vector. Returns the current version unchanged
    * when no row matches, including a predicate that folds to `false` (a
    * free no-op). Same optimistic-abort publication contract as merge: a
    * racing commit that changed the vector of, or rewrote, a file this
    * delete marks aborts it. */
  def delete(spark: SparkSession, predicate: org.apache.spark.sql.Column): Long = {
    val base = latestVersion(spark).getOrElse(
      sys.error(s"delete from a never-committed lake: $root"))
    val gens = commitAt(spark, base).gens
    val schema = schemaOf(spark, gens.map(_.dir))
    // resolve the predicate against the snapshot's schema so the check
    // sees bound AttributeReferences — from the OPTIMIZED plan, where
    // implicit casts on literals have been constant-folded (the analyzed
    // plan's Cast(lit) wrappers would read as "unknown shape" and defeat
    // scoping). A predicate the optimizer eliminates leaves no Filter
    // node: folded to false it empties the plan and matches nothing,
    // folded to true it matches everything. The frame is a relation over
    // no file, so nothing is listed; an empty LocalRelation would not do,
    // as the optimizer folds any filter over it to an empty relation.
    val scope = readGens(spark, Nil, schema).filter(predicate)
        .queryExecution.optimizedPlan match {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if r.data.isEmpty => Seq(Literal.FalseLiteral)
      case p => p.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.toSeq
    }
    val inScope = mayMatch(spark, scope)
    val affected = narrow(spark, gens)(inScope)
    if (affected.isEmpty) return base
    // SQL DELETE removes rows where the predicate is TRUE; NULL keeps
    // the row. Read under the snapshot's full schema (missing columns
    // null-filled): under schema evolution the affected subset can
    // predate a predicate column; null-filled, the predicate evaluates
    // NULL there and the rows are kept
    val marks = DeletionVectors.mark(readGens(spark, affected, schema).filter(
      org.apache.spark.sql.functions.coalesce(predicate, org.apache.spark.sql.functions.lit(false))))
    if (marks.isEmpty) return base
    publishMarks(spark, base, affected, marks, inScope, "delete")
  }

  /** Publish a mutation of version `base` that removes the rows `marks`
    * holds (row positions by [[DeletionVectors.key]]) from the files of
    * `affected` and adds generation `added`, if any (a merge's source).
    * Each file with a mark gets a deletion vector: its earlier one
    * unioned with the new marks, all stored in one new `_dv/` file. A
    * file whose vector covers every row (its `_stats.json` row count)
    * leaves the manifest instead; if no file is left, the generations
    * stay reading none, so the table keeps its schema. The files with a
    * mark are what the mutation consumed ([[publish]]'s conflict check,
    * with `mayOverlapScope` for racing commits' new files); an abort
    * removes the `_dv/` file and `added`. The commit records the files
    * and bytes added, removed and carried, the rows removed and the
    * vectors changed ([[Commit.Metrics]]). */
  private def publishMarks(spark: SparkSession, base: Long, affected: Seq[GenRef],
      marks: Map[String, RoaringBitmap], mayOverlapScope: String => String => Boolean,
      op: String, added: Option[String] = None, batchId: Option[Long] = None,
      queryId: Option[String] = None): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val consumed = narrow(spark, affected)(d => f => marks.contains(DeletionVectors.key(d, f)))
    val vectors = for (g <- consumed; (f, _) <- liveFiles(spark, g)) yield (g.dir, f, RoaringBitmap.or(
      marks(DeletionVectors.key(g.dir, f)), vectorOf(spark, g.dir, f, g.dvs.get(f))))
    val (emptied, marked) = vectors.partition { case (d, f, all) =>
      GenStats.load(conf, s"$root/$d").flatMap(_.get(f)).exists(_.rows == all.getLongCardinality)
    }
    val gone = emptied.map(e => (e._1, e._2)).toSet
    val dvFile = if (marked.isEmpty) None else Some(DeletionVectors.write(hadoopFs(spark), root,
      marked.map { case (d, f, all) => DeletionVectors.key(d, f) -> all }.toMap))
    val changed = marked.groupBy(_._1).map { case (d, files) =>
      d -> files.map { case (_, f, all) => f -> Dv(dvFile.get, all.getLongCardinality) }.toMap
    }
    val fresh = added.map(GenRef(_)).toSeq
    val (addedN, addedB) = filesAndBytes(spark, fresh)
    val (removedN, removedB) = filesAndBytes(spark, narrow(spark, consumed)(d => f => gone((d, f))))
    val rows = marks.values.map(_.getLongCardinality).sum
    publish(spark, base, consumed, op, added.orElse(dvFile).getOrElse(newGenName()),
      mayOverlapScope,
      discard = () => {
        dvFile.foreach(f => rawFs(spark).delete(dvPath(f), false))
        added.foreach(g => hadoopFs(spark).delete(new org.apache.hadoop.fs.Path(s"$root/$g"), true))
      },
      manifest = hs => (narrow(spark, hs)(d => f => !gone((d, f))).map(g =>
        changed.get(g.dir).fold(g)(c => g.copy(dvs = g.dvs ++ c))) match {
        case Nil => hs.map(g => GenRef(g.dir, Some(Nil)))
        case kept => kept
      }) ++ fresh,
      metrics = m => {
        val (n, b) = filesAndBytes(spark, m.dropRight(fresh.size))
        Commit.Metrics(addedN, addedB, removedN, removedB, n, b, Some(rows), Some(marked.size.toLong))
      },
      batchId = batchId, queryId = queryId)
  }

  /** The rows deletion vector `dv`, if any, marks of data file `file` of `dir`. */
  private def vectorOf(spark: SparkSession, dir: String, file: String,
      dv: Option[Dv]): RoaringBitmap = dv.fold(new RoaringBitmap())(v =>
    DeletionVectors.bitmap(DeletionVectors.load(hadoopFs(spark), root, dir, file, v)))

  /** For generation `gen`: could its data file `file` hold a row passing
    * every one of `filters`? [[graft.sources.FilePruning]] — the read
    * path's own per-file check, so merge, delete and rebase scoping
    * cannot drift from read pruning. A generation's sidecars load once,
    * its Bloom sidecar only when the Bloom tier can prune; a file with
    * neither stats nor Bloom stays in scope unless a filter is `false`. */
  private def mayMatch(spark: SparkSession,
      filters: Seq[Expression]): String => String => Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prune = new graft.sources.FilePruning(filters)
    gen => {
      val stats = GenStats.load(conf, s"$root/$gen").getOrElse(Map.empty)
      lazy val blooms = GenBlooms.load(conf, s"$root/$gen").getOrElse(Map.empty)
      file => prune.mayMatch(stats.get(file), blooms.get(file))
    }
  }

  /** OPTIMIZE: rewrite the whole current snapshot as ONE clustered
    * generation — range-partitioned and sorted on `sortCols` into
    * `numFiles` files — and commit it. Clustering is what turns the
    * manifest stats from bookkeeping into skipping: after appends land
    * rows in arrival order, every file's envelope spans the whole key
    * domain and nothing prunes; after optimize, envelopes are disjoint
    * and a range predicate schedules only its slice. Also the
    * small-file compaction pass for a stream-written table (one commit
    * per micro-batch accumulates O(batches) generations; optimize
    * collapses them and a following [[vacuum]] reclaims the space).
    *
    * The table content is unchanged — but a commit racing into the
    * publish window would be erased by the full rewrite, so optimize
    * carries the same abort contract as [[merge]]. */
  def optimize(spark: SparkSession, numFiles: Int,
      sortCols: Seq[org.apache.spark.sql.Column]): Long = {
    val base = latestVersion(spark).getOrElse(
      sys.error(s"optimize of a never-committed lake: $root"))
    val snap = readAt(spark, base)
    val clustered =
      if (sortCols.isEmpty) snap.repartition(numFiles)
      else snap.repartitionByRange(numFiles, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
    publishRewrite(spark, base, commitAt(spark, base).gens, clustered, "optimize")
  }

  /** [[optimize]] on the z-order curve of `keys`, numeric columns
    * ([[graft.ops.Layout.zOrderClusterN]]; keys.size·bitsPerKey ≤ 63):
    * every rewritten file gets a tight envelope on EVERY key, so
    * single-column predicates on any of them prune — the OPTIMIZE ZORDER
    * maintenance pass. */
  def optimizeZOrder(spark: SparkSession,
      keys: Seq[org.apache.spark.sql.Column],
      numFiles: Int, bitsPerKey: Int = 21): Long = {
    val base = latestVersion(spark).getOrElse(
      sys.error(s"optimize of a never-committed lake: $root"))
    val snap = readAt(spark, base)
    publishRewrite(spark, base, commitAt(spark, base).gens,
      graft.ops.Layout.zOrderClusterN(snap, keys, numFiles, bitsPerKey), "zorder")
  }

  /** INCREMENTAL compaction: collapse only generations whose live data
    * total under `maxBytes` into one sorted generation, carrying larger
    * ones forward by reference. A generation's live data is the bytes of
    * the files the manifest reads of it, each scaled by the share of its
    * rows no deletion vector marks (`_stats.json` row counts): a
    * generation whose vectors mark most of its rows folds, and the fold
    * drops them. This is the steady-state maintenance loop
    * for a stream-written table — each micro-batch commit adds one
    * small generation, and periodic compactSmall folds the accumulated
    * tail WITHOUT rewriting the big compacted body the way a full
    * [[optimize]] would (on a 100 TB table, rewriting everything per
    * maintenance pass is the difference between minutes and a day).
    * Returns the current version unchanged while fewer than
    * `max(2, minSmallGens)` small generations exist (the auto tier
    * passes its threshold through `minSmallGens`). Same abort-on-race
    * contract as optimize, and no changefeed row. */
  def compactSmall(spark: SparkSession, maxBytes: Long,
      sortCols: Seq[org.apache.spark.sql.Column],
      minSmallGens: Int = 2): Long = {
    val base = latestVersion(spark).getOrElse(
      sys.error(s"compact of a never-committed lake: $root"))
    // sizes come from the per-process listing memo: generations are
    // immutable, so with auto-compact checking per commit the steady
    // state lists only the generations the last commit added, not the
    // whole (ever-growing) big body
    val conf = spark.sparkContext.hadoopConfiguration
    val sizes = commitAt(spark, base).gens.map { g =>
      lazy val stats = GenStats.load(conf, s"$root/${g.dir}").getOrElse(Map.empty)
      g -> liveFiles(spark, g).map { case (f, bytes) =>
        g.dvs.get(f).flatMap(dv => stats.get(f).filter(_.rows > 0)
          .map(st => (bytes.toDouble * (st.rows - dv.rows) / st.rows).toLong)).getOrElse(bytes)
      }.sum
    }
    val small = sizes.filter(_._2 < maxBytes)
    if (small.size < math.max(2, minSmallGens)) return base
    val tailBytes = small.map(_._2).sum
    // target file count keeps outputs at ~maxBytes so a later pass sees
    // them as "big" and stops re-rewriting the same rows
    val numFiles = math.max(1L, (tailBytes + maxBytes - 1) / maxBytes).toInt
    val tail = readGens(spark, small.map(_._1))
    val clustered =
      if (sortCols.isEmpty) tail.coalesce(numFiles)
      else tail.repartitionByRange(numFiles, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
    publishRewrite(spark, base, small.map(_._1), clustered, "compact")
  }

  /** Write `rewritten` — the rows of the `consumed` files in a new
    * layout — as a new generation and publish the base manifest minus
    * the `consumed` files plus the new generation. A layout rewrite
    * claims nothing about row content, so racing appends always carry
    * forward (a racing commit that changed a consumed file still aborts
    * it), and the changefeed shows no row for it ([[walkChanges]]). The
    * commit records the files and bytes added, removed and carried
    * ([[Commit.Metrics]]). */
  private def publishRewrite(spark: SparkSession, base: Long,
      consumed: Seq[GenRef], rewritten: DataFrame, op: String): Long = {
    val gen = newGenName()
    writeGen(spark, rewritten, gen)
    val consumedFiles = fileSet(spark, consumed).map(f => (f._1, f._2))
    // a consumed generation without data files (an empty batch's) leaves
    // the manifest too
    val emptied = consumed.filter(liveFiles(spark, _).isEmpty).map(_.dir).toSet
    val (addedN, addedB) = filesAndBytes(spark, Seq(GenRef(gen)))
    val (removedN, removedB) = filesAndBytes(spark, consumed)
    publish(spark, base, consumed, op, gen, mayOverlapScope = _ => _ => false,
      discard = () => hadoopFs(spark).delete(new org.apache.hadoop.fs.Path(s"$root/$gen"), true),
      manifest = hs => narrow(spark, hs)(d => f => !consumedFiles((d, f)))
        .filterNot(g => emptied(g.dir)) :+ GenRef(gen),
      metrics = m => {
        val (carriedN, carriedB) = filesAndBytes(spark, m.init)
        Commit.Metrics(addedN, addedB, removedN, removedB, carriedN, carriedB)
      })
  }

  /** Claim the next version for a mutation of version `base` that read
    * the `consumed` files: its record is `manifest` of the head's
    * manifest, with `metrics` of that manifest. Loses a race → REBASE
    * when the winner's commits are provably disjoint from this
    * mutation's scope, abort otherwise (`discard` of what the mutation
    * wrote, ConcurrentModificationException) — the Delta-style conflict
    * check, at file granularity:
    *
    *  - every file this mutation CONSUMED must still be read by the new
    *    head, under the same deletion vector — a winner that rewrote,
    *    dropped or deleted rows of one has invalidated this mutation;
    *  - every file the winners ADDED, or un-marked rows of (a restore
    *    to a version before a delete shrinks a vector), must satisfy
    *    `!mayOverlapScope(gen)(file)` — for merge and delete that is
    *    [[mayMatch]] over the mutation's scope, the SAME check that
    *    scoped it (and prunes reads), so "carried forward untouched" and
    *    "safe to rebase across" cannot drift.
    *
    * A valid rebase re-claims with the head's manifest: winners'
    * disjoint work is carried forward BY REFERENCE, and both writers
    * land — without this, every concurrent pair of disjoint merges
    * serializes through abort and rerun, which at 100 TB (many
    * independent upsert streams over disjoint key ranges) serializes the
    * whole write path. Bounded retries. `token` names the writer's temp
    * commit file. */
  private def publish(spark: SparkSession, base: Long, consumed: Seq[GenRef],
      op: String, token: String, mayOverlapScope: String => String => Boolean,
      discard: () => Unit, manifest: Seq[GenRef] => Seq[GenRef],
      metrics: Seq[GenRef] => Commit.Metrics,
      batchId: Option[Long] = None, queryId: Option[String] = None): Long = {
    onBeforePublish()
    def abort(detail: String): Nothing = {
      discard()
      throw new java.util.ConcurrentModificationException(
        s"lake $root advanced past version $base during the rewrite " +
          s"($detail); rerun the merge/delete to rebase on the new snapshot")
    }
    val baseFiles = fileSet(spark, commitAt(spark, base).gens)
    val consumedFiles = fileSet(spark, consumed)
    var head = base
    var headGens = commitAt(spark, base).gens
    var attempts = 0
    while (true) {
      val gens = manifest(headGens)
      if (claimVersion(spark, token, Commit.of(head + 1, op, gens, batchId, queryId,
          Some(metrics(gens))))) {
        // mutations can also grow the small tail — the auto tier covers
        // EVERY publishing path, not just appends (the reentrancy guard
        // no-ops this inside a fold's own publish)
        maybeAutoCompact(spark)
        return head + 1
      }
      attempts += 1
      if (attempts >= 5) abort("rebase retries exhausted")
      head = latestVersion(spark).getOrElse(0L)
      headGens = commitAt(spark, head).gens
      val headFiles = fileSet(spark, headGens)
      if (!consumedFiles.subsetOf(headFiles))
        abort("a racing commit rewrote or deleted from a file this mutation read")
      // a file whose deletion vector only gained marks added no row; one
      // whose vector lost a mark (a restore) counts as added
      val baseDvs = baseFiles.map(f => (f._1, f._2) -> f._3).toMap
      val added = headFiles.collect { case (d, f, dv) if !baseDvs.get((d, f)).exists(b =>
        b == dv || vectorOf(spark, d, f, dv).contains(vectorOf(spark, d, f, b))) => (d, f) }
      if (added.groupBy(_._1).exists { case (d, fs) =>
          val overlaps = mayOverlapScope(d)
          fs.exists(f => overlaps(f._2))
        })
        abort("a racing commit added rows inside this mutation's scope")
    }
    sys.error("unreachable")
  }

  /** RESTORE: make the table's next version identical to `version` by
    * publishing a manifest that references that version's generations —
    * a metadata-only commit, no data moves (generations are immutable,
    * so re-referencing them is free). History is preserved: the bad
    * versions stay time-travelable until vacuumed, and because the new
    * head references the restored generations (and the same files of
    * each), vacuum keeps them live.
    * The changefeed across a restore surfaces as the file-level
    * restatement the manifest diff implies. Optimistic retry like any
    * append: losing the race re-reads the target version (unchanged)
    * and re-claims the next number. */
  def restore(spark: SparkSession, version: Long): Long = {
    val fs = hadoopFs(spark)
    val gens = commitAt(spark, version).gens // throws if vacuumed
    retryClaim(spark) { next =>
      // restore uniquely re-references generations the current head may
      // NOT reference, which vacuum could be deleting concurrently —
      // the one writer/maintenance race the generation-immutability
      // protocol doesn't cover. Re-checking just before each claim
      // shrinks the window to the claim itself; like other table
      // formats, restore and vacuum are a single-maintainer pair and
      // must not run concurrently.
      gens.foreach { g =>
        require(fs.exists(new org.apache.hadoop.fs.Path(s"$root/${g.dir}")),
          s"generation ${g.dir} of version $version was vacuumed mid-restore")
        g.dvs.values.foreach(dv => require(fs.exists(dvPath(dv.file)),
          s"deletion vector ${dv.file} of version $version was vacuumed mid-restore"))
      }
      Commit.of(next, "restore", gens)
    }
  }

  /** The optimistic claim → retry loop shared by every versioned
    * publication that re-bases on the winner: `commitFor(next)`
    * recomputes the record against the re-read latest version, and a
    * lost claim ([[claimVersion]]) goes again. */
  private def retryClaim(spark: SparkSession)(commitFor: Long => Commit): Long = {
    val writer = newGenName()
    var published = -1L
    while (published < 0) {
      val c = commitFor(latestVersion(spark).getOrElse(0L) + 1)
      if (claimVersion(spark, writer, c)) published = c.version
    }
    published
  }

  /** Row-level changes between two committed versions: what v2 inserted
    * (rows in v2 not in v1) and deleted (the reverse), with EXCEPT ALL
    * multiplicity — an update surfaces as its delete+insert pair, and a
    * row duplicated twice in v2 but once in v1 diffs as one insert.
    *
    * This is the AUDIT form of change data (compare any two retained
    * versions, at the cost of shuffling both snapshots on all columns);
    * the INCREMENTAL form — following appends as they commit, reading
    * only each commit's delta — is the streaming source
    * ([[graft.sources.SnapLakeStreamSource]]). At 100 TB you tail the
    * stream for the changefeed and reach for diff to reconcile or
    * repair, same division of labor as a table format's CDF vs a
    * snapshot compare. */
  def diff(spark: SparkSession, v1: Long, v2: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // align both snapshots on the UNION schema (null-filled) before
    // exceptAll: appends may evolve the schema, and exceptAll demands
    // identical column counts. Null-filling is also the honest diff
    // semantics: a pre-evolution row equals its post-evolution
    // null-extended self.
    val (va, vb) = (readAt(spark, v1), readAt(spark, v2))
    val (sa, sb) = (va.schema, vb.schema)
    val names = (sa.fieldNames ++
      sb.fieldNames.filterNot(sa.fieldNames.contains)).toSeq
    def aligned(df: DataFrame): DataFrame = {
      val have = df.schema.fieldNames.toSet
      val all = names.map { n =>
        if (have.contains(n)) col(n)
        else {
          val f = sb.fields.find(_.name == n)
            .getOrElse(sa.fields.find(_.name == n).get)
          lit(null).cast(f.dataType).as(n)
        }
      }
      df.select(all: _*)
    }
    val a = aligned(va)
    val b = aligned(vb)
    b.exceptAll(a).withColumn("op", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("op", lit("delete")))
  }

  /** Row-level CHANGEFEED for versions (fromV, toV]: every change row
    * tagged `_change_type` (insert/delete; an update is its pair) and
    * `_commit_version`, derived per version from its manifest delta
    * ([[walkChanges]]):
    *
    *  - APPEND commits emit their new generations' rows as inserts —
    *    pure manifest arithmetic, no extra storage, no diffing. DELETE
    *    commits emit, as deletes, the rows their new deletion vectors
    *    mark that the old ones did not — a read of those positions only.
    *    A MERGE is both: the rows its new vectors mark are the replaced
    *    rows' pre-images, and its new generation holds the source rows —
    *    a read sized by the rows changed, never by the table.
    *  - COMPACT, OPTIMIZE and ZORDER commits emit nothing: layout
    *    changed, content did not. A merge committed before merges marked
    *    rows reads the `_cdf/` it materialized.
    *  - Blind OVERWRITE commits have no change knowledge; they surface
    *    as the file-level restatement the manifest implies (all previous
    *    rows delete, all new rows insert) — the honest semantics of a
    *    table rewritten wholesale.
    *
    * Contrast [[diff]]: that SHUFFLES both snapshots to reconstruct
    * changes after the fact (audit tool); the changefeed only ever reads
    * change-sized data (pipeline tool). Vacuumed manifests inside the
    * range fail fast, like any table-format CDF read past retention. */
  def changesBetween(spark: SparkSession, fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromV < toV, s"need fromV < toV, got ($fromV, $toV]")
    // the recorded schema: nothing is listed until a version's frame is
    val schema = schemaOf(spark, dirsAt(spark, toV))
    walkChanges(spark, fromV, toV, schema, r => GraftBridge.ofRows(spark, LogicalRelation(r)))
      .reduceOption(_.unionByName(_)).getOrElse(readGens(spark, Nil, schema)
        .withColumn(SnapshotLake.ChangeTypeCol, lit(""))
        .withColumn(SnapshotLake.CommitVersionCol, lit(toV)))
  }

  /** The changefeed's per-version walk, shared by the batch reader
    * ([[changesBetween]]) and the streaming source's `readChangeFeed`
    * mode so the tier logic cannot drift between them. For each version
    * in (fromV, toV] it takes the rows the version reads that its
    * predecessor did not as inserts, the reverse as deletes — none for a
    * layout rewrite (compact, optimize, zorder), and an older rewrite
    * commit's materialized `_cdf/` instead — and leaves frame
    * construction (batch vs streaming frames) to `frame`, over
    * [[relation]]s. A row is read by one version and not the other when
    * its file is, or when the other version's deletion vector of the
    * file marks it and this one's does not: a merge's or a delete's
    * removed rows are the marks its new vectors add. Each commit record
    * is read once per walk ([[commitAt]]); a vacuumed one inside the
    * range fails fast. Every
    * frame has the `schema` columns, then [[SnapshotLake.ChangeTypeCol]]
    * and [[SnapshotLake.CommitVersionCol]]. */
  private[graft] def walkChanges(spark: SparkSession, fromV: Long, toV: Long,
      schema: StructType, frame: HadoopFsRelation => DataFrame): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{col, lit}
    val fs = hadoopFs(spark)
    val withChange = schema.add(SnapshotLake.ChangeTypeCol, StringType)
    // the rows `a` reads that `b` does not: the files `b` does not read,
    // and the rows `b`'s deletion vector marks of a file both read
    // (as [[relation]]'s `only`)
    def minus(a: Seq[GenRef], b: Seq[GenRef]): (Seq[GenRef], Map[String, RoaringBitmap]) = {
      val byDir = b.map(g => g.dir -> g).toMap
      val parts = a.flatMap { g =>
        byDir.get(g.dir) match {
          case None => Some((g, Map.empty[String, RoaringBitmap]))
          case Some(o) if o == g => None
          case Some(o) =>
            val have = liveFiles(spark, o).map(_._1).toSet
            val (both, extra) = liveFiles(spark, g).map(_._1).partition(have)
            val only = both.filter(f => g.dvs.get(f) != o.dvs.get(f)).flatMap { f =>
              val rows = RoaringBitmap.andNot(vectorOf(spark, o.dir, f, o.dvs.get(f)),
                vectorOf(spark, g.dir, f, g.dvs.get(f)))
              if (rows.isEmpty) None else Some(f -> rows)
            }
            if (extra.isEmpty && only.isEmpty) None
            else Some((subset(g, extra ++ only.map(_._1)),
              only.map { case (f, rows) => DeletionVectors.key(g.dir, f) -> rows }.toMap))
        }
      }
      (parts.map(_._1), parts.flatMap(_._2).toMap)
    }
    ((fromV + 1) to toV).flatMap { v =>
      // version 0 is the empty pre-table
      val prev = if (v == 1) Nil else commitAt(spark, v - 1).gens
      val commit = commitAt(spark, v)
      val cur = commit.gens
      val newDirs = commit.dirs.filterNot(prev.map(_.dir).toSet)
      def rows(delta: (Seq[GenRef], Map[String, RoaringBitmap]), change: String) =
        if (delta._1.isEmpty) None else Some(frame(relation(spark, delta._1, schema, delta._2))
          .withColumn(SnapshotLake.ChangeTypeCol, lit(change)))
      val changes = (commit.op, newDirs) match {
        case ("compact" | "optimize" | "zorder", _) => Nil
        // an older merge's materialized changes, read only under its own
        // commit: a restore re-referencing that generation restates
        case (_, Seq(g)) if commit.rewrite && fs.exists(
            new org.apache.hadoop.fs.Path(s"$root/$g/${SnapshotLake.CdfDirName}")) =>
          Seq(frame(relation(spark, Seq(GenRef(s"$g/${SnapshotLake.CdfDirName}")), withChange)))
        case _ => rows(minus(cur, prev), "insert").toSeq ++
          rows(minus(prev.sortBy(_.dir), cur), "delete")
      }
      changes.map(_.select(withChange.fieldNames.map(col).toSeq: _*)
          .withColumn(SnapshotLake.CommitVersionCol, lit(v)))
    }
  }

  /** Drop generation directories not referenced by the newest
    * `retainLast` commits, then drop the older commit files — bounded
    * time travel, like a table format's VACUUM/expire-snapshots. A
    * directory stays while any retained version reads any of its files;
    * its data files that only dropped versions read go, and so do the
    * `_dv/` files only dropped versions name. Readers of vacuumed
    * versions fail fast on their next listing. */
  def vacuum(spark: SparkSession, retainLast: Int): Unit = {
    require(retainLast >= 1, "must retain at least the latest snapshot")
    val fs = hadoopFs(spark)
    val all = versions(spark)
    val (drop, keep) = all.splitAt(math.max(0, all.size - retainLast))
    vacuumSplit(spark, fs, drop, keep)
  }

  /** [[vacuum]] by AGE: drop versions whose commit published before
    * `cutoffMillis` (the commit file's mtime — same clock
    * [[versionAt]] travels by, so "vacuum older than X" and
    * "timestampAsOf X" stay consistent). The newest version always
    * survives regardless of age: a table never vacuums itself empty. */
  def vacuumOlderThan(spark: SparkSession, cutoffMillis: Long): Unit = {
    val fs = hadoopFs(spark)
    val all = versions(spark)
    if (all.isEmpty) return
    val old = all.dropRight(1).filter(publishedAt(spark, _) < cutoffMillis)
    // age-expired versions must form a prefix: a young commit below an
    // old one would leave a manifest hole readers can't distinguish
    // from corruption, so stop at the first survivor
    val drop = all.takeWhile(old.contains)
    vacuumSplit(spark, fs, drop, all.drop(drop.size))
  }

  private def vacuumSplit(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      drop: Seq[Long], keep: Seq[Long]): Unit = {
    if (drop.nonEmpty) {
      val kept = keep.flatMap(v => commitAt(spark, v).gens)
      val dropped = drop.flatMap(v => commitAt(spark, v).gens)
      val live = kept.map(_.dir).toSet
      // delete only generations the DROPPED commits reference and no kept
      // commit does — never sweep unreferenced gen dirs wholesale: an
      // unreferenced dir may be a concurrent committer's in-flight
      // generation that simply has not published its commit file yet.
      // The same rule holds for data files and deletion vectors.
      val dead = dropped.map(_.dir).toSet -- live
      def names(gens: Seq[GenRef]) = fileSet(spark, gens).map(f => (f._1, f._2))
      val deadFiles = names(dropped.filter(g => live(g.dir))) -- names(kept)
      def vectors(gens: Seq[GenRef]) = gens.flatMap(_.dvs.values.map(_.file)).toSet
      val deadDvs = vectors(dropped) -- vectors(kept)
      // commit files BEFORE data: a crash between the two loops then
      // leaves only orphaned (unreferenced, never-swept) gen dirs — the
      // class's documented harmless state. The reverse order would leave
      // listed commits whose data is gone, so readAt(v) passes its
      // commit-exists require and then fails at evaluation (or silently
      // reads a partial snapshot if some of v's dirs survived).
      drop.foreach(v => fs.delete(commitPath(v), false))
      dead.foreach(d => fs.delete(
        new org.apache.hadoop.fs.Path(s"$root/$d"), true))
      deadFiles.foreach { case (d, f) =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$root/$d/$f"), false)
      }
      deadFiles.map(_._1).foreach(d => SnapshotLake.genFiles.remove((root, d)))
      deadDvs.foreach(f => rawFs(spark).delete(dvPath(f), false))
    }
  }

  private def dvPath(file: String) =
    new org.apache.hadoop.fs.Path(s"$root/${DeletionVectors.DirName}/$file")

  /** Build `_blooms.json` bloom sidecars for `cols` in every generation
    * of the LATEST snapshot that lacks one — the opt-in point-lookup
    * skipping tier ([[GenBlooms]]): min/max envelopes cannot prune
    * `key = x` on a high-cardinality unsorted key (every file's
    * envelope spans the domain), a bloom prunes it to zero files.
    * Costs one columnar scan per uncovered generation; generations are
    * immutable, so a sidecar never goes stale and incremental calls
    * only touch generations newer appends created. Sizing: ~10 bits per
    * row of each file, capped at ~10·`expectedNdvPerFile` bits per
    * (file, column), for ~1% false positives ([[GenBlooms.sized]]) — a
    * false positive only costs an extra file read, never correctness. */
  def computeBlooms(spark: SparkSession, cols: Seq[String],
      expectedNdvPerFile: Int = 100000): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataGenPaths(spark).filter(GenBlooms.load(conf, _).isEmpty)
      .foreach(GenBlooms.write(spark, _, cols, expectedNdvPerFile))
  }

  /** Backfill `_stats.json` for every generation of the LATEST snapshot
    * whose sidecar is absent or format-stale (pre-v2 sidecars read as
    * absent under the [[GenStats.FormatVersion]] gate) — the stats
    * counterpart of [[computeBlooms]], recovering envelope pruning on
    * historical generations after an upgrade without rewriting any
    * data. Pure footer I/O: min/max/null-count already live in the
    * parquet footers, so cost is a few KB of metadata per file. */
  def computeStats(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataGenPaths(spark).filter(GenStats.load(conf, _).isEmpty)
      .foreach(GenStats.write(conf, _))
  }

  /** Paths of the latest snapshot's generations that hold data files —
    * the walk both backfills take. */
  private def dataGenPaths(spark: SparkSession): Seq[String] =
    latestVersion(spark).toSeq.flatMap(dirsAt(spark, _))
      .filter(hasDataFiles(spark, _)).map(gen => s"$root/$gen")

  /** Does generation `gen` hold any data file? */
  private def hasDataFiles(spark: SparkSession, gen: String): Boolean =
    GenStats.dataFiles(hadoopFs(spark), new org.apache.hadoop.fs.Path(s"$root/$gen")).nonEmpty

  /** Sweep ORPHANED generations: `gen-*` directories no surviving commit
    * references AND whose mtime is before the ABSOLUTE instant
    * `cutoffMillis` (epoch millis — the same clock and convention as
    * [[vacuumOlderThan]]; pass `System.currentTimeMillis() - retention`,
    * NEVER a bare retention duration, which would silently sweep
    * nothing — and never a raw `currentTimeMillis()`, which would sweep
    * a concurrent writer's seconds-old unpublished generation).
    * [[vacuum]] deliberately deletes only generations the dropped
    * commits referenced, so a crash between a data write and its commit
    * claim (or a failed _stats publish) strands a directory
    * forever — an unbounded storage leak on a long-lived table. The age
    * guard (directory mtime vs a cutoff a sane retention puts hours in
    * the past) is what keeps this safe against the race vacuum's
    * comment warns about: an in-flight writer's unpublished generation
    * is by construction younger than any sane retention horizon, while
    * a crash orphan only ages. `_dv/` files no surviving commit names
    * are swept by the same rule (a delete that crashed before its claim).
    * Same single-maintainer contract as vacuum/restore. */
  def vacuumOrphans(spark: SparkSession, cutoffMillis: Long): Unit = {
    val fs = hadoopFs(spark)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(rootPath)) return
    val gens = versions(spark).flatMap(v => commitAt(spark, v).gens)
    val live = gens.map(_.dir).toSet
    fs.listStatus(rootPath).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("gen-") && !live.contains(name)
          && st.getModificationTime < cutoffMillis)
        fs.delete(st.getPath, true)
    }
    val liveDvs = gens.flatMap(_.dvs.values.map(_.file)).toSet
    val dvDir = new org.apache.hadoop.fs.Path(s"$root/${DeletionVectors.DirName}")
    if (fs.exists(dvDir)) fs.listStatus(dvDir).foreach { st =>
      if (!liveDvs(st.getPath.getName) && st.getModificationTime < cutoffMillis)
        rawFs(spark).delete(st.getPath, false)
    }
  }
}
