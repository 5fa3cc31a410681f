package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.ingest.SnapshotLake

/** [[SnapshotLake]] as a first-class Spark data source:
  *
  * {{{
  *   df.write.format("snaplake").mode("overwrite").save(root)   // commit v1
  *   df2.write.format("snaplake").mode("append").save(root)     // commit v2
  *   spark.read.format("snaplake").load(root)                   // latest
  *   spark.read.format("snaplake")
  *     .option("versionAsOf", "1").load(root)                   // time travel
  * }}}
  *
  * The read path resolves the commit log to the exact generation
  * directories of the requested version and returns the lake's one scan
  * over them ([[SnapshotLake.relation]], which [[SnapshotLake.readAt]]
  * also reads through) — the table-format read shape (manifest → file
  * list → stats-pruned native scan).
  *
  * The write path maps SaveMode onto commit semantics: Overwrite and
  * Append are overwrite/append commits (optimistic-concurrency retry
  * included), ErrorIfExists refuses a non-empty table, Ignore is a no-op
  * on one. Each save() is one atomic commit — a reader either sees the
  * whole commit or none of it.
  */
class SnapLakeSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "snaplake"

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "snaplake requires a table root: .load(root) / .save(root)"))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val lake = new SnapshotLake(root)
    require(!(parameters.contains("versionAsOf") &&
      parameters.contains("timestampAsOf")),
      "versionAsOf and timestampAsOf are mutually exclusive")
    val version = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map { ts =>
        // interpreted in the SESSION time zone, like Spark timestamps
        val zone = java.time.ZoneId.of(
          spark.sessionState.conf.sessionLocalTimeZone)
        // a date-only value ("2026-08-14") resolves to midnight, like
        // table formats accept for timestampAsOf
        val local =
          try java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
          catch {
            case _: java.time.format.DateTimeParseException =>
              java.time.LocalDate.parse(ts).atStartOfDay()
          }
        val millis = local.atZone(zone).toInstant.toEpochMilli
        lake.versionAt(spark, millis).getOrElse(
          throw new IllegalArgumentException(
            s"no commit at or before $ts under $root"))
      })
      .getOrElse(lake.latestVersion(spark).getOrElse(
        throw new IllegalArgumentException(
          s"no committed version under $root")))
    lake.relationAt(spark, version)
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val lake = new SnapshotLake(root)
    mode match {
      case SaveMode.Overwrite => lake.commit(data, overwrite = true)
      case SaveMode.Append => lake.commit(data, overwrite = false)
      // ErrorIfExists/Ignore ride the ATOMIC table-create commit — an
      // exists-check followed by commit would be check-then-act, and a
      // racing save could clobber the winner's just-created table
      case SaveMode.ErrorIfExists =>
        if (lake.commitInitial(data).isEmpty)
          throw new org.apache.spark.sql.AnalysisException(
            "PATH_ALREADY_EXISTS", Map("outputPath" -> root), None)
      case SaveMode.Ignore => lake.commitInitial(data)
    }
    // DataFrameWriter.save discards the relation; resolving the freshly
    // committed version here would re-list and schema-merge the whole
    // table per write (O(table) metadata I/O for nothing), so return a
    // schema-only stub instead
    val sqlc = sqlContext
    new BaseRelation {
      override def sqlContext: SQLContext = sqlc
      override def schema: org.apache.spark.sql.types.StructType = data.schema
    }
  }

  private def changeFeedRequested(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.toBoolean)

  /** Streaming: the commit log tailed as a changelog — see
    * [[SnapLakeStreamSource]]. The schema is fixed at stream start: the
    * user's, or the latest committed snapshot's (so starting a stream on
    * a never-committed root needs an explicit schema). With
    * `readChangeFeed=true` the stream carries row-level changes instead
    * of raw appends, and the schema grows the `_change_type` /
    * `_commit_version` meta columns. */
  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val lake = new SnapshotLake(root)
    val resolved = schema.getOrElse {
      val v = lake.latestVersion(spark).getOrElse(
        throw new IllegalArgumentException(
          s"streaming from an empty lake needs .schema(...): $root"))
      lake.schemaOf(spark, lake.dirsAt(spark, v))
    }
    val full =
      if (!changeFeedRequested(parameters)) resolved
      else StructType(resolved.fields
        .filterNot(f => f.name == SnapshotLake.ChangeTypeCol ||
          f.name == SnapshotLake.CommitVersionCol) :+
        org.apache.spark.sql.types.StructField(SnapshotLake.ChangeTypeCol,
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField(SnapshotLake.CommitVersionCol,
          org.apache.spark.sql.types.LongType))
    (shortName(), full)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new SnapLakeStreamSource(sqlContext.sparkSession, rootOf(parameters),
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      parameters.get("startingVersion").map(_.toLong),
      changeFeed = changeFeedRequested(parameters))

  /** Streaming SINK: `df.writeStream.format("snaplake").start(root)`.
    * Append mode lands each micro-batch as an append commit; Complete
    * mode (aggregation streams) as an overwrite commit — the commit log
    * then holds the aggregate's history, one version per trigger. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "snaplake sink does not support partitionBy; cluster via compaction instead")
    val overwrite =
      if (outputMode == OutputMode.Append()) false
      else if (outputMode == OutputMode.Complete()) true
      else throw new IllegalArgumentException(
        s"snaplake sink supports Append and Complete output modes, got $outputMode")
    new SnapLakeSink(sqlContext.sparkSession, rootOf(parameters), overwrite)
  }
}

/** Micro-batches as lake commits, exactly-once.
  *
  * The batch id rides inside the commit JSON, so data and replay marker
  * publish in ONE atomic claim: a crash between "data visible" and
  * "marker durable" cannot exist, which is the gap the marker-directory
  * sinks ([[graft.streaming.AnnStreams.indexAppendSink]]) have to paper
  * over with idempotent re-appends. A restarted query replays its last
  * batch; [[graft.ingest.SnapshotLake.lastStreamBatchId]] >= id detects
  * it and the sink skips whole. Single stream writer per table (Spark's
  * checkpoint contract already requires this); concurrent BATCH
  * committers are fine — the append commit's optimistic retry re-bases
  * on them.
  *
  * Empty micro-batches still commit (a generation with no files): the
  * batch-id watermark must advance or a replay after an idle window
  * would be undetectable. The stream source reads such commits as empty
  * deltas by design.
  */
private[sources] class SnapLakeSink(spark: SparkSession, root: String,
    overwrite: Boolean) extends Sink {

  private val lake = new graft.ingest.SnapshotLake(root)

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // shared replay-guard scoping rule (query-scoped vs anonymous
    // watermarks) — THE implementation and its rationale live in
    // SnapshotLake.streamWriterScope
    val (queryId, watermark) = lake.streamWriterScope(spark)
    if (watermark.exists(_ >= batchId))
      return // replay of this writer's own batch (same watermark scope)
    // Sink.addBatch hands a DataFrame over the batch's INCREMENTAL plan;
    // re-wrap its InternalRows as a plain batch frame (one execution —
    // re-running the incremental plan could double-apply stateful ops)
    val schema = data.schema
    val rows = data.queryExecution.toRdd.mapPartitions { it =>
      val deser = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
        schema).resolveAndBind().createDeserializer()
      it.map(r => deser(r))
    }
    lake.commitMarked(spark.createDataFrame(rows, schema), overwrite,
      Some(batchId), queryId)
  }
}
