package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Per-file column statistics for one immutable [[SnapshotLake]]
  * generation, harvested from the parquet FOOTERS the write just produced
  * (min/max/null-count already live there per row group — collection is
  * pure metadata I/O, no data re-scan) and published as `_stats.json`
  * inside the generation directory BEFORE the commit file references it,
  * so stats share the generation's immutability contract.
  *
  * This is the manifest half of table-format data skipping
  * (Delta `stats`, Iceberg manifest `lower_bounds`/`upper_bounds`): a
  * reader resolves commit → files, then drops every file whose value
  * envelope cannot satisfy the query's pushed data filters
  * ([[graft.sources.StatsFileIndex]]) without opening it. At 100 TB this
  * is the difference between a filtered read touching the 3 files a
  * predicate's range intersects and touching all 30k — parquet row-group
  * pruning only helps AFTER a task has been scheduled per file; manifest
  * skipping keeps the tasks from existing.
  *
  * Only top-level columns of footer-stat-friendly physical types are
  * recorded (int32/int64/float/double/boolean/UTF8 binary, plus DATE and
  * TIMESTAMP which parquet encodes as int32 days / int64 micros — stored
  * here as those raw primitives, which is also how Catalyst literals
  * carry them, so the pruning comparison needs no calendar logic).
  * Anything else — nested, decimal, raw binary — is simply absent, and
  * absent means "unknown, never prune", so stats are always a safe
  * subset. A generation written by an older writer has no `_stats.json`
  * at all and its files are likewise never pruned.
  *
  * The same footer pass records the generation's Spark schema (the
  * `org.apache.spark.sql.parquet.row.metadata` footer entry Spark's own
  * schema inference reads), so a reader resolves a version's schema by
  * merging the recorded ones instead of running a `mergeSchema` job.
  */
object GenStats {

  /** One column's envelope within one file. `min`/`max` are None when the
    * file has no non-null value for the column (then `nulls == rows`) or
    * when the footer carried no usable stats. Values are Long, Double,
    * String, or Boolean depending on `tag` ("l"/"d"/"s"/"b"). */
  final case class ColStats(tag: String, min: Option[Any], max: Option[Any],
      nulls: Option[Long])

  /** One data file: row count plus per-column envelopes. */
  final case class FileStats(rows: Long, cols: Map[String, ColStats])

  val StatsFileName = "_stats.json"

  /** Footer key under which Spark's parquet writer stores the row
    * schema as JSON (`ParquetReadSupport.SPARK_METADATA_KEY`). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** A parsed sidecar: per-file stats plus the generation's recorded
    * schema (None for sidecars written before schemas were recorded, or
    * for generations whose files carry no Spark schema). */
  private final case class Sidecar(files: Map[String, FileStats],
      schema: Option[org.apache.spark.sql.types.StructType])

  private val cache = new SidecarCache[Sidecar](1024)

  /** See [[render]] — bump when the stats VALUE SPACE changes meaning,
    * OR when a harvest bug means existing sidecars cannot be trusted.
    * v3 (r14): v2 harvesters merged AROUND statless-but-value-bearing
    * row-group chunks (NaN doubles, oversized binaries), so a v2
    * sidecar of a multi-group file can carry a PARTIAL envelope that
    * wrongly prunes — the value space is unchanged, but v2 artifacts
    * are not trustworthy; reading them as absent makes computeStats
    * the clean re-harvest path. */
  val FormatVersion = 3

  /** Harvest stats for every `*.parquet` under `genPath` and write
    * `_stats.json` there. Footer reads are driver-side metadata I/O
    * (a few KB per file), issued CONCURRENTLY (16-way, the same shape
    * as a table format's planning thread pool) so a many-file commit's
    * harvest is bounded by footer latency, not file count × latency.
    * Never throws on stats problems: a file whose footer defeats
    * harvesting is recorded with no columns (readable, never pruned).
    * The generation's schema is recorded when every file carries the
    * same Spark schema (always so for one write job); otherwise readers
    * fall back to schema inference. */
  def write(conf: Configuration, genPath: String): Unit = {
    val dir = new Path(genPath)
    val files = dataFiles(dir.getFileSystem(conf), dir)
    val pool = new scala.collection.parallel.ForkJoinTaskSupport(
      new java.util.concurrent.ForkJoinPool(16))
    val par = new scala.collection.parallel.immutable.ParVector(files.toVector)
    par.tasksupport = pool
    val harvested =
      try par.map(st => st.getPath.getName -> harvestFile(conf, st.getPath)).toVector
      finally pool.environment.shutdown()
    val schemas = harvested.map(_._2._2).distinct
    val schema = schemas match {
      case Vector(Some(s)) => Some(s)
      case _ => None
    }
    // a backfill (SnapshotLake.computeStats) replaces the sidecar of a
    // published generation: the atomic publish keeps readers on the old
    // or the new file, never on none
    AtomicOverwrite.publish(conf, new Path(dir, StatsFileName),
      render(harvested.map { case (n, (st, _)) => n -> st }, schema))
  }

  /** A generation's data files: the `*.parquet` files directly under
    * `dir` (its `_cdf/` changefeed and sidecars are not data). */
  private[ingest] def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))

  /** Stats for one generation, keyed by bare file name; None when the
    * generation predates stats collection. */
  def load(conf: Configuration, genPath: String): Option[Map[String, FileStats]] =
    sidecar(conf, genPath).map(_.files)

  /** The Spark schema recorded for one generation at write time; None
    * when its sidecar is absent, stale, or records no schema. */
  def schema(conf: Configuration, genPath: String)
      : Option[org.apache.spark.sql.types.StructType] =
    sidecar(conf, genPath).flatMap(_.schema)

  private def sidecar(conf: Configuration, genPath: String): Option[Sidecar] = {
    val p = new Path(genPath, StatsFileName)
    cache.load(p.getFileSystem(conf), p)(parse)
  }

  // ---------------------------------------------------------------- footer

  /** One file's stats and its footer's Spark schema JSON, if any. */
  private def harvestFile(conf: Configuration, file: Path)
      : (FileStats, Option[String]) =
    try {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val schema = Option(reader.getFooter.getFileMetaData
          .getKeyValueMetaData.get(SparkSchemaKey))
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        // per-column chunks across all row groups; only top-level leaves
        val chunks = blocks.flatMap(_.getColumns.asScala)
          .filter(_.getPath.size() == 1)
          .groupBy(_.getPath.toDotString)
        val cols = chunks.flatMap { case (name, ccs) =>
          mergeChunks(ccs).map(name -> _)
        }
        (FileStats(rows, cols), schema)
      } finally reader.close()
    } catch {
      case scala.util.control.NonFatal(_) => (FileStats(-1L, Map.empty), None)
    }

  /** Merge one column's row-group chunks into a file envelope, or None
    * when the type is unsupported or any chunk lacks stats (a partial
    * envelope could prune rows the statless chunk contains). */
  private def mergeChunks(
      ccs: Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
      : Option[ColStats] = {
    val prim = ccs.head.getPrimitiveType
    val tag = typeTag(prim).getOrElse(return None)
    val stats = ccs.map(_.getStatistics)
    if (stats.exists(s => s == null || !s.isNumNullsSet)) return None
    // A chunk WITHOUT min/max may be excluded from the envelope only
    // when it is provably ALL-NULL (nulls == value count). Parquet
    // omits min/max — while still writing null counts — for
    // NaN-bearing float/double chunks and oversized binary values, so
    // a statless chunk of a MULTI-group file can hold real values the
    // other groups' envelope does not cover; merging around it built a
    // partial envelope that wrongly pruned those rows (r14 sweep; the
    // single-chunk NaN case was already handled, this is the
    // per-row-group form of the same omission rule). Refuse the whole
    // envelope instead — absent stats only cost pruning.
    if (ccs.exists { cc =>
      val s = cc.getStatistics
      !s.hasNonNullValue && s.getNumNulls != cc.getValueCount
    }) return None
    val nulls = stats.map(_.getNumNulls).sum
    val valued = stats.filter(_.hasNonNullValue)
    if (valued.isEmpty) return Some(ColStats(tag, None, None, Some(nulls)))
    val mins = valued.map(s => statValue(tag, s.genericGetMin.asInstanceOf[AnyRef]))
    val maxs = valued.map(s => statValue(tag, s.genericGetMax.asInstanceOf[AnyRef]))
    if (mins.contains(None) || maxs.contains(None)) return None
    val ord = ordering(tag)
    Some(ColStats(tag, Some(mins.flatten.min(ord)), Some(maxs.flatten.max(ord)),
      Some(nulls)))
  }

  /** Storage tag for a parquet primitive, or None when pruning over it is
    * unsupported. DATE (int32 days) and TIMESTAMP (int64 micros) keep
    * their raw primitive — matching Catalyst's internal literal form. */
  private def typeTag(prim: org.apache.parquet.schema.PrimitiveType)
      : Option[String] = {
    val logical = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case _ if logical != null &&
          logical.isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
        None
      // TIMESTAMP: Catalyst pushes microsecond Long literals, so only the
      // MICROS storage unit compares correctly. A table written with
      // outputTimestampType=TIMESTAMP_MILLIS (or NANOS via a foreign
      // writer) stores a different unit — comparing those raw longs
      // against micro literals could prune files that DO contain matching
      // rows (wrong results, not just a missed optimization). Treat
      // non-MICROS units as unsupported → no stats → never pruned.
      case PrimitiveTypeName.INT64 if logical != null &&
          logical.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
        val unit = logical
          .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation].getUnit
        if (unit == LogicalTypeAnnotation.TimeUnit.MICROS) Some("l") else None
      // unsigned int annotations reorder the raw bits (stat min/max are
      // unsigned-ordered, our Long ordering is signed) — unsupported
      case _ if logical != null &&
          logical.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation] &&
          !logical.asInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]
            .isSigned =>
        None
      case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 => Some("l")
      case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some("d")
      case PrimitiveTypeName.BOOLEAN => Some("b")
      case PrimitiveTypeName.BINARY
          if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some("s")
      case _ => None
    }
  }

  private def statValue(tag: String, v: AnyRef): Option[Any] = (tag, v) match {
    case ("l", i: java.lang.Integer) => Some(i.longValue())
    case ("l", l: java.lang.Long) => Some(l.longValue())
    case ("d", f: java.lang.Float) => Some(foldZero(f.doubleValue()))
    case ("d", d: java.lang.Double) => Some(foldZero(d.doubleValue()))
    case ("b", b: java.lang.Boolean) => Some(b.booleanValue())
    case ("s", b: org.apache.parquet.io.api.Binary) => Some(b.toStringUsingUTF8)
    case _ => None
  }

  /** -0.0 → 0.0 at every boundary into the stats value space. SQL
    * comparisons treat the zeros as EQUAL, but the total ordering the
    * pruning evaluator uses does not (-0.0 < 0.0), so an envelope
    * harvested as min=max=-0.0 (foreign/older writers skip the
    * parquet-format ±0 stats adjustment) would wrongly prune `x = 0.0`
    * and `x >= 0.0` — folding both the harvested values and the probe
    * literals ([[graft.sources.StatsPruning]]) to +0.0 makes every
    * comparison agree with SQL at the zero boundary, and is lossless
    * for range proofs precisely because SQL cannot distinguish them. */
  def foldZero(d: Double): Double = if (d == 0.0) 0.0 else d

  /** Ordering used both to merge chunk envelopes and by the pruning
    * evaluator. Strings compare by UTF-8 bytes (UTF8String), matching
    * parquet's unsigned-lexicographic UTF8 stat ordering — Java
    * String.compareTo would disagree above the BMP. */
  def ordering(tag: String): Ordering[Any] = tag match {
    case "l" => Ordering.by[Any, Long](_.asInstanceOf[Long])
    case "d" => Ordering.by[Any, Double](_.asInstanceOf[Double])
    case "b" => Ordering.by[Any, Boolean](_.asInstanceOf[Boolean])
    case "s" => (a: Any, b: Any) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b.asInstanceOf[String]))
  }

  // ------------------------------------------------------------------ json

  // ObjectMapper is thread-safe after configuration; one instance, not
  // one allocation per render/parse call (r13 review)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def render(perFile: Seq[(String, FileStats)],
      schema: Option[String]): String = {
    val root = mapper.createObjectNode()
    // Format version gate (the hazard class _blooms.json's FormatVersion
    // already closes): v2 = -0.0 folded at harvest AND timestamps only
    // harvested when the storage unit is MICROS. An unversioned sidecar
    // predates both rules — its min=max=-0.0 envelope would wrongly
    // prune `x = 0.0` and its millis-unit timestamp envelopes compare
    // against micros literals — so [[load]] drops it (absent = never
    // prune) rather than trusting it.
    root.put("v", FormatVersion)
    schema.foreach(root.put("schema", _))
    val filesNode = root.putObject("files")
    perFile.foreach { case (name, fsStats) =>
      val f = filesNode.putObject(name)
      f.put("rows", fsStats.rows)
      val colsNode = f.putObject("cols")
      fsStats.cols.toSeq.sortBy(_._1).foreach { case (col, cs) =>
        val c = colsNode.putObject(col)
        c.put("t", cs.tag)
        cs.nulls.foreach(n => c.put("nulls", n))
        def putVal(field: String, v: Any): Unit = v match {
          case l: Long => c.put(field, l)
          case d: Double => c.put(field, d)
          case b: Boolean => c.put(field, b)
          case s: String => c.put(field, s)
          case _ =>
        }
        cs.min.foreach(putVal("min", _))
        cs.max.foreach(putVal("max", _))
      }
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  private def parse(txt: String): Option[Sidecar] = {
    val root = mapper.readTree(txt)
    // Sidecars from any OTHER format version are DROPPED, not trusted —
    // see [[render]]. != (not <), matching GenBlooms.load: a FUTURE
    // version's value space may mean something different, and pruning
    // against it with this version's semantics could wrongly skip files
    // (r13 review). Absent stats only cost pruning, never correctness.
    if (root.path("v").asInt(0) != FormatVersion) return None
    // an unparsable recorded schema only costs the inference fallback
    val schema = Option(root.get("schema")).flatMap { n =>
      scala.util.Try(org.apache.spark.sql.types.DataType.fromJson(n.asText()))
        .toOption.collect { case s: org.apache.spark.sql.types.StructType => s }
    }
    val files = root.path("files")
    val perFile = files.properties().asScala.map { e =>
      val name = e.getKey
      val node = e.getValue
      val cols = node.path("cols").properties().asScala.map { ce =>
        val cn = ce.getValue
        val tag = cn.path("t").asText()
        def readVal(field: String): Option[Any] = {
          val v = cn.get(field)
          if (v == null || v.isNull) None
          else tag match {
            case "l" => Some(v.asLong())
            // foldZero on the PARSE path too: belt-and-braces for any
            // sidecar whose doubles reached json un-folded (json round-
            // trips -0.0 faithfully, so harvest-side folding alone
            // leaves the read path exposed to foreign writers).
            case "d" => Some(foldZero(v.asDouble()))
            case "b" => Some(v.asBoolean())
            case "s" => Some(v.asText())
            case _ => None
          }
        }
        val nulls = Option(cn.get("nulls")).filterNot(_.isNull).map(_.asLong())
        ce.getKey -> ColStats(tag, readVal("min"), readVal("max"), nulls)
      }.toMap
      name -> FileStats(node.path("rows").asLong(-1L), cols)
    }.toMap
    Some(Sidecar(perFile, schema))
  }
}

