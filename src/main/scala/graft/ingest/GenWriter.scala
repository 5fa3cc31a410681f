package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.CollectionAccumulator

import graft.ingest.GenBlooms.Bloom

/** The one writer of [[SnapshotLake]] generation data. It writes plain
  * parquet through [[SnapParquetFormat]], which differs from Spark's
  * own parquet writer in two ways:
  *
  *  - When `spark.sql.parquet.outputTimestampType` is INT96 (Spark's
  *    default) it writes timestamps as INT64 `TIMESTAMP_MICROS`, whose
  *    footers carry min/max — INT96 has none, so [[GenStats]] could
  *    never harvest a timestamp envelope and a timestamp range filter
  *    pruned no file. A MILLIS or MICROS setting is kept as set.
  *  - With `blooms`, every written row's Bloom columns go into its
  *    file's [[GenBlooms.Bloom]] inside the write task itself, sized
  *    to the rows the file received when it closes
  *    ([[GenBlooms.sized]]), and `_blooms.json` is published from
  *    those bits: the same bytes [[GenBlooms.write]]'s rescan would
  *    produce, without the scan job that rescan costs per generation.
  */
object GenWriter {

  /** Bloom build requested for one write, keyed by its output path in
    * [[captures]]: the format instance Spark creates for the write
    * finds it there, and fills in the resolved columns and the
    * accumulator the tasks report their blooms through. */
  private[ingest] final class Capture(val cols: Seq[String], val ndv: Int) {
    @volatile var names: Seq[String] = Nil
    @volatile var acc: CollectionAccumulator[(String, Array[Bloom])] = _
  }

  private[ingest] val captures =
    new java.util.concurrent.ConcurrentHashMap[String, Capture]()

  /** Write `df` as a parquet directory at `path` (which must not
    * exist). `blooms` = (columns, cap on distinct values per file)
    * also publishes the directory's `_blooms.json`, resolving columns
    * leniently like the auto-Bloom tier ([[GenBlooms.resolve]] with
    * `strict = false`); no present column means no sidecar, exactly as
    * a rescan would decide. A failed Bloom build never fails the write:
    * the directory is left sidecar-less (never pruned). */
  def write(df: DataFrame, path: String,
      blooms: Option[(Seq[String], Int)] = None): Unit = {
    val capture = blooms.map { case (cols, ndv) => new Capture(cols, ndv) }
    capture.foreach(captures.put(path, _))
    try df.write.format(classOf[SnapParquetFormat].getName).save(path)
    finally captures.remove(path)
    capture.filter(_.acc != null).foreach { c =>
      try publish(df.sparkSession, path, c)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"snaplake: bloom publish failed for $path " +
            s"(generation stays sidecar-less, never pruned): $e")
      }
    }
  }

  /** `_blooms.json` from the tasks' per-file blooms. Only files the
    * directory holds count (a failed task attempt's report names a file
    * that never committed), and a file that received no row gets no
    * entry, as in a rescan, which only sees files with rows. */
  private def publish(spark: SparkSession, path: String, c: Capture): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val written = dir.getFileSystem(conf).listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val perFile = c.acc.value.asScala.toSeq
      .filter { case (f, _) => written.contains(f) }
      .groupMapReduce(_._1)(_._2)((a, b) => a.zip(b).map { case (x, y) => x.merge(y) })
      .map { case (f, bs) => f -> c.names.zip(bs.toSeq) }
    GenBlooms.publish(conf, path, perFile.toSeq)
  }
}

/** Spark's parquet file format with snaplake's write behaviour (see
  * [[GenWriter]]); only ever used to write, by class name. */
class SnapParquetFormat extends ParquetFileFormat {

  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val inner = super.prepareWrite(sparkSession, job, options, dataSchema)
    val conf = job.getConfiguration
    val tsKey = SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key
    if (conf.get(tsKey) == "INT96") conf.set(tsKey, "TIMESTAMP_MICROS")
    val capture = options.get("path").flatMap(p => Option(GenWriter.captures.get(p)))
    // resolved against the schema actually written, as a rescan would;
    // a column set the lenient resolver still rejects (case collision)
    // builds nothing instead of failing the write
    val fields = capture.toSeq.flatMap(c => scala.util.Try(
      GenBlooms.resolve(dataSchema, c.cols, strict = false)).getOrElse(Nil))
    capture match {
      case Some(c) if fields.nonEmpty =>
        val acc = new CollectionAccumulator[(String, Array[Bloom])]
        sparkSession.sparkContext.register(acc, "snaplake write-time blooms")
        c.names = fields.map(_.name.toLowerCase)
        c.acc = acc
        new BloomingWriterFactory(inner,
          fields.map(f => dataSchema.fieldIndex(f.name)).toArray,
          fields.map(_.dataType).toArray,
          fields.map(f => GenBlooms.tagOf(f.dataType).get).toArray, c.ndv, acc)
      case _ => inner
    }
  }
}

private final class BloomingWriterFactory(inner: OutputWriterFactory,
    ordinals: Array[Int], types: Array[DataType], tags: Array[String],
    ndvCap: Int, acc: CollectionAccumulator[(String, Array[Bloom])])
    extends OutputWriterFactory {

  private val (m, k) = GenBlooms.shape(ndvCap)

  override def getFileExtension(context: TaskAttemptContext): String =
    inner.getFileExtension(context)

  override def newInstance(path: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter = {
    val writer = inner.newInstance(path, dataSchema, context)
    val blooms = tags.map(t => new Bloom(m, k, t))
    var rows = 0L
    new OutputWriter {
      override def write(row: InternalRow): Unit = {
        writer.write(row)
        rows += 1
        var i = 0
        while (i < ordinals.length) {
          if (!row.isNullAt(ordinals(i))) blooms(i).add(row.get(ordinals(i), types(i)))
          i += 1
        }
      }
      override def close(): Unit = {
        writer.close()
        if (rows > 0)
          acc.add(new Path(writer.path()).getName -> GenBlooms.sized(blooms, rows, ndvCap))
      }
      override def path(): String = writer.path()
    }
  }
}
