package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{Decimal, LongType, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap

/** Which rows of one data file a snaplake scan reads, by row position:
  * `bitmap` is a serialized Roaring bitmap; the scan drops the rows it
  * marks (a deletion vector) or, with `keepMarked`, reads only those (a
  * changefeed's deleted rows). Travels with the file as file-constant
  * metadata ([[RowMask.Key]]). */
final case class RowMask(bitmap: Array[Byte], keepMarked: Boolean)

object RowMask {
  /** The key of a [[RowMask]] in a file's
    * `FileStatusWithMetadata.metadata`, which the scan passes on as
    * `PartitionedFile.otherConstantMetadataColumnValues`. */
  val Key = "snaplake_row_mask"
}

/** Spark's parquet scan for a snaplake relation in which some file has a
  * [[RowMask]]: each file is read with parquet's row-position column
  * (`_metadata.row_index`), and a masked file's rows are filtered by
  * position — inside each vectorized batch by a zero-copy remap of its
  * column vectors ([[RemappedColumnVector]]), on the row path row by
  * row. The position column is dropped again unless the scan asked for
  * it. Pushdown, column pruning, row-group skipping and file splitting
  * stay the parquet scan's: the position is the file's, whatever split
  * or row group it is read in. A relation without masks is read by the
  * stock [[ParquetFileFormat]]. */
final class DvParquetFileFormat extends ParquetFileFormat {

  override def toString: String = "Parquet+DV"
  override def equals(other: Any): Boolean = other.isInstanceOf[DvParquetFileFormat]
  override def hashCode(): Int = getClass.hashCode()

  /** A batch may hold remapped vectors, so generated code reads every
    * column through the abstract vector class. */
  override def vectorTypes(requiredSchema: StructType, partitionSchema: StructType,
      sqlConf: SQLConf): Option[Seq[String]] =
    super.vectorTypes(requiredSchema, partitionSchema, sqlConf)
      .map(_.map(_ => classOf[ColumnVector].getName))

  override def buildReaderWithPartitionValues(sparkSession: SparkSession,
      dataSchema: StructType, partitionSchema: StructType, requiredSchema: StructType,
      filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val posName = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
    val asked = requiredSchema.fieldNames.indexOf(posName)
    // readers need the position column nullable: no file's schema has it
    val readSchema = if (asked >= 0) requiredSchema else requiredSchema.add(posName, LongType)
    val pos = if (asked >= 0) asked else requiredSchema.length
    val dropPos = asked < 0
    val width = readSchema.length + partitionSchema.length
    val out = (0 until width).filterNot(c => dropPos && c == pos).toArray
    val outTypes = (readSchema.fields ++ partitionSchema.fields).map(f => (f.dataType, f.nullable))
    val batches = options.get(FileFormat.OPTION_RETURNING_BATCH).exists(_.toBoolean)
    val read = super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      readSchema, filters, options, hadoopConf)
    (file: PartitionedFile) => {
      val mask = file.otherConstantMetadataColumnValues.get(RowMask.Key).collect {
        case m: RowMask => (graft.ingest.DeletionVectors.bitmap(m.bitmap), m.keepMarked)
      }
      val rows = read(file)
      if (mask.isEmpty && !dropPos) rows
      else {
        val (marked, keepMarked) = mask.getOrElse((new RoaringBitmap(), false))
        val kept: Any => Any =
          if (batches) b => DvParquetFileFormat.filterBatch(b.asInstanceOf[ColumnarBatch],
            pos, out, marked, keepMarked)
          else {
            val project = UnsafeProjection.create(out.toSeq.map { c =>
              BoundReference(c, outTypes(c)._1, outTypes(c)._2)
            })
            r => {
              val row = r.asInstanceOf[InternalRow]
              if (marked.contains(row.getLong(pos).toInt) != keepMarked) null else project(row)
            }
          }
        new DvParquetFileFormat.MaskedIterator(rows, kept)
      }.asInstanceOf[Iterator[InternalRow]]
    }
  }
}

object DvParquetFileFormat {
  /** `b` with the row-position column dropped unless it is output, and,
    * if some of its rows are masked out, remapped to the rows kept. */
  private def filterBatch(b: ColumnarBatch, pos: Int, out: Array[Int],
      marked: RoaringBitmap, keepMarked: Boolean): ColumnarBatch = {
    val n = b.numRows()
    val positions = b.column(pos)
    val cols = out.map(b.column)
    // most batches of a file hold no marked row: one range probe
    val untouched = n == 0 || !keepMarked && !marked.intersects(
      positions.getLong(0), positions.getLong(n - 1) + 1)
    if (untouched) new ColumnarBatch(cols, n)
    else {
      val keep = new Array[Int](n)
      var k = 0
      var i = 0
      while (i < n) {
        if (marked.contains(positions.getLong(i).toInt) == keepMarked) { keep(k) = i; k += 1 }
        i += 1
      }
      if (k == n) new ColumnarBatch(cols, n)
      else new ColumnarBatch(cols.map(c => new RemappedColumnVector(c, keep, k): ColumnVector), k)
    }
  }

  /** `rows` through `kept` (null drops a row), closeable like the parquet
    * reader it wraps so the scan releases each file as it moves on. */
  private final class MaskedIterator(rows: Iterator[_], kept: Any => Any)
      extends Iterator[Any] with AutoCloseable {
    private var nextOut: Any = null
    override def hasNext: Boolean = {
      while (nextOut == null && rows.hasNext) nextOut = kept(rows.next())
      nextOut != null
    }
    override def next(): Any = {
      if (!hasNext) throw new NoSuchElementException
      val o = nextOut
      nextOut = null
      o
    }
    override def close(): Unit = rows match {
      case c: AutoCloseable => c.close()
      case _ =>
    }
  }
}

/** Rows `rows(0 until numRows)` of `base`, without copying: row `i` reads
  * `base`'s row `rows(i)`. Nested vectors remap alike; the base vector
  * stays owned, and closed, by its reader. */
final class RemappedColumnVector(base: ColumnVector, rows: Array[Int], numRows: Int)
    extends ColumnVector(base.dataType()) {

  private val children = scala.collection.mutable.HashMap.empty[Int, ColumnVector]

  override def close(): Unit = ()
  override def hasNull(): Boolean = base.hasNull()
  override def numNulls(): Int =
    if (!base.hasNull()) 0 else (0 until numRows).count(isNullAt)
  override def isNullAt(rowId: Int): Boolean = base.isNullAt(rows(rowId))
  override def getBoolean(rowId: Int): Boolean = base.getBoolean(rows(rowId))
  override def getByte(rowId: Int): Byte = base.getByte(rows(rowId))
  override def getShort(rowId: Int): Short = base.getShort(rows(rowId))
  override def getInt(rowId: Int): Int = base.getInt(rows(rowId))
  override def getLong(rowId: Int): Long = base.getLong(rows(rowId))
  override def getFloat(rowId: Int): Float = base.getFloat(rows(rowId))
  override def getDouble(rowId: Int): Double = base.getDouble(rows(rowId))
  override def getArray(rowId: Int): ColumnarArray = base.getArray(rows(rowId))
  override def getMap(ordinal: Int): ColumnarMap = base.getMap(rows(ordinal))
  override def getDecimal(rowId: Int, precision: Int, scale: Int): Decimal =
    base.getDecimal(rows(rowId), precision, scale)
  override def getUTF8String(rowId: Int): UTF8String = base.getUTF8String(rows(rowId))
  override def getBinary(rowId: Int): Array[Byte] = base.getBinary(rows(rowId))
  override def getInterval(rowId: Int) = base.getInterval(rows(rowId))
  override def getGeography(rowId: Int) = base.getGeography(rows(rowId))
  override def getGeometry(rowId: Int) = base.getGeometry(rows(rowId))
  override def getChild(ordinal: Int): ColumnVector =
    children.getOrElseUpdate(ordinal,
      new RemappedColumnVector(base.getChild(ordinal), rows, numRows))
}
