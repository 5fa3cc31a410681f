package graft.ingest

import java.nio.ByteBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.roaringbitmap.RoaringBitmap

/** A data file's deletion vector as a manifest names it: the `_dv/` file
  * that holds its bitmap of deleted row positions, and how many rows
  * that bitmap marks. */
private[graft] final case class Dv(file: String, rows: Long)

/** Deletion vectors of [[SnapshotLake]] deletes (Delta Lake's
  * merge-on-read design): a delete marks the positions of the rows it
  * removes (parquet's `_metadata.row_index`) in one Roaring bitmap per
  * data file instead of copying the file. Each delete commit stores the
  * bitmaps it changed, each the union of the file's earlier bitmap and
  * its new marks, in one immutable file under `_dv/`:
  * {{{
  *   {"gen-ab12/part-00001-….parquet":"<base64 portable Roaring bitmap>", …}
  * }}}
  * keyed by the data file's path under the root. Later commits name the
  * same file by reference ([[Dv]]) until a rewrite drops the data file. */
private[graft] object DeletionVectors {
  val DirName = "_dv"

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Parsed `_dv/` files, serialized bitmaps by data-file key. */
  private val cache = new SidecarCache[Map[String, Array[Byte]]](1024)

  /** The key of data file `file` of generation `dir`. */
  def key(dir: String, file: String): String = s"$dir/$file"

  def bytes(b: RoaringBitmap): Array[Byte] = {
    b.runOptimize()
    val buf = ByteBuffer.allocate(b.serializedSizeInBytes())
    b.serialize(buf)
    buf.array()
  }

  def bitmap(bytes: Array[Byte]): RoaringBitmap = {
    val b = new RoaringBitmap()
    b.deserialize(ByteBuffer.wrap(bytes))
    b
  }

  /** Write `bitmaps` (by [[key]]) as a new `_dv/` file of the table at
    * `root`; returns its name. Published raw (no `.crc`), like every
    * control file: nothing reads it before a commit names it. */
  def write(fs: FileSystem, root: String, bitmaps: Map[String, RoaringBitmap]): String = {
    val name = s"dv-${java.util.UUID.randomUUID().toString.replace("-", "")}.json"
    val node = mapper.createObjectNode()
    bitmaps.toSeq.sortBy(_._1).foreach { case (k, b) =>
      node.put(k, java.util.Base64.getEncoder.encodeToString(bytes(b)))
    }
    val out = SidecarCache.raw(fs).create(new Path(s"$root/$DirName/$name"), false)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    name
  }

  /** The serialized bitmap of `dir`/`file` that `dv` names. A `_dv/`
    * file that is gone (vacuumed) fails: the version naming it cannot
    * be read without it. */
  def load(fs: FileSystem, root: String, dir: String, file: String, dv: Dv): Array[Byte] =
    cache.load(fs, new Path(s"$root/$DirName/${dv.file}")) { txt =>
      import scala.jdk.CollectionConverters._
      Some(mapper.readTree(txt).properties().asScala
        .map(e => e.getKey -> java.util.Base64.getDecoder.decode(e.getValue.asText())).toMap)
    }.flatMap(_.get(key(dir, file))).getOrElse(throw new IllegalStateException(
      s"deletion vector ${dv.file} of $dir/$file is missing under $root"))

  /** The rows of `hits` (a scan over snaplake generations) as one bitmap
    * of row positions per data file ([[key]]): one job, the executors
    * fold each task's rows into bitmaps, and the collected parts of a
    * file read in several splits are unioned. */
  def mark(hits: DataFrame): Map[String, RoaringBitmap] = {
    import org.apache.spark.sql.functions.col
    hits.select(col("_metadata.file_path"), col("_metadata.row_index"))
      .mapPartitions(foldRows)(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .collect()
      .groupMapReduce(_._1)(p => bitmap(p._2)) { (a, b) => a.or(b); a }
  }

  private val foldRows: Iterator[Row] => Iterator[(String, Array[Byte])] = rows => {
    val parts = scala.collection.mutable.HashMap.empty[String, RoaringBitmap]
    rows.foreach { r =>
      val pos = r.getLong(1)
      require(pos <= Int.MaxValue, s"row position $pos is past a deletion vector's range")
      parts.getOrElseUpdate(r.getString(0), new RoaringBitmap()).add(pos.toInt)
    }
    parts.iterator.map { case (p, b) =>
      val path = new Path(new java.net.URI(p))
      key(path.getParent.getName, path.getName) -> bytes(b)
    }
  }
}
