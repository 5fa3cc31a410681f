package graft.ingest

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}

/** Per-file BLOOM fingerprints for a [[SnapshotLake]] generation — the
  * skipping tier min/max envelopes cannot provide: a point lookup on a
  * high-cardinality UNSORTED key (`id = 123456789` on a table whose
  * files each span the whole id domain) passes every envelope and
  * schedules every file; a bloom answers "definitely not in this file"
  * per file and the miss schedules ZERO tasks. This is Parquet's
  * column-bloom idea hoisted to the manifest level, where it prunes
  * BEFORE task planning (a row-group bloom only helps after every file
  * already cost a task and a footer read).
  *
  * Unlike `_stats.json` (free — harvested from footers the write just
  * produced), blooms need every value of the fingerprinted columns, so
  * they are OPT-IN: a table with auto-Blooms on builds them inside each
  * commit's own write job ([[GenWriter]]), and
  * [[SnapshotLake.computeBlooms]] backfills older generations with one
  * columnar scan each; both publish `_blooms.json` beside the stats.
  * Adding a sidecar to a published (immutable) generation is safe:
  * readers racing the write see either no bloom (no pruning) or the
  * complete bloom — never a partial one ([[AtomicOverwrite.publish]]).
  *
  * Pruning stays strictly conservative: a bloom answers "maybe" or
  * "definitely absent"; only the latter prunes. Absent files, absent
  * columns, unsupported types → never pruned.
  */
object GenBlooms {

  val BloomsFileName = "_blooms.json"

  /** Sidecar format version, embedded as the `_v` key. Bumped whenever
    * the VALUE CANONICALIZATION changes (e.g. the ±0.0 fold): a bloom
    * built under an older hash answers "definitely absent" for values
    * the new probe hashes differently — a silent wrong-prune. [[load]]
    * treats any other version as no-sidecar, and
    * [[SnapshotLake.computeBlooms]]'s covered-check then rebuilds. */
  val FormatVersion = 3

  /** Storage-kind tag of a value in the canonical space ("l"/"d"/"s"/
    * "b"), or None for unsupported kinds — the SAME tag alphabet
    * [[GenStats]] uses. */
  private[graft] def kindOf(v: Any): Option[String] = v match {
    case null => None
    case _: Int | _: Long | _: Short | _: Byte => Some("l")
    case _: Float | _: Double => Some("d")
    case _: String | _: org.apache.spark.unsafe.types.UTF8String => Some("s")
    case _: Boolean => Some("b")
    case _ => None
  }

  /** Split-bloom with double hashing (Kirsch–Mitzenmacher): k indices
    * derived from two murmur hashes of the value's canonical bytes.
    * `m` is a power of two; sized ~10 bits per expected distinct value
    * for ~1% false-positive rate at k=7.
    *
    * `tag` is the fingerprinted column's storage kind: a probe value of
    * a DIFFERENT kind answers "maybe", never "definitely absent" — a
    * Double source key probed against a Long-keyed bloom hashes
    * different canonical bytes than the stored values, but Spark's
    * implicit join/comparison casts could still match the rows, so a
    * cross-kind miss is no proof (the bloom analog of the envelope
    * tier's storage-tag check). */
  final class Bloom(val m: Int, val k: Int, val tag: String,
      val bits: Array[Long]) extends Serializable {
    def this(m: Int, k: Int, tag: String) =
      this(m, k, tag, new Array[Long]((m + 63) / 64))
    private def indices(v: Any): Option[Seq[Int]] = canonicalBytes(v).map { b =>
      val h1 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.bytesHash(b, 0x85ebca6b)
      (0 until k).map(i => math.floorMod(h1 + i * h2, m))
    }
    def add(v: Any): Unit = indices(v).foreach(_.foreach { idx =>
      bits(idx >> 6) |= 1L << (idx & 63)
    })
    /** false ⇒ the value is PROVABLY absent from the fingerprinted
      * column of this file; unsupported value types AND values of a
      * different storage kind than the column answer true. */
    def mightContain(v: Any): Boolean =
      if (!kindOf(v).contains(tag)) true
      else indices(v) match {
        case None => true
        case Some(ix) =>
          ix.forall(idx => (bits(idx >> 6) & (1L << (idx & 63))) != 0)
      }
    def merge(o: Bloom): Bloom = {
      require(o.m == m && o.k == k && o.tag == tag, "bloom shape mismatch")
      var i = 0
      while (i < bits.length) { bits(i) |= o.bits(i); i += 1 }
      this
    }
    /** This bloom at `m2` bits (a power of two dividing `m`): its m/m2
      * segments ORed together. An index is `floorMod(h, m)` and m2
      * divides m, so bit `i` lands on bit `i mod m2`, the index a build
      * at m2 sets: the result is bit for bit the bloom of the same
      * values built at `m2`. */
    def fold(m2: Int): Bloom =
      if (m2 == m) this else {
        require(m2 > 0 && m2 < m && m % m2 == 0 && Integer.bitCount(m2) == 1,
          s"cannot fold a $m-bit bloom to $m2 bits")
        val out = new Bloom(m2, k, tag)
        val words = out.bits.length
        var i = 0
        while (i < bits.length) { out.bits(i % words) |= bits(i); i += 1 }
        out
      }
  }

  /** Canonical byte form shared by the build scan and the prune probe —
    * both sides normalize to the stats value space first (integral →
    * Long, float → Double, UTF8String → String), so a Catalyst literal
    * and a row value hash identically. None: unsupported type. */
  private[graft] def canonicalBytes(v: Any): Option[Array[Byte]] = v match {
    case null => None
    case i: Int => canonicalBytes(i.toLong)
    case s: Short => canonicalBytes(s.toLong)
    case b: Byte => canonicalBytes(b.toLong)
    case l: Long =>
      Some(java.nio.ByteBuffer.allocate(8).putLong(l).array)
    case f: Float => canonicalBytes(f.toDouble)
    case d: Double =>
      // ±0.0 must hash identically: SQL equality says -0.0 = 0.0, so a
      // file holding -0.0 must answer "maybe" to a 0.0 probe — distinct
      // fingerprints would prune it (wrong results). NaN needs no such
      // fold: doubleToLongBits already canonicalizes every NaN payload.
      val canon = if (d == 0.0) 0.0 else d
      Some(java.nio.ByteBuffer.allocate(8)
        .putLong(java.lang.Double.doubleToLongBits(canon)).array)
    case b: Boolean => Some(Array[Byte](if (b) 1 else 0))
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.getBytes.clone())
    case s: String => Some(s.getBytes(UTF_8))
    case _ => None
  }

  /** Bloom shape (m bits, k hashes) for ~10 bits per expected distinct
    * value: the next power of two, in Long space (Int math wraps
    * negative past ndv≈215M — plausible per-file NDV at 100 TB — and
    * either crashes array allocation or silently degenerates to a
    * saturated 1024-bit bloom); capped at 2^30 bits = 128 MiB/column,
    * past which callers should shard files rather than grow blooms. */
  private[ingest] def shape(expectedNdvPerFile: Int): (Int, Int) = {
    val target = math.min(1L << 30,
      math.max(1024L, expectedNdvPerFile.toLong * 10))
    ((java.lang.Long.highestOneBit(target - 1) * 2).toInt, 7)
  }

  /** One file's blooms, built at the cap shape `shape(ndvCap)`, folded
    * to the shape its `rows` call for when that is smaller: a file
    * cannot hold more distinct values than rows, so a 500-row file
    * carries a 8,192-bit bloom instead of the cap's. The write-time
    * build ([[GenWriter]]) and the rescan ([[write]]) both size here,
    * so their sidecars stay byte-identical. */
  private[ingest] def sized(blooms: Array[Bloom], rows: Long, ndvCap: Int): Array[Bloom] = {
    val m = shape(math.min(rows, ndvCap.toLong).toInt)._1
    blooms.map(_.fold(m))
  }

  /** The fields of `schema` that `cols` fingerprint, in request order.
    *
    * Requested columns resolve CASE-INSENSITIVELY (Spark's default
    * resolution): `computeBlooms(Seq("OKey"))` must build o_okey's
    * bloom, not silently no-op. An unknown name throws — a silent skip
    * leaves the operator believing the point-lookup tier exists.
    * Sidecar keys are the LOWERCASED names; probes lowercase to match.
    * `strict = false` (the auto-bloom commit path) drops unknown names
    * instead: a table-level bloom config must survive schema evolution
    * where a later commit simply lacks one of the configured columns.
    *
    * Only supported types are fingerprinted: a column whose row values
    * canonical-bytes to None (e.g. timestamps surface as
    * java.sql.Timestamp in rows but as micros Longs in Catalyst
    * literals) would build an EMPTY bloom that wrongly proves every
    * probe absent — such columns must have no bloom at all. Strict mode
    * rejects them; silently skipping would recreate the exact
    * no-sidecar-no-signal failure strict resolution exists to prevent. */
  private[ingest] def resolve(schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String], strict: Boolean): Seq[org.apache.spark.sql.types.StructField] = {
    val resolved = cols.flatMap { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)) match {
        case some @ Some(_) => some
        case None if strict =>
          sys.error(s"computeBlooms: no column matching '$c' in " +
            schema.fieldNames.mkString("[", ", ", "]"))
        case None => None
      }
    }
    val present = resolved.filter { f =>
      val ok = tagOf(f.dataType).isDefined
      if (!ok && strict)
        sys.error(s"computeBlooms: column '${f.name}' has unsupported " +
          s"bloom type ${f.dataType.simpleString} (supported: integral, " +
          "float/double, string, boolean)")
      ok
    }
    require(present.map(_.name.toLowerCase).distinct.size == present.size,
      "bloom columns collide under case-insensitive resolution: " +
        present.map(_.name).mkString(", "))
    present
  }

  /** Storage tag of a fingerprintable column type, None if unsupported. */
  private[ingest] def tagOf(dt: org.apache.spark.sql.types.DataType)
      : Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType => Some("l")
      case DoubleType | FloatType => Some("d")
      case StringType => Some("s")
      case BooleanType => Some("b")
      case _ => None
    }
  }

  /** Build per-(file, column) blooms for `cols` over the generation at
    * `genPath` and publish `_blooms.json` there — the backfill for
    * generations written without auto-Blooms (commits with auto-Blooms
    * on build the same sidecar inside their own write job,
    * [[GenWriter]]). The generation reads under its recorded schema
    * ([[SnapshotLake.readGens]]), so no inference job runs before the
    * one distributed scan of the requested columns;
    * per-partition blooms merge by bitwise OR (commutative — row order
    * never matters) with their row counts, each file's blooms are sized
    * to its rows ([[sized]]; `expectedNdvPerFile` is the cap), and only
    * the finished bloom bits are collected: metadata-sized. */
  def write(spark: SparkSession, genPath: String, cols: Seq[String],
      expectedNdvPerFile: Int = 100000, strict: Boolean = true): Unit = {
    val (m, k) = shape(expectedNdvPerFile)
    val gen = new Path(genPath)
    val df = new SnapshotLake(gen.getParent.toString).readGens(spark, Seq(GenRef(gen.getName)))
    val presentFields = resolve(df.schema, cols, strict)
    val present = presentFields.map(_.name.toLowerCase)
    if (present.isEmpty) return
    val tags = presentFields.map(f => tagOf(f.dataType).get)
    val rows = df.select(input_file_name().as("__f") +: present.map(col): _*)
    val perFile: Array[(String, Seq[(String, Bloom)])] = rows.rdd
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashMap[String, (Array[Bloom], Long)]()
        it.foreach { r =>
          val f = r.getString(0)
          val (blooms, n) = acc.getOrElseUpdate(f,
            (tags.map(t => new Bloom(m, k, t)).toArray, 0L))
          acc(f) = (blooms, n + 1)
          var i = 0
          while (i < present.size) {
            if (!r.isNullAt(i + 1)) blooms(i).add(r.get(i + 1))
            i += 1
          }
        }
        acc.iterator
      }
      .reduceByKey((a, b) => (a._1.zip(b._1).map { case (x, y) => x.merge(y) }, a._2 + b._2))
      .map { case (f, (bs, n)) =>
        new Path(f).getName -> present.zip(sized(bs, n, expectedNdvPerFile).toSeq)
      }
      .collect()
    publish(spark.sparkContext.hadoopConfiguration, genPath, perFile.toSeq)
  }

  /** Render `perFile` (bare file name → per-column blooms, columns in
    * resolution order) as `_blooms.json` and publish it under
    * `genPath`. Files are written in name order, so one set of blooms
    * always renders to the same bytes, whichever pass built it. */
  private[ingest] def publish(conf: Configuration, genPath: String,
      perFile: Seq[(String, Seq[(String, Bloom)])]): Unit = {
    val enc = java.util.Base64.getEncoder
    def b64(b: Bloom): String = {
      val bb = java.nio.ByteBuffer.allocate(b.bits.length * 8)
      b.bits.foreach(bb.putLong)
      enc.encodeToString(bb.array)
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rootNode = mapper.createObjectNode()
    rootNode.put("_v", FormatVersion)
    perFile.sortBy(_._1).foreach { case (file, colBlooms) =>
      val fn = rootNode.putObject(file)
      colBlooms.foreach { case (c, b) =>
        val cn = fn.putObject(c)
        cn.put("m", b.m); cn.put("k", b.k); cn.put("t", b.tag)
        cn.put("b", b64(b))
      }
    }
    AtomicOverwrite.publish(conf, new Path(genPath, BloomsFileName),
      mapper.writeValueAsString(rootNode))
  }

  private val cache = new SidecarCache[Map[String, Map[String, Bloom]]](1024)

  /** Blooms for one generation, keyed by bare file name then column;
    * None when the generation has no bloom sidecar. Parsed sidecars are
    * cached ([[SidecarCache]]), so the returned blooms are shared and
    * must not be mutated. */
  def load(conf: Configuration, genPath: String)
      : Option[Map[String, Map[String, Bloom]]] = {
    val p = new Path(genPath, BloomsFileName)
    cache.load(p.getFileSystem(conf), p)(parse)
  }

  private def parse(txt: String): Option[Map[String, Map[String, Bloom]]] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(txt)
    // a sidecar from a different canonicalization era reads as absent
    // (never pruned) and computeBlooms rebuilds it — see FormatVersion
    if (node.path("_v").asInt(-1) != FormatVersion) return None
    val dec = java.util.Base64.getDecoder
    import scala.jdk.CollectionConverters._
    val perFile = node.properties().asScala.filter(_.getKey != "_v").map { fe =>
      fe.getKey -> fe.getValue.properties().asScala.map { ce =>
        val cn = ce.getValue
        val bytes = dec.decode(cn.get("b").asText())
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val longs = Array.fill(bytes.length / 8)(bb.getLong)
        // lowercase on parse too: write stores lowercased keys, and any
        // same-version sidecar from the pre-resolution build normalizes
        // identically (its keys were exact schema names)
        (ce.getKey.toLowerCase, new Bloom(cn.get("m").asInt(),
          cn.get("k").asInt(), cn.get("t").asText(), longs))
      }.toSeq
    }.toMap
    // write() rejects case-colliding column sets up front, but a
    // legacy/foreign same-version sidecar could carry two columns that
    // collide under lowercasing — toMap would silently keep the LAST
    // entry and a probe could then consult the WRONG column's bloom and
    // wrongly prune files. A collided sidecar is untrustworthy as a
    // whole: treat it as absent (never prune; computeBlooms rebuilds).
    if (perFile.values.exists(cols => cols.map(_._1).distinct.size != cols.size))
      return None
    Some(perFile.map { case (f, cols) => f -> cols.toMap })
  }
}
