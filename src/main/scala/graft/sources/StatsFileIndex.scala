package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  PartitionDirectory}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.ingest.GenStats.{ColStats, FileStats}

/** The file index of every snaplake scan
  * ([[graft.ingest.SnapshotLake.relation]]): the data `files` the
  * manifest names, listed by the relation when it was built, and, inside
  * `listFiles`, the skipping step — every file whose
  * [[graft.ingest.GenStats]] envelope or Bloom sidecar proves the pushed
  * data filters cannot match any of its rows is dropped ([[FilePruning]],
  * the same check snaplake merges and deletes scope their marking
  * scans with). A file with a [[RowMask]] (its deletion vector) carries
  * it as file-constant metadata to [[DvParquetFileFormat]], which reads
  * it.
  *
  * This is the point where a table format earns its keep at 100 TB:
  * `FileSourceStrategy` hands the scan's data filters to the index
  * BEFORE tasks are planned, so a predicate that intersects 3 of 30k
  * files schedules 3 tasks — parquet row-group stats only prune after
  * every file already cost a task and a footer read. Pruning here is
  * strictly conservative: a file with no stats (older writer, exotic
  * type, statless footer) is always kept, so the index can never change
  * a query's answer, only its cost — asserted by the parity tests in
  * SnapLakeSkipSpec.
  */
class StatsFileIndex(dirs: Seq[Path], files: Seq[FileStatus],
    statsByFile: Map[Path, FileStats], commitLogPath: Path,
    bloomsByFile: () => Map[Path, Map[String, graft.ingest.GenBlooms.Bloom]],
    masks: Map[Path, RowMask] = Map.empty)
    extends FileIndex {

  // LAZY and equality-gated: bloom sidecars are orders of magnitude
  // bigger than stats envelopes (~m/8 bytes per file-column), so they
  // are parsed only the first time a scan actually presents a predicate
  // the bloom tier can serve — full scans, counts, and pure range
  // queries never pay the load
  private lazy val blooms = bloomsByFile()

  /** The generation directories PLUS the commit log: the table is
    * genuinely multi-location, and advertising that is also the guard
    * against `INSERT INTO` — Spark's file-relation insert command
    * requires a single root path and refuses, instead of silently
    * dropping parquet files into a committed generation directory
    * (which would mutate every version referencing it and break
    * snapshot isolation and time travel). Writes go through
    * `format("snaplake").mode("append")`, i.e. the commit log. */
  override def rootPaths: Seq[Path] = dirs :+ commitLogPath
  override def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
  override def partitionSchema: StructType = new StructType()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val prune = new FilePruning(dataFilters)
    val kept =
      if (dataFilters.isEmpty || (statsByFile.isEmpty && !prune.wantsBlooms)) files
      else files.filter(f => prune.mayMatch(statsByFile.get(f.getPath), blooms.get(f.getPath)))
    Seq(PartitionDirectory(InternalRow.empty, kept.map(f => FileStatusWithMetadata(f,
      masks.get(f.getPath).fold(Map.empty[String, Any])(m => Map(RowMask.Key -> m))))))
  }
}

/** Could one file hold a row passing every one of `filters`? The one
  * prune decision behind snaplake reads, merges, deletes and rebases. A
  * `false` literal filter matches nothing. Otherwise the envelope tier
  * ([[StatsPruning]]) runs first; then, only when some filter has an
  * equality shape ([[wantsBlooms]]), the Bloom tier ([[BloomPruning]]):
  * point predicates a min/max envelope cannot decide (equality on a
  * high-cardinality unsorted key) prune on a definite-absence answer.
  * `blooms` is by-name, so a sidecar is loaded only for a file that
  * reaches that tier. A file without stats or Blooms is never pruned by
  * that tier. */
final class FilePruning(filters: Seq[Expression]) {
  private val never = filters.contains(Literal.FalseLiteral)

  /** Can the Bloom tier prune at all? Only then is a sidecar worth loading. */
  val wantsBlooms: Boolean = filters.exists(BloomPruning.hasEqualityShape)

  def mayMatch(stats: Option[FileStats],
      blooms: => Option[Map[String, graft.ingest.GenBlooms.Bloom]]): Boolean =
    !never && stats.forall(st => filters.forall(StatsPruning.mayMatch(_, st))) &&
      (!wantsBlooms || blooms.forall(bs => filters.forall(BloomPruning.mayMatch(_, bs))))
}

/** Decides, from one file's column envelopes, whether a pushed filter
  * could match any row of the file. Returning `true` ("may match") is
  * always safe; `false` must be a proof. Unknown expression shapes,
  * unknown columns, and type-tag mismatches all answer `true`.
  *
  * Values compare in Catalyst's internal literal space, which is also
  * the space [[graft.ingest.GenStats]] stores: integral family as Long
  * (DATE days included), float family as Double, strings as UTF-8-byte
  * ordered text (TIMESTAMP micros are Long too). No calendar or charset
  * conversion happens at prune time.
  */
object StatsPruning {

  def mayMatch(e: Expression, fs: FileStats): Boolean = e match {
    case And(l, r) => mayMatch(l, fs) && mayMatch(r, fs)
    case Or(l, r) => mayMatch(l, fs) || mayMatch(r, fs)

    case EqualTo(a: AttributeReference, Literal(v, _)) => cmp(fs, a.name, v, "eq")
    case EqualTo(Literal(v, _), a: AttributeReference) => cmp(fs, a.name, v, "eq")
    case EqualNullSafe(a: AttributeReference, Literal(v, _)) =>
      if (v == null) mayHaveNull(fs, a.name) else cmp(fs, a.name, v, "eq")
    case EqualNullSafe(Literal(v, _), a: AttributeReference) =>
      if (v == null) mayHaveNull(fs, a.name) else cmp(fs, a.name, v, "eq")

    case LessThan(a: AttributeReference, Literal(v, _)) => cmp(fs, a.name, v, "lt")
    case LessThan(Literal(v, _), a: AttributeReference) => cmp(fs, a.name, v, "gt")
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) => cmp(fs, a.name, v, "le")
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) => cmp(fs, a.name, v, "ge")
    case GreaterThan(a: AttributeReference, Literal(v, _)) => cmp(fs, a.name, v, "gt")
    case GreaterThan(Literal(v, _), a: AttributeReference) => cmp(fs, a.name, v, "lt")
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) => cmp(fs, a.name, v, "ge")
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) => cmp(fs, a.name, v, "le")

    case In(a: AttributeReference, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists { case Literal(v, _) => cmp(fs, a.name, v, "eq") }
    case InSet(a: AttributeReference, hset) =>
      hset.exists(v => cmp(fs, a.name, v, "eq"))

    case StartsWith(a: AttributeReference, Literal(v, _)) if v != null =>
      startsWithMayMatch(fs, a.name, v.toString)

    case IsNull(a: AttributeReference) => mayHaveNull(fs, a.name)
    case IsNotNull(a: AttributeReference) => mayHaveNonNull(fs, a.name)
    case Not(IsNull(a: AttributeReference)) => mayHaveNonNull(fs, a.name)
    case Not(IsNotNull(a: AttributeReference)) => mayHaveNull(fs, a.name)

    case _ => true
  }

  /** Could `col <op> v` hold for some row of the file? */
  private def cmp(fs: FileStats, col: String, v: Any, op: String): Boolean = {
    val cs = fs.cols.getOrElse(col, return true)
    val lit = norm(v).getOrElse(return true)
    if (!tagMatches(cs.tag, lit)) return true
    (cs.min, cs.max) match {
      case (Some(mn), Some(mx)) =>
        val ord = graft.ingest.GenStats.ordering(cs.tag)
        op match {
          case "eq" => ord.lteq(mn, lit) && ord.gteq(mx, lit)
          case "lt" => ord.lt(mn, lit)
          case "le" => ord.lteq(mn, lit)
          case "gt" => ord.gt(mx, lit)
          case "ge" => ord.gteq(mx, lit)
          case _ => true
        }
      // min/max absent is NOT by itself an all-NULL proof: parquet
      // omits them (while still writing null_count) for float/double
      // chunks containing NaN and for binary values over the stats size
      // cap. Only nulls == rows proves no value can satisfy a
      // comparison; anything else keeps the file.
      case _ => !allNull(fs, cs)
    }
  }

  /** Proven: every row's value for this column is NULL. */
  private def allNull(fs: FileStats, cs: graft.ingest.GenStats.ColStats): Boolean =
    cs.nulls.exists(n => fs.rows >= 0 && n == fs.rows)

  /** Prefix predicate via envelope truncation: a value starting with
    * `prefix` exists in [min, max] iff min.take(n) <= prefix <=
    * max.take(n) lexicographically. Char-truncation only coincides with
    * the byte ordering when everything involved is ASCII; otherwise
    * answer "may match". */
  private def startsWithMayMatch(fs: FileStats, col: String, prefix: String): Boolean = {
    val cs = fs.cols.getOrElse(col, return true)
    if (cs.tag != "s") return true
    (cs.min, cs.max) match {
      case (Some(mn: String), Some(mx: String)) =>
        val ascii = (s: String) => s.forall(_ < 128)
        if (!ascii(prefix) || !ascii(mn) || !ascii(mx)) return true
        val n = prefix.length
        mn.take(n) <= prefix && prefix <= mx.take(n)
      case _ => !allNull(fs, cs) // absent min/max ≠ all-NULL (see cmp)
    }
  }

  private def mayHaveNull(fs: FileStats, col: String): Boolean =
    fs.cols.get(col).flatMap(_.nulls) match {
      case Some(n) => n > 0
      case None => true
    }

  private def mayHaveNonNull(fs: FileStats, col: String): Boolean =
    fs.cols.get(col) match {
      case Some(cs) =>
        (cs.nulls, fs.rows) match {
          case (Some(n), r) if r >= 0 => n < r
          case _ => true
        }
      case None => true
    }

  /** Catalyst internal literal → the stats value space, which the Bloom
    * probe ([[BloomPruning]]) shares. Doubles fold -0.0 to 0.0, matching
    * the harvest side ([[graft.ingest.GenStats.foldZero]]) — see its
    * scaladoc for the wrong-prune this prevents. */
  private[sources] def norm(v: Any): Option[Any] = v match {
    case null => None
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case f: Float => Some(graft.ingest.GenStats.foldZero(f.toDouble))
    case d: Double => Some(graft.ingest.GenStats.foldZero(d))
    case b: Boolean => Some(b)
    case u: UTF8String => Some(u.toString)
    case s: String => Some(s)
    case _ => None
  }

  // one tag alphabet for the whole stats/bloom value space
  private def tagMatches(tag: String, lit: Any): Boolean =
    graft.ingest.GenBlooms.kindOf(lit).contains(tag)
}

/** Bloom-tier pruning: equality-shaped predicates against a file's
  * [[graft.ingest.GenBlooms.Bloom]] sidecars. `false` ⇒ provable
  * absence (modulo the bloom's zero-false-negative guarantee: every
  * written value was inserted, so an all-miss IS a proof). Everything
  * that is not an equality on a bloomed column answers `true` — range
  * and null predicates belong to the envelope tier. */
object BloomPruning {
  import graft.ingest.GenBlooms.Bloom

  /** Does the predicate contain a shape the bloom tier can serve? The
    * gate before any sidecar is loaded — growing [[mayMatch]]'s coverage
    * means updating this alongside it. */
  def hasEqualityShape(e: Expression): Boolean = e.exists {
    case _: EqualTo | _: EqualNullSafe | _: In | _: InSet => true
    case _ => false
  }

  def mayMatch(e: Expression, blooms: Map[String, Bloom]): Boolean = e match {
    case And(l, r) => mayMatch(l, blooms) && mayMatch(r, blooms)
    case Or(l, r) => mayMatch(l, blooms) || mayMatch(r, blooms)
    case EqualTo(a: AttributeReference, Literal(v, _)) => probe(blooms, a.name, v)
    case EqualTo(Literal(v, _), a: AttributeReference) => probe(blooms, a.name, v)
    case EqualNullSafe(a: AttributeReference, Literal(v, _)) if v != null =>
      probe(blooms, a.name, v)
    case EqualNullSafe(Literal(v, _), a: AttributeReference) if v != null =>
      probe(blooms, a.name, v)
    case In(a: AttributeReference, list) if list.forall(_.isInstanceOf[Literal]) =>
      list.exists { case Literal(v, _) => probe(blooms, a.name, v) }
    case InSet(a: AttributeReference, hset) =>
      hset.exists(v => probe(blooms, a.name, v))
    case _ => true
  }

  private def probe(blooms: Map[String, Bloom], col: String, v: Any): Boolean =
    // sidecar keys are lowercased (GenBlooms.write) so an attribute
    // cased differently from the physical schema still finds its bloom
    blooms.get(col.toLowerCase) match {
      case None => true
      case Some(b) => StatsPruning.norm(v) match {
        case None => true // NULL or exotic literal: not bloom-decidable
        case Some(n) => b.mightContain(n)
      }
    }
}
