package graft.ingest

import scala.jdk.CollectionConverters._

/** A generation directory as one version reads it: whole, or only the
  * data files `files` names — what is left of it once some of its files
  * lost every row — with the deletion vector of each data file a merge
  * or a delete marked rows of (`dvs`, by file name). */
private[graft] final case class GenRef(dir: String, files: Option[Seq[String]] = None,
    dvs: Map[String, Dv] = Map.empty)

/** One [[SnapshotLake]] commit file (`_commits/v%08d.json`): the
  * generation directories `version` reads, in manifest order, and in
  * `files` the data files of each directory it reads only in part; the
  * operation that published it; a streaming writer's exactly-once
  * marker, `batchId` scoped by `queryId`; in `dvs`, per directory, the
  * deletion vector of each data file with replaced or deleted rows: the
  * `_dv/` file holding its bitmap and the rows it marks ([[Dv]],
  * [[DeletionVectors]]); and a mutation's file, byte and row counts
  * ([[Commit.Metrics]]). Absent options and an empty `files` or `dvs`
  * are not written:
  * {{{
  *   {"version":7,"op":"merge","batchId":3,"queryId":"q",
  *    "dirs":["gen-0a1b","gen-ab12"],
  *    "dvs":{"gen-0a1b":{"part-00000.parquet":{"file":"dv-5e6f….json","rows":1}}},
  *    "metrics":{"files_added":1,"bytes_added":2048,...,"rows_removed":1,"dvs_changed":1}}
  *   {"version":8,"op":"delete","dirs":["gen-0a1b","gen-ab12"],
  *    "files":{"gen-0a1b":["part-00001.parquet"]},
  *    "dvs":{"gen-ab12":{"part-00000.parquet":{"file":"dv-77aa….json","rows":2}}},
  *    "metrics":{"files_added":0,...,"rows_removed":2,"dvs_changed":1}}
  * }}}
  * A file without `op` (an older writer's) reads as `unknown`. A commit
  * written before merges marked rows may carry `"rewrite":true`: its
  * operation materialized its one new generation's changefeed in
  * `_cdf/`, which only that commit owns (a restore re-referencing the
  * generation does not). It parses and re-serializes; no writer sets
  * it. */
private[graft] final case class Commit(version: Long, op: String,
    dirs: Seq[String], rewrite: Boolean = false,
    batchId: Option[Long] = None, queryId: Option[String] = None,
    files: Map[String, Seq[String]] = Map.empty,
    metrics: Option[Commit.Metrics] = None,
    dvs: Map[String, Map[String, Dv]] = Map.empty) {

  /** The manifest: every directory with the file subset it is read by
    * and its files' deletion vectors. */
  def gens: Seq[GenRef] = dirs.map(d => GenRef(d, files.get(d), dvs.getOrElse(d, Map.empty)))

  def json: String = {
    val node = Commit.mapper.createObjectNode()
    node.put("version", version)
    node.put("op", op)
    batchId.foreach(b => node.put("batchId", b))
    queryId.foreach(q => node.put("queryId", q))
    if (rewrite) node.put("rewrite", true)
    val arr = node.putArray("dirs")
    dirs.foreach(arr.add)
    if (files.nonEmpty) {
      val fn = node.putObject("files")
      dirs.filter(files.contains).foreach { d =>
        val fa = fn.putArray(d)
        files(d).foreach(fa.add)
      }
    }
    if (dvs.nonEmpty) {
      val dn = node.putObject("dvs")
      dirs.filter(dvs.contains).foreach { d =>
        val fo = dn.putObject(d)
        dvs(d).toSeq.sortBy(_._1).foreach { case (f, dv) =>
          fo.putObject(f).put("file", dv.file).put("rows", dv.rows)
        }
      }
    }
    metrics.foreach { m =>
      val mn = node.putObject("metrics")
      Commit.Metrics.Names.zip(m.values).foreach {
        case (n, v: Long) => mn.put(n, v)
        case _ =>
      }
    }
    Commit.mapper.writeValueAsString(node)
  }
}

private[graft] object Commit {
  // configured once and only used to read and write trees: thread-safe
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A commit over manifest `gens`. */
  def of(version: Long, op: String, gens: Seq[GenRef],
      batchId: Option[Long] = None, queryId: Option[String] = None,
      metrics: Option[Metrics] = None): Commit =
    Commit(version, op, gens.map(_.dir), false, batchId, queryId,
      gens.flatMap(g => g.files.map(g.dir -> _)).toMap, metrics,
      gens.filter(_.dvs.nonEmpty).map(g => g.dir -> g.dvs).toMap)

  /** What a mutation (merge, delete, compaction, optimize) did, in data
    * files and their bytes: written into its new generation, read and
    * replaced (or, for a merge or a delete, left the manifest because
    * every row was removed), and carried into the new version by
    * reference. A merge or a delete also counts the rows it removed and
    * the files whose deletion vector it changed; other operations leave
    * those two unset. */
  final case class Metrics(filesAdded: Long, bytesAdded: Long,
      filesRemoved: Long, bytesRemoved: Long,
      filesCarried: Long, bytesCarried: Long,
      rowsRemoved: Option[Long] = None, dvsChanged: Option[Long] = None) {
    /** In [[Metrics.Names]] order; an unset count is null. */
    def values: Seq[Any] =
      Seq(filesAdded, bytesAdded, filesRemoved, bytesRemoved, filesCarried, bytesCarried) ++
        Seq(rowsRemoved, dvsChanged).map(_.getOrElse(null))
  }

  object Metrics {
    /** The JSON keys, which are also `history()`'s column names. */
    val Names: Seq[String] = Seq("files_added", "bytes_added",
      "files_removed", "bytes_removed", "files_carried", "bytes_carried",
      "rows_removed", "dvs_changed")
  }

  def parse(txt: String): Commit = {
    val n = mapper.readTree(txt)
    def strings(a: com.fasterxml.jackson.databind.JsonNode) =
      a.elements().asScala.map(_.asText()).toVector
    Commit(n.path("version").asLong(), n.path("op").asText("unknown"),
      strings(n.path("dirs")),
      n.path("rewrite").asBoolean(false),
      Option(n.get("batchId")).map(_.asLong()),
      Option(n.get("queryId")).map(_.asText()),
      n.path("files").properties().asScala.map(e => e.getKey -> strings(e.getValue)).toMap,
      Option(n.get("metrics")).map { m =>
        val v = Metrics.Names.map(k => Option(m.get(k)).map(_.asLong()))
        Metrics(v(0).getOrElse(0L), v(1).getOrElse(0L), v(2).getOrElse(0L), v(3).getOrElse(0L),
          v(4).getOrElse(0L), v(5).getOrElse(0L), v(6), v(7))
      },
      n.path("dvs").properties().asScala.map { d =>
        d.getKey -> d.getValue.properties().asScala.map { f =>
          f.getKey -> Dv(f.getValue.path("file").asText(), f.getValue.path("rows").asLong())
        }.toMap
      }.toMap)
  }
}
