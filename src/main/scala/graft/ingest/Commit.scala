package graft.ingest

import scala.jdk.CollectionConverters._

/** A generation directory as one version reads it: whole, or only the
  * data files `files` names — what a merge or delete that rewrote some
  * of the generation's files leaves of it. */
private[graft] final case class GenRef(dir: String, files: Option[Seq[String]] = None)

/** One [[SnapshotLake]] commit file (`_commits/v%08d.json`): the
  * generation directories `version` reads, in manifest order, and in
  * `files` the data files of each directory it reads only in part; the
  * operation that published it; whether that operation materialized its
  * one new generation's changefeed (`rewrite` — a restore
  * re-referencing that generation does not own its `_cdf/`); a
  * streaming writer's exactly-once marker, `batchId` scoped by
  * `queryId`; and a rewrite's file and byte counts ([[Commit.Metrics]]).
  * Absent options, an empty `files` and a false `rewrite` are not
  * written:
  * {{{
  *   {"version":7,"op":"merge","batchId":3,"queryId":"q","rewrite":true,
  *    "dirs":["gen-0a1b","gen-ab12"],"files":{"gen-0a1b":["part-00001.parquet"]},
  *    "metrics":{"files_added":1,"bytes_added":2048,...}}
  * }}}
  * A file without `op` (an older writer's) reads as `unknown`. */
private[graft] final case class Commit(version: Long, op: String,
    dirs: Seq[String], rewrite: Boolean = false,
    batchId: Option[Long] = None, queryId: Option[String] = None,
    files: Map[String, Seq[String]] = Map.empty,
    metrics: Option[Commit.Metrics] = None) {

  /** The manifest: every directory with the file subset it is read by. */
  def gens: Seq[GenRef] = dirs.map(d => GenRef(d, files.get(d)))

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
    metrics.foreach { m =>
      val mn = node.putObject("metrics")
      Commit.Metrics.Names.zip(m.values).foreach { case (n, v) => mn.put(n, v) }
    }
    Commit.mapper.writeValueAsString(node)
  }
}

private[graft] object Commit {
  // configured once and only used to read and write trees: thread-safe
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A commit over manifest `gens`. */
  def of(version: Long, op: String, gens: Seq[GenRef], rewrite: Boolean = false,
      batchId: Option[Long] = None, queryId: Option[String] = None,
      metrics: Option[Metrics] = None): Commit =
    Commit(version, op, gens.map(_.dir), rewrite, batchId, queryId,
      gens.flatMap(g => g.files.map(g.dir -> _)).toMap, metrics)

  /** What a rewrite (merge, delete, compaction, optimize) did, in data
    * files and their bytes: written into its new generation, read and
    * replaced, and carried into the new version by reference. */
  final case class Metrics(filesAdded: Long, bytesAdded: Long,
      filesRemoved: Long, bytesRemoved: Long,
      filesCarried: Long, bytesCarried: Long) {
    def values: Seq[Long] =
      Seq(filesAdded, bytesAdded, filesRemoved, bytesRemoved, filesCarried, bytesCarried)
  }

  object Metrics {
    /** The JSON keys, which are also `history()`'s column names. */
    val Names: Seq[String] = Seq("files_added", "bytes_added",
      "files_removed", "bytes_removed", "files_carried", "bytes_carried")
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
        val v = Metrics.Names.map(m.path(_).asLong())
        Metrics(v(0), v(1), v(2), v(3), v(4), v(5))
      })
  }
}
