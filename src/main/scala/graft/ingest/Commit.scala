package graft.ingest

import scala.jdk.CollectionConverters._

/** One [[SnapshotLake]] commit file (`_commits/v%08d.json`): the
  * generation directories `version` reads, in manifest order; the
  * operation that published it; whether that operation materialized its
  * one new generation's changefeed (`rewrite` — a restore
  * re-referencing that generation does not own its `_cdf/`); and a
  * streaming writer's exactly-once marker, `batchId` scoped by
  * `queryId`. Absent options and a false `rewrite` are not written:
  * {{{
  *   {"version":7,"op":"merge","batchId":3,"queryId":"q","rewrite":true,"dirs":["gen-ab12"]}
  * }}}
  * A file without `op` (an older writer's) reads as `unknown`. */
private[graft] final case class Commit(version: Long, op: String,
    dirs: Seq[String], rewrite: Boolean = false,
    batchId: Option[Long] = None, queryId: Option[String] = None) {

  def json: String = {
    val node = Commit.mapper.createObjectNode()
    node.put("version", version)
    node.put("op", op)
    batchId.foreach(b => node.put("batchId", b))
    queryId.foreach(q => node.put("queryId", q))
    if (rewrite) node.put("rewrite", true)
    val arr = node.putArray("dirs")
    dirs.foreach(arr.add)
    Commit.mapper.writeValueAsString(node)
  }
}

private[graft] object Commit {
  // configured once and only used to read and write trees: thread-safe
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def parse(txt: String): Commit = {
    val n = mapper.readTree(txt)
    Commit(n.path("version").asLong(), n.path("op").asText("unknown"),
      n.path("dirs").elements().asScala.map(_.asText()).toVector,
      n.path("rewrite").asBoolean(false),
      Option(n.get("batchId")).map(_.asLong()),
      Option(n.get("queryId")).map(_.asText()))
  }
}
