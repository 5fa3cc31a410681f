package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}

/** In-process cache of one kind of parsed snaplake metadata file,
  * keyed on the file's path, length and modification time: a
  * generation sidecar (`_stats.json`, `_blooms.json`) or a commit file
  * (`_commits/v%08d.json`, [[Commit]]). A sidecar written with its
  * generation and a commit file never change, so a point read, merge,
  * delete or changefeed walk re-parses nothing it has parsed before; a
  * backfill republish ([[SnapshotLake.computeStats]],
  * [[SnapshotLake.computeBlooms]]) replaces the file, its length or
  * mtime moves, and the next load parses the new content. A cached
  * load costs one status probe. Least-recently-used entries beyond
  * `capacity` are dropped, so vacuumed generations and commits cannot
  * strand parsed values forever. */
private[ingest] final class SidecarCache[T](capacity: Int) {

  private final class Entry(val len: Long, val mtime: Long, val value: Option[T])

  private val entries =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Entry]): Boolean = size() > capacity
    }

  /** The parsed file at `p`, None when absent or when `parse` rejects
    * it. Read through the raw filesystem under `fs` ([[SidecarCache.raw]]).
    * Cached values are shared: callers must not mutate them. */
  def load(fsAll: FileSystem, p: Path)(parse: String => Option[T]): Option[T] =
    // an absent file, or one a republish deletes between the status
    // probe and the open, reads as None, not an exception
    try {
      val fs = SidecarCache.raw(fsAll)
      val st = fs.getFileStatus(p)
      val key = p.toString
      val hit = entries.synchronized(Option(entries.get(key)))
        .filter(e => e.len == st.getLen && e.mtime == st.getModificationTime)
      hit.map(_.value).getOrElse {
        val in = fs.open(p)
        val txt =
          try new String(org.apache.commons.io.IOUtils.toByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8)
          finally in.close()
        val value = parse(txt)
        entries.synchronized(entries.put(key,
          new Entry(st.getLen, st.getModificationTime, value)))
        value
      }
    } catch { case _: java.io.FileNotFoundException => None }
}

private[ingest] object SidecarCache {
  /** The raw filesystem under a checksummed one. Control-plane files are
    * published and read raw: a ChecksumFileSystem moves a file and its
    * `.crc` in separate steps, and a reader in that window would throw
    * ChecksumException. */
  def raw(fs: FileSystem): FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }
}
