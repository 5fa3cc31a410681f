package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}

/** In-process cache of one kind of parsed generation sidecar
  * (`_stats.json`, `_blooms.json`), keyed on the sidecar's path, length
  * and modification time. A commit-time sidecar never changes, so a
  * point read, merge or delete re-parses nothing it has parsed before;
  * a backfill republish ([[SnapshotLake.computeStats]],
  * [[SnapshotLake.computeBlooms]]) replaces the file, its length or
  * mtime moves, and the next load parses the new content. A cached
  * load costs one status probe. Least-recently-used entries beyond `capacity` are dropped, so
  * vacuumed generations cannot strand parsed Blooms forever. */
private[ingest] final class SidecarCache[T](capacity: Int) {

  private final class Entry(val len: Long, val mtime: Long, val value: Option[T])

  private val entries =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Entry]): Boolean = size() > capacity
    }

  /** The parsed sidecar at `p`, None when absent or when `parse`
    * rejects it. `fs` should be the raw filesystem (see the sidecars'
    * publish notes). Cached values are shared: callers must not mutate
    * them. */
  def load(fs: FileSystem, p: Path)(parse: String => Option[T]): Option[T] =
    // an absent sidecar, or one a republish deletes between the status
    // probe and the open, reads as None (never prune), not an exception
    try {
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
