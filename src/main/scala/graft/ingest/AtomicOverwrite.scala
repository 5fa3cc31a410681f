package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** Atomic overwrite of a small snaplake metadata file ([[publish]]): a
  * concurrent reader — or a reader after a crash at any instant —
  * observes either the old file or the new one, never a missing or
  * partial one.
  *
  * On HDFS, `FileContext.rename(OVERWRITE)` is the primitive (NameNode-
  * atomic under one namespace lock). On the LOCAL filesystem that same
  * call falls back to a client-side delete + rename — a crash between
  * the two leaves NO destination file. POSIX `rename(2)` with an
  * existing destination IS atomic, so local roots take
  * `Files.move(ATOMIC_MOVE)` directly.
  */
object AtomicOverwrite {

  private def rename(conf: Configuration, fs: FileSystem, tmp: Path, dst: Path): Unit =
    // getUri.getScheme, NOT getScheme: RawLocalFileSystem does not
    // implement getScheme and throws UnsupportedOperationException
    if (fs.getUri.getScheme == "file")
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    else
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)

  /** Replace the file at `dst` with `content`, atomically ([[rename]]):
    * a snaplake sidecar (`_stats.json`, `_blooms.json`) or control file.
    * Written through the raw filesystem ([[SidecarCache.raw]], which is
    * also how they are read) to a writer-unique hidden temp file beside
    * `dst`. A `.crc` that a checksummed writer once left beside `dst`
    * describes the old content and would fail any checksummed read of
    * the new one, so it is deleted first. */
  def publish(conf: Configuration, dst: Path, content: String): Unit = {
    val fsAll = dst.getFileSystem(conf)
    val raw = SidecarCache.raw(fsAll)
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.${java.util.UUID.randomUUID()}.tmp")
    val out = raw.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fsAll match {
      case c: ChecksumFileSystem => raw.delete(c.getChecksumFile(dst), false)
      case _ => ()
    }
    rename(conf, raw, tmp, dst)
  }
}
