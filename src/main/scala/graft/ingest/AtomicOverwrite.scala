package graft.ingest

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

/** Atomic overwrite of a small file: a concurrent reader — or a reader
  * after a crash at any instant — observes either the old file or the
  * new one, never a missing or partial one.
  *
  * On HDFS, `FileContext.rename(OVERWRITE)` is the primitive (NameNode-
  * atomic under one namespace lock). On the LOCAL filesystem that same
  * call falls back to a client-side delete + rename — a crash between
  * the two leaves NO destination file, which for a CURRENT-pointer
  * ledger ([[graft.streaming.GenPointer]]) silently resets the ledger
  * on the next read. POSIX `rename(2)` with an existing destination IS
  * atomic, so local roots take `Files.move(ATOMIC_MOVE)` directly.
  *
  * [[publish]] serves every snaplake metadata file replaced in place;
  * the streaming CURRENT-pointer swap calls [[rename]].
  */
object AtomicOverwrite {

  def rename(conf: Configuration, fs: FileSystem, tmp: Path, dst: Path): Unit = {
    // getUri.getScheme, NOT getScheme: RawLocalFileSystem does not
    // implement getScheme and throws UnsupportedOperationException
    if (fs.getUri.getScheme == "file") {
      // When the caller's fs is checksummed (LocalFileSystem — the
      // default file:// fs the pointer chassis writes through), every
      // file carries a `.name.crc` sidecar the data-only NIO move does
      // not touch: tmp's sidecar would be orphaned, and a dst sidecar
      // from an earlier checksummed writer would still describe the OLD
      // bytes. A stale sidecar is worse than none: the first checksummed
      // read throws ChecksumException and LocalFileSystem QUARANTINES
      // dst into bad_files. Sidecars therefore follow the data, ordered
      // so no crash instant pairs content with a wrong checksum: stale
      // dst crc deleted BEFORE the data move, tmp's crc renamed into
      // place AFTER (a crash between the two leaves dst crc-less, which
      // ChecksumFSInputChecker tolerates by skipping verification).
      val sidecars = fs match {
        case c: ChecksumFileSystem => Some((
          java.nio.file.Paths.get(c.getChecksumFile(tmp).toUri.getPath),
          java.nio.file.Paths.get(c.getChecksumFile(dst).toUri.getPath)))
        case _ => None
      }
      sidecars.foreach { case (_, dstCrc) =>
        java.nio.file.Files.deleteIfExists(dstCrc) }
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dst.toUri.getPath),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      sidecars.foreach { case (tmpCrc, dstCrc) =>
        if (java.nio.file.Files.exists(tmpCrc))
          java.nio.file.Files.move(tmpCrc, dstCrc,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    } else {
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

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
