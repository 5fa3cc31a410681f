package graft.streaming

import java.io.File
import org.apache.commons.io.FileUtils

/** Crash simulation for the snaplake ledgers: a copy of a table root
  * taken before a batch, restored after it, leaves the table exactly as
  * a crash before that batch's commit would have (commit files, data
  * and control files alike). */
object LedgerCopies {

  /** A copy of the table at `root` (None when it does not exist yet). */
  def take(root: String): Option[File] = {
    val src = new File(root)
    if (!src.exists()) None
    else {
      val copy = java.nio.file.Files.createTempDirectory("graft_ledger_copy").toFile
      FileUtils.copyDirectory(src, copy)
      Some(copy)
    }
  }

  /** Put the table at `root` back to `copy`, as [[take]] returned it. */
  def restore(root: String, copy: Option[File]): Unit = {
    val dst = new File(root)
    FileUtils.deleteDirectory(dst)
    copy.foreach(FileUtils.copyDirectory(_, dst))
  }
}
