package graft.ingest

import graft.SparkSpecBase

/** Pins the overwrite-publish primitive for snaplake metadata files
  * ([[AtomicOverwrite.publish]]): on a local root the new content lands
  * by the POSIX atomic rename — destination flipped whole, no temp file
  * left — whichever filesystem flavor wrote the old destination, and a
  * checksummed reader afterwards verifies the new bytes instead of
  * quarantining the file into `bad_files`. */
class AtomicOverwriteSpec extends SparkSpecBase {

  private def write(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** `p` read through a FRESH checksummed fs (bypassing the cached
    * instance) with verification on: a stale `.crc` throws
    * ChecksumException here and moves `p` into `bad_files`. */
  private def verifiedRead(p: org.apache.hadoop.fs.Path): String = {
    val fresh = org.apache.hadoop.fs.FileSystem
      .newInstance(p.toUri, spark.sparkContext.hadoopConfiguration)
    try {
      fresh.setVerifyChecksum(true)
      val in = fresh.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    } finally fresh.close()
  }

  /** What publishing left beside the destination: temp files, and a
    * `bad_files` quarantine directory. */
  private def residue(dir: String): Seq[String] =
    new java.io.File(dir).listFiles.map(_.getName).toSeq
      .filter(n => n.endsWith(".tmp") || n == "bad_files")

  private def checksummedFs(dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .asInstanceOf[org.apache.hadoop.fs.ChecksumFileSystem]

  test("atomic overwrite-rename flips whole and removes tmp on both local fs flavors") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("atomic_ow").toString
    val checksummed = checksummedFs(dir)
    for ((fs, tag) <- Seq((checksummed, "local"), (checksummed.getRawFileSystem, "rawlocal"))) {
      val dst = new org.apache.hadoop.fs.Path(s"$dir/_control-$tag.json")
      write(fs, dst, "old")
      AtomicOverwrite.publish(conf, dst, "new")
      assert(verifiedRead(dst) == "new", s"$tag: destination not flipped")
    }
    assert(residue(dir).isEmpty, s"publish left ${residue(dir).mkString(", ")}")
  }

  test("checksummed swap keeps sidecars consistent: verified read of new content, no stale or orphaned .crc") {
    // the stale-sidecar shape: a checksummed writer leaves `.f.crc`
    // beside the file, then a raw writer replaces the bytes under it —
    // the sidecar now describes content the file no longer holds
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("atomic_crc").toString
    val fs = checksummedFs(dir)
    val dst = new org.apache.hadoop.fs.Path(s"$dir/_autocompact.json")
    write(fs, dst, "{\"maxSmallGens\":4}")
    assert(fs.getRawFileSystem.exists(fs.getChecksumFile(dst)),
      "fixture broken: checksummed create must leave a dst sidecar")
    write(fs.getRawFileSystem, dst, "{\"maxSmallGens\":16}")
    AtomicOverwrite.publish(conf, dst, "{\"maxSmallGens\":8}")
    assert(verifiedRead(dst) == "{\"maxSmallGens\":8}", "content not flipped")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dst.toUri.getPath)),
      "destination vanished (quarantined into bad_files?)")
    assert(!fs.getRawFileSystem.exists(fs.getChecksumFile(dst)),
      "a stale .crc survived beside the published file")
    assert(residue(dir).isEmpty, s"publish left ${residue(dir).mkString(", ")}")
  }
}
