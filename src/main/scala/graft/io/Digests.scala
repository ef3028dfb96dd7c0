package graft.io

/** Shared short-digest helper (lineage fingerprints in the checkpoint
  * manifest and the parquet snapshot stand-in use the same encoding). */
object Digests {
  /** First 8 bytes of SHA-256, hex. */
  def sha8(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(s.getBytes("UTF-8"))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Bytes digested at each end of a file by [[fileContentDigest]]. */
  private val EdgeBlock = 65536

  /** Cheap content fingerprint of a file: length + SHA-256 over the first
    * and last [[EdgeBlock]] bytes. O(128 KiB) of IO per file regardless of
    * file size — parquet rewrites virtually always change the footer
    * (row-group offsets/stats live there), and compressed identical-length
    * rewrites that keep BOTH edge blocks identical are adversarial, not
    * operational. Part of every table snapshot id, so a same-mtime
    * rewrite (coarse filesystems, object-store copies that preserve
    * timestamps) still changes the id.
    *
    * Reads through the Hadoop FileSystem API so the same code digests
    * `file:`, `hdfs://`, and `s3a://` tables. Two seeked 64-KiB reads map
    * to two ranged GETs on an object store — still O(1) per file. The
    * length comes from the already-fetched FileStatus, not a second
    * metadata round-trip. */
  def fileContentDigest(fs: org.apache.hadoop.fs.FileSystem,
                        status: org.apache.hadoop.fs.FileStatus): String =
    try {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val len = status.getLen
      val in = fs.open(status.getPath)
      try {
        val head = new Array[Byte](math.min(EdgeBlock.toLong, len).toInt)
        in.readFully(0L, head)
        md.update(head)
        if (len > EdgeBlock) {
          val tail = new Array[Byte](math.min(EdgeBlock.toLong, len - EdgeBlock).toInt)
          in.readFully(len - tail.length, tail)
          md.update(tail)
        }
      } finally in.close()
      md.update(len.toString.getBytes("UTF-8"))
      md.digest().take(8).map("%02x".format(_)).mkString
    } catch {
      // TOCTOU: snapshot ids exist FOR tables being rewritten underneath
      // the validator, so a file deleted/truncated between listing and
      // read must degrade to "changed" (re-validate next run), never
      // crash the resumable runner mid-flight
      case e: java.io.IOException => s"unreadable:${e.getClass.getSimpleName}"
    }
}
