package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileContext, FileSystem, Options, Path, RawLocalFileSystem}

/** The engine's small files (checkpoint manifest, drift baselines, schema
  * files, the centroid artifact) read and commit through the Hadoop
  * FileSystem of the path's scheme, like the table: `file:`, `hdfs://` and
  * `s3a://` paths alike, and a plain path is a local one. */
object TextFile {

  /** The file's text; None when nothing exists at the path. Any other IO
    * error propagates: a directory or an unreadable file is not absent. */
  def read(path: String, conf: Configuration): Option[String] = {
    val (fs, p, _) = resolve(path, conf)
    Option.when(fs.exists(p)) {
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
  }

  /** Replace the file with `text` by a temp sibling renamed over it: the
    * path never holds truncated text, and no `.tmp` or `.crc` sibling
    * stays. Local files and HDFS hold the old or the new file throughout;
    * elsewhere (object stores) a crash between the delete of the old file
    * and the rename leaves none, which reads as absent. */
  def write(path: String, text: String, conf: Configuration): Unit = {
    val (fs, p, checksum) = resolve(path, conf)
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    def put(out: java.io.OutputStream): Unit =
      try out.write(text.getBytes(UTF_8)) finally out.close()
    checksum.foreach(fs.delete(_, false)) // it would not match the new text
    fs match {
      // java.io: without libhadoop, Hadoop's local create runs chmod in a
      // subprocess (~3 ms a file); rename(2) overwrites atomically
      case local: RawLocalFileSystem =>
        val (from, to) = (local.pathToFile(tmp), local.pathToFile(p))
        local.mkdirs(p.getParent)
        put(new java.io.FileOutputStream(from))
        require(from.renameTo(to), s"failed to commit $path")
      case _ =>
        put(fs.create(tmp, true))
        // FileContext's overwriting rename: public (FileSystem's is not)
        if (scala.util.Try(FileContext.getFileContext(p.toUri, conf)
            .rename(tmp, p, Options.Rename.OVERWRITE)).isFailure) {
          if (fs.exists(p)) fs.delete(p, false)
          require(fs.rename(tmp, p), s"failed to commit $path")
        }
    }
  }

  /** The raw FileSystem of the path's scheme, the path qualified by it (a
    * plain path against its working directory, as a table path is) and the
    * checksum sidecar a checksumming wrapper keeps for it. */
  private def resolve(path: String, conf: Configuration): (FileSystem, Path, Option[Path]) =
    new Path(path).getFileSystem(conf) match {
      case c: ChecksumFileSystem =>
        val p = c.makeQualified(new Path(path))
        (c.getRawFileSystem, p, Some(c.getChecksumFile(p)))
      case fs => (fs, fs.makeQualified(new Path(path)), None)
    }
}
