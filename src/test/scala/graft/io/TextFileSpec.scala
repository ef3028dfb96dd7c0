package graft.io

import graft.SparkSuite
import graft.transcript.{CheckpointManifest, Drift, PartitionEntry}
import java.nio.file.{Files, Path, Paths}

/** The small-file layer resolves a path through the Hadoop FileSystem of
  * its scheme, as the table does: a `file:` URI names the file at its
  * path, never a directory named `file:` under the working directory. */
class TextFileSpec extends SparkSuite {

  private def listing(dir: Path): Seq[String] =
    scala.util.Using.resource(Files.list(dir))(_.toArray.toSeq.map(_.toString).sorted)

  test("a checkpoint manifest at a file: URI lands at the URI's path") {
    val dir = Files.createTempDirectory("manifest-uri")
    val entry = PartitionEntry(3, "snap", "hash", rowsScanned = 10L, violations = 1L, wallMs = 5L)
    spark // the manifest reads the active session's Hadoop configuration
    new CheckpointManifest(s"file://$dir/m.json").record(entry)
    val file = dir.resolve("m.json")
    assert(Files.exists(file), "the manifest must land at the URI's path")
    assert(new CheckpointManifest(file.toString).load() == Map(3 -> entry),
      "a manifest opened by the plain path must load the entry")
    assert(!Files.exists(Paths.get(s"file:$dir")),
      "nothing may be created under the working directory")
    assert(listing(dir) == Seq(file.toString), "no .tmp or .crc sibling may be left")
  }

  test("a drift snapshot at a file: URI round-trips exactly; an absent file reads as None") {
    val dir = Files.createTempDirectory("snapshot-uri")
    val conf = spark.sparkContext.hadoopConfiguration
    val uri = s"file://$dir/baseline.json"
    val snap = Map("role" -> Map("user" -> 3L, "null" -> 1L),
      "text_len" -> Map("0" -> 1L, Drift.NullBin -> 2L))
    Drift.writeSnapshot(uri, Map("role" -> Map("user" -> 1L)))
    Drift.writeSnapshot(uri, snap)
    assert(Drift.snapshotFromJson(TextFile.read(uri, conf).get) == snap)
    assert(TextFile.read(s"file://$dir/absent.json", conf).isEmpty)
    assert(listing(dir) == Seq(dir.resolve("baseline.json").toString),
      "no .tmp or .crc sibling may be left")
  }

  test("an unreadable path raises instead of reading as absent") {
    val dir = Files.createTempDirectory("unreadable")
    intercept[java.io.IOException](TextFile.read(dir.toString, spark.sparkContext.hadoopConfiguration))
  }

  test("a write over a checksummed file drops its stale checksum") {
    // files committed through the checksumming local FileSystem carry a
    // .crc sidecar (centroid artifacts written by earlier builds do)
    val dir = Files.createTempDirectory("stale-crc")
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$dir/a.json")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write("{\"old\":1}".getBytes("UTF-8")) finally out.close()
    assert(TextFile.read(p.toString, conf).contains("{\"old\":1}"))
    TextFile.write(p.toString, "{\"new\":22}", conf)
    assert(listing(dir) == Seq(s"$dir/a.json"), "the stale .crc must go with the old file")
    val in = fs.open(p) // a checksum-verifying reader still reads the new text
    try assert(new String(in.readAllBytes(), "UTF-8") == "{\"new\":22}") finally in.close()
  }
}
