package graft.cli

import graft.SparkSuite
import graft.gen.TranscriptGen
import graft.io.ParquetPartitionedSource
import java.nio.file.Files

/** End-to-end CLI contract through a REAL forked JVM (graft.cli.Main calls
  * sys.exit, so in-process invocation would kill the test runner): exit
  * code 65 on violations (the reference CLI's convention, kye/cli.py:80-83),
  * checkpoint resume skipping validated partitions, and --max-concurrent on
  * the partition-wise path, the ann centroid-artifact lifecycle and UTF-8
  * output under the POSIX locale. One SparkSession cold-start per
  * invocation (~10 s each) — six such invocations total, the suite's
  * deliberate e2e budget.
  */
class CliE2eSpec extends SparkSuite {

  private def runCli(args: String*): (Int, String) = runCliIn(Map.empty)(args: _*)

  /** Runs the CLI with `env` added to its environment; the child's
    * merged stdout/stderr is decoded as UTF-8, whatever this JVM's locale. */
  private def runCliIn(env: Map[String, String])(args: String*): (Int, String) = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(
      s"${System.getProperty("java.home")}/bin/java",
      "-cp", System.getProperty("java.class.path"),
      "-Dspark.ui.enabled=false", "-Xmx4g") ++ addOpens ++
      Seq("graft.cli.Main") ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    (Map("SPARK_MASTER" -> "local[4]", "SPARK_GRAFT_CPUS" -> "4") ++ env)
      .foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val out = proc.getInputStream.readAllBytes()
    (proc.waitFor(), new String(out, java.nio.charset.StandardCharsets.UTF_8))
  }

  test("ann mode: first run trains + persists, second run loads, corpus change retrains") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("cli-ann").toString
    val table = s"$dir/emb.parquet"
    val artifact = s"$dir/centroids.json"
    def write(n: Int): Unit =
      spark.range(n).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), i -> cast(pmod(xxhash64(id, i), 97) / 97.0 - 0.5 as float))")
          .as("embedding"))
        .write.mode("overwrite").parquet(table)
    write(200)

    val (c1, o1) = runCli("ann", "--table", table, "--centroids", artifact,
      "--n-lists", "8", "--k", "3")
    assert(c1 == 0, s"ann run 1 failed rc=$c1\n${o1.takeRight(2000)}")
    assert(o1.contains("ann centroids: trained"), s"run 1 must train:\n${o1.takeRight(800)}")
    val top1 = o1.linesIterator.filter(_.matches("ann \\d+ .*")).toSeq

    val (c2, o2) = runCli("ann", "--table", table, "--centroids", artifact,
      "--n-lists", "8", "--k", "3")
    assert(c2 == 0, s"ann run 2 failed rc=$c2")
    assert(o2.contains("ann centroids: loaded"),
      s"unchanged corpus must LOAD the artifact:\n${o2.takeRight(800)}")
    val top2 = o2.linesIterator.filter(_.matches("ann \\d+ .*")).toSeq
    assert(top1.nonEmpty && top1 == top2,
      s"loaded centroids must reproduce the identical top-k:\n$top1\nvs\n$top2")

    // content change -> digest mismatch -> retrain
    write(220)
    val (c3, o3) = runCli("ann", "--table", table, "--centroids", artifact,
      "--n-lists", "8", "--k", "3")
    assert(c3 == 0, s"ann run 3 failed rc=$c3")
    assert(o3.contains("ann centroids: trained"),
      s"changed corpus must RETRAIN (digest guard):\n${o3.takeRight(800)}")
  }

  test("transcripts checkpoint run exits 65 on violations; resume skips; concurrency accepted") {
    val root = Files.createTempDirectory("cli-e2e").toString
    val cfg = TranscriptGen.GenConfig(
      numConvs = 120, seed = 31, numPartitions = 4, dupRate = 0.02, gapRate = 0.02)
    ParquetPartitionedSource.write(TranscriptGen.transcripts(spark, cfg), root)
    val manifest = s"${Files.createTempDirectory("cli-m")}/m.json"

    val (c1, o1) = runCli("transcripts", "--table", root,
      "--checkpoint", manifest, "--max-concurrent", "2")
    assert(c1 == 65, s"violations present -> exit 65, got $c1\n${o1.takeRight(2000)}")
    assert(o1.contains("validated=0,1,2,3"), s"all partitions validated:\n${o1.takeRight(1000)}")

    // resume: same lineage -> everything skipped, violations still
    // reported from the manifest (exit 65 again), nothing re-validated
    val (c2, o2) = runCli("transcripts", "--table", root,
      "--checkpoint", manifest, "--max-concurrent", "2")
    assert(c2 == 65, s"skipped partitions still surface recorded violations, got $c2")
    assert(o2.contains("validated= ") || o2.contains("validated= skipped") ||
      o2.matches("(?s).*validated=\\s*skipped=0,1,2,3.*"),
      s"resume must skip all:\n${o2.takeRight(1000)}")
  }

  test("--max-concurrent outside the checkpointed transcripts path is a usage error (no Spark startup)") {
    // in-process safe check is impossible (sys.exit); assert via fork that
    // the error lands fast and with exit 2
    val t0 = System.nanoTime()
    val (code, out) = runCli("transcripts", "--table", "/nonexistent",
      "--max-concurrent", "4")
    val dtSec = (System.nanoTime() - t0) / 1e9
    assert(code == 2, s"usage error expected, got $code:\n${out.takeRight(800)}")
    assert(out.contains("--max-concurrent requires"), out.takeRight(800))
    // fail-before-Spark: no SparkSession banner means the JVM exited in
    // well under a cold session start
    assert(!out.contains("SparkContext"), "must fail before Spark startup")
    assert(dtSec < 30, s"usage error must be fast, took $dtSec s")
  }

  test("--partition-timeout-ms outside the checkpointed transcripts path is a usage error") {
    // same contract as --max-concurrent: the watcher only exists on the
    // checkpointed path, so accepting the flag elsewhere would be a lie
    val (code, out) = runCli("transcripts", "--table", "/nonexistent",
      "--partition-timeout-ms", "60000")
    assert(code == 2, s"usage error expected, got $code:\n${out.takeRight(800)}")
    assert(out.contains("--partition-timeout-ms requires"), out.takeRight(800))
    assert(!out.contains("SparkContext"), "must fail before Spark startup")
  }

  test("output is UTF-8 under the POSIX locale: the baseline warning keeps its em-dash") {
    val root = Files.createTempDirectory("cli-utf8").toString
    ParquetPartitionedSource.write(TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 40, seed = 43, numPartitions = 2)), root)
    // a baseline without the text_len metric: the run warns that it is
    // not drift-checked, in a line carrying an em-dash
    val baseline = Files.createTempDirectory("cli-b").resolve("b.json")
    graft.transcript.Drift.writeSnapshot(baseline.toString,
      Map("role" -> Map("user" -> 1L, "assistant" -> 1L)))
    val (code, out) = runCliIn(Map("LC_ALL" -> "C"))(
      "transcripts", "--table", root, "--baseline", baseline.toString)
    assert(code == 0 || code == 65, s"run failed rc=$code\n${out.takeRight(2000)}")
    assert(out.contains("metric 'text_len' missing from the baseline — NOT drift-checked"),
      out.takeRight(2000))
  }
}
