package graft.transcript

import graft.SparkSuite
import graft.gen.TranscriptGen
import graft.io.ParquetPartitionedSource
import java.nio.file.Files

class ResumableRunnerSpec extends SparkSuite {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("kill-and-rerun skips validated partitions; lineage change re-validates") {
    val root = tmpDir("transcripts")
    val manifestPath = s"${tmpDir("manifest")}/manifest.json"
    val cfg = TranscriptGen.GenConfig(
      numConvs = 200, seed = 3, numPartitions = 4, dupRate = 0.01, gapRate = 0.01)
    val data = TranscriptGen.transcripts(spark, cfg)
    ParquetPartitionedSource.write(data, root)

    val source = new ParquetPartitionedSource(spark, root)
    assert(source.partitionIds() == Seq(0, 1, 2, 3))
    val keys = TranscriptGen.conversations(spark, cfg).select("conv_id")
    val manifest = new CheckpointManifest(manifestPath)
    val validator = new TranscriptValidator()

    // first run: everything validated
    val run1 = new ResumableRunner(source, manifest, validator, Some(keys)).run()
    assert(run1.validated.map(_.partitionId).sorted == Seq(0, 1, 2, 3))
    assert(run1.skipped.isEmpty)
    assert(run1.totalRows == data.count())
    assert(run1.totalViolations > 0)

    // simulated restart: same snapshot + constraints → all partitions skipped
    val run2 = new ResumableRunner(source, manifest, validator, Some(keys)).run()
    assert(run2.validated.isEmpty)
    assert(run2.skipped.sorted == Seq(0, 1, 2, 3))

    // partial manifest (crash after 2 partitions): only the missing two run
    val manifest2 = new CheckpointManifest(s"${tmpDir("m2")}/manifest.json")
    run1.validated.take(2).foreach(manifest2.record)
    val run3 = new ResumableRunner(source, manifest2, validator, Some(keys)).run()
    assert(run3.validated.map(_.partitionId).sorted ==
      (Seq(0, 1, 2, 3) diff run1.validated.take(2).map(_.partitionId)).sorted)

    // data change in ONE partition → only that partition's lineage breaks;
    // the untouched three keep their manifest entries (partition-grain
    // snapshot ids — an append must not force whole-table re-validation)
    val snapBefore = source.partitionSnapshotId(1)
    val othersBefore = Seq(0, 2, 3).map(source.partitionSnapshotId)
    val extra = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 10, seed = 99, numPartitions = 4))
    extra.filter(org.apache.spark.sql.functions.col("partition_id") === 1)
      .write.mode("append").partitionBy("partition_id").parquet(root)
    assert(source.partitionSnapshotId(1) != snapBefore)
    assert(Seq(0, 2, 3).map(source.partitionSnapshotId) == othersBefore)
    val run4 = new ResumableRunner(source, manifest, validator, Some(keys)).run()
    assert(run4.validated.map(_.partitionId) == Seq(1))
    assert(run4.skipped.sorted == Seq(0, 2, 3))
  }

  /** Flip one byte mid-file and one in the tail block of `f`, keeping its
    * length and mtime (coarse-fs / object-store copy scenario). */
  private def rewriteKeepingLengthAndMtime(f: java.io.File): Unit = {
    val oldMtime = f.lastModified()
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x1).toByte
    bytes(bytes.length - 5) = (bytes(bytes.length - 5) ^ 0x1).toByte
    java.nio.file.Files.write(f.toPath, bytes)
    assert(f.setLastModified(oldMtime) && f.lastModified() == oldMtime)
  }

  test("a same-mtime same-length rewrite changes the snapshot id") {
    val root = tmpDir("digest")
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 50, seed = 7, numPartitions = 2))
    ParquetPartitionedSource.write(data, root)
    val source = new ParquetPartitionedSource(spark, root)
    val before = source.partitionSnapshotId(0)
    val untouched = source.partitionSnapshotId(1)
    rewriteKeepingLengthAndMtime(new java.io.File(s"$root/partition_id=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head)
    assert(source.partitionSnapshotId(0) != before,
      "the snapshot id must change on a same-mtime rewrite")
    // untouched partition keeps its id (no spurious invalidation)
    assert(source.partitionSnapshotId(1) == untouched)
  }

  test("snapshot id covers files at any depth of a hive layout") {
    // a two-level layout (root/a=0/b=0/) is read by Spark in full, so a
    // rewrite two directories down must change the table's snapshot id
    val root = tmpDir("nested")
    spark.range(40).selectExpr("id", "id % 2 AS a", "id % 3 AS b")
      .write.partitionBy("a", "b").parquet(s"$root/t")
    val source = new ParquetPartitionedSource(spark, s"$root/t")
    val before = source.snapshotId
    rewriteKeepingLengthAndMtime(new java.io.File(s"$root/t/a=0/b=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head)
    assert(source.snapshotId != before, "a rewrite under a=0/b=0 must change the snapshot id")
  }

  test("manifest tolerates legacy/partial entries: missing fields drop to re-validate") {
    // regression: load() NPE'd on an entry missing a lineage field, so a
    // pre-lineage manifest crashed the runner instead of re-validating
    val path = s"${tmpDir("legacy")}/manifest.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"partitions": [
        |  {"partitionId": 0, "snapshotId": "s0", "constraintHash": "h",
        |   "rowsScanned": 10, "violations": 1, "wallMs": 5},
        |  {"partitionId": 1, "rowsScanned": 10, "violations": 0, "wallMs": 5},
        |  {"partitionId": "bogus"},
        |  {}
        |]}""".stripMargin)
    val m = new CheckpointManifest(path)
    assert(m.load().keySet == Set(0), "only the fully-formed entry survives")
    assert(m.isComplete(0, "s0", "h"))
    assert(!m.isComplete(1, "any", "any"), "partial entry must re-validate")
    // record still round-trips after dropping the malformed entries
    m.record(PartitionEntry(1, "s1", "h", 10, 0, 5))
    assert(new CheckpointManifest(path).load().keySet == Set(0, 1))
  }

  test("constraint-set hash invalidates completions") {
    assert(CheckpointManifest.constraintHash(Seq("a", "b")) ==
      CheckpointManifest.constraintHash(Seq("b", "a")))
    assert(CheckpointManifest.constraintHash(Seq("a")) !=
      CheckpointManifest.constraintHash(Seq("a", "b")))
  }

  test("empty partition dir reads as zero rows; non-numeric partition dir fails actionably") {
    val root = tmpDir("edge")
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 20, seed = 5, numPartitions = 2))
    ParquetPartitionedSource.write(data, root)
    // maintenance deleted the data files but left the directory: the run
    // must validate it as empty, not crash schema inference
    val d = new java.io.File(s"$root/partition_id=1")
    d.listFiles().foreach(f => assert(f.delete()))
    val source = new ParquetPartitionedSource(spark, root)
    assert(source.partitionIds() == Seq(0, 1))
    assert(source.readPartition(1).count() == 0)
    assert(source.readPartition(0).count() > 0)
    // a null-partition_id write lands in __HIVE_DEFAULT_PARTITION__: the
    // listing must fail with an actionable message (silently skipping it
    // would leave rows unvalidated), not a NumberFormatException
    assert(new java.io.File(s"$root/partition_id=__HIVE_DEFAULT_PARTITION__").mkdir())
    val e = intercept[IllegalArgumentException](source.partitionIds())
    assert(e.getMessage.contains("__HIVE_DEFAULT_PARTITION__"))
  }

  test("concurrent partition validation matches sequential results; resume still skips") {
    val root = tmpDir("conc")
    val cfg = TranscriptGen.GenConfig(
      numConvs = 200, seed = 13, numPartitions = 4, dupRate = 0.01, gapRate = 0.01)
    val data = TranscriptGen.transcripts(spark, cfg)
    ParquetPartitionedSource.write(data, root)
    val source = new ParquetPartitionedSource(spark, root)
    val keys = TranscriptGen.conversations(spark, cfg).select("conv_id")
    val validator = new TranscriptValidator()

    val seq = new ResumableRunner(source,
      new CheckpointManifest(s"${tmpDir("cm1")}/m.json"), validator, Some(keys)).run()
    val conc = new ResumableRunner(source,
      new CheckpointManifest(s"${tmpDir("cm2")}/m.json"), validator, Some(keys),
      maxConcurrent = 4).run()
    assert(conc.validated.map(_.partitionId) == seq.validated.map(_.partitionId),
      "Future.traverse must preserve partition order in the summary")
    assert(conc.totalRows == seq.totalRows && conc.totalViolations == seq.totalViolations)
    assert(conc.validated.map(e => (e.partitionId, e.rowsScanned, e.violations)) ==
      seq.validated.map(e => (e.partitionId, e.rowsScanned, e.violations)))
    // the concurrently-written manifest resumes exactly like a sequential one
    val m2path = s"${tmpDir("cm3")}/m.json"
    val m2 = new CheckpointManifest(m2path)
    val first = new ResumableRunner(source, m2, validator, Some(keys), maxConcurrent = 4).run()
    assert(first.validated.size == 4)
    val resumed = new ResumableRunner(source, new CheckpointManifest(m2path),
      validator, Some(keys), maxConcurrent = 4).run()
    assert(resumed.validated.isEmpty && resumed.skipped.sorted == Seq(0, 1, 2, 3))
  }

  test("concurrent cohort bails on failure: queued partitions never commit, resume completes") {
    val root = tmpDir("bail")
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 100, seed = 17, numPartitions = 4))
    ParquetPartitionedSource.write(data, root)
    val source = new ParquetPartitionedSource(spark, root)
    val mpath = s"${tmpDir("bm")}/m.json"
    // sink fails on the first two partitions (the ones a 2-thread pool
    // runs first); the sink runs BEFORE the manifest commit, so neither
    // commits, and the flag makes the two queued partitions bail before
    // touching Spark or the manifest
    val failing: (Int, TranscriptReport) => Unit = (p, _) =>
      if (p <= 1) throw new RuntimeException(s"sink boom p$p") else ()
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val e = intercept[Exception] {
      new ResumableRunner(source, new CheckpointManifest(mpath),
        new TranscriptValidator(), None, Some(failing), maxConcurrent = 2).run()
    }
    assert(e.getMessage.contains("boom") || e.getMessage.contains("cohort"),
      s"failure must propagate, got $e")
    assert(new CheckpointManifest(mpath).load().isEmpty,
      "no partition may commit after the cohort failed before any commit")
    assert(cm.isEmpty, "a failed partition must release its persisted seq/violations")
    // resume with a healthy sink validates everything
    val ok = new ResumableRunner(source, new CheckpointManifest(mpath),
      new TranscriptValidator(), None, None, maxConcurrent = 2).run()
    assert(ok.validated.map(_.partitionId).sorted == Seq(0, 1, 2, 3))
  }

  test("wedged partition trips the wall-clock watcher loudly; manifest stays intact") {
    val root = tmpDir("hang")
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 40, seed = 23, numPartitions = 3))
    ParquetPartitionedSource.write(data, root)
    val source = new ParquetPartitionedSource(spark, root)
    val mpath = s"${tmpDir("hm")}/m.json"
    // sink hangs FOREVER on partition 2 (an object store stalling a ranged
    // GET); partitions 0 and 1 complete and commit first on the 1-thread
    // pool, then the watcher (small budget for the test) must fail the
    // cohort LOUDLY with the wedged partition named — not await
    // Duration.Inf — and interrupt the hung task
    val hung: (Int, TranscriptReport) => Unit = (p, _) =>
      if (p == 2) {
        // pool.shutdownNow() interrupts the sleep; a real stalled client
        // surfaces that as an IO failure — the partition must NOT commit
        try Thread.sleep(Long.MaxValue)
        catch { case e: InterruptedException =>
          throw new RuntimeException("interrupted mid-GET", e)
        }
      }
    val e = intercept[java.util.concurrent.TimeoutException] {
      new ResumableRunner(source, new CheckpointManifest(mpath),
        new TranscriptValidator(), None, Some(hung),
        maxConcurrent = 1, partitionTimeoutMs = 8000L).run()
    }
    assert(e.getMessage.contains("validate p=2") && e.getMessage.contains("budget"),
      s"the wedged partition must be named: ${e.getMessage}")
    // completed partitions stayed committed (manifest intact), the wedged
    // one did not commit — a resume with a healthy sink finishes only it
    val committed = new CheckpointManifest(mpath).load().keySet
    assert(committed == Set(0, 1), s"manifest must keep completed partitions: $committed")
    val resumed = new ResumableRunner(source, new CheckpointManifest(mpath),
      new TranscriptValidator(), None, None).run()
    assert(resumed.validated.map(_.partitionId) == Seq(2) &&
      resumed.skipped.sorted == Seq(0, 1))
  }

  test("a truncated parquet file fails the run naming its partition; resume validates only it") {
    val root = tmpDir("trunc")
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 60, seed = 29, numPartitions = 4))
    ParquetPartitionedSource.write(data, root)
    val source = new ParquetPartitionedSource(spark, root)
    val mpath = s"${tmpDir("tm")}/m.json"
    // cut the last partition's data file in half (an interrupted copy);
    // its checksum sibling goes too, so the parquet reader sees the cut
    val dir = new java.io.File(s"$root/partition_id=3")
    val f = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val intact = Files.readAllBytes(f.toPath)
    dir.listFiles().filter(_.getName.endsWith(".crc")).foreach(c => assert(c.delete()))
    Files.write(f.toPath, java.util.Arrays.copyOf(intact, intact.length / 2))
    val e = intercept[Exception] {
      new ResumableRunner(source, new CheckpointManifest(mpath), new TranscriptValidator()).run()
    }
    assert(e.getMessage.contains("p=3"), s"the failing partition must be named: ${e.getMessage}")
    assert(new CheckpointManifest(mpath).load().keySet == Set(0, 1, 2),
      "partitions validated before the failure stay committed; the bad one is not recorded")
    // repair: the resume validates only the partition that failed
    Files.write(f.toPath, intact)
    val resumed = new ResumableRunner(source, new CheckpointManifest(mpath),
      new TranscriptValidator()).run()
    assert(resumed.validated.map(_.partitionId) == Seq(3) &&
      resumed.skipped.sorted == Seq(0, 1, 2))
  }

  test("per-partition drift: skewed partition flags, matching passes, uncovered metric surfaces") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = tmpDir("pdrift")
    // partition 0: balanced user/assistant; partition 1: all user
    val rows = (0 until 40).map { i =>
      val part = i / 20
      val role = if (part == 0) (if (i % 2 == 0) "user" else "assistant") else "user"
      (s"c$part", i % 20, role, "some text", null.asInstanceOf[String],
        java.sql.Timestamp.valueOf(f"2026-01-01 00:00:${i % 20}%02d"), part)
    }
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts", "partition_id")
      .write.mode("overwrite").partitionBy("partition_id").parquet(root)
    val baseline: Map[String, Drift.Histogram] = Map("role" -> Map("user" -> 50L, "assistant" -> 50L))
    val got = scala.collection.mutable.Map[Int, ResumableRunner.PartitionDrift]()
    val dc = ResumableRunner.DriftCheck(
      baseline,
      df => Map(
        "role" -> Drift.collect(StatsProfiler.categoricalHistogram(df, col("role"))),
        "not_in_baseline" -> Map("x" -> 1L)),
      Seq("role"),
      pd => got.synchronized { got(pd.partitionId) = pd; () })
    new ResumableRunner(new ParquetPartitionedSource(spark, root),
      new CheckpointManifest(s"${tmpDir("pdm")}/m.json"),
      new TranscriptValidator(), None, None, maxConcurrent = 2, Some(dc)).run()
    val d0 = got.synchronized(got(0)); val d1 = got.synchronized(got(1))
    assert(!d0.verdicts.exists(_.drifted), s"balanced partition must pass: ${d0.verdicts}")
    assert(d1.verdicts.exists(v => v.name == "role" && v.drifted),
      s"all-user partition must flag: ${d1.verdicts}")
    assert(d0.producedNotInBaseline == Seq("not_in_baseline") &&
      d1.producedNotInBaseline == Seq("not_in_baseline"),
      "metrics absent from the baseline surface as unchecked, never self-compare")
    assert(d0.baselineNotProduced.isEmpty,
      "role IS produced — no false baseline-not-produced warning")
    // histograms are exposed and additive: summed partitions = whole table
    val summed = Drift.merge(d0.histograms("role"), d1.histograms("role"))
    assert(summed == Map("user" -> 30L, "assistant" -> 10L), summed.toString)
  }

  test("explicit file: URI roots work through the Hadoop FileSystem codepath") {
    // the lineage layer lists/digests via org.apache.hadoop.fs.FileSystem
    // (so hdfs:// and s3a:// roots work on a real cluster); a scheme-ful
    // file: URI exercises exactly that path resolution
    val localRoot = tmpDir("fsuri")
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 30, seed = 11, numPartitions = 2))
    ParquetPartitionedSource.write(data, localRoot)
    val uriRoot = new java.io.File(localRoot).toURI.toString.stripSuffix("/")
    assert(uriRoot.startsWith("file:"))
    val source = new ParquetPartitionedSource(spark, uriRoot)
    assert(source.partitionIds() == Seq(0, 1))
    // snapshot ids agree with the plain-path source — the fingerprint is
    // over (root-relative path, size, mtime, digest), independent of URI
    // spelling
    val plain = new ParquetPartitionedSource(spark, localRoot)
    assert(source.snapshotId == plain.snapshotId)
    assert(source.partitionSnapshotId(0) == plain.partitionSnapshotId(0))
    assert(source.readPartition(1).count() ==
      data.where(org.apache.spark.sql.functions.col("partition_id") === 1).count())
    // end-to-end: the resumable runner itself over the URI root
    val manifest = new CheckpointManifest(s"${tmpDir("fsm")}/manifest.json")
    val run = new ResumableRunner(source, manifest, new TranscriptValidator(), None).run()
    assert(run.validated.map(_.partitionId).sorted == Seq(0, 1))
    assert(run.totalRows == data.count())
  }

  test("missing or partition-less roots fail loud, not silently validate nothing") {
    // regression (r3 verdict #1): a typo'd --table used to print
    // `validated= skipped= rows=0 violations=0` and exit 0
    val missing = new ParquetPartitionedSource(spark, s"${tmpDir("gone")}/nope")
    val e1 = intercept[IllegalArgumentException](missing.partitionIds())
    assert(e1.getMessage.contains("does not exist"))
    intercept[IllegalArgumentException](missing.snapshotId)
    // root exists but holds no partition_id=N directories (e.g. an
    // unpartitioned parquet dir passed by mistake)
    val flat = tmpDir("flat")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(flat, "part-0000.parquet"), "not-really-parquet")
    val e2 = intercept[IllegalArgumentException](
      new ParquetPartitionedSource(spark, flat).partitionIds())
    assert(e2.getMessage.contains("no partition_id"))
  }

  test("partition read prunes to one directory") {
    val root = tmpDir("prune")
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 50, seed = 4, numPartitions = 4))
    ParquetPartitionedSource.write(data, root)
    val source = new ParquetPartitionedSource(spark, root)
    val p0 = source.readPartition(0)
    // scan must point at the single partition directory, not the table root
    val scanned = p0.queryExecution.executedPlan.collectLeaves().mkString
    assert(scanned.contains("partition_id=0"))
    assert(p0.count() > 0)
    assert(source.read().count() == data.count())
  }

  test("a failed cohort prints no RejectedExecutionException after the run returns") {
    val root = tmpDir("reject")
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 80, seed = 37, numPartitions = 4))
    ParquetPartitionedSource.write(data, root)
    val source = new ParquetPartitionedSource(spark, root)
    // p0's sink fails; p1 is still in flight and finishes only after the
    // run has thrown, so any task-completion work scheduled on the
    // partition pool lands after its shutdown
    val p0Failed = new java.util.concurrent.CountDownLatch(1)
    val p1Done = new java.util.concurrent.CountDownLatch(1)
    val sink: (Int, TranscriptReport) => Unit = (p, _) => p match {
      case 0 => p0Failed.countDown(); throw new RuntimeException("sink boom p0")
      case 1 =>
        try { p0Failed.await(60, java.util.concurrent.TimeUnit.SECONDS); Thread.sleep(500) }
        finally p1Done.countDown()
      case _ => ()
    }
    val captured = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(captured, true))
    try {
      val e = intercept[RuntimeException] {
        new ResumableRunner(source, new CheckpointManifest(s"${tmpDir("rm")}/m.json"),
          new TranscriptValidator(), None, Some(sink), maxConcurrent = 2).run()
      }
      assert(e.getMessage.startsWith("validate p=0 failed: sink boom p0"), e.getMessage)
      assert(p1Done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(1000) // let p1's thread finish its task
    } finally System.setErr(stderr)
    assert(!captured.toString.contains("RejectedExecutionException"), captured.toString)
  }

  test("a partition deleted between listing and read never commits under its old listing") {
    val root = tmpDir("vanish")
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 60, seed = 41, numPartitions = 3))
    ParquetPartitionedSource.write(data, root)
    val inner = new ParquetPartitionedSource(spark, root)
    // concurrent maintenance: partition 1's directory disappears after the
    // runner took its snapshot, on the first read
    val deleted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val vanishing = new graft.io.TableSource {
      def snapshotId: String = inner.snapshotId
      override def partitionSnapshotId(p: Int): String = inner.partitionSnapshotId(p)
      def partitionIds(): Seq[Int] = inner.partitionIds()
      def readPartition(p: Int): org.apache.spark.sql.DataFrame = {
        if (p == 1 && deleted.compareAndSet(false, true)) {
          val dir = java.nio.file.Paths.get(root, "partition_id=1")
          Files.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => Files.delete(f))
        }
        inner.readPartition(p)
      }
      def read(): org.apache.spark.sql.DataFrame = inner.read()
    }
    val manifest = new CheckpointManifest(s"${tmpDir("vm")}/m.json")
    val outcome = scala.util.Try(
      new ResumableRunner(vanishing, manifest, new TranscriptValidator()).run())
    assert(deleted.get())
    // either the run fails loudly naming the partition, or whatever it
    // commits for p=1 carries the listing it actually validated — never
    // the old, data-bearing one a later run would skip as validated
    outcome.failed.foreach(e =>
      assert(e.getMessage.contains("validate p=1 failed"), e.getMessage))
    manifest.load().get(1).foreach(entry =>
      assert(entry.snapshotId == inner.partitionSnapshotId(1),
        s"p=1 committed under a listing it did not validate: $entry"))
    assert(manifest.load().contains(1) || outcome.isFailure,
      "p=1 must either commit or fail the run")
  }
}
