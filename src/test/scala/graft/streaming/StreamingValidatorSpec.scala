package graft.streaming

import graft.SparkSuite
import graft.gen.TranscriptGen
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import java.nio.file.Files

class StreamingValidatorSpec extends SparkSuite {

  test("streaming row violations from a parquet stream match the batch result") {
    val dir = Files.createTempDirectory("stream-in").toString
    val cfg = TranscriptGen.GenConfig(numConvs = 100, seed = 21,
      nullRoleRate = 0.02, badRoleRate = 0.02, negTurnRate = 0.01)
    val data = TranscriptGen.transcripts(spark, cfg)
    data.write.mode("overwrite").parquet(dir)

    val q = StreamingValidator.startMemorySink(spark, dir, data.schema, "stream_v")
    q.processAllAvailable(); q.stop()

    val streamed = spark.sql("SELECT constraint_id, count(*) n FROM stream_v GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = new graft.transcript.TranscriptValidator()
      .rowViolations(spark.read.parquet(dir))
      .groupBy("constraint_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(streamed.values.sum > 0)
  }

  test("windowed violation counts aggregate by event-time window") {
    val dir = Files.createTempDirectory("stream-win").toString
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 50, seed = 22, badRoleRate = 0.05))
    data.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(data.schema).parquet(dir)
    // complete mode for the test sink: append only emits watermark-closed
    // windows, which a bounded AvailableNow backfill never closes
    val q = StreamingValidator.windowedViolationCounts(stream, windowLen = "10 minutes")
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("stream_win")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val total = spark.sql("SELECT sum(n) FROM stream_win").collect()(0).getLong(0)
    val batchTotal = new graft.transcript.TranscriptValidator()
      .rowViolations(spark.read.parquet(dir)).count()
    assert(total == batchTotal && total > 0)
  }

  test("windowed drift monitor: skewed window flagged, matching window passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.transcript.Drift
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val baseline: Drift.Histogram = Map("a" -> 50L, "b" -> 50L)
    val verdicts = scala.collection.mutable.ListBuffer.empty[(java.sql.Timestamp, Drift.DriftVerdict)]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, java.sql.Timestamp)]
    val q = StreamingValidator.startWindowedDriftMonitor(
      input.toDF().toDF("role", "ts"), "ts", col("role"), "role", baseline,
      (w, v) => verdicts.synchronized { verdicts += (w -> v); () },
      watermark = "0 seconds", windowLen = "1 minute")
    try {
      def t(min: Int, s: Int) =
        java.sql.Timestamp.valueOf(f"2026-01-01 00:$min%02d:$s%02d")
      // window 0: balanced a/b (matches baseline); window 1: all "a"
      input.addData((1 to 20).map(i => (if (i % 2 == 0) "a" else "b", t(0, i))): _*)
      q.processAllAvailable()
      input.addData((1 to 20).map(_ => ("a", t(1, 1))): _*)
      q.processAllAvailable()
      // watermark advance far past both windows; no-data micro-batches
      // then flush the closed windows through the append sink
      input.addData(("b", t(10, 0)))
      q.processAllAvailable()
    } finally q.stop()
    val byWindow = verdicts.synchronized(verdicts.toList)
      .map { case (w, v) => w.toString.substring(11, 16) -> v }.toMap
    assert(byWindow.contains("00:00") && byWindow.contains("00:01"),
      s"both windows must close and report, got ${byWindow.keySet}")
    assert(!byWindow("00:00").drifted, s"balanced window must pass: ${byWindow("00:00")}")
    assert(byWindow("00:01").drifted, s"all-a window must flag drift: ${byWindow("00:01")}")
    assert(byWindow("00:01").psi > byWindow("00:00").psi)
  }

  test("numeric drift leg: streaming text-length histogram vs a batch-style baseline") {
    // the north rule's text-length drift check on the streaming layer:
    // StatsProfiler.bin supplies the SAME clamped fixed-width bin ids the
    // batch histograms use, so a batch-collected baseline compares
    // directly against the windowed stream — no separate binning logic
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length}
    import graft.transcript.{Drift, StatsProfiler}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // baseline: texts uniformly 10-39 chars -> bins 1,2,3 of width 10
    val baseline: Drift.Histogram = Map("1" -> 30L, "2" -> 30L, "3" -> 30L)
    val verdicts = scala.collection.mutable.ListBuffer.empty[(java.sql.Timestamp, Drift.DriftVerdict)]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, java.sql.Timestamp)]
    val q = StreamingValidator.startWindowedDriftMonitor(
      input.toDF().toDF("text", "ts"), "ts",
      StatsProfiler.bin(length(col("text")), lo = 0, width = 10, nBins = 8),
      "text_len", baseline,
      (w, v) => verdicts.synchronized { verdicts += (w -> v); () },
      watermark = "0 seconds", windowLen = "1 minute")
    try {
      def t(min: Int, s: Int) =
        java.sql.Timestamp.valueOf(f"2026-01-01 00:$min%02d:$s%02d")
      // window 0 matches the baseline mix; window 1 is all short texts
      input.addData((1 to 30).map(i => ("x" * (12 + (i % 3) * 10), t(0, i % 60))): _*)
      q.processAllAvailable()
      input.addData((1 to 30).map(_ => ("hi", t(1, 1))): _*)
      q.processAllAvailable()
      input.addData(("flush", t(10, 0)))
      q.processAllAvailable()
    } finally q.stop()
    val byWindow = verdicts.synchronized(verdicts.toList)
      .map { case (w, v) => w.toString.substring(11, 16) -> v }.toMap
    assert(byWindow.contains("00:00") && byWindow.contains("00:01"), byWindow.keySet.toString)
    assert(!byWindow("00:00").drifted, s"matching length mix must pass: ${byWindow("00:00")}")
    assert(byWindow("00:01").drifted, s"all-short window must flag: ${byWindow("00:01")}")
  }

  test("drift monitor state stays bounded under a high-cardinality value column") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.transcript.Drift
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val baseline: Drift.Histogram = Map("user" -> 50L, "assistant" -> 50L)
    val verdicts = scala.collection.mutable.ListBuffer.empty[(java.sql.Timestamp, Drift.DriftVerdict)]
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, java.sql.Timestamp)]
    // the classic misuse: pointing the monitor at conv_id-like values —
    // 5000 distinct strings in one window must NOT create 5000 state rows
    val q = StreamingValidator.startWindowedDriftMonitor(
      input.toDF().toDF("v", "ts"), "ts", col("v"), "v", baseline,
      (w, v) => verdicts.synchronized { verdicts += (w -> v); () },
      watermark = "0 seconds", windowLen = "1 minute")
    try {
      def t(min: Int, s: Int) =
        java.sql.Timestamp.valueOf(f"2026-01-01 00:$min%02d:$s%02d")
      input.addData((1 to 5000).map(i => (s"conv-$i", t(0, i % 60))): _*)
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // bins + window-tracking rows, NOT 5000 distinct values
      assert(stateRows <= 16, s"state must be bounded by the bin set, got $stateRows rows")
      input.addData(("user", t(10, 0)))
      q.processAllAvailable()
    } finally q.stop()
    val byWindow = verdicts.synchronized(verdicts.toList)
      .map { case (w, v) => w.toString.substring(11, 16) -> v }.toMap
    // the all-novel window still PSI-compares: its mass landed in <other>
    assert(byWindow.contains("00:00"), s"window must close, got ${byWindow.keySet}")
    assert(byWindow("00:00").drifted,
      s"100% <other> mass vs a user/assistant baseline must flag drift: ${byWindow("00:00")}")
  }

  /** The dup/regression and overflow verdicts of [[StreamingValidator.statefulTranscriptCheck]]
    * (its gap and ts verdicts are pinned by the cases below). */
  private def dupAndOverflow(rows: Seq[(String, Int, String)]): Set[(String, Int, String)] =
    rows.filter(r => r._3 == "dup_or_regression" || r._3 == "batch_overflow").toSet

  private def ev(conv: String, turn: Int) = StreamingValidator.TsTurnEvent(conv, turn, None)

  test("stateful sequence check caps per-batch buffering; overflow is surfaced and max carries") {
    import spark.implicits._
    import StreamingValidator.TsTurnEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TsTurnEvent]
    val q = StreamingValidator.statefulTranscriptCheck(
        input.toDS(), idleTimeoutMs = 0, maxEventsPerBatch = 100)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stream_cap")
      .start()
    try {
      // one hot conversation: 1000 clean events in a single backfill batch
      // (10x the cap) plus a clean small conversation as control
      input.addData(((0 until 1000).map(ev("hot", _)) :+ ev("cold", 0)): _*)
      q.processAllAvailable()
      // next batch: a turn at/below hot's true max (999) must STILL be
      // flagged — the overflow tail's running max fed the state
      input.addData(ev("hot", 500), ev("cold", 1))
      q.processAllAvailable()
    } finally q.stop()
    val all = spark.table("stream_cap").collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val got = dupAndOverflow(all)
    assert(got.contains(("hot", 900, "batch_overflow")),
      s"900 unchecked events past the 100 cap must surface, got $got")
    assert(got.contains(("hot", 500, "dup_or_regression")),
      s"cross-batch regression below the overflow max must flag, got $got")
    assert(!all.exists(_._1 == "cold"), s"clean conversation must stay clean: $all")
    assert(got.size == 2, s"no spurious violations: $got")
  }

  test("stateful sequence check: in-batch dups and cross-batch regressions, order-free") {
    import spark.implicits._
    import StreamingValidator.TsTurnEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TsTurnEvent]
    val q = StreamingValidator.statefulTranscriptCheck(input.toDS(), idleTimeoutMs = 0)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stream_state")
      .start()
    try {
      // batch 1: c1 duplicates turn 1 in-batch; c2 is clean; c3's FIRST
      // contact is a negative turn — it must NOT be flagged as a duplicate
      // (regression: a -1 "already seen" sentinel used to collide with
      // legal negative indices). In-batch arrival order carries no signal
      // post-shuffle, so only equality flags within a batch.
      input.addData(ev("c1", 0), ev("c1", 1), ev("c1", 1),
        ev("c1", 2), ev("c2", 0), ev("c2", 5), ev("c3", -2))
      q.processAllAvailable()
      // batch 2: c2 turn 3 arrives after turn 5 was committed by batch 1
      // -> cross-batch regression; c3 continues above its negative start
      input.addData(ev("c2", 3), ev("c3", 0))
      q.processAllAvailable()
    } finally q.stop()
    val got = dupAndOverflow(spark.table("stream_state").collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))))
    assert(got.map(g => (g._1, g._2)) == Set(("c1", 1), ("c2", 3)))
  }

  test("stateful transcript check: sequence gaps flagged across micro-batches") {
    import spark.implicits._
    import StreamingValidator.TsTurnEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TsTurnEvent]
    val q = StreamingValidator.statefulTranscriptCheck(input.toDS(), idleTimeoutMs = 0)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stream_gap")
      .start()
    var stateRows = -1L
    try {
      // batch 1: g1 clean 0..2; g2 STARTS at 4 (first contact must be 0 —
      // batch gapPred parity); g3 clean start
      input.addData(TsTurnEvent("g1", 0, None), TsTurnEvent("g1", 1, None),
        TsTurnEvent("g1", 2, None), TsTurnEvent("g2", 4, None), TsTurnEvent("g3", 0, None))
      q.processAllAvailable()
      // batch 2: g1 jumps 3 -> a GAP SPANNING the batch boundary (expected
      // 3, got 5); g3 continues contiguously; g2 continues from its
      // committed max without a new gap
      input.addData(TsTurnEvent("g1", 5, None), TsTurnEvent("g3", 1, None),
        TsTurnEvent("g2", 5, None))
      q.processAllAvailable()
      stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    } finally q.stop()
    val got = spark.table("stream_gap").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set(("g2", 4, "seq_gap"), ("g1", 5, "seq_gap")),
      s"expected exactly the boundary-spanning and first-contact gaps: $got")
    // bounded state: ONE row (one SeqCheckState tuple) per live conversation
    assert(stateRows == 3, s"state must be one tuple per conversation, got $stateRows")
  }

  test("stateful transcript check: ts regression caught through a null-ts span") {
    import spark.implicits._
    import StreamingValidator.TsTurnEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TsTurnEvent]
    val q = StreamingValidator.statefulTranscriptCheck(input.toDS(), idleTimeoutMs = 0)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stream_tsreg")
      .start()
    try {
      // batch 1: t1 turn 0 at 10:30, turn 1 with NULL ts (the span)
      input.addData(TsTurnEvent("t1", 0, Some(ts(30))), TsTurnEvent("t1", 1, None),
        TsTurnEvent("t2", 0, Some(ts(10))))
      q.processAllAvailable()
      // batch 2: t1 turn 2 at 10:05 — BEFORE the last OBSERVED ts (10:30,
      // carried across the null-ts turn AND the batch boundary); t2
      // advances monotonically (no flag)
      input.addData(TsTurnEvent("t1", 2, Some(ts(5))), TsTurnEvent("t2", 1, Some(ts(20))))
      q.processAllAvailable()
      // batch 3: after the regression, the carry is last-OBSERVED (10:05),
      // not a running max — 10:15 is forward progress, no cascade
      input.addData(TsTurnEvent("t1", 3, Some(ts(15))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_tsreg").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set(("t1", 2, "ts_regression")),
      s"one regression through the null span, no cascade after it: $got")
  }

  test("stateful transcript check: idle eviction suppresses the first-contact gap rule") {
    import spark.implicits._
    import StreamingValidator.TsTurnEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TsTurnEvent]
    // idleTimeoutMs > 0 registers processing-time timers, and a continuous
    // query with the default ProcessingTime(0) trigger then schedules
    // empty micro-batches BACK-TO-BACK to fire them — state-store delta
    // chains outrun the maintenance thread and the test livelocks. Drive
    // timeout-mode queries with bounded AvailableNow runs over a shared
    // checkpoint instead (state carries across restarts).
    val ckpt = java.nio.file.Files.createTempDirectory("idle_gap_ckpt").toString
    val sunk = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String)]
    def runBatch(): Set[(String, Int, String)] = {
      // memory sink cannot recover a checkpoint; foreachBatch can
      sunk.clear()
      val q = StreamingValidator.statefulTranscriptCheck(input.toDS(),
          idleTimeoutMs = 3600000L)
        .writeStream.outputMode(OutputMode.Append)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamingValidator.DupViolation], _: Long) =>
          sunk.synchronized { sunk ++= df.collect().map(v => (v.conv_id, v.turn_idx, v.kind)) }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      // processing-time timers keep even AvailableNow alive (it schedules
      // empty batches to fire them), so awaitTermination never returns:
      // poll until the batch that consumed our input commits, then stop
      try {
        val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
        while (System.nanoTime < deadline &&
               !q.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(100)
        assert(q.recentProgress.exists(_.numInputRows > 0), "input batch never committed")
      } finally q.stop()
      sunk.synchronized(sunk.toSet)
    }
    // idleTimeoutMs > 0: absent state can mean "retired by the timeout",
    // so a conversation first seen at turn 42 must NOT fabricate a gap
    input.addData(TsTurnEvent("resumed", 42, None))
    val run1 = runBatch()
    assert(run1.isEmpty, s"no first-contact gap under eviction: $run1")
    // the cross-batch gap rule still applies once state exists
    input.addData(TsTurnEvent("resumed", 45, None))
    val run2 = runBatch()
    assert(run2 == Set(("resumed", 45, "seq_gap")),
      s"boundary gaps still flag once state exists: $run2")
  }

  test("stateful transcript check: a replay-flood overflow must not rewind the ts carry") {
    import spark.implicits._
    import StreamingValidator.TsTurnEvent
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2026-02-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TsTurnEvent]
    val q = StreamingValidator.statefulTranscriptCheck(input.toDS(),
        idleTimeoutMs = 0, maxEventsPerBatch = 10)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("stream_rewind")
      .start()
    try {
      // batch 1: clean turns 0..59, ts advancing — carry ends at ts(59)
      input.addData((0 until 60).map(i => TsTurnEvent("r", i, Some(ts(i)))): _*)
      q.processAllAvailable()
      // batch 2: replay FLOOD of turns 0..49 with their OLD timestamps;
      // 40 evicted past the cap of 10 — all at/below the committed max,
      // so the ts carry must stay ts(59), not rewind to ts(49)
      input.addData((0 until 50).map(i => TsTurnEvent("r", i, Some(ts(i)))): _*)
      q.processAllAvailable()
      // batch 3: a genuinely NEW turn whose ts is before ts(59) — a real
      // regression that a rewound carry would have missed
      input.addData(TsTurnEvent("r", 60, Some(ts(55))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_rewind").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got.contains(("r", 60, "ts_regression")),
      s"regression vs the un-rewound carry must flag: $got")
    assert(!got.exists(v => v._3 == "seq_gap"), s"no gaps in this scenario: $got")
  }
}
