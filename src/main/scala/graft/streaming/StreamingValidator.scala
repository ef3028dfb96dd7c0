package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.transcript.TranscriptValidator

/** Structured Streaming leg of the engine: continuous validation of a
  * transcript stream. The reference is batch-only (SURVEY §2.5 —
  * "Streaming: none"); this is the documented extension for pipelines that
  * validate transcripts as they land.
  *
  * Three layers:
  *  - '''row predicates''' — the same Catalyst predicate columns as the
  *    batch path ([[TranscriptValidator.rowViolations]] is stateless, so
  *    it lifts onto a streaming DataFrame unchanged), emitted in append
  *    mode;
  *  - '''windowed violation counts''' — watermarked tumbling-window counts
  *    per constraint for monitoring/alerting;
  *  - '''stateful transcript check''' — per-conversation
  *    `flatMapGroupsWithState` carrying the highest committed turn and the
  *    last observed event time ACROSS micro-batches: the streaming
  *    analogue of the batch dup-key, sequence-gap and ts-monotone checks
  *    with bounded state (one small tuple per live conversation).
  */
object StreamingValidator {

  /** Row-level violations on a streaming transcript DataFrame — reuses the
    * batch predicate compiler verbatim (stateless, append-safe). */
  def rowViolations(stream: DataFrame): DataFrame =
    new TranscriptValidator().rowViolations(stream)

  /** Watermarked tumbling-window violation counts per constraint
    * (append-mode monitoring stream). Rows with a NULL event time are
    * EXCLUDED BY DEFINITION: event-time windowing cannot place them (an
    * epoch-sentinel window would surface them only until the watermark
    * passed it once, then silently discard every later one — a monitor
    * that quietly stops monitoring). Their detection belongs to the
    * unwindowed [[rowViolations]] append stream, which is stateless, has
    * no watermark, and always emits the NullTs violation. */
  def windowedViolationCounts(stream: DataFrame, tsCol: String = "ts",
                              watermark: String = "10 minutes",
                              windowLen: String = "5 minutes"): DataFrame =
    new TranscriptValidator()
      .rowViolations(
        stream.filter(col(tsCol).isNotNull).withColumn("_event_ts", col(tsCol)),
        extraCols = Seq("_event_ts"))
      .withWatermark("_event_ts", watermark)
      .groupBy(window(col("_event_ts"), windowLen), col("constraint_id"))
      .agg(count(lit(1)).as("n"))

  /** Input event of [[statefulTranscriptCheck]]; `ts` may be absent. */
  final case class TsTurnEvent(conv_id: String, turn_idx: Int,
                               ts: Option[java.sql.Timestamp])
  final case class DupViolation(conv_id: String, turn_idx: Int, kind: String)

  /** Cross-batch state of [[statefulTranscriptCheck]]: one small tuple per
    * live conversation — highest turn committed plus the last OBSERVED
    * non-null event time (same discipline as the batch leg's
    * `_prev_max_ts`: last observed in TURN order, not a running max, so
    * one forward-skewed clock doesn't flag every later turn). */
  final case class SeqCheckState(maxTurn: Int, lastTsMillis: Option[Long])

  /** Full stateful transcript check: the streaming analogue of the batch
    * leg's DupKey + SeqGap + TsMonotone (TranscriptValidator.seqTable /
    * keySequenceViolations), carried ACROSS micro-batches with bounded
    * state. Per live conversation the state is ONE [[SeqCheckState]]
    * tuple; per (conversation, micro-batch) at most `maxEventsPerBatch`
    * events are buffered (the SMALLEST (turn_idx, ts) pairs in a
    * deterministic bounded max-heap — a function of the batch's event
    * multiset, not shuffle-arrival order).
    *
    * Emitted kinds:
    *  - `dup_or_regression` — a turn at or below the max already seen
    *    (in-batch duplicate or cross-batch replay/regression);
    *  - `seq_gap` — a NEW turn that is not exactly maxSeen + 1. The
    *    batch-parity FIRST-CONTACT rule (turn 0 starts a conversation) is
    *    enforced only when `idleTimeoutMs == 0`: with idle eviction on, a
    *    conversation resuming after its state was retired is
    *    indistinguishable from a new one, and enforcing 0 would fabricate
    *    a gap for every long-idle conversation;
    *  - `ts_regression` — a new turn whose earliest non-null event time
    *    precedes the last OBSERVED non-null event time (null-ts turns are
    *    spanned, not reset — a regression across an all-null-ts turn is
    *    still caught, and the carry is last-observed rather than a running
    *    max so one forward-skewed clock flags once, not N-1 times);
    *  - `batch_overflow` — capacity verdict whose `turn_idx` carries the
    *    count of unchecked evicted events (largest turns); their max turn
    *    AND the event time of the largest evicted ts-bearing turn still
    *    feed the state, so later batches stay exact.
    *
    * OPERATIONAL: `idleTimeoutMs > 0` registers processing-time timers,
    * and a continuous query with the default `ProcessingTime(0)` trigger
    * then runs empty micro-batches BACK-TO-BACK just to fire them — each
    * paying a full state-store commit, with delta files accumulating
    * faster than the maintenance thread snapshots them. Pair timeout mode
    * with a real trigger interval (e.g. `Trigger.ProcessingTime("30
    * seconds")`) or with bounded `Trigger.AvailableNow` runs over a
    * shared checkpoint. */
  def statefulTranscriptCheck(turns: Dataset[TsTurnEvent],
                              idleTimeoutMs: Long = 3600000L,
                              maxEventsPerBatch: Int = 1 << 20): Dataset[DupViolation] = {
    require(maxEventsPerBatch >= 1, s"maxEventsPerBatch must be >= 1, got $maxEventsPerBatch")
    import turns.sparkSession.implicits._
    val timeoutMode =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    turns.groupByKey(_.conv_id)
      .flatMapGroupsWithState[SeqCheckState, DupViolation](OutputMode.Append, timeoutMode) {
        (convId: String, events: Iterator[TsTurnEvent], state: GroupState[SeqCheckState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var maxSeen: Option[Int] = state.getOption.map(_.maxTurn)
            var lastTs: Option[Long] = state.getOption.flatMap(_.lastTsMillis)
            // committed max BEFORE this batch: the evicted-tail ts carry
            // must not rewind lastTs when the tail is all replays at or
            // below it (the buffered dup branch leaves lastTs untouched
            // for exactly that case)
            val priorMax: Option[Int] = maxSeen
            // deterministic eviction order: (turn, tsMillis-or-MinValue) —
            // equal keys are interchangeable
            type Ev = (Int, Long)
            val NoTs = Long.MinValue
            val heap = scala.collection.mutable.PriorityQueue.empty[Ev](
              Ordering.Tuple2[Int, Long])
            var overflowCount = 0L
            var overflowMaxTurn = Int.MinValue
            // largest evicted turn carrying a non-null ts (+ its max ts):
            // the state's last-observed carry when the tail is evicted
            var evTsTurn = Int.MinValue
            var evTs = Long.MinValue
            def noteEvicted(e: Ev): Unit = {
              overflowCount += 1
              if (e._1 > overflowMaxTurn) overflowMaxTurn = e._1
              if (e._2 != NoTs &&
                  (e._1 > evTsTurn || (e._1 == evTsTurn && e._2 > evTs))) {
                evTsTurn = e._1; evTs = e._2
              }
            }
            while (events.hasNext) {
              val ev = events.next()
              val e: Ev = (ev.turn_idx, ev.ts.map(_.getTime).getOrElse(NoTs))
              if (heap.size < maxEventsPerBatch) heap.enqueue(e)
              else if (Ordering.Tuple2[Int, Long].lt(e, heap.head)) {
                val h = heap.dequeue(); heap.enqueue(e); noteEvicted(h)
              } else noteEvicted(e)
            }
            val sorted = heap.dequeueAll.toIndexedSeq.reverse // ascending
            val out = scala.collection.mutable.ListBuffer.empty[DupViolation]
            var i = 0
            while (i < sorted.length) {
              val t = sorted(i)._1
              // consume the run of events for this turn
              var minTs = Long.MaxValue; var maxTs = Long.MinValue; var n = 0
              while (i < sorted.length && sorted(i)._1 == t) {
                val ts = sorted(i)._2
                if (ts != NoTs) { if (ts < minTs) minTs = ts; if (ts > maxTs) maxTs = ts }
                n += 1; i += 1
              }
              if (maxSeen.exists(t <= _)) {
                // whole run is at/below the committed max
                var k = 0; while (k < n) { out += DupViolation(convId, t, "dup_or_regression"); k += 1 }
              } else {
                // new turn: gap check vs expected. First contact enforces
                // turn 0 (batch gapPred parity) ONLY when idle eviction is
                // off — with eviction, absent state may mean "retired",
                // not "new conversation"
                maxSeen match {
                  case Some(m) => if (t != m + 1) out += DupViolation(convId, t, "seq_gap")
                  case None => if (idleTimeoutMs <= 0 && t != 0) out += DupViolation(convId, t, "seq_gap")
                }
                // ts-monotone vs last OBSERVED non-null ts
                if (minTs != Long.MaxValue && lastTs.exists(minTs < _))
                  out += DupViolation(convId, t, "ts_regression")
                if (maxTs != Long.MinValue) lastTs = Some(maxTs)
                maxSeen = Some(t)
                // in-batch duplicates beyond the first event of the run
                var k = 1; while (k < n) { out += DupViolation(convId, t, "dup_or_regression"); k += 1 }
              }
            }
            if (overflowCount > 0) {
              maxSeen = Some(maxSeen.fold(overflowMaxTurn)(math.max(_, overflowMaxTurn)))
              // every evicted event sorts at/above every buffered one, so
              // the evicted ts-bearing carry supersedes the buffered walk —
              // but ONLY when that turn advances past the pre-batch
              // committed max: an evicted tail of pure replays must not
              // rewind lastTs (the buffered dup branch leaves it untouched
              // for the same reason)
              if (evTsTurn != Int.MinValue && priorMax.forall(evTsTurn > _))
                lastTs = Some(evTs)
              // Int cap is safe: a single group slice can't exceed 2^31 rows
              out += DupViolation(convId, overflowCount.toInt, "batch_overflow")
            }
            maxSeen.foreach(m => state.update(SeqCheckState(m, lastTs)))
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            out.iterator
          }
      }
  }

  /** Convenience: run row-violation validation from a parquet directory
    * stream to an in-memory sink (used by tests; swap format/path for
    * production sinks). Returns the started query. */
  def startMemorySink(spark: SparkSession, sourceDir: String,
                      schema: org.apache.spark.sql.types.StructType,
                      queryName: String): StreamingQuery = {
    val stream = spark.readStream.schema(schema).parquet(sourceDir)
    rowViolations(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  // ---- streaming drift ------------------------------------------------------

  /** Reserved bin label for values outside a declared category set. */
  val OtherBin = "<other>"

  /** Windowed categorical counts for drift monitoring: (window, _value, n)
    * rows emitted as the watermark closes each window (append mode).
    * NULL values take the `<null>` label [[graft.transcript.Drift.collect]]
    * uses, so streaming and batch histograms bin identical VALUES. NULL
    * event times are excluded by definition (see
    * [[windowedViolationCounts]]) — a batch histogram over data containing
    * null-ts rows includes them, this per-window one cannot; monitor
    * null-ts prevalence via the NullTs constraint on the unwindowed
    * violation stream.
    *
    * '''State bounding''': the aggregation keeps state per live
    * (window × bin). With `categories = Some(set)` values outside the set
    * fold into the [[OtherBin]] bin, capping state at
    * liveWindows × (|set| + 2) regardless of input cardinality — pointing
    * the monitor at a high-cardinality column (the classic misuse:
    * conv_id) then grows the `<other>` COUNT, not the state. `None` keeps
    * raw values and is only safe for columns with a provably small
    * domain; production monitors should pass the baseline's bin set
    * ([[startWindowedDriftMonitor]] does exactly that by default). `<null>`
    * stays its own bin either way — it is structural, and folding it into
    * `<other>` would hide a null-rate drift inside novel-value drift. */
  def windowedValueCounts(stream: DataFrame, tsCol: String, valueCol: org.apache.spark.sql.Column,
                          watermark: String = "10 minutes",
                          windowLen: String = "5 minutes",
                          categories: Option[Set[String]] = None): DataFrame = {
    val nullBin = graft.transcript.Drift.NullBin // shared: PSI bins must align with the batch leg
    val raw = coalesce(valueCol.cast("string"), lit(nullBin))
    val binned = categories.fold(raw) { set =>
      when(raw === nullBin || raw.isin(set.toSeq: _*), raw).otherwise(lit(OtherBin))
    }
    stream
      .filter(col(tsCol).isNotNull)
      .withColumn("_event_ts", col(tsCol))
      .withColumn("_value", binned)
      .withWatermark("_event_ts", watermark)
      .groupBy(window(col("_event_ts"), windowLen), col("_value"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-closed-window drift verdicts against a baseline histogram; runs
    * inside `foreachBatch`, where `batch` holds the closed-window count
    * rows of one micro-batch. Histograms are tiny (distinct categorical
    * values per window), so the PSI/KS math is driver-side — the same
    * division of labor as the batch drift leg (distributed counting,
    * local statistics). Returns (window start, verdict) in window order. */
  def driftVerdicts(batch: DataFrame, name: String,
                    baseline: graft.transcript.Drift.Histogram,
                    psiThreshold: Double = 0.25): Seq[(java.sql.Timestamp, graft.transcript.Drift.DriftVerdict)] =
    batch.collect()
      .groupBy(_.getStruct(0).getTimestamp(0))
      .toSeq.sortBy(_._1.getTime)
      .map { case (start, rows) =>
        val h: graft.transcript.Drift.Histogram = rows
          .map(r => r.getString(1) -> r.getLong(2))
          .groupMapReduce(_._1)(_._2)(_ + _)
        start -> graft.transcript.Drift.verdict(name, baseline, h, psiThreshold)
      }

  /** Continuous distribution-drift monitor — the streaming face of the
    * north rule's drift leg: as each event-time window closes, its
    * categorical histogram is PSI/KS-compared against the baseline
    * snapshot and the verdict is delivered to `onVerdict` (alerting
    * callback, verdict-table writer, ...).
    *
    * State is bounded by construction: values are binned to the
    * BASELINE's bin set (plus `<null>`/`<other>`) before aggregation —
    * PSI/KS against the baseline can only ever distinguish those bins
    * anyway, and novel values surface as `<other>` mass, which the PSI
    * epsilon-floor turns into exactly the drift signal a new category
    * should produce. Pass `categories` to widen/narrow the declared set
    * explicitly.
    *
    * @param checkpointLocation REQUIRED for restartable deployments: the
    *   watermarked aggregation is stateful, and without a durable
    *   checkpoint a restarted monitor re-reads the source from scratch —
    *   duplicate alerts for already-closed windows or missed in-flight
    *   ones. None (tests, ad-hoc backfills) uses a temp checkpoint that
    *   dies with the JVM. */
  def startWindowedDriftMonitor(stream: DataFrame, tsCol: String,
      valueCol: org.apache.spark.sql.Column, name: String,
      baseline: graft.transcript.Drift.Histogram,
      onVerdict: (java.sql.Timestamp, graft.transcript.Drift.DriftVerdict) => Unit,
      watermark: String = "10 minutes", windowLen: String = "5 minutes",
      psiThreshold: Double = 0.25,
      checkpointLocation: Option[String] = None,
      categories: Option[Set[String]] = None): StreamingQuery = {
    val bins = categories.orElse(Some(baseline.keySet - OtherBin))
    val writer = windowedValueCounts(stream, tsCol, valueCol, watermark, windowLen, bins)
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        driftVerdicts(batch.toDF(), name, baseline, psiThreshold)
          .foreach { case (w, v) => onVerdict(w, v) }
      }
    checkpointLocation.fold(writer)(p => writer.option("checkpointLocation", p)).start()
  }
}
