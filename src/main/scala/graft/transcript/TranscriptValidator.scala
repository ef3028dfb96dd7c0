package graft.transcript

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.validate.Violations

/** Constraint ids emitted by the transcript suite. */
object Constraints {
  val NullConvId = "null_conv_id"
  val NullTurnIdx = "null_turn_idx"
  val NegTurnIdx = "neg_turn_idx"
  val NullRole = "null_role"
  val RoleEnum = "role_enum"
  val NullText = "null_text"
  val NullTs = "null_ts"
  val ToolRole = "tool_role"
  val DupKey = "dup_key"
  val SeqGap = "seq_gap"
  val TsMonotone = "ts_monotone"
  val OrphanConv = "orphan_conv"

  val all: Seq[String] = Seq(NullConvId, NullTurnIdx, NegTurnIdx, NullRole,
    RoleEnum, NullText, NullTs, ToolRole, DupKey, SeqGap, TsMonotone, OrphanConv)
}

/** @param violations (constraint_id, conv_id, turn_idx, column, observed,
  *   expected, partition_id) — the typed violation rows of the north rule.
  * @param convVerdicts per-conversation check results.
  * @param partitionVerdicts per-partition pass/fail + row/violation counts
  *   (the Iceberg-partition verdict table; resumability keys off it).
  * @param cleanup unpersists intermediate state; call after consuming. */
final case class TranscriptReport(
    violations: DataFrame,
    convVerdicts: DataFrame,
    partitionVerdicts: DataFrame,
    cleanup: () => Unit)

/** The scale-path validator for the transcript table
  * `(conv_id string, turn_idx int, role string, text string, tool string,
  * ts timestamp)` — BASELINE.json north rule.
  *
  * Physical plan (designed for 10^12 rows / 1000 executors):
  *
  *  1. '''Row predicates''' — every per-row constraint compiles to a
  *     Catalyst predicate inside ONE whole-stage-codegen'd scan; violations
  *     materialize through [[graft.validate.Violations.failing]] (the
  *     failing-check mechanism the kye [[graft.validate.Validator]] shares),
  *     so the non-violating fast path allocates nothing and nothing
  *     shuffles.
  *  2. '''Key aggregation''' — one shuffle on (conv_id, turn_idx) computes
  *     duplicate-key counts AND reduces the data to distinct turns. The key
  *     is maximally fine-grained, so partial aggregation absorbs dup skew
  *     map-side; AQE rebalances stragglers.
  *  3. '''Sequence window''' — `Window.partitionBy(conv_id).orderBy
  *     (turn_idx)` over the REDUCED per-turn table (bounded by max
  *     conversation length, not raw row count) yields previous-turn and
  *     previous-ts columns; dup/gap/ts-monotone verdicts then fold into one
  *     failing-check pass (same mechanism as step 1) — so all keyed violation
  *     kinds share the SAME two exchanges instead of re-aggregating per
  *     kind.
  *  4. '''Conversation rollup''' — groupBy(conv_id) over the window output
  *     reuses the step-3 hash partitioning: no extra exchange.
  *  5. '''Referential''' — the per-conversation table (already reduced)
  *     left-anti-joined against the conversation key table (broadcast when
  *     small).
  *
  * [[validate]] persists (MEMORY_AND_DISK) the sequence table from steps
  * 2-3, so the violation, verdict, and referential consumers run against
  * materialized state instead of re-shuffling the raw input, and the
  * sparse violations, so the per-partition rollup does not re-run the
  * suite; call the report's `cleanup` once it is consumed. The step
  * methods ([[seqTable]], [[convVerdicts]], ...) persist nothing.
  *
  * Rows are attributed to the input's `partition_id` column, or, when it
  * has none, to one of [[TranscriptValidator.DerivedPartitions]] buckets
  * hashed from `conv_id`.
  */
class TranscriptValidator {
  import Constraints._
  import TranscriptValidator._

  private val vioCols = Seq("constraint_id", "conv_id", "turn_idx", "column", "observed", "expected", "partition_id")

  private def withPartId(df: DataFrame): DataFrame =
    if (df.columns.contains("partition_id")) df
    else df.withColumn("partition_id",
      pmod(xxhash64(coalesce(col("conv_id"), lit(""))), lit(DerivedPartitions)).cast("int"))

  /** The violation fields of one failing check. */
  private def payload(id: String, column: String, observed: Column, expected: Column): Column =
    struct(lit(id).as("constraint_id"), lit(column).as("column"),
      observed.cast("string").as("observed"), expected.cast("string").as("expected"))

  /** The failing checks of `df` as violation rows ([[Violations.failing]]),
    * in `vioCols` order followed by `extraCols`. */
  private def failingRows(df: DataFrame, checks: Seq[Violations.Check],
                          extraCols: Seq[String] = Nil): DataFrame =
    Violations.failing(df, Seq("conv_id", "turn_idx", "partition_id") ++ extraCols, checks)
      .select((vioCols ++ extraCols).map(col): _*)

  /** One row-level constraint: id, null-free pass predicate, violation
    * payload. */
  private final case class RowCheck(id: String, pass: Column, payload: Column)

  /** The row constraints — the SINGLE source of truth shared by
    * [[rowViolations]], [[rowPass]] AND [[healthCheck]] (a re-implemented
    * predicate list drifted once: healthCheck's ToolRole lacked the null
    * coalesce and undercounted vs rowViolations on null-role rows). Pass
    * predicates must be null-free: a NULL verdict would report no
    * violation AND pass a survivors filter. */
  private def rowChecks: Seq[RowCheck] = {
    def chk(id: String, pass: Column, column: String,
            observed: Column, expected: Column) =
      RowCheck(id, pass, payload(id, column, observed, expected))
    Seq(
      chk(NullConvId, col("conv_id").isNotNull, "conv_id",
        lit(null).cast("string"), lit("non-null")),
      chk(NullTurnIdx, col("turn_idx").isNotNull, "turn_idx",
        lit(null).cast("string"), lit("non-null")),
      chk(NegTurnIdx, coalesce(col("turn_idx") >= 0, lit(true)), "turn_idx",
        col("turn_idx"), lit("turn_idx >= 0")),
      chk(NullRole, col("role").isNotNull, "role",
        lit(null).cast("string"), lit("non-null")),
      chk(RoleEnum, col("role").isNull || col("role").isin(Roles: _*), "role",
        col("role"), lit(Roles.mkString("|"))),
      chk(NullText, col("text").isNotNull, "text",
        lit(null).cast("string"), lit("non-null")),
      chk(NullTs, col("ts").isNotNull, "ts",
        lit(null).cast("string"), lit("non-null")),
      // coalesce: role=NULL with tool set must FAIL, not evaluate to a
      // NULL verdict that would report no violation
      chk(ToolRole, coalesce(col("tool").isNull || col("role") === "tool", lit(false)),
        "tool", col("tool"), lit("tool set only when role = 'tool'")))
  }

  /** Step 1: all row-level constraints in one codegen'd pass, no shuffle.
    * `extraCols` are carried through to the violation rows (e.g. the event
    * time for streaming windows). */
  def rowViolations(df0: DataFrame, extraCols: Seq[String] = Nil): DataFrame =
    failingRows(withPartId(df0), rowChecks.map(c => Violations.Check(!c.pass, c.payload)), extraCols)

  /** Conjunction of every row-level pass predicate (null-free). */
  def rowPass: Column = rowChecks.map(_.pass).reduce(_ && _)

  /** One-pass health check: per-constraint row-violation counts AND
    * per-column stats (count/nulls/min/max/HLL) in a SINGLE aggregation
    * over a SINGLE scan — the "per-column stats + predicate-eval stage" of
    * the north rule as one fused operator. Returns a 1-row DataFrame:
    * `total_rows`, `viol_<constraint>` per row constraint, and
    * `<col>_{nonnull,distinct,min,max}` per column. */
  def healthCheck(df0: DataFrame, cols: Seq[String]): DataFrame = {
    val df = withPartId(df0)
    // fail predicates DERIVED from rowChecks (never re-implemented): the
    // published counts must agree with rowViolations row-for-row
    val fails: Seq[(String, Column)] = rowChecks.map(c => c.id -> !c.pass)
    val aggs: Seq[Column] =
      fails.map { case (id, f) => sum(when(f, 1L).otherwise(0L)).as(s"viol_$id") } ++
      // shared stat builder (StatsProfiler.colStatAggs) — never
      // re-implemented here, same rule as the rowChecks derivation above
      cols.flatMap { c =>
        StatsProfiler.colStatAggs(c,
          k => s"${c}_${if (k == "count") "nonnull" else k}")
      }
    df.agg(count(lit(1)).as("total_rows"), aggs: _*)
  }

  /** Steps 2-3: the reduced per-turn sequence table:
    * (conv_id, turn_idx, _n, _min_ts, _max_ts, _prev_turn, _prev_max_ts,
    * partition_id). Rows with null conv_id/turn_idx are excluded (reported
    * by step 1). */
  def seqTable(df0: DataFrame): DataFrame = {
    val df = withPartId(df0)
    val keyed = df
      .filter(col("conv_id").isNotNull && col("turn_idx").isNotNull)
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(
        count(lit(1)).as("_n"),
        min(col("ts")).as("_min_ts"),
        max(col("ts")).as("_max_ts"),
        // min, not first: under the partitioning contract every row of a
        // conversation shares one partition_id (identical result), but
        // when the contract is violated first() is NONDETERMINISTIC and
        // partitionVerdicts.pass — which resumability keys off — could
        // flip between runs
        min(col("partition_id")).as("partition_id"))
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    keyed.select(
      col("conv_id"), col("turn_idx"), col("_n"), col("_min_ts"), col("_max_ts"),
      col("partition_id"),
      lag(col("turn_idx"), 1).over(w).as("_prev_turn"),
      // last NON-NULL preceding _max_ts, not plain lag and not a running
      // max: lag carried NULL through an all-null-ts turn so a regression
      // spanning it (10:00, NULL, 09:00) passed; a running max would let
      // ONE forward-skewed timestamp (clock skew: 2030 on turn 0) flag
      // every later turn of the conversation, amplifying a single bad row
      // into N-1 violation rows. "Monotone vs the last OBSERVED
      // timestamp" catches the null-span case and keeps one bad row ≈ one
      // violation.
      last(col("_max_ts"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)).as("_prev_max_ts"))
  }

  private def gapPred: Column =
    (col("_prev_turn").isNull && col("turn_idx") > 0) ||
      (col("_prev_turn").isNotNull && col("turn_idx") =!= col("_prev_turn") + 1)

  private def tsRegressPred: Column =
    col("_prev_max_ts").isNotNull && col("_min_ts").isNotNull &&
      col("_min_ts") < col("_prev_max_ts")

  /** Dup/gap/ts-monotone violations in ONE plan over the sequence table. */
  def keySequenceViolations(seq: DataFrame): DataFrame =
    failingRows(seq, Seq(
      Violations.Check(col("_n") > 1, payload(DupKey, "conv_id,turn_idx",
        concat(lit("count="), col("_n")), lit("unique (conv_id, turn_idx)"))),
      Violations.Check(gapPred, payload(SeqGap, "turn_idx",
        col("turn_idx"), coalesce(col("_prev_turn") + 1, lit(0)))),
      Violations.Check(tsRegressPred, payload(TsMonotone, "ts",
        col("_min_ts"), concat(lit(">= "), col("_prev_max_ts").cast("string"))))))

  /** Step 4: per-conversation verdicts (reuses the window's conv_id hash
    * partitioning — no extra exchange). */
  def convVerdicts(seq: DataFrame): DataFrame =
    seq.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n_turns"),
      sum(col("_n")).as("n_rows"),
      min(col("turn_idx")).as("min_turn"),
      max(col("turn_idx")).as("max_turn"),
      sum(when(col("_n") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
      sum(when(gapPred, 1L).otherwise(0L)).as("n_gaps"),
      sum(when(tsRegressPred, 1L).otherwise(0L)).as("n_ts_regressions"),
      min(col("partition_id")).as("partition_id")) // min, not first: see seqTable
      .withColumn("gap_free",
        col("n_gaps") === 0 && col("min_turn") === 0 &&
        col("max_turn") === col("n_turns") - 1)
      .withColumn("pass",
        col("gap_free") && col("n_dup_keys") === 0 && col("n_ts_regressions") === 0)

  /** Step 5: every conv_id must resolve in the conversation key table. */
  def referentialViolations(convVerdicts: DataFrame, convKeys: DataFrame): DataFrame =
    convVerdicts.select(col("conv_id"), col("partition_id"))
      .join(convKeys.select(col("conv_id")), Seq("conv_id"), "left_anti")
      .select(
        lit(OrphanConv).as("constraint_id"), col("conv_id"),
        lit(null).cast("int").as("turn_idx"), lit("conv_id").as("column"),
        col("conv_id").as("observed"),
        lit("conv_id present in conversation table").as("expected"),
        col("partition_id"))

  /** Surviving rows: turns of conversations whose every check passed (the
    * cleaned table downstream consumers read; per-row `text` equality
    * under stable (conv_id, turn_idx) ordering is the pipeline's content
    * invariant — validation must never rewrite surviving rows).
    * "Every check" means BOTH the conversation verdicts (dup/gap/ts) AND
    * the row-level predicates, and the exclusion is CONVERSATION-grain: a
    * conversation containing any row-level violator is dropped whole —
    * removing just the bad row would leave a turn_idx hole, so the
    * "clean" output would violate the suite's own gap-free constraint.
    * The row predicate runs as a codegen'd map-side pass feeding a
    * distinct at the conversation grain; both joins are conversation-grain
    * (broadcast when the dims are small, shuffle otherwise — Spark/AQE
    * decides). Invariant: re-validating cleanRows' output yields ZERO
    * violations (tested). */
  def cleanRows(df: DataFrame, convVerdicts: DataFrame): DataFrame = {
    val badConvs = df.filter(!rowPass).select(col("conv_id")).distinct()
    // null-conv rows fail rowPass and never match the semi join, so they
    // are excluded without a separate filter
    df.join(convVerdicts.filter(col("pass")).select(col("conv_id")),
        Seq("conv_id"), "left_semi")
      .join(badConvs, Seq("conv_id"), "left_anti")
  }

  /** Full suite. */
  def validate(df0: DataFrame, convKeys: Option[DataFrame] = None): TranscriptReport = {
    val df = withPartId(df0)
    val seq = seqTable(df).persist(StorageLevel.MEMORY_AND_DISK)
    val verdicts = convVerdicts(seq)
    val rowV = rowViolations(df)
    val keyV = keySequenceViolations(seq)
    val refV = convKeys.map(k => referentialViolations(verdicts, k))
    // violations are sparse (error rates ~1e-3): persist them so the
    // per-partition verdict rollup doesn't re-run the whole suite
    val violations = refV.foldLeft(rowV.union(keyV))(_ union _)
      .select(vioCols.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // extra pass over the INPUT, but column-pruned to the single
    // partition-id column (or conv_id when derived) — on columnar sources
    // this reads one column's pages, not the table; folding it into the
    // seqTable aggregation instead would under-count rows with null keys
    // (excluded there) and can't be recovered from violation counts (a
    // row null in BOTH keys emits two violation rows)
    val rowsPerPartition = df.groupBy(col("partition_id"))
      .agg(count(lit(1)).as("rows_scanned"))
    val vioPerPartition = violations.groupBy(col("partition_id"))
      .agg(count(lit(1)).as("violations"))
    val partitionVerdicts = rowsPerPartition
      .join(vioPerPartition, Seq("partition_id"), "left_outer")
      .select(
        col("partition_id"), col("rows_scanned"),
        coalesce(col("violations"), lit(0L)).as("violations"))
      .withColumn("pass", col("violations") === 0)

    TranscriptReport(
      violations, verdicts, partitionVerdicts,
      cleanup = () => { seq.unpersist(); violations.unpersist(); () })
  }
}

object TranscriptValidator {
  /** The `role_enum` constraint's allowed roles. */
  val Roles: Seq[String] = Seq("system", "user", "assistant", "tool")
  /** Bucket count of the `partition_id` derived from `conv_id` when the
    * input carries none. */
  val DerivedPartitions = 8
}
