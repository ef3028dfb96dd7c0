package graft.transcript

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import java.sql.Timestamp

class TranscriptValidatorSpec extends SparkSuite {
  import Constraints._

  private val schema = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  private def ts(s: Long): Timestamp = new Timestamp(1704067200000L + s * 1000)

  private def fixture: DataFrame = {
    val rows = Seq(
      // c1: clean
      Row("c1", 0, "system", "hi", null, ts(0)),
      Row("c1", 1, "user", "q", null, ts(60)),
      Row("c1", 2, "assistant", "a", null, ts(120)),
      // c2: duplicate (c2,1)
      Row("c2", 0, "system", "s", null, ts(0)),
      Row("c2", 1, "user", "q1", null, ts(60)),
      Row("c2", 1, "user", "q1-dup", null, ts(61)),
      Row("c2", 2, "assistant", "a", null, ts(120)),
      // c3: gap (0 then 2)
      Row("c3", 0, "system", "s", null, ts(0)),
      Row("c3", 2, "user", "q", null, ts(120)),
      // c4: first turn not 0
      Row("c4", 1, "user", "q", null, ts(0)),
      Row("c4", 2, "assistant", "a", null, ts(60)),
      // c5: null role + bad role
      Row("c5", 0, null, "s", null, ts(0)),
      Row("c5", 1, "robot", "q", null, ts(60)),
      // c6: negative turn idx
      Row("c6", -1, "system", "s", null, ts(0)),
      Row("c6", 0, "user", "q", null, ts(60)),
      Row("c6", 1, "assistant", "a", null, ts(120)),
      // c7: ts regression at turn 1
      Row("c7", 0, "system", "s", null, ts(100)),
      Row("c7", 1, "user", "q", null, ts(40)),
      // c8: null text, null ts
      Row("c8", 0, null, null, null, ts(0)),
      Row("c8", 1, "user", "q", null, null),
      // c9: tool column set on a non-tool turn; plus a valid tool turn
      Row("c9", 0, "user", "q", "search", ts(0)),
      Row("c9", 1, "tool", "result", "search", ts(60)),
      // null keys
      Row(null, 0, "user", "x", null, ts(0)),
      Row("c10", null, "user", "x", null, ts(0)),
      Row("c10", 0, "user", "x", null, ts(0)),
      // ghost: not in the conversation key table
      Row("ghost", 0, "user", "x", null, ts(0)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private lazy val convKeys = {
    import spark.implicits._
    (1 to 10).map(i => s"c$i").toDF("conv_id")
  }

  private lazy val report = new TranscriptValidator().validate(fixture, Some(convKeys))
  private lazy val violations =
    report.violations.collect().map(r => (r.getString(0), r.getString(1),
      if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSeq

  private def byConstraint(id: String) = violations.filter(_._1 == id)

  test("row-level constraints, one scan") {
    assert(byConstraint(NullConvId).map(_._2) == Seq(null))
    assert(byConstraint(NullTurnIdx) == Seq((NullTurnIdx, "c10", None)))
    assert(byConstraint(NegTurnIdx) == Seq((NegTurnIdx, "c6", Some(-1))))
    // c5 turn0 and c8 turn0 have null roles
    assert(byConstraint(NullRole).map(v => (v._2, v._3)).toSet ==
      Set(("c5", Some(0)), ("c8", Some(0))))
    assert(byConstraint(RoleEnum) == Seq((RoleEnum, "c5", Some(1))))
    assert(byConstraint(NullText) == Seq((NullText, "c8", Some(0))))
    assert(byConstraint(NullTs) == Seq((NullTs, "c8", Some(1))))
    assert(byConstraint(ToolRole) == Seq((ToolRole, "c9", Some(0))))
  }

  test("duplicate key detection") {
    assert(byConstraint(DupKey) == Seq((DupKey, "c2", Some(1))))
  }

  test("sequence gaps: missing turn and non-zero start") {
    assert(byConstraint(SeqGap).map(v => (v._2, v._3)).toSet ==
      Set(("c3", Some(2)), ("c4", Some(1))))
  }

  test("ts monotonicity within conversation") {
    assert(byConstraint(TsMonotone) == Seq((TsMonotone, "c7", Some(1))))
  }

  test("ts regression spanning an all-null-ts turn still flags") {
    // r4 review regression: lag(_max_ts) carried NULL through a null-ts
    // turn, so (10:00, NULL, 09:00) reported pass — the running max must
    // carry the last known high-water mark across null-ts turns
    val schema = fixture.schema
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row("cx", 0, "system", "s", null, ts(600)),
      org.apache.spark.sql.Row("cx", 1, "user", "q", null, null),
      org.apache.spark.sql.Row("cx", 2, "assistant", "a", null, ts(540)))
    val df = spark.createDataFrame(rows, schema)
    val v = new TranscriptValidator()
    val seq = v.seqTable(df)
    val flagged = v.keySequenceViolations(seq)
      .filter(org.apache.spark.sql.functions.col("constraint_id") === TsMonotone)
      .collect().map(r => (r.getString(1), r.getInt(2)))
    assert(flagged.toSeq == Seq(("cx", 2)),
      s"turn 2 regresses below turn 0's ts across the null-ts turn 1: ${flagged.toSeq}")
    val verdict = v.convVerdicts(seq).collect()(0)
    assert(verdict.getAs[Long]("n_ts_regressions") == 1L)
    assert(!verdict.getAs[Boolean]("pass"))
  }

  test("one forward-skewed ts flags one turn, not the whole conversation") {
    // "last OBSERVED ts" semantics, not a running max: a single clock-skew
    // row (turn 0 in 2030) must not cascade into N-1 violation rows
    val schema = fixture.schema
    val far = new Timestamp(ts(0).getTime + 125L * 365 * 24 * 3600 * 1000)
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row("cs", 0, "system", "s", null, far),
      org.apache.spark.sql.Row("cs", 1, "user", "q", null, ts(60)),
      org.apache.spark.sql.Row("cs", 2, "assistant", "a", null, ts(120)),
      org.apache.spark.sql.Row("cs", 3, "user", "q", null, ts(180)))
    val df = spark.createDataFrame(rows, schema)
    val v = new TranscriptValidator()
    val flagged = v.keySequenceViolations(v.seqTable(df))
      .filter(org.apache.spark.sql.functions.col("constraint_id") === TsMonotone)
      .collect().map(_.getInt(2)).toSeq
    assert(flagged == Seq(1),
      s"only the first turn after the skewed row regresses vs its last observed ts: $flagged")
  }

  test("referential: orphan conv_id") {
    assert(byConstraint(OrphanConv).map(_._2) == Seq("ghost"))
  }

  test("conversation verdicts") {
    val verdicts = report.convVerdicts.collect()
      .map(r => r.getAs[String]("conv_id") -> r.getAs[Boolean]("pass")).toMap
    assert(verdicts("c1"))
    assert(!verdicts("c2")) // dup
    assert(!verdicts("c3")) // gap
    assert(!verdicts("c4")) // non-zero start
    assert(!verdicts("c7")) // ts regression
    assert(verdicts("c9"))
  }

  test("partition verdicts aggregate rows and violations") {
    val parts = report.partitionVerdicts.collect()
    assert(parts.map(_.getAs[Long]("rows_scanned")).sum == 26L)
    val totalV = parts.map(_.getAs[Long]("violations")).sum
    assert(totalV == violations.size.toLong)
    assert(parts.exists(!_.getAs[Boolean]("pass")))
  }

  test("healthCheck: one-pass constraint counts + column stats agree with row violations") {
    val hc = new TranscriptValidator().healthCheck(fixture, Seq("conv_id", "role")).collect()(0)
    assert(hc.getAs[Long]("total_rows") == 26L)
    assert(hc.getAs[Long](s"viol_$NullRole") == 2L)
    assert(hc.getAs[Long](s"viol_$RoleEnum") == 1L)
    assert(hc.getAs[Long](s"viol_$NegTurnIdx") == 1L)
    assert(hc.getAs[Long](s"viol_$NullConvId") == 1L)
    assert(hc.getAs[Long]("conv_id_nonnull") == 25L)
    assert(hc.getAs[String]("role_min") == "assistant")
  }

  test("healthCheck agrees with rowViolations on a null-role row with tool set") {
    // regression: healthCheck once re-implemented the predicate list and
    // its ToolRole check lacked the null coalesce — !(NULL) aggregated as
    // no-violation while rowViolations emitted one, so the two published
    // counts disagreed on real dirty data. Predicates now derive from
    // rowChecks; this pins the agreement on the exact divergent case.
    val rows = Seq(
      Row("d1", 0, null, "x", "search", ts(0)), // null role AND tool set
      Row("d1", 1, "tool", "y", "search", ts(60)),
      Row("d1", 2, "user", "z", null, ts(120)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val v = new TranscriptValidator()
    val hc = v.healthCheck(df, Nil).collect()(0)
    val rv = v.rowViolations(df).groupBy("constraint_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (id <- Constraints.all if hc.schema.fieldNames.contains(s"viol_$id"))
      assert(hc.getAs[Long](s"viol_$id") == rv.getOrElse(id, 0L),
        s"healthCheck and rowViolations disagree on $id")
    assert(hc.getAs[Long](s"viol_$ToolRole") == 1L)
    assert(hc.getAs[Long](s"viol_$NullRole") == 1L)
  }

  test("clean rows: per-row text equality under stable (conv_id, turn_idx) order") {
    import graft.gen.TranscriptGen
    import org.apache.spark.sql.functions._
    val dirty = TranscriptGen.GenConfig(numConvs = 200, seed = 17, gapRate = 0.02)
    val clean = dirty.copy(gapRate = 0.0)
    val data = TranscriptGen.transcripts(spark, dirty)
    val v = new TranscriptValidator()
    val report = v.validate(data)
    val survivors = v.cleanRows(data, report.convVerdicts)
    // the validator must not rewrite surviving rows: their (conv, turn,
    // text) content equals the pristine generator output for those convs
    def contentHash(df: org.apache.spark.sql.DataFrame) = df.agg(
      sum(pmod(xxhash64(col("conv_id"), col("turn_idx"), col("text")), lit(1000000007L))),
      count(lit(1))).collect()(0)
    val pristine = TranscriptGen.transcripts(spark, clean)
      .join(report.convVerdicts.filter(col("pass")).select("conv_id"), Seq("conv_id"), "left_semi")
    assert(contentHash(survivors) == contentHash(pristine))
    // and survivors really are ordered-gap-free per conversation
    val bad = survivors.groupBy("conv_id")
      .agg(countDistinct("turn_idx").as("n"), min("turn_idx").as("mn"), max("turn_idx").as("mx"))
      .filter(!(col("mn") === 0 && col("mx") === col("n") - 1)).count()
    assert(bad == 0)
    report.cleanup()
  }

  test("generator-scale consistency: injected errors are all detected") {
    import graft.gen.TranscriptGen
    import org.apache.spark.sql.functions._
    val cfg = TranscriptGen.GenConfig(
      numConvs = 300, seed = 7, dupRate = 0.01, gapRate = 0.01,
      nullRoleRate = 0.005, badRoleRate = 0.005, negTurnRate = 0.002,
      nullTextRate = 0.005, tsRegressRate = 0.005, orphanConvRate = 0.002)
    val data = TranscriptGen.transcripts(spark, cfg).cache()
    val keys = TranscriptGen.conversations(spark, cfg).select("conv_id")
    val rep = new TranscriptValidator().validate(data, Some(keys))
    val vByC = rep.violations.groupBy("constraint_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // independently computed ground truths
    val expectedDups = data.groupBy("conv_id", "turn_idx").count()
      .filter(col("count") > 1 && col("turn_idx").isNotNull && col("conv_id").isNotNull).count()
    assert(vByC.getOrElse(DupKey, 0L) == expectedDups)
    val expectedNeg = data.filter(col("turn_idx") < 0).count()
    assert(vByC.getOrElse(NegTurnIdx, 0L) == expectedNeg)
    val expectedNullRole = data.filter(col("role").isNull).count()
    assert(vByC.getOrElse(NullRole, 0L) == expectedNullRole)
    val expectedBadRole = data.filter(col("role") === "robot").count()
    assert(vByC.getOrElse(RoleEnum, 0L) == expectedBadRole)
    val expectedOrphans = data.select("conv_id").distinct()
      .join(keys, Seq("conv_id"), "left_anti").count()
    assert(vByC.getOrElse(OrphanConv, 0L) == expectedOrphans)
    assert(vByC.getOrElse(SeqGap, 0L) > 0)
    assert(vByC.getOrElse(TsMonotone, 0L) > 0)
    data.unpersist()
  }

  test("clean rows exclude row-level violators inside passing conversations") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // conv c1 is sequence-clean (turns 0..2) but turn 1 has NULL text and
    // turn 2 pairs tool with a non-tool role
    val data = Seq(
      ("c1", 0, "user", "hi", null: String, now),
      ("c1", 1, "assistant", null: String, null: String, now),
      ("c1", 2, "user", "bye", "bash", now)
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val v = new TranscriptValidator()
    val verdicts = v.convVerdicts(v.seqTable(data))
    assert(verdicts.filter(col("pass")).count() == 1, "c1 is sequence-clean")
    // conversation-grain exclusion: dropping only the bad rows would leave
    // a turn_idx hole, so the whole conversation goes
    val survivors = v.cleanRows(data, verdicts).count()
    assert(survivors === 0L, s"conv with row violators must be dropped whole")
  }

  test("re-validating cleanRows output yields zero violations (idempotence)") {
    import graft.gen.TranscriptGen
    val cfg = TranscriptGen.GenConfig(numConvs = 300, seed = 23,
      dupRate = 0.01, gapRate = 0.01, nullTextRate = 0.01, badRoleRate = 0.01)
    val data = TranscriptGen.transcripts(spark, cfg).cache()
    val v = new TranscriptValidator()
    val verdicts = v.convVerdicts(v.seqTable(data))
    val clean = v.cleanRows(data, verdicts).cache()
    assert(clean.count() > 0, "some conversations must survive")
    val report2 = v.validate(clean)
    assert(report2.violations.count() === 0L,
      "the cleaned table must pass its own suite")
    report2.cleanup()
    data.unpersist(); clean.unpersist()
  }

  test("ToolRole fires when role is NULL and tool is set (null-free verdict)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val now = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val data = Seq(("c1", 0, null: String, "txt", "bash", now))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val v = new TranscriptValidator()
    val ids = v.rowViolations(data).select("constraint_id")
      .collect().map(_.getString(0)).toSet
    assert(ids.contains(Constraints.NullRole))
    assert(ids.contains(Constraints.ToolRole),
      s"NULL role + tool set must fail ToolRole, got $ids")
  }
}
