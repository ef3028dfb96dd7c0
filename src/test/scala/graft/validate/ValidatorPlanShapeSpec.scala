package graft.validate

import graft.SparkSuite
import graft.schema.CompiledSchema
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Optimized-plan regressions for the violation legs: each leg re-scans a
  * stage cache, and while that cache is unbuilt AQE submits one
  * cache-stage job per scan, so every extra leg costs a Spark job. The S6
  * legs are one per error kind with a LITERAL `err`, so a consumer
  * filtering on `err` prunes every other kind's leg at optimize time. */
class ValidatorPlanShapeSpec extends SparkSuite {

  /** Scans of the cache backing `cached` in `plan`. */
  private def scans(plan: LogicalPlan, cached: DataFrame): Int = {
    val builder = cached.queryExecution.optimizedPlan.collectFirst {
      case r: InMemoryRelation => r.cacheBuilder
    }.getOrElse(fail("not a cached DataFrame"))
    plan.collect { case r: InMemoryRelation if r.cacheBuilder eq builder => r }.size
  }

  private def optimized(df: DataFrame): LogicalPlan = df.queryExecution.optimizedPlan

  /** The S6 cache: the only one carrying per-column `_n_` counts. */
  private def grouped(r: ValidationResult): DataFrame =
    r.cached.find(_.columns.exists(_.startsWith("_n_"))).getOrElse(fail("no S6 cache"))

  private def df(schema: StructType, rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("kye transcript model: one S4 leg for all assertions, one S6 leg per err kind") {
    // the transcript model of the kye benchmark workload: two assertions,
    // a composite scalar index and three non-index columns
    val schema = CompiledSchema.nativeTypes.merge(graft.parse.KyeParser.compile(
      """Turn(conv_id, turn_idx) {
        |  conv_id: String
        |  turn_idx: Number
        |  role!: String
        |  text: String
        |  tokens: Number
        |  assert role == "system" | role == "user" | role == "assistant" | role == "tool"
        |  assert text != ""
        |}
        |""".stripMargin))
    val data = df(
      StructType(Seq(
        StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
        StructField("role", StringType), StructField("text", StringType),
        StructField("tokens", StringType), StructField("_row", LongType, nullable = false))),
      Seq(Row("c0", 0, "user", "hi", "3", 0L), Row("c0", 1, "user", "a", "4", 1L),
        Row("c0", 1, "assistant", "b", "5", 2L), Row("c1", 0, null, "x", null, 3L),
        Row("c1", 1, "bot", "", "1", 4L)))
    val r = new Validator(schema).validate("Turn", data)
    val s3 = r.cached.head
    val plan = optimized(r.violations)
    // MultipleValues and MissingValue; the scalar index components get no
    // MultipleValues check, so no third kind appears
    assert(scans(plan, grouped(r)) == 2, plan.toString)
    // one S4 leg for both assertions, plus the S6 join-back to row ids
    assert(scans(plan, s3) == 2, plan.toString)
    val asserts = optimized(r.violations.filter(col("err") === "AssertionFailed"))
    assert(scans(asserts, s3) == 1, asserts.toString)
    assert(scans(asserts, grouped(r)) == 0, asserts.toString)
    val errs = r.violations.collect().map(v => (v.getString(0), v.getLong(2), v.getString(3)))
    assert(errs.sorted.toSeq == Seq(
      ("AssertionFailed", 4L, "role"), ("AssertionFailed", 4L, "text"),
      ("MissingValue", 3L, "role"), ("MissingValue", 3L, "tokens"),
      ("MultipleValues", 1L, "role"), ("MultipleValues", 1L, "text"),
      ("MultipleValues", 1L, "tokens"),
      ("MultipleValues", 2L, "role"), ("MultipleValues", 2L, "text"),
      ("MultipleValues", 2L, "tokens")), errs.sorted.toSeq)
    r.cleanup()
  }

  test("a filter on err prunes the S4 and S6 legs of a two-index model") {
    val schema = CompiledSchema.load(
      """{"models": {"M": {"indexes": [["id"], ["sk"]], "edges": {
        |  "id": {"type": "Number"}, "sk": {"type": "Number"},
        |  "v": {"type": "Number", "none": true}},
        |  "assertions": [{"msg": "v below the cap",
        |    "expr": [{"col": "v"}, {"le": 100}]}]}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", LongType), StructField("sk", LongType), StructField("v", LongType),
        StructField("_row", LongType, nullable = false))),
      Seq(Row(1L, 7L, 5L, 0L), Row(2L, 7L, null, 1L), Row(3L, 8L, 500L, 2L)))
    val r = new Validator(schema).validate("M", data)
    val sub = r.violations.filter(col("err") === "NonUniqueSubIndex")
    val plan = optimized(sub)
    val literals = plan.flatMap(_.expressions.flatMap(_.collect {
      case Literal(v, StringType) if v != null => v.toString
    })).toSet
    for (pruned <- Seq("AssertionFailed", "v below the cap", "MultipleValues", "MissingValue",
        "IndexConflict"))
      assert(!literals.contains(pruned), s"leg with '$pruned' not pruned:\n$plan")
    assert(scans(plan, grouped(r)) == 0, plan.toString)
    // the pruned plan still finds the sub-index violation: rows 0 and 1
    // share sk = 7 under two ids
    assert(sub.collect().map(r => (r.getLong(2), r.getString(3))).sorted.toSeq ==
      Seq((0L, "sk"), (1L, "sk")))
    r.cleanup()
  }
}
