package graft.validate

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** `Validator.withParquetRowIds` must stay columnar (no RDD round-trip in
  * the plan), produce unique stable ids across multi-file tables, and equal
  * the 0-based positional index for a single-file table. */
class ParquetRowIdSpec extends SparkSuite {

  test("multi-file parquet: unique, stable, columnar row ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowid").toString
    spark.range(0, 1000).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartition(4).write.mode("overwrite").parquet(dir)

    val ids1 = Validator.withParquetRowIds(spark, dir)
    // no RDD scan: the plan is a parquet scan + broadcast join, codegen'd
    val plan = ids1.queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"RDD round-trip leaked into the plan:\n$plan")

    val collected = ids1.select("_row", "k").collect()
    assert(collected.length === 1000)
    assert(collected.map(_.getLong(0)).distinct.length === 1000, "_row must be unique")

    // stable: a second read assigns identical ids to identical rows
    val ids2 = Validator.withParquetRowIds(spark, dir).select("_row", "k").collect()
    assert(collected.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      ids2.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
  }

  test("single-file parquet: ids equal the 0-based positional index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowid1").toString
    spark.range(0, 100).select(col("id").as("k"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val rows = Validator.withParquetRowIds(spark, dir)
      .orderBy("_row").collect()
    assert(rows.map(_.getAs[Long]("_row")).toSeq === (0L until 100L))
  }

  test("validator runs end-to-end on parquet-derived row ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rowid2").toString
    spark.range(0, 200)
      .select(col("id").cast("double").as("id"), (col("id") % 50).cast("double").as("value"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val schema = graft.schema.CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"}, "value": {"type": "Number"}},
        |  "assertions": [{"msg": "value <= 40", "expr": [{"col": "value"}, {"le": 40}]}]}}}""".stripMargin)
    val result = new Validator(schema)
      .validate("M", Validator.withParquetRowIds(spark, dir))
    assert(result.violations.filter("err = 'AssertionFailed'").count() === 200 / 50 * 9)
    assert(result.survivors.get.count() === 164)
    result.cleanup()
  }
}
