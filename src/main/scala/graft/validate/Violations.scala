package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Violation row shape — the flattened error table of the reference
  * (kyepy `kye/errors/validation_errors.py:117-124`: one row per
  * (row, column) after double-explode; column-level errors carry a null
  * `row`). */
object Violations {
  val schema: StructType = StructType(Seq(
    StructField("err", StringType, nullable = false),
    StructField("model", StringType, nullable = false),
    StructField("row", LongType, nullable = true),
    StructField("col", StringType, nullable = true),
    StructField("loc", StringType, nullable = true),
    StructField("expected", StringType, nullable = true)))

  /** Small driver-side violation set (column-level errors: MissingIndex,
    * InvalidType). */
  def local(spark: SparkSession,
            rows: Seq[(String, String, Option[Long], Option[String], Option[String], Option[String])]): DataFrame = {
    val data = rows.map { case (err, model, row, c, loc, exp) =>
      Row(err, model, row.map(Long.box).orNull, c.orNull, loc.orNull, exp.orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  def empty(spark: SparkSession): DataFrame = local(spark, Nil)

  /** One check of a violation leg: a null-free fail predicate and the
    * struct of violation fields reported when it fails. */
  final case class Check(fails: Column, payload: Column)

  /** The rows of `df` that fail any of `checks`, once per failing check:
    * the `keep` columns followed by the fields of that check's payload.
    * The hot path is a pure-predicate any-fail filter (codegen, zero
    * allocation on passing rows — at sparse error rates nearly all of the
    * input); the payload array and the explode run only on the failing
    * sliver, so N checks cost one scan, not N. Fail predicates must be
    * null-free (a NULL verdict reports nothing), and all payloads must
    * share one struct type. */
  def failing(df: DataFrame, keep: Seq[String], checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "a violation leg needs at least one check")
    val payloads = array(checks.map(c => when(c.fails, c.payload)): _*)
    df.where(checks.map(_.fails).reduce(_ || _))
      .select(keep.map(col) :+ explode(filter(payloads, _.isNotNull)).as("_f"): _*)
      .select(keep.map(col) :+ col("_f.*"): _*)
  }
}
