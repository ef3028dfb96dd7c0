package graft.io

import graft.SparkSuite
import graft.schema.CompiledSchema
import graft.validate.Validator
import java.nio.file.{Files, Paths}

/** The reference ingests CSV / JSON / JSONL (kyepy kye.py:115-126); the
  * engine must validate identically regardless of source format. */
class SourceFormatsSpec extends SparkSuite {

  private val schema = CompiledSchema.load(
    """{"models": {"User": {"index": "id", "edges": {
      |  "id": {"type": "Number"}, "name": {"type": "String"}},
      |  "assertions": [{"msg": "", "expr": [{"col": "id"}, {"ge": 0}]}]}}}""".stripMargin)

  private def validate(df: org.apache.spark.sql.DataFrame) = {
    val r = new Validator(schema)
      .validate("User", Validator.withRowIds(df.coalesce(1)))
    (r.violations.collect().map(v => (v.getString(0), v.getLong(2))).toSet,
      r.survivors.map(_.count()).getOrElse(-1L))
  }

  test("csv, json-lines, and parquet sources validate identically") {
    val dir = Files.createTempDirectory("srcfmt")
    Files.writeString(dir.resolve("u.csv"),
      "id,name\n1,alice\n-2,bob\n3,carol\n")
    Files.writeString(dir.resolve("u.jsonl"),
      """{"id": 1, "name": "alice"}
        |{"id": -2, "name": "bob"}
        |{"id": 3, "name": "carol"}
        |""".stripMargin)

    val csv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(dir.resolve("u.csv").toString)
    val jsonl = spark.read.json(dir.resolve("u.jsonl").toString)
    import spark.implicits._
    val mem = Seq((1L, "alice"), (-2L, "bob"), (3L, "carol")).toDF("id", "name")

    val expected = (Set(("AssertionFailed", 1L)), 2L)
    assert(validate(csv) == expected)
    assert(validate(jsonl.select($"id", $"name")) == expected)
    assert(validate(mem) == expected)
  }

  test("yaml compiled artifacts load like json ones") {
    val y = CompiledSchema.load(
      """models:
        |  User:
        |    index: id
        |    edges:
        |      id: {type: Number}
        |""".stripMargin, yaml = true)
    assert(y.models("User").edges("id").tpe == "Number")
    assert(y.types.contains("String")) // native types merged
  }
}
