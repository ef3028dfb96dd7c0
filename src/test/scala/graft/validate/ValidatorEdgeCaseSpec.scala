package graft.validate

import graft.SparkSuite
import graft.schema.CompiledSchema
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Regression tests for the round-1 advisor findings: NULL-keyed S6 groups
  * must still report their violation rows (null-safe join-back), S7 must
  * compare numerically-equal alternate keys across physical types, and a
  * zero-edge (constant) assertion must emit violation rows.
  */
class ValidatorEdgeCaseSpec extends SparkSuite {

  private def df(schema: StructType, rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  test("S6: NULL single-column index group reports MissingValue rows") {
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"}, "v": {"type": "String"}}}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", DoubleType), StructField("v", StringType),
        StructField("_row", LongType, nullable = false))),
      Seq(Row(1.0, "a", 0L), Row(null, "x", 1L), Row(null, "y", 2L)))
    val result = new Validator(schema)
      .validate("M", data)
    val missing = result.violations
      .filter("err = 'MissingValue' AND col = 'id'")
      .collect().map(_.getAs[Long]("row")).toSet
    assert(missing === Set(1L, 2L), "NULL-index rows must carry MissingValue")
    // the group itself is still excluded from survivors
    assert(result.survivors.get.count() === 1)
  }

  test("S6: NULL-keyed group reports MissingValue for EVERY edge, never MultipleValues") {
    // reference reindex-to-0 semantics (loader.py:157-169): the NaN index
    // label is dropped by groupby, so every edge's nunique reads 0 for
    // that group — even an edge holding two real values reports
    // MissingValue, not MultipleValues
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"}, "v": {"type": "String"}}}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", DoubleType), StructField("v", StringType),
        StructField("_row", LongType, nullable = false))),
      Seq(Row(1.0, "a", 0L), Row(null, "x", 1L), Row(null, "y", 2L)))
    val result = new Validator(schema)
      .validate("M", data)
    val errs = result.violations.collect()
      .map(r => (r.getAs[String]("err"), r.getAs[String]("col"), r.getAs[Long]("row")))
    assert(errs.count(e => e._1 == "MissingValue" && e._2 == "v") == 2,
      s"the null-keyed group's v edge must read MissingValue: ${errs.toSeq}")
    assert(!errs.exists(_._1 == "MultipleValues"),
      s"real values under a null key must NOT count as multiple: ${errs.toSeq}")
  }

  test("S4: NaN values are absent from assertion evaluation (vacuous, like the reference dropna)") {
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"}, "score": {"type": "Number", "none": true}},
        |  "assertions": [{"msg": "score <= 100",
        |    "expr": [{"col": "score"}, {"le": 100}]}]}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", LongType), StructField("score", DoubleType),
        StructField("_row", LongType, nullable = false))),
      Seq(Row(1L, 50.0, 0L), Row(2L, Double.NaN, 1L), Row(3L, 200.0, 2L)))
    val result = new Validator(schema)
      .validate("M", data)
    val rows = result.violations.filter("err = 'AssertionFailed'")
      .collect().map(_.getAs[Long]("row")).toSet
    assert(rows == Set(2L),
      s"only the strict failure fires — Spark NaN<=100=false must NOT become a violation: $rows")
    assert(result.survivors.get.collect().map(_.getAs[Long]("id")).toSet == Set(1L, 2L),
      "the NaN row is vacuous and survives; the strict failure is dropped")
  }

  test("S4: single-edge assertion over an array column evaluates per element") {
    // reference explode().dropna() semantics: a row fails if ANY non-null
    // element strictly fails; all-null/empty arrays are vacuous
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"},
        |  "tags": {"type": "String", "many": true, "none": true}},
        |  "assertions": [{"msg": "tags match ^t",
        |    "expr": [{"col": "tags"}, {"matches": "^t"}]}]}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", LongType),
        StructField("tags", ArrayType(StringType)),
        StructField("_row", LongType, nullable = false))),
      Seq(
        Row(1L, Seq("ta", "tb"), 0L),          // all match -> pass
        Row(2L, Seq("ta", "x"), 1L),           // one fails -> violation
        Row(3L, Seq(null, "tc"), 2L),          // null element dropped -> pass
        Row(4L, Seq(), 3L),                    // empty -> vacuous
        Row(5L, null, 4L),                     // null array -> vacuous
        Row(6L, Seq("x", "y"), 5L)))           // two failing elements -> ONE row
    val result = new Validator(schema)
      .validate("M", data)
    val fails = result.violations.filter("err = 'AssertionFailed'")
      .collect().map(_.getAs[Long]("row")).toSeq.sorted
    // one violation row per FAILING ROW: the reference VM dedups
    // (row, value) pairs on every stack pop (vm.py:26-30), so equal
    // element verdicts collapse to a single entry in result[~result]
    // [verified by execution]; mixed verdicts crash the reference
    // (documented deviation: here the row fails cleanly)
    assert(fails == Seq(1L, 5L), s"per-row multiplicity: $fails")
    assert(result.survivors.get.collect().map(_.getAs[Long]("id")).toSet ==
      Set(1L, 3L, 4L, 5L))
  }

  test("S5: NaN sub-keys drop like the reference groupby — no NonUniqueSubIndex") {
    val schema = CompiledSchema.load(
      """{"models": {"M": {"indexes": [["id"], ["sk"]], "edges": {
        |  "id": {"type": "Number"}, "sk": {"type": "Number"}}}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", LongType), StructField("sk", DoubleType),
        StructField("_row", LongType, nullable = false))),
      // two distinct full keys share sk=NaN: pandas groupby drops the NaN
      // label, so the reference reports nothing; Spark would group NaN
      // AND match it in the join-back without the nanSafe mapping
      Seq(Row(1L, Double.NaN, 0L), Row(2L, Double.NaN, 1L), Row(3L, 5.0, 2L)))
    val result = new Validator(schema)
      .validate("M", data)
    val subIdx = result.violations.filter("err = 'NonUniqueSubIndex'").count()
    assert(subIdx == 0, "NaN sub-keys must not be flagged")
    // the NaN rows still drop — but through S6 MissingValue (sk reads as
    // absent, exactly the reference's dropna->nunique=0), never through a
    // spurious sub-index verdict
    val missing = result.violations.filter("err = 'MissingValue' AND col = 'sk'").count()
    assert(missing == 2, "NaN sk reads as missing, like the reference")
    assert(result.survivors.get.count() == 1)
  }

  test("S7: long vs double alternate keys conflict on 2 == 2.0") {
    val schema = CompiledSchema.load(
      """{"models": {"M": {"indexes": ["k1", "k2"], "edges": {
        |  "k1": {"type": "Number"}, "k2": {"type": "Number"}}}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("k1", LongType), StructField("k2", DoubleType),
        StructField("_row", LongType, nullable = false))),
      // entity A: k1=1, k2=2.0; entity B: k1=2, k2=3.0 — A's k2 value 2.0
      // equals B's k1 value 2 numerically but not physically
      Seq(Row(1L, 2.0, 0L), Row(2L, 3.0, 1L)))
    val result = new Validator(schema)
      .validate("M", data)
    val conflicted = result.violations
      .filter("err = 'IndexConflict'")
      .collect().map(_.getAs[Long]("row")).toSet
    assert(conflicted === Set(0L, 1L),
      "numeric widening must detect 2 == 2.0 across alternate keys")
    assert(result.survivors.get.count() === 0)
  }

  test("S7 plan: the key-projection union is exchanged ONCE (ReusedExchange)") {
    // the conflicts groupBy and the affected join-back both consume the
    // repartition(_v)'d union; without the explicit repartition +
    // shuffle_hash hints a broadcast join erased the exchange boundary and
    // RE-RAN the 2N-row union per consumer (the worst-query cost in
    // q_kye_index_conflict)
    val schema = CompiledSchema.load(
      """{"models": {"M": {"indexes": ["k1", "k2"], "edges": {
        |  "k1": {"type": "Number"}, "k2": {"type": "Number"}}}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("k1", LongType), StructField("k2", LongType),
        StructField("_row", LongType, nullable = false))),
      (0L until 200L).map(i => Row(i, i + 1, i)))
    val result = new Validator(schema)
      .validate("M", data)
    val vio = result.violations.filter("err = 'IndexConflict'")
    vio.collect() // final AQE shape appears only in the post-run executedPlan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def planTree(p: SparkPlan): Seq[SparkPlan] = {
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(planTree)
    }
    val nodes = planTree(vio.queryExecution.executedPlan)
    // t (the repartitioned key-projection union) is CACHED: both consumers
    // must scan the SAME in-memory relation...
    val tScans = nodes.collect {
      case s: InMemoryTableScanExec if s.output.map(_.name).toSet.subsetOf(Set("_v", "_key")) =>
        // relation instances are planning-time copies; the cacheBuilder is
        // the shared identity of the materialized cache
        System.identityHashCode(s.relation.cacheBuilder)
    }
    assert(tScans.size >= 2 && tScans.distinct.size == 1,
      s"both S7 consumers must read one materialized t, got ${tScans.size} scans " +
        s"of ${tScans.distinct.size} relations")
    // ...and since the cache preserves HashPartitioning(_v), neither
    // consumer may re-shuffle it (the one _v exchange lives INSIDE the
    // cached plan and ran once at materialization)
    val vExchanges = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("_v") => e
    }
    assert(vExchanges.isEmpty,
      s"no consumer-side _v exchange expected, got:\n${vExchanges.mkString("\n")}")
  }

  test("S5/S7: min/max flagging matches distinct-count semantics on repeats and null fields") {
    // r7 optimization: the S5 nunique!=1 and S7 countDistinct>1 flags are
    // computed as single-phase min/max aggregates (one exchange instead of
    // the distinct aggregate's two). Pin the equivalence edges:
    //   - repeated OCCURRENCES of one distinct key never flag (min==max);
    //   - keys differing only in a null FIELD are distinct (min!=max
    //     through the struct ordering, nulls-first).
    val schema = CompiledSchema.load(
      """{"models": {"M": {"indexes": ["k1", "k2"], "edges": {
        |  "k1": {"type": "Number"}, "k2": {"type": "Number"}}}}}""".stripMargin)
    // entity (5,5): the value 5 occurs TWICE in the S7 union (k1 side and
    // k2 side) but names ONE entity — two occurrences, one distinct key.
    // entity (6,7): no value shared with anything. Zero conflicts.
    val clean = df(
      StructType(Seq(
        StructField("k1", LongType), StructField("k2", LongType),
        StructField("_row", LongType, nullable = false))),
      Seq(Row(5L, 5L, 0L), Row(6L, 7L, 1L)))
    val cleanResult = new Validator(schema)
      .validate("M", clean)
    assert(cleanResult.violations.count() === 0,
      "self-coincident alternate keys of ONE entity must not conflict")
    assert(cleanResult.survivors.get.count() === 2)

    // sub-index FD with full keys differing only in a null field:
    // sk=1 groups rows whose full keys are (1, null) and (1, 2) — two
    // distinct full keys, so NonUniqueSubIndex must fire for both rows
    val schema2 = CompiledSchema.load(
      """{"models": {"M": {"indexes": ["id", "sk"], "edges": {
        |  "id": {"type": "Number", "none": true}, "sk": {"type": "Number"}}}}}""".stripMargin)
    val nullField = df(
      StructType(Seq(
        StructField("id", LongType), StructField("sk", LongType),
        StructField("_row", LongType, nullable = false))),
      Seq(Row(null, 1L, 0L), Row(2L, 1L, 1L)))
    val r2 = new Validator(schema2)
      .validate("M", nullField)
    val subIdx = r2.violations.filter("err = 'NonUniqueSubIndex' AND col = 'sk'")
      .collect().map(_.getAs[Long]("row")).toSet
    assert(subIdx === Set(0L, 1L),
      s"(1,null) vs (1,2) full keys are distinct under sk=1: $subIdx")
  }

  test("S4: zero-edge constant assertion emits violation rows with null col") {
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id",
        |  "edges": {"id": {"type": "Number"}},
        |  "assertions": [{"msg": "constant false", "expr": [{"val": false}]}]}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", DoubleType), StructField("_row", LongType, nullable = false))),
      Seq(Row(1.0, 0L), Row(2.0, 1L)))
    val result = new Validator(schema)
      .validate("M", data)
    val vios = result.violations.filter("err = 'AssertionFailed'").collect()
    assert(vios.length === 2, "every row fails the constant-false assertion")
    assert(vios.forall(_.isNullAt(3)), "zero-edge assertion anchors col=null")
    assert(result.survivors.get.count() === 0)
  }

  test("S6: NaN values drop like the reference's dropna — no false MultipleValues") {
    // pandas explode().dropna() (loader.py:155-159) drops NaN as well as
    // null: {1.0, NaN} is ONE distinct value with survivor 1.0, and an
    // all-NaN group on a required edge is MISSING, not present
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"}, "v": {"type": "Number"}}}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", DoubleType), StructField("v", DoubleType),
        StructField("_row", LongType, nullable = false))),
      Seq(
        Row(1.0, 1.5, 0L), Row(1.0, Double.NaN, 1L), // {1.5, NaN} -> one value
        Row(2.0, Double.NaN, 2L)))                   // all-NaN -> missing
    val result = new Validator(schema)
      .validate("M", data)
    val byErr = result.violations.collect()
      .groupBy(_.getAs[String]("err")).view.mapValues(_.length).toMap
    assert(!byErr.contains("MultipleValues"),
      s"NaN must not count as a distinct value: $byErr")
    val missing = result.violations.filter("err = 'MissingValue' AND col = 'v'")
      .collect().map(_.getAs[Long]("row")).toSet
    assert(missing === Set(2L), "all-NaN group is a missing value")
    val survivors = result.survivors.get.collect()
      .map(r => r.getAs[Double]("id") -> r.getAs[Double]("v")).toMap
    assert(survivors === Map(1.0 -> 1.5), "the NaN never wins the grouped value")
  }

  test("zero-row parity: clean empty table survives empty; extras abort before MissingIndex") {
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"}, "v": {"type": "String"}}}}}""".stripMargin)
    val emptySchema = StructType(Seq(
      StructField("id", DoubleType), StructField("v", StringType),
      StructField("_row", LongType, nullable = false)))
    val parity = ValidatorConfig(strictReferenceParity = true)
    // clean zero-row table: the reference only aborts on emptiness AFTER a
    // drop, so this loads as an EMPTY model (survivors defined, 0 rows)
    val clean = new Validator(schema, parity).validate("M", df(emptySchema, Nil))
    assert(clean.survivors.isDefined, "clean empty table must not abort")
    assert(clean.survivors.get.count() === 0)
    assert(clean.violations.count() === 0)
    // zero rows + an extra column + a MISSING index column: the reference
    // drops the extra, sees df.empty, and returns before the missing-index
    // check — no MissingIndex violations, survivors None
    val extrasSchema = StructType(Seq(
      StructField("v", StringType), StructField("junk", StringType),
      StructField("_row", LongType, nullable = false)))
    val extras = new Validator(schema, parity).validate("M", df(extrasSchema, Nil))
    assert(extras.survivors.isEmpty, "post-drop empty table aborts")
    assert(extras.violations.filter("err = 'MissingIndex'").count() === 0,
      "the abort precedes the missing-index stage (loader.py:63-65)")
  }

  test("S4 dropping every row: the scale path returns empty survivors, parity aborts") {
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"}, "v": {"type": "Number"}},
        |  "assertions": [{"msg": "v <= 10", "expr": [{"col": "v"}, {"le": 10}]}]}}}""".stripMargin)
    // every row fails the assertion; id 2 would also be MultipleValues in
    // S6 had it survived S4
    val data = df(
      StructType(Seq(
        StructField("id", LongType), StructField("v", LongType),
        StructField("_row", LongType, nullable = false))),
      Seq(Row(1L, 20L, 0L), Row(2L, 30L, 1L), Row(2L, 40L, 2L)))
    def vios(r: ValidationResult) = r.violations.collect()
      .map(v => (v.getAs[String]("err"), v.getAs[Long]("row"), v.getAs[String]("col")))
      .toSeq.sorted
    val expected = Seq(0L, 1L, 2L).map(("AssertionFailed", _, "v"))
    val scale = new Validator(schema).validate("M", data)
    assert(scale.survivors.isDefined, "the scale path never aborts on an empty stage")
    assert(scale.survivors.get.count() === 0)
    assert(vios(scale) === expected)
    scale.cleanup()
    val parity = new Validator(schema, ValidatorConfig(strictReferenceParity = true))
      .validate("M", data)
    assert(parity.survivors.isEmpty, "parity aborts after the S4 mask empties the table")
    assert(vios(parity) === expected)
    parity.cleanup()
  }

  test("S6: hot-key many-edge value set is bounded at cap (+ truncation report)") {
    import org.apache.spark.sql.functions._
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"}, "v": {"type": "Number", "many": true}}}}}""".stripMargin)
    // one hot key with 100k distinct many-edge values + one small group:
    // with collect_set this materializes a 100k-element aggregation buffer
    // and survivor cell; with the bounded aggregate the buffer never
    // exceeds cap+1 elements
    val cap = 100
    val hot = spark.range(0, 100000)
      .select(lit(1L).as("id"), col("id").as("v"), col("id").as("_row"))
    val small = spark.range(0, 3)
      .select(lit(2L).as("id"), (col("id") + 7).as("v"), (col("id") + 200000).as("_row"))
    val result = new Validator(schema,
      ValidatorConfig(maxGroupValues = cap))
      .validate("M", hot.union(small))
    val survivors = result.survivors.get.orderBy("id").collect()
    assert(survivors.length === 2)
    val hotVals = survivors(0).getSeq[Long](1)
    assert(hotVals === (0L until cap.toLong), "hot group keeps the cap smallest, sorted")
    assert(survivors(1).getSeq[Long](1) === Seq(7L, 8L, 9L),
      "non-overflowing group is exact")
    val truncated = result.violations.filter("err = 'TruncatedValues'")
      .select("row").collect().map(_.getLong(0)).toSet
    assert(truncated.size === 100000 && !truncated.contains(200000L),
      "every hot-group member (and nobody else) is flagged TruncatedValues")
    result.cleanup()
  }

  test("S4 throwing leaves no stage cache registered in the session") {
    // S3's cache is registered before S4 compiles its assertions; a
    // multi-edge assertion over an array edge throws there, and the cache
    // must not outlive the failed call
    spark.catalog.clearCache()
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"},
        |  "tags": {"type": "String", "many": true}, "name": {"type": "String"}},
        |  "assertions": [{"msg": "tags equal name",
        |    "expr": [{"col": "tags"}, {"col": "name"}, {"eq": null}]}]}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", LongType), StructField("tags", ArrayType(StringType)),
        StructField("name", StringType), StructField("_row", LongType, nullable = false))),
      Seq(Row(1L, Seq("a"), "a", 0L)))
    intercept[UnsupportedOperationException](new Validator(schema).validate("M", data))
    assert(spark.sharedState.cacheManager.isEmpty,
      "the S3 stage cache must be unpersisted when a later stage throws")
  }

  test("S6: array-typed edge keeps exact per-element distinct semantics under the cap") {
    val schema = CompiledSchema.load(
      """{"models": {"M": {"index": "id", "edges": {
        |  "id": {"type": "Number"}, "v": {"type": "String", "many": true}}}}}""".stripMargin)
    val data = df(
      StructType(Seq(
        StructField("id", LongType), StructField("v", ArrayType(StringType)),
        StructField("_row", LongType, nullable = false))),
      Seq(
        Row(1L, Seq("b", "a", null), 0L),
        Row(1L, Seq("a", "c"), 1L),
        Row(2L, null, 2L)))
    val result = new Validator(schema)
      .validate("M", data)
    val survivors = result.survivors.get.orderBy("id").collect()
    assert(survivors.length === 1, "the empty-set group is dropped (MissingValue)")
    assert(survivors(0).getSeq[String](1) === Seq("a", "b", "c"),
      "distinct non-null elements across the group, sorted")
    // id=2 group: none=false default ⇒ MissingValue (empty value set)
    val missing = result.violations.filter("err = 'MissingValue' AND col = 'v'")
      .collect().map(_.getAs[Long]("row")).toSet
    assert(missing === Set(2L))
    result.cleanup()
  }
}
