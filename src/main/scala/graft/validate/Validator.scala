package graft.validate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.schema._
import graft.expr.ExprCompiler

import scala.collection.mutable.ListBuffer
import scala.util.control.NonFatal

/** @param strictReferenceParity when true, reproduce the reference loader
  *   exactly: skip assertions referencing more than one column (kyepy
  *   `loader.py:121` evaluates an assertion only when it touches exactly
  *   one edge) and abort with `survivors = None` when a stage that dropped
  *   something leaves the table empty (`loader.py:64-65,128-129,…`) — each
  *   such guard is a driver-side `isEmpty` job. The default (scale path)
  *   evaluates every assertion — predicate columns make the general case
  *   free (documented superset, SURVEY §2.4-W1) — and never probes for
  *   emptiness: an emptied table flows on and yields `Some(<0 rows>)`
  *   survivors, with the same violations (later stages add none on an
  *   empty input).
  * @param maxGroupValues hard cap on the distinct values a `many`-edge
  *   survivor array materializes per group (S6). The aggregate keeps the
  *   cap+1 SMALLEST distinct values with a bounded buffer
  *   ([[graft.functions.BoundedDistinctSet]]) — one hot key with 10^9
  *   distinct values costs cap+1 buffer slots, not an OOM. Groups that
  *   overflow keep their (truncated, sorted-ascending) array in the
  *   survivors and additionally report a `TruncatedValues` violation row
  *   per member. Cardinality verdicts (missing / multiple) are exact at
  *   any cap ≥ 1. Verdicts and survivor value SETS match the reference
  *   whenever every group holds ≤ cap distinct values (all fixtures do,
  *   by orders of magnitude); many-edge survivor arrays are sorted
  *   ascending for distributed determinism, whereas the reference's
  *   pandas `unique` keeps first-appearance order — element ORDER is a
  *   documented deviation, not a bit-for-bit match.
  */
final case class ValidatorConfig(
    strictReferenceParity: Boolean = false,
    maxGroupValues: Int = 10000)

/** @param survivors the cleaned, index-grouped table (None = model aborted,
  *   like the reference returning None from `Loader.load`: no usable
  *   column or index, or — parity mode only — a stage emptied the table).
  * @param cached intermediate stage caches backing `violations`/`survivors`
  *   — call [[cleanup]] once both are consumed so long-lived sessions
  *   (servers, multi-model runs) don't pin executor storage. */
final case class ValidationResult(
    violations: DataFrame,
    survivors: Option[DataFrame],
    cached: Seq[DataFrame] = Nil) {
  def cleanup(): Unit = cached.foreach(_.unpersist())
}

/** The 8-stage validation pipeline of the reference loader
  * (kyepy `kye/vm/loader.py:32-202`) re-expressed as declarative Spark
  * transforms:
  *
  *  - S1 conform: projection + title→name rename, drop unknown columns
  *  - S2 missing-index: driver-side schema check
  *  - S3 type check: static dtype comparison + implicit cast via the
  *    schema's coercion edges; column-level all-or-nothing verdict enforced
  *    with ONE aggregate job batching every column's try-cast null-delta
  *  - S4 assertions: Catalyst-compiled predicate columns, null = vacuous
  *    pass (`coalesce(p, true)` — deliberate deviation from the reference's
  *    silent null-row drop, SURVEY §2.4-W2); every assertion reports
  *    through ONE violation leg ([[Violations.failing]])
  *  - S5 sub-index functional dependency: groupBy(subKey) countDistinct(fullKey)
  *  - S6 cardinality + group-by-key: ONE shuffle computes every column's
  *    per-group distinct count and the grouped value; one violation leg
  *    per error kind joins the failing keys back to their member row ids
  *  - S7 index-conflict: union of key projections, countDistinct(entity)>1
  *  - S8 survivors returned
  *
  * Progressive filtering is preserved: rows failing a stage never reach
  * later stages.
  *
  * The input must carry the stable row-identity column `_row`
  * ([[Validator.RowId]]): the reference relies on the pandas positional
  * index (`loader.py:36-41`), which has no distributed analogue —
  * [[Validator.withRowIds]] / [[Validator.withParquetRowIds]] attach one.
  */
class Validator(schema: CompiledSchema, config: ValidatorConfig = ValidatorConfig()) {

  import Validator.{RowId => rowId}

  def validate(modelName: String, input: DataFrame): ValidationResult = {
    val cachedDfs = ListBuffer.empty[DataFrame]
    // a stage that throws (an unsupported assertion shape, a failed parity
    // flag job) must not leave the earlier stages' caches registered for
    // the life of the session
    try stages(modelName, input, cachedDfs)
    catch { case NonFatal(e) => cachedDfs.foreach(_.unpersist()); throw e }
  }

  private def stages(modelName: String, input: DataFrame,
                     cachedDfs: ListBuffer[DataFrame]): ValidationResult = {
    val spark = input.sparkSession
    require(input.columns.contains(rowId),
      s"input must carry a stable row-id column '$rowId' (use Validator.withRowIds)")
    val model = schema.models.getOrElse(modelName,
      throw new IllegalArgumentException(s"Source '$modelName' not found"))

    val violations = ListBuffer.empty[DataFrame]
    def cached(d: DataFrame): DataFrame = { val c = d.cache(); cachedDfs += c; c }
    def abort(): ValidationResult =
      ValidationResult(unionAll(spark, violations.toList), None, cachedDfs.toSeq)
    // parity: every reference empty-abort sits under a mask/drop guard
    // (`if not mask.all():` / `if len(drop_columns):`, loader.py:113-200)
    // — a table that was ALREADY empty flows through to an empty survivors
    // table; only a stage that actually dropped something aborts on empty
    def emptyAbort(out: DataFrame, droppedSomething: => Boolean): Boolean =
      config.strictReferenceParity && out.isEmpty && droppedSomething

    // ---- S1: conform columns (rename titles, drop unknown) ----------------
    val colNameMap: Map[String, String] =
      model.edges.values.map(e => e.title.getOrElse(e.name) -> e.name).toMap
    val dataColsIn = input.columns.filterNot(_ == rowId)
    val (known, dropped) = dataColsIn.partition(colNameMap.contains)
    if (dropped.nonEmpty)
      System.err.println(s"Warning: Table '${model.name}' had extra columns: ${dropped.mkString(",")}")
    if (known.isEmpty) return abort() // all columns dropped ⇒ empty table (loader.py:64-65)
    var df = input.select((col(rowId) +: known.map(c => col(c).as(colNameMap(c)))): _*)
    var dataCols: Seq[String] = known.map(colNameMap)
    // reference control flow: the empty-table abort after dropping extras
    // runs BEFORE the missing-index check and only when a drop actually
    // happened (loader.py:63-65 sits inside `if len(drop_columns)`), so a
    // zero-row table with extra columns aborts silently — no MissingIndex
    // rows. A clean zero-row table does NOT abort there.
    lazy val inputIsEmpty = df.isEmpty // evaluated at most once, parity mode only
    if (config.strictReferenceParity && dropped.nonEmpty && inputIsEmpty) return abort()

    // ---- S2: missing index columns (driver-side, no job) ------------------
    val missingIdx = model.index.filterNot(dataCols.contains)
    if (missingIdx.nonEmpty) {
      violations += Violations.local(spark, missingIdx.map { c =>
        val e = model.edge(c)
        ("MissingIndex", model.name, None, Some(c), e.loc, None)
      })
      return abort()
    }

    // ---- S3: column type check + implicit cast ----------------------------
    // reference: an empty column is "nothing to check" (get_column_type
    // returns None, loader.py:88-90) — zero-row tables skip the type stage
    // entirely, emitting no InvalidType verdicts and keeping every column
    val s3 =
      if (config.strictReferenceParity && inputIsEmpty) Some((df, dataCols))
      else typeCheck(spark, model, df, dataCols, violations)
    s3 match {
      case None => return abort()
      case Some((d, cols)) => df = d; dataCols = cols
    }
    if (dataCols.isEmpty) return abort()
    df = cached(df)

    // ---- S4: assertions as predicate columns ------------------------------
    val applicable = model.assertions.filter { a =>
      if (config.strictReferenceParity)
        a.edges.size == 1 && dataCols.contains(a.edges.head)
      else a.edges.forall(dataCols.contains)
    }
    if (applicable.nonEmpty) {
      // NaN behaves like NULL at column load (reference explode().dropna()
      // drops BOTH), and `nanAbsent` extends that to NaN produced
      // MID-expression — the reference drops NaN at every stack push/pop,
      // so a float cast of "NaN" or an Infinity*0 makes the row absent
      import graft.expr.ExprCompiler.nanToNull
      def nanRef(name: String): Column = nanSafeCol(df, name)
      // declared-type tags for bool-is-int coercion (Python bools are
      // ints: the reference computes `col - True` / `col < True` as
      // numeric ops) — the post-S3 Spark schema is ground truth here
      def tagOf(dt: DataType): ExprCompiler.Tag = ExprCompiler.Tag.ofDataType(dt)
      val fieldIdx = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val schemaTag: String => ExprCompiler.Tag =
        n => fieldIdx.get(n).map(tagOf).getOrElse(ExprCompiler.Tag.Unknown)
      // Array-typed (many-cardinality) edges: the reference explodes and
      // evaluates PER ELEMENT — one violation entry per strictly-failing
      // non-null element (result[~result] carries duplicate row labels),
      // the row is dropped if any element fails, and it is vacuous when no
      // element evaluates. Only single-edge assertions can reference an
      // array column this way (every COL in the program IS the edge); the
      // reference itself runs ONLY single-edge assertions
      // (loader.py:120-121).
      def compileAssertion(a: graft.schema.Assertion): Column =
        a.edges match {
          case Seq(edge) if df.schema(edge).dataType.isInstanceOf[ArrayType] =>
            val elemType = df.schema(edge).dataType.asInstanceOf[ArrayType].elementType
            def elemRef(e: Column): String => Column = _ => elemType match {
              case DoubleType | FloatType => nanToNull(e)
              case _ => e
            }
            def perElem(e: Column): Column = {
              val (c, t) = ExprCompiler.compileWithTag(a.expr, elemRef(e),
                nanAbsent = true, colTag = _ => tagOf(elemType))
              // non-bool element verdicts follow the reference loader's
              // truthiness (nonzero/non-empty) — see ExprCompiler.asVerdict
              ExprCompiler.asVerdict(c, t)
            }
            val arr = col(edge)
            val fails = filter(arr, e => !coalesce(perElem(e), lit(true)))
            val anyEval = exists(arr, e => perElem(e).isNotNull)
            // Rows whose cell is null / empty / all-null-elements are ABSENT
            // from the reference's exploded+dropna'd series — but a STACKED
            // literal in the program pushes a FULL-index series, and the
            // outer-join alignment re-instates absent rows with the
            // left-NaN-poison rule (runtime-fuzz 7101 case 0213: str(b)!='x'
            // AND VAL-false fails the null-celled row too). Compiling the
            // program with COL := NULL yields exactly that completion: null
            // (vacuous) for alignment-free programs, the poisoned constant
            // when a stacked op re-instates the row.
            val absentVerdict = perElem(lit(null).cast(elemType))
            when(arr.isNotNull && coalesce(anyEval, lit(false)), size(fails) === 0)
              .otherwise(absentVerdict)
          case edges =>
            edges.find(e => df.schema(e).dataType.isInstanceOf[ArrayType]).foreach { e =>
              throw new UnsupportedOperationException(
                s"assertion '${a.msg}' references array-typed edge '$e' together with " +
                  "other edges — multi-edge assertions over many-valued columns are " +
                  "not supported (the reference runs single-edge assertions only)")
            }
            val (c, t) = ExprCompiler.compileWithTag(a.expr, nanRef,
              nanAbsent = true, colTag = schemaTag)
            // a non-bool FINAL verdict (e.g. int64 `a & 4`, now compiled
            // bitwise) follows the reference loader's truthiness: all rows
            // nonzero -> silent pass (exact parity); any zero -> the
            // reference crashes in result[~result] (label indexing on an
            // int series) and the row-wise completion here is the
            // documented crash-class deviation
            ExprCompiler.asVerdict(c, t)
        }
      val rawPreds = applicable.map(a => a -> compileAssertion(a))
      // ONE violation leg for every assertion: a failing row reports once
      // per (assertion, edge), and a zero-edge (constant) assertion once
      // with a null col. Null verdict = vacuous pass (see class doc).
      // Array-edge assertions ALSO report one row per failing ROW: the
      // reference VM dedups (row, value) pairs on every stack pop
      // (vm.py:26-30), so a row whose distinct elements all fail collapses
      // to ONE False entry in result[~result] [verified by execution:
      // vals=[-5,-5,-7] yields a single AssertionFailed row]. A row with
      // MIXED element verdicts crashes the reference outright ("cannot
      // reindex on an axis with duplicate labels" in `mask &= result`,
      // loader.py:124) — documented deviation: here it fails the row
      // cleanly instead of crashing.
      val assertChecks = for {
        (a, p) <- rawPreds
        edge <- if (a.edges.isEmpty) Seq(null) else a.edges
      } yield Violations.Check(!coalesce(p, lit(true)),
        struct(lit(edge).cast(StringType).as("col"),
          lit(a.loc.orNull).cast(StringType).as("loc"), lit(a.msg).as("expected")))
      violations += Violations.failing(df, Seq(rowId), assertChecks).select(
        lit("AssertionFailed").as("err"), lit(model.name).as("model"),
        col(rowId).cast(LongType).as("row"), col("col"), col("loc"), col("expected"))
      var parityAssertionFired = false
      val survivorPreds: Seq[Column] =
        if (config.strictReferenceParity) {
          // Reference wart W2 (loader.py:123-126): when an assertion has at
          // least one strictly-failing row, null-valued rows are ALSO
          // silently dropped from the survivors (index misalignment in
          // `mask &= result`). One batched job decides which assertions
          // fired.
          val flags = rawPreds.zipWithIndex.map { case ((_, p), i) =>
            sum(when(!coalesce(p, lit(true)), 1L).otherwise(0L)).as(s"_f$i")
          }
          val fired = df.agg(flags.head, flags.tail: _*).collect()(0)
          rawPreds.zipWithIndex.map { case ((_, p), i) =>
            val anyFailed = !fired.isNullAt(i) && fired.getLong(i) > 0
            parityAssertionFired ||= anyFailed
            if (anyFailed) p else lit(true) // strict: null drops too
          }
        } else rawPreds.map { case (_, p) => coalesce(p, lit(true)) }
      // NOT cached: the parent df is already materialized (S3 cache), and
      // this is just a codegen'd predicate over it — a second cache would
      // hold a near-full second copy of the table at every scale to save
      // re-evaluating cheap predicates on cache reads
      df = df.filter(survivorPreds.reduce(_ && _))
      // parity: the reference's post-mask empty abort (loader.py:128-129)
      // runs only when a mask actually dropped rows — an already-empty
      // table with no firing assertion flows on, it does not abort
      if (parityAssertionFired && df.isEmpty) return abort()
    }

    // ---- S5: sub-index functional dependency ------------------------------
    if (model.indexes.size > 1) {
      // full key mirrors nunique-with-dropna: NaN full keys map to null
      // (countDistinct then ignores them exactly like pandas nunique), and
      // the reference flags nunique != 1 — a sub-key group whose full keys
      // are ALL missing reads nunique = 0 and is flagged/dropped too
      val fullKey = nanSafeKey(df, model.index)
      val badRowSets = ListBuffer.empty[DataFrame]
      for (subIdx <- model.indexes) {
        // NaN sub-keys behave like null ones: pandas groupby drops the NaN
        // label (no verdict), and the plain equi-join back then misses the
        // null key — without the mapping, Spark groups NaN AND matches it
        // in the join (NaN = NaN in joins), emitting NonUniqueSubIndex
        // rows the reference never produces
        val tagged = df.withColumn("_sk", nanSafeKey(df, subIdx))
        // nunique != 1 WITHOUT a distinct aggregate (which plans as two
        // exchanges): over the non-null full keys of a group,
        // nunique >= 2 ⟺ min != max and nunique = 0 ⟺ count = 0 — the
        // same trichotomy trick S6 uses for scalar edges. min/max/count
        // share one single-phase hash aggregate (one exchange), with
        // constant-size buffers under hot keys either way.
        val badKeys = tagged.groupBy(col("_sk"))
          .agg(count(fullKey).as("_c"), min(fullKey).as("_mn"), max(fullKey).as("_mx"))
          .filter(!(col("_c") > 0 && col("_mn") <=> col("_mx")))
          .select("_sk")
        val badRows = tagged.join(badKeys, "_sk").select(col(rowId))
        badRowSets += badRows
        violations += badRows.select(
          lit("NonUniqueSubIndex").as("err"), lit(model.name).as("model"),
          col(rowId).cast(LongType).as("row"),
          explode(array(subIdx.map(lit(_)): _*)).as("col"),
          lit(model.loc.orNull).cast(StringType).as("loc"),
          lit(null).cast(StringType).as("expected"))
      }
      val allBad = badRowSets.reduce(_ union _).distinct()
      df = cached(df.join(allBad, Seq(rowId), "left_anti"))
      if (emptyAbort(df, !allBad.isEmpty)) return abort()
    }

    // ---- S6: cardinality verdicts + group-by-key (one shuffle) ------------
    // NaN index components behave like null ones (see nanSafeCol)
    val key = nanSafeKey(df, model.index)
    // Scalar single-valued edges avoid any per-group set materialization:
    // "multiple distinct values" ⟺ min != max, "missing" ⟺ count == 0,
    // grouped value = min — bounded memory under hot keys (SURVEY §4
    // spill note). `many` edges and physically-array columns collect their
    // (semantically required) distinct value sets through a HARD-bounded
    // buffer (BoundedDistinctSet, cap+1 smallest values) — never
    // collect_set/collect_list, whose buffers are O(group).
    sealed trait Mode
    case object Scalar extends Mode
    case object SetOf extends Mode
    case object ArrayOf extends Mode
    val modes: Map[String, Mode] = dataCols.map { c =>
      val isArray = df.schema(c).dataType.isInstanceOf[ArrayType]
      val e = model.edge(c)
      c -> (if (isArray) ArrayOf else if (e.many) SetOf else Scalar)
    }.toMap
    // violation row ids are recovered by joining the (sparse) failing-key
    // set back to this projection — never by collecting row-id lists per
    // group, which would materialize O(rows) list cells in the aggregate
    val keyedRows = df.select(col(rowId), key.as("_key"))
    val cap = config.maxGroupValues
    // reference parity: pandas `dropna()` drops NaN as well as null
    // (loader.py:155-159), so NaN must not count as a distinct value, win
    // a min/max, or survive into grouped values — map it to NULL before
    // aggregating (Spark aggregates then skip it like the reference's drop)
    def nanSafe(c: String): Column = nanSafeCol(df, c)
    // Scalar INDEX-COMPONENT columns need no aggregate at all: the group
    // key fixes their (NaN-mapped) value, so within a group min = max =
    // the key component and the 0/1/>1 trichotomy collapses to
    // "0 iff the component is null, else 1". Their value and _n are
    // projected from _key after the aggregate — fewer buffer fields per
    // group at every scale. (Array-typed index components, if ever
    // allowed, still aggregate: the key is their nanSafe'd array value
    // but per-ELEMENT distinct counts are not derivable from it.)
    def keyComponent(c: String): Option[Column] =
      if (modes(c) == Scalar && model.index.contains(c))
        Some(if (model.index.size == 1) col("_key")
             else col("_key").getField(s"_${model.index.indexOf(c)}"))
      else None
    val aggExprs = ListBuffer.empty[Column]
    for (c <- dataCols) modes(c) match {
      case _ if keyComponent(c).isDefined => ()
      case ArrayOf | SetOf =>
        // distinct non-null values across the group — per-ELEMENT for array
        // columns (reference: explode().dropna().nunique(),
        // loader.py:157-159) — sorted ascending, bounded at cap+1 buffer
        // slots per group (the +1 marks truncation)
        aggExprs += graft.functions.BoundedDistinctSet
          .bounded_distinct_set(nanSafe(c), cap).as(s"_vals_$c")
      case Scalar =>
        aggExprs += min(nanSafe(c)).as(s"_min_$c")
        aggExprs += max(nanSafe(c)).as(s"_max_$c")
        aggExprs += count(nanSafe(c)).as(s"_cnt_$c")
    }
    // a model whose every edge is an index component leaves no aggregate
    // expressions — keep one trivial count so the grouping still plans
    val grouped0 =
      if (aggExprs.isEmpty) df.groupBy(key.as("_key")).agg(count(lit(1)).as("_grp_n"))
      else df.groupBy(key.as("_key")).agg(aggExprs.head, aggExprs.tail.toSeq: _*)
    // first non-null in row order is not distributed-stable; sorted-distinct
    // (= min for scalars) is. Groups where it matters (>1 distinct on a
    // single-valued edge) are dropped as MultipleValues anyway, so
    // survivors are unaffected.
    // Reference semantics for a NULL single-column index key: pandas
    // groupby(level=0) DROPS the NaN label, then reindex(fill_value=0)
    // reports nunique = 0 for EVERY edge — so the null-keyed group yields
    // MissingValue for each non-none edge (never MultipleValues, whatever
    // its real values) and, if it survives (all edges none=true), its
    // grouped values are null. Multi-column indexes are tuple labels in
    // the reference and are NOT dropped — real counts apply.
    val nullKeyGroup: Column =
      if (model.index.size == 1) col("_key").isNull else lit(false)
    val groupedCols: Seq[Column] =
      Seq(col("_key")) ++
        dataCols.map { c =>
          val e = model.edge(c)
          val raw = keyComponent(c).getOrElse(modes(c) match {
            case Scalar => col(s"_min_$c")
            case _ =>
              // already sorted ascending by the aggregate; drop the +1
              // truncation sentinel from many-edge survivor arrays
              val vals = col(s"_vals_$c")
              // `get` (not getItem) tolerates the empty group under ANSI
              if (e.many) slice(vals, 1, cap) else get(vals, lit(0))
          })
          when(nullKeyGroup, lit(null)).otherwise(raw).as(c)
        } ++
        dataCols.map { c =>
          val raw = keyComponent(c) match {
            case Some(k) => when(k.isNull, 0).otherwise(1)
            case None => modes(c) match {
              case Scalar =>
                // 0 when empty, 1 when single distinct, 2 as "more than one"
                when(col(s"_cnt_$c") === 0, 0)
                  .when(col(s"_min_$c") === col(s"_max_$c"), 1)
                  .otherwise(2)
              case _ => size(col(s"_vals_$c"))
            }
          }
          when(nullKeyGroup, 0).otherwise(raw).as(s"_n_$c")
        }
    val grouped = cached(grouped0.select(groupedCols: _*))

    var groupOk: Column = lit(true)
    val keyChecks = ListBuffer.empty[(String, Violations.Check)]
    for (c <- dataCols) {
      val e = model.edge(c)
      val n = col(s"_n_$c")
      def check(err: String, fails: Column): Unit =
        keyChecks += err -> Violations.Check(fails,
          struct(lit(c).as("col"), lit(e.loc.orNull).cast(StringType).as("loc")))
      if (e.many) {
        // overflow report (not a drop): the survivor keeps its truncated
        // sorted array; members are flagged so downstream consumers know
        // the value set is a prefix
        check("TruncatedValues", n > cap)
      } else if (keyComponent(c).isEmpty) {
        // exact despite the value cap: n is capped at cap+1 >= 2, so the
        // 0 / 1 / >1 trichotomy is never distorted. (A scalar index
        // component's n is 0 or 1 by construction: no check.)
        check("MultipleValues", n > 1)
        groupOk = groupOk && !(n > 1)
      }
      if (!e.none) {
        check("MissingValue", n === 0)
        groupOk = groupOk && !(n === 0)
      }
    }
    // ONE leg per err kind, each a single scan of `grouped` for all its
    // columns' checks. The leg's err stays a LITERAL: a consumer filtering
    // on err (e.g. `q_kye_subindex`) constant-folds every other kind's leg
    // to false and PRUNES it at optimize time. Fusing the kinds into one
    // leg would make err data-dependent and force all S6 machinery into
    // every such plan (measured: q_kye_subindex 10 -> 26 AQE jobs).
    val badKeyLegs = keyChecks.map(_._1).distinct.map { err =>
      Violations.failing(grouped, Seq("_key"), keyChecks.collect { case (`err`, ch) => ch }.toSeq)
        .select(col("_key"), lit(err).as("err"), col("col"), col("loc"))
    }
    if (badKeyLegs.nonEmpty) {
      val bad = badKeyLegs.reduce(_ union _)
      // null-safe join: a single-column index key is the raw column, and a
      // group keyed by a NULL index value would never equi-join back to its
      // member rows (null != null) — its MissingValue violations would be
      // silently lost (the reference reports them, loader.py:149-169)
      violations += keyedRows
        .join(bad, keyedRows("_key") <=> bad("_key"))
        .select(
        col("err"), lit(model.name).as("model"),
        col(rowId).cast(LongType).as("row"), col("col"), col("loc"),
        lit(null).cast(StringType).as("expected"))
    }
    // NOT cached: grouped is the materialized relation; gdf is a cheap
    // predicate over it (same reasoning as the S4 survivor filter — a
    // second cache would double cache footprint at scale for nothing)
    var gdf = grouped.filter(groupOk)
    // drop source = groups failing a cardinality verdict (grouped is cached,
    // so the parity-mode guard probe is cheap)
    if (emptyAbort(gdf, !grouped.isEmpty)) return abort()

    // ---- S7: index-conflict across alternate keys --------------------------
    if (model.indexes.size > 1) {
      val pairs = for {
        i <- model.indexes.indices; j <- model.indexes.indices
        if i < j && model.indexes(i).size == model.indexes(j).size
      } yield (model.indexes(i), model.indexes(j))
      val affectedKeySets = ListBuffer.empty[DataFrame]
      for ((idx1, idx2) <- pairs) {
        // per-position comparison plan: identical physical types compare
        // raw; numeric/numeric pairs widen to double (a long 1 must
        // conflict with a double 1.0, like the reference's pandas compare,
        // loader.py:177-196); anything else is genuinely incomparable
        // NaN key values behave like null: pandas t.groupby(level=0)
        // drops the NaN label, so conflicts "at NaN" are never flagged —
        // Spark would both group NaN and match it in the join-back
        def nanNull(c: Column, t: DataType): Column = t match {
          case DoubleType | FloatType => ExprCompiler.nanToNull(c)
          case _ => c
        }
        val fieldPlans = idx1.zip(idx2).map { case (a, b) =>
          (gdf.schema(a).dataType, gdf.schema(b).dataType) match {
            case (ta, tb) if ta == tb =>
              Some((nanNull(col(a), ta), nanNull(col(b), tb)))
            case (_: NumericType, _: NumericType) =>
              Some((nanNull(col(a).cast("double"), DoubleType),
                nanNull(col(b).cast("double"), DoubleType)))
            case _ => None
          }
        }
        if (fieldPlans.forall(_.isDefined)) {
          val (cols1, cols2) = fieldPlans.flatten.unzip
          // ONE exchange + ONE materialization for both consumers: cache
          // the union AFTER the explicit repartition(_v) — the cached
          // relation keeps its HashPartitioning(_v), so the conflicts
          // groupBy adds no new exchange and the join-back is
          // partition-local on both sides (shuffle_hash blocks a broadcast
          // that would erase the boundary and re-run the union per
          // consumer — the round-2 jaccard lesson). Plain exchange reuse
          // would also serve, but AQE stage reuse does not match
          // exchanges whose children scan an InMemoryRelation (verified
          // empirically on 4.1) and gdf IS cached, so materialize t once
          // instead. The isNotNull is semantics-preserving — the inner
          // join never matched null key values (mirroring the reference's
          // dropped NaN group labels) — and keeps the cache slim.
          // both key projections in ONE pass over gdf (explode of a 2-array
          // — the fieldPlans widening above makes the two sides share one
          // type), instead of a 2-leg union that scanned gdf twice
          val t = cached(gdf
            .select(explode(array(keyCols(cols1), keyCols(cols2))).as("_v"), col("_key"))
            .filter(col("_v").isNotNull).repartition(col("_v")))
          // "more than one distinct entity" without a distinct aggregate
          // (two exchanges): min != max over the group's non-null keys —
          // all-null or single-key groups read min <=> max and drop, like
          // countDistinct <= 1 did
          val conflicts = t.groupBy("_v")
            .agg(min(col("_key")).as("_mn"), max(col("_key")).as("_mx"))
            .filter(!(col("_mn") <=> col("_mx"))).select("_v")
          // one occurrence per (key, sub-index side) whose key VALUE group
          // conflicts — NOT a distinct key set: the reference lists a row
          // once per invalid occurrence in the concatenated series
          // (loader.py:190-196, `t[...]` before dedup), so a row whose
          // idx1-key AND idx2-key both collide is reported TWICE per edge
          // (runtime-fuzz case 0198, seed 5002)
          val occurrences = t.hint("shuffle_hash")
            .join(conflicts.hint("shuffle_hash"), "_v")
            .select(col("_key"))
          affectedKeySets += occurrences.distinct()
          val edgesOut = (idx1 ++ idx2).distinct
          violations += keyedRows
            .join(occurrences, keyedRows("_key") <=> occurrences("_key"))
            .select(
            lit("IndexConflict").as("err"), lit(model.name).as("model"),
            col(rowId).cast(LongType).as("row"),
            explode(array(edgesOut.map(lit(_)): _*)).as("col"),
            lit(model.loc.orNull).cast(StringType).as("loc"),
            lit(null).cast(StringType).as("expected"))
        } else
          System.err.println(s"Warning: index-conflict check skipped for " +
            s"incomparable key pair (${idx1.mkString(",")}) vs (${idx2.mkString(",")})")
      }
      if (affectedKeySets.nonEmpty) {
        val allAffected = affectedKeySets.reduce(_ union _).distinct()
        gdf = gdf.join(allAffected, Seq("_key"), "left_anti")
        if (emptyAbort(gdf, !allAffected.isEmpty)) return abort()
      }
    }

    // ---- S8: surviving grouped table ---------------------------------------
    val survivors = gdf.select(dataCols.map(col): _*)
    ValidationResult(unionAll(spark, violations.toList), Some(survivors), cachedDfs.toSeq)
  }

  // ---- S3 impl -------------------------------------------------------------

  /** Returns updated (df, dataCols) or None on abort. Batches every
    * column's cast null-delta into one aggregate job (the reference runs a
    * python try/except per column, `loader.py:96-105`). */
  private def typeCheck(
      spark: SparkSession, model: Model, df0: DataFrame, dataCols: Seq[String],
      violations: ListBuffer[DataFrame]): Option[(DataFrame, Seq[String])] = {

    sealed trait Plan
    case object Ok extends Plan
    case object Bad extends Plan
    final case class NeedsCast(program: List[Cmd]) extends Plan

    val plans: Seq[(String, Plan)] = dataCols.map { c =>
      val edge = model.edge(c)
      val dt = df0.schema(c).dataType
      val elem = dt match { case ArrayType(e, _) => e; case other => other }
      val inferred = inferTypeName(elem)
      val plan: Plan =
        if (inferred == edge.tpe) Ok
        else if (!schema.types.contains(edge.tpe))
          throw new UnsupportedOperationException(s"Unknown type '${edge.tpe}'")
        else schema.types.get(inferred).flatMap(_.edges.get(edge.tpe)) match {
          case Some(castEdge) if castEdge.expr.isDefined => NeedsCast(castEdge.expr.get)
          case _ => Bad
        }
      c -> plan
    }

    // evaluate all pending casts' null-deltas in one job. The source
    // column's Spark type feeds the compile as its tag so type-directed
    // opcodes in user-defined cast programs (e.g. a bool {cast:"str"}
    // rendering "True"/"False" Python-style) behave as on the assertion
    // path — the natives only cast Number<->String, but custom types may
    // declare richer conversions.
    val pending = plans.collect { case (c, NeedsCast(p)) => c -> p }
    def sparkTag(dt: DataType): ExprCompiler.Tag = ExprCompiler.Tag.ofDataType(dt)
    val castCols: Map[String, Column] = pending.map { case (c, program) =>
      val full = Cmd.one(Op.COL, c) :: program
      val casted = df0.schema(c).dataType match {
        case ArrayType(elem, _) =>
          transform(col(c), x =>
            ExprCompiler.compile(full, _ => x, colTag = _ => sparkTag(elem)))
        case dt => ExprCompiler.compile(full, colTag = _ => sparkTag(dt))
      }
      c -> casted
    }.toMap
    val castFailed: Set[String] =
      if (pending.isEmpty) Set.empty
      else {
        val guards = pending.map { case (c, _) =>
          val bad = df0.schema(c).dataType match {
            case ArrayType(_, _) =>
              exists(zip_with(col(c), castCols(c), (o, n) => o.isNotNull && n.isNull), identity)
            case _ => col(c).isNotNull && castCols(c).isNull
          }
          sum(when(bad, 1L).otherwise(0L)).as(c)
        }
        val row = df0.agg(guards.head, guards.tail: _*).collect()(0)
        pending.map(_._1).filter(c => row.getAs[Long](c) > 0).toSet
      }

    var indexBad = false
    val dropCols = ListBuffer.empty[String]
    plans.foreach {
      case (c, Bad) =>
        reportWrongType(spark, model, c, violations); dropCols += c
        if (model.index.contains(c)) indexBad = true
      case (c, NeedsCast(_)) if castFailed(c) =>
        reportWrongType(spark, model, c, violations); dropCols += c
        if (model.index.contains(c)) indexBad = true
      case _ => ()
    }
    if (indexBad) return None

    val keep = dataCols.filterNot(dropCols.contains)
    val out = df0.select((col(rowId) +: keep.map { c =>
      if (castCols.contains(c) && !castFailed(c)) castCols(c).as(c) else col(c)
    }): _*)
    Some((out, keep))
  }

  private def reportWrongType(
      spark: SparkSession, model: Model, c: String, violations: ListBuffer[DataFrame]): Unit = {
    val e = model.edge(c)
    violations += Violations.local(spark,
      Seq(("InvalidType", model.name, None, Some(c), e.loc, Some(e.tpe))))
  }

  /** Physical dtype → Kye type name (reference infers from pandas dtype,
    * `loader.py:204-214`). */
  private def inferTypeName(dt: DataType): String = dt match {
    case BooleanType => "Boolean"
    case _: NumericType => "Number"
    case StringType => "String"
    case TimestampType => "Timestamp"
    case DateType => "Date"
    case other => other.simpleString
  }

  /** NaN → NULL for float/double columns (elementwise for arrays) —
    * pandas `dropna`/groupby drop NaN exactly like null, so NaN must
    * never form its own Spark group, match itself in a join-back
    * (Spark joins treat NaN = NaN, unlike null), count as distinct, or
    * win a min/max. */
  private def nanSafeCol(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case DoubleType | FloatType =>
      ExprCompiler.nanToNull(col(c))
    case ArrayType(DoubleType | FloatType, _) =>
      filter(col(c), x => !isnan(x))
    case _ => col(c)
  }

  /** Key struct over NaN-mapped columns: a NaN key component behaves like
    * a null one (reference groupby label semantics). */
  private def nanSafeKey(df: DataFrame, cols: Seq[String]): Column =
    keyCols(cols.map(nanSafeCol(df, _)))

  /** Candidate-key value: raw column for single-edge keys (so alternate
    * single-column keys compare cross-column, reference `hash_columns`
    * `loader.py:17-20`), positional-named struct for composites (collision
    * safe — never string concat). */
  private def keyCols(cols: Seq[Column]): Column =
    if (cols.size == 1) cols.head
    else struct(cols.zipWithIndex.map { case (c, i) => c.as(s"_$i") }: _*)

  private def unionAll(spark: SparkSession, dfs: List[DataFrame]): DataFrame =
    dfs match {
      case Nil => Violations.empty(spark)
      case l   => l.reduce(_ unionByName _)
    }
}

object Validator {
  /** Name of the row-identity column every [[Validator]] input carries. */
  val RowId = "_row"

  /** Attach a stable 0-based row id reflecting input order (the analogue of
    * the reference's positional RangeIndex). Uses zipWithIndex — stable
    * w.r.t. partition order of the source, intended for test fixtures and
    * small CSV/JSON ingress tables; parquet ingress should use
    * [[withParquetRowIds]] (columnar, no RDD round-trip) and scale paths
    * anchor on natural keys instead. */
  def withRowIds(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val schema = StructType(df.schema.fields :+ StructField(RowId, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Stable row identity for parquet ingress WITHOUT the RDD round-trip:
    * `_row = fileOrdinal << 40 | _metadata.row_index`, where the ordinal is
    * the file's rank in the lexicographically-sorted file list (driver-side
    * `inputFiles` — the FileIndex already holds it, no job) and
    * `row_index` is parquet's per-file positional metadata column. The scan
    * stays columnar and whole-stage-codegen'd; ids are stable across runs
    * and unique as long as no file holds ≥ 2^40 rows (a 1-TB row group
    * ceiling no real file reaches). For a single-file table this equals the
    * reference's 0-based positional RangeIndex exactly.
    *
    * The file→ordinal map rides a broadcast join keyed on the metadata
    * path; a path that misses the map (would silently lose rows) raises
    * instead. */
  def withParquetRowIds(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read.parquet(path)
    val withMeta = base.select(
      col("*"),
      col("_metadata.file_path").as("_g_file"),
      col("_metadata.row_index").as("_g_idx"))
    // normalize through hadoop Path so the driver-side listing matches the
    // executor-side _metadata.file_path rendering (file:///x vs file:/x)
    val files = base.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).toString).sorted
    require(files.nonEmpty, s"no parquet files under $path")
    // the ordinal occupies bits 40..62: at >= 2^23 files it would shift
    // into the sign bit and ids silently collide or go negative
    require(files.length < (1 << 23),
      s"$path has ${files.length} files — positional row ids support at " +
        "most 2^23-1 files; pass --row-key to anchor rows on a data column")
    import spark.implicits._
    val ordinals = files.zipWithIndex.map { case (f, i) => (f, i.toLong) }
      .toSeq.toDF("_g_file", "_g_ord")
    withMeta.join(broadcast(ordinals), Seq("_g_file"), "left")
      .withColumn(RowId,
        shiftleft(
          coalesce(col("_g_ord"),
            raise_error(concat(lit("parquet row-id: unknown file "), col("_g_file")))),
          40).bitwiseOR(col("_g_idx")))
      .drop("_g_file", "_g_idx", "_g_ord")
  }
}
