package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide session tuning (guide §2/§3/§9), applied by every query
  * entry point. The values are the production-honest settings, not
  * local-mode specials:
  *
  *  - `canChangeCachedPlanOutputPartitioning=true`: apply AQE partition
  *    coalescing to InMemoryRelation materialization too. The validator
  *    and dedup pipelines persist intermediates by design (multiple
  *    consumers, guide §5); without this flag every cache-build stage
  *    runs at the raw `spark.sql.shuffle.partitions` width regardless of
  *    data size.
  *  - `preferSortMergeJoin=false`: let the planner pick shuffled-hash
  *    joins when its size conditions hold (guide §3.1/§9) — skips two
  *    sorts per join; sort-merge remains the fallback when the build
  *    side is too large.
  *  - `ConvertToLocalRelation` joins `excludedRules` (see below).
  *
  * Settings are applied through `spark.conf.set` (runtime-mutable SQL
  * confs), so they take effect for every query planned afterwards in the
  * session — including the frozen Bench/Verify harness sessions, whose
  * builder-time config this deliberately does not touch. A host's own
  * choice wins: the two flags are set only when the session has no value
  * for them (override with `--conf` / `-Dspark.sql.*`), and the excluded
  * rule is added to the host's list, never replacing it. Applying it
  * again changes nothing.
  */
object Tuning {
  private val ExcludedRules = "spark.sql.optimizer.excludedRules"
  private val ConvertToLocalRelation =
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  def apply(spark: SparkSession): Unit = {
    val c = spark.conf
    // getAll holds only the values set on this session (by the host's
    // builder, `--conf`, system properties or a runtime set), no defaults
    val set = c.getAll
    def setIfUnset(key: String, value: String): Unit =
      if (!set.contains(key)) c.set(key, value)
    // parallelismFirst deliberately stays at Spark's default (true): with
    // it, AQE's coalescing target is max(totalShuffleBytes/parallelism,
    // minPartitionSize=1MB) — sub-MB shuffles still collapse to a few
    // tasks, while mid-size data keeps every core busy. Overriding it to
    // `false` (the 64MB-advisory configuration) was measured here to
    // serialize real work once data outgrew the advisory: the full suite
    // read 87.6s at sf1 vs 56.6s with the size-adaptive default — a
    // local-tiny-data "win" that does not survive one data decade.
    setIfUnset("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    setIfUnset("spark.sql.join.preferSortMergeJoin", "false")
    // NOTE deliberately NOT set: spark.sql.leafNodeDefaultParallelism.
    // Lowering it to 1 stopped literal relations from fanning 32 rows
    // over 32 tasks, but it also feeds spark.sql.files.minPartitionNum —
    // at sf1 every parquet scan collapsed to one split and the native
    // kernels serialized (q_ann_lsh 5.1s vs 3.2s, q_dedup_minhash 5.5
    // vs 4.3). Literal relations pass explicit slice counts at their
    // construction sites instead (MultilingualSlice.df, fixture ranges).
    // ConvertToLocalRelation janino-compiles a projection to pre-evaluate
    // literal relations at OPTIMIZE time — ~600 ms of driver compile per
    // fold to save executing a handful of local rows that the runtime
    // stage (already being compiled anyway) evaluates for free. The fold
    // buys nothing at any scale: local relations are by construction tiny
    // (driver-held literals), while the compile cost is pure per-query
    // driver latency (measured 1.2 s of q_fingerprint_groups' 1.5 s build,
    // RuleExecutor metrics in OPTIMIZATION_r07.md).
    val excluded = set.get(ExcludedRules).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    if (!excluded.contains(ConvertToLocalRelation))
      c.set(ExcludedRules, (excluded :+ ConvertToLocalRelation).mkString(","))
  }
}
