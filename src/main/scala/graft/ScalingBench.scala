package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.TranscriptGen
import graft.io.ParquetPartitionedSource
import graft.transcript.{StatsProfiler, TranscriptValidator}
import java.nio.file.{Files, Paths}

/** Two-cluster-size scaling evidence (BASELINE.md protocol): the transcript
  * constraint suite over one fixed Zipf-skewed dataset at local[N] vs
  * local[4N], reporting `efficiency = throughput4N / (4 × throughputN)`.
  *
  * N=2 → 4N=8 by default: this sandbox reports 32 vCPUs but a pure-compute
  * probe (the `calibration` leg below — an xxhash64 burn with no I/O, no
  * shuffle, no engine code) scales only ~2.5× from 8→32 threads (SMT /
  * frequency scaling), so 8→32 cannot evidence engine scaling. 2→8 stays
  * within the physical-core envelope; the probe's own N→4N efficiency is
  * reported as the hardware ceiling against which the suite is read.
  *
  * Two suite legs per the north rule's wording ("the per-column stats +
  * predicate-eval stage must sustain ≥0.8"):
  *   - `e2e`: full suite from parquet — includes single-disk I/O, which a
  *     real 4N-executor cluster scales (more spindles) but one sandbox box
  *     cannot; reported for context.
  *   - `stats_pred`: per-column stats profile + all row-predicate
  *     violations over memory-resident input — the stage the ≥0.8
  *     criterion governs.
  *
  * Usage: runMain graft.ScalingBench [numConvs] [outMd] [N]
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val numConvs = if (args.length > 0) args(0).toLong else 4000000L
    val outMd = if (args.length > 1) args(1) else "BENCH/BASELINE.md"
    val nCores = if (args.length > 2) args(2).toInt else 2
    val dataDir = sys.env.getOrElse("GRAFT_BENCH_DIR", "/tmp/graft-bench/transcripts")
    val runsPerConfig = 3

    // ---- one-time dataset materialization (seeded, reused across configs)
    val gen = session(8)
    val cfg = TranscriptGen.GenConfig(
      numConvs = numConvs, seed = 42, numPartitions = 64,
      dupRate = 1e-3, gapRate = 1e-3, nullRoleRate = 5e-4, badRoleRate = 5e-4,
      negTurnRate = 2e-4, nullTextRate = 5e-4, tsRegressRate = 5e-4,
      orphanConvRate = 2e-4)
    // dataset + conv-keys + config marker regenerate TOGETHER: a partial
    // prior run or a numConvs change must never pair a cached dataset with
    // keys generated for a different config (every mismatched conversation
    // would count as an orphan violation and skew the timed legs)
    val convKeysPath = s"${dataDir}-convkeys"
    val cfgMarker = Paths.get(s"${dataDir}-cfg")
    // full config digest: any change to rates/partitions/generator inputs
    // must regenerate, not silently reuse a dataset with a different
    // violation mix
    // plan digest: the canonicalized logical plan of the generation query
    // fingerprints the generator's actual expression tree (exprIds
    // normalized), so a semantics edit that forgets to bump GenVersion
    // still busts the cache mechanically
    val planDigest = graft.io.Digests.sha8(
      TranscriptGen.transcripts(gen, cfg).queryExecution.analyzed.canonicalized.toString)
    val cfgTag = s"numConvs=$numConvs gen=v${TranscriptGen.GenVersion}-$planDigest " +
      s"cfg=${graft.io.Digests.sha8(cfg.toString)}"
    val cached = Files.exists(Paths.get(dataDir)) && Files.exists(Paths.get(convKeysPath)) &&
      Files.exists(cfgMarker) && Files.readString(cfgMarker).trim == cfgTag
    if (!cached) {
      println(s"[bench] generating $numConvs convs -> $dataDir")
      Files.deleteIfExists(cfgMarker)
      ParquetPartitionedSource.write(TranscriptGen.transcripts(gen, cfg), dataDir)
      TranscriptGen.conversations(gen, cfg).select("conv_id")
        .write.mode("overwrite").parquet(convKeysPath)
      Files.writeString(cfgMarker, cfgTag)
    }
    val totalRows = gen.read.option("basePath", dataDir).parquet(dataDir).count()
    gen.stop()

    def e2e(spark: SparkSession): Double = {
      val data = spark.read.option("basePath", dataDir).parquet(dataDir)
      val keys = spark.read.parquet(convKeysPath)
      val t0 = System.nanoTime()
      val report = new TranscriptValidator()
        .validate(data, Some(keys))
      val nV = report.violations.count()
      val nP = report.partitionVerdicts.count()
      val dt = (System.nanoTime() - t0) / 1e9
      report.cleanup()
      require(nV > 0 && nP > 0)
      dt
    }

    // iterate so the timed region is compute-dominated, not job-launch
    // overhead (the stage runs ~20M rows/s/8-cores after the zero-alloc
    // predicate fix — a single pass over 30M rows finishes in ~1.5 s)
    val statsPredIters = 5
    def statsPred(spark: SparkSession, cached: DataFrame): Double = {
      val t0 = System.nanoTime()
      val v = new TranscriptValidator()
      var i = 0
      while (i < statsPredIters) {
        // fused operator: per-constraint violation counts + 6-column stats
        // in ONE aggregation over ONE scan of the cached input
        val row = v.healthCheck(cached,
          Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")).collect()(0)
        require(row.getAs[Long]("total_rows") == totalRows)
        i += 1
      }
      (System.nanoTime() - t0) / 1e9 / statsPredIters
    }

    // pure-compute calibration: xxhash64 burn, no I/O, no shuffle, no
    // engine code — measures what this box's threads can physically yield
    def calibration(spark: SparkSession, cores: Int): Double = {
      val df = spark.range(0, 400000000L, 1, cores * 4)
      def run(): Double = {
        val t0 = System.nanoTime()
        df.select(sum(pmod(xxhash64(col("id"), col("id") * 3, col("id") * 7),
          lit(1000000007L)))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warm-up
      (1 to runsPerConfig).map(_ => run()).sorted.apply(runsPerConfig / 2)
    }

    final case class Leg(t: Double, thr: Double)
    def measure(cores: Int): (Leg, Leg, Double) = {
      val spark = session(cores)
      // end-to-end leg
      e2e(spark) // warm-up
      val e2eTimes = (1 to runsPerConfig).map(_ => e2e(spark)).sorted
      // stats+predicate leg over memory-resident input
      val cached = spark.read.option("basePath", dataDir).parquet(dataDir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cached.count() // materialize cache
      statsPred(spark, cached) // warm-up
      val spTimes = (1 to runsPerConfig).map(_ => statsPred(spark, cached)).sorted
      cached.unpersist()
      val calib = calibration(spark, cores)
      spark.stop()
      def leg(ts: Seq[Double]) = { val m = ts(ts.size / 2); Leg(m, totalRows / m) }
      (leg(e2eTimes), leg(spTimes), calib)
    }

    val m = nCores
    val (e2eN, spN, calN) = measure(m)
    val (e2eM, spM, calM) = measure(m * 4)
    val effE2e = e2eM.thr / (4.0 * e2eN.thr)
    val effSp = spM.thr / (4.0 * spN.thr)
    val effCal = calN / (4.0 * calM) // time-based: ideal = 1.0

    val json =
      s"""{"metric":"turns/sec validated (full constraint suite)","unit":"turns/sec",
         |"rows":$totalRows,"n_cores":$m,
         |"e2e":{"localN_sec":${e2eN.t},"local4N_sec":${e2eM.t},
         |"throughputN":${e2eN.thr.round},"throughput4N":${e2eM.thr.round},
         |"scaling_efficiency":${"%.3f".formatLocal(java.util.Locale.ROOT, effE2e)}},
         |"stats_pred":{"localN_sec":${spN.t},"local4N_sec":${spM.t},
         |"throughputN":${spN.thr.round},"throughput4N":${spM.thr.round},
         |"scaling_efficiency":${"%.3f".formatLocal(java.util.Locale.ROOT, effSp)}},
         |"pure_compute_ceiling":{"localN_sec":$calN,"local4N_sec":$calM,
         |"scaling_efficiency":${"%.3f".formatLocal(java.util.Locale.ROOT, effCal)}}}""".stripMargin.replace("\n", "")
    println(json)

    val md =
      s"""# BENCH — two-cluster-size scaling evidence
         |
         |One fixed Zipf-skewed transcript dataset ($totalRows turns, seed 42,
         |injected error rates ~1e-3), hive-partitioned parquet, generated once.
         |Each figure = median of $runsPerConfig runs after one warm-up, same JVM heap
         |(`SPARK_DRIVER_MEM`), `spark.sql.shuffle.partitions` = 2 x cores.
         |N = $m cores, 4N = ${m * 4}.
         |
         |## Hardware calibration (pure-compute ceiling)
         |
         |xxhash64 burn over `spark.range` — no I/O, no shuffle, no engine
         |code. This box advertises 32 vCPUs but pure compute scales only
         |~2.5x from 8->32 threads (SMT siblings / frequency scaling), so the
         |N->4N pair is $m->${m * 4}, and even there the burn itself caps at the
         |figure below — the ceiling any Spark job can reach on this box.
         |
         || leg | local[$m] (s) | local[${m * 4}] (s) | N->4N efficiency |
         || --- | --- | --- | --- |
         || pure compute | ${"%.2f".formatLocal(java.util.Locale.ROOT, calN)} | ${"%.2f".formatLocal(java.util.Locale.ROOT, calM)} | **${"%.3f".formatLocal(java.util.Locale.ROOT, effCal)}** |
         |
         |## Full constraint suite, end-to-end from parquet
         |
         |Includes single-disk I/O that a real 4N-executor cluster scales with
         |added spindles but one sandbox box cannot — context figure.
         |
         || config | wall (s) | throughput (turns/s) |
         || --- | --- | --- |
         || local[$m]  | ${"%.2f".formatLocal(java.util.Locale.ROOT, e2eN.t)} | ${e2eN.thr.round} |
         || local[${m * 4}] | ${"%.2f".formatLocal(java.util.Locale.ROOT, e2eM.t)} | ${e2eM.thr.round} |
         |
         |efficiency = throughput4N / (4 x throughputN) = **${"%.3f".formatLocal(java.util.Locale.ROOT, effE2e)}**
         |
         |## Per-column stats + predicate-eval stage (the north-rule criterion)
         |
         |Row-predicate violations (one codegen pass) + 6-column stats profile
         |(count/nulls/min/max/HLL) over memory-resident input — the stage
         |BASELINE.json's ">= 0.8 from N to 4N executors" governs. Each
         |measurement iterates the stage $statsPredIters times so job-launch overhead
         |is amortized.
         |
         || config | wall (s)/pass | throughput (turns/s) |
         || --- | --- | --- |
         || local[$m]  | ${"%.2f".formatLocal(java.util.Locale.ROOT, spN.t)} | ${spN.thr.round} |
         || local[${m * 4}] | ${"%.2f".formatLocal(java.util.Locale.ROOT, spM.t)} | ${spM.thr.round} |
         |
         |efficiency = **${"%.3f".formatLocal(java.util.Locale.ROOT, effSp)}** (target >= 0.8; hardware
         |ceiling ${"%.3f".formatLocal(java.util.Locale.ROOT, effCal)})
         |""".stripMargin
    // everything from the run-to-run variance heading onward is maintained
    // BY HAND across rounds (this bench knows only its own run) — carry it
    // over VERBATIM through EOF: bounding at the next "## " heading would
    // silently drop any hand-added trailing sections on the next rewrite
    // (the carry is idempotent — the generated prefix above never contains
    // the variance heading, so nothing accumulates run-over-run)
    val variance = {
      val p = Paths.get(outMd)
      if (Files.exists(p)) {
        val prev = Files.readString(p)
        val i = prev.indexOf("## Run-to-run variance")
        if (i >= 0) "\n" + prev.substring(i) else ""
      } else ""
    }
    Files.createDirectories(Paths.get(outMd).toAbsolutePath.getParent)
    Files.writeString(Paths.get(outMd), md + variance)
    println(s"[bench] wrote $outMd (variance section " +
      (if (variance.nonEmpty) "preserved)" else "absent)"))
  }

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the same engine tuning the CLI and the query entry points apply, so
    // the scaling evidence measures the engine as it runs
    graft.Tuning(s)
    s
  }
}
