package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Builds the session the way `graft.cli.Main` does: `local[nproc]`,
  * `nproc` shuffle partitions, UTC, UI off, `graft.Tuning` applied once. */
object Session {
  def build(nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tuning(spark)
    spark
  }
}

/** Child JVM of traced `kye_model` runs that only starts and stops a
  * session configured like the CLI's. */
object SessionFloor {
  def main(args: Array[String]): Unit =
    Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString).toInt)
      .stop()
}

/** One timed operation; `stolen` is the share of the VM's CPU time the
  * hypervisor took during it, `errors` its exception or its mismatches
  * against the reference, `rows` the input rows it validated. */
final case class OpRec(index: Int, wallS: Double, stolen: Double, observed: Option[Observed], traced: Boolean,
                       errors: Seq[String] = Nil, rows: Long = 0L) {
  def ok: Boolean = errors.isEmpty
  /** wall time scaled to the CPU share the VM actually got */
  def adjustedS: Double = wallS * (1 - stolen)
}

/** Cumulative CPU jiffies of the VM (`/proc/stat`): all, and stolen by the
  * hypervisor. */
final case class CpuStat(total: Long, steal: Long) {
  /** share of CPU time stolen between `this` and `later` */
  def stolenUntil(later: CpuStat): Double =
    if (later.total > total) (later.steal - steal).toDouble / (later.total - total) else 0.0
}

object CpuStat {
  def read(): CpuStat = {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    CpuStat(f.take(8).sum, if (f.length > 7) f(7) else 0L)
  }
  def parse(s: String): CpuStat = { val Array(t, st) = s.split(",").map(_.toLong); CpuStat(t, st) }
}

/** One child JVM of `kye_model`. */
final case class ChildRec(kind: String, wallS: Double, exit: Int, hwmKb: Long, errors: Seq[String])

/** The benchmark harness. Usage (see perfbench/run.py, which builds the
  * classpath and passes the launch time):
  * {{{
  * perfbench.Bench --workload W --seed N --seconds S --trace 0|1
  *   --launch-ms EPOCH_MS --launch-stat TOTAL,STEAL --work DIR --nproc N --classpath CP [--commit SHA]
  * }}}
  * Prints one detail JSON line, then the result line. Exit code 1 when any
  * output differs from the reference. */
object Bench {
  /** workload -> input kind */
  val Workloads = Map("transcript_suite" -> "suite", "kye_model" -> "kye")
  /** warm operations of the resumable leg of a traced transcript_suite run */
  val ResumeWarmOps = 2
  /** warm operations per pass of a traced run */
  val TracedPass = 2
  /** ledger tolerance: |sum of self times - op wall| + clipped time */
  val LedgerTolerance = 0.02

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_op_s" -> "s", "op_s_p50" -> "s", "rows_per_s" -> "rows/s",
    "cli_wall_s" -> "s", "peak_rss_mb" -> "MB")

  val SpanMetrics: Seq[String] = Seq(
    "parse.compile", "schema.load", "validate.build", "validate.violations", "validate.survivors",
    "transcript.build", "transcript.violations", "transcript.conv_verdicts",
    "transcript.partition_verdicts", "transcript.stats.profile", "transcript.stats.drift",
    "transcript.resume.run", "transcript.resume.commit", "transcript.resume.sink",
    "transcript.resume.drift", "io.partition_ids", "io.snapshot", "io.read_partition")
  val CountMetrics: Seq[(String, String)] = Seq(
    "validate.eager_jobs" -> "count", "validate.violation_rows" -> "count",
    "validate.cache_bytes" -> "bytes", "transcript.violation_rows" -> "count",
    "transcript.seq_cache_bytes" -> "bytes",
    "transcript.resume.partitions_validated" -> "count",
    "transcript.resume.partitions_skipped" -> "count",
    "transcript.resume.manifest_bytes" -> "bytes", "transcript.resume.concurrency" -> "ratio",
    "spark.plan_s" -> "s", "spark.codegen_s" -> "s", "spark.codegen_classes" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.failed_tasks" -> "count", "spark.exchanges" -> "count",
    "spark.exec_run_s" -> "s", "spark.exec_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.deserialize_s" -> "s", "spark.scan_bytes" -> "bytes",
    "spark.scan_rows_per_input_row" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.peak_exec_mem_bytes" -> "bytes", "spark.storage_bytes" -> "bytes",
    "spark.core_busy_frac" -> "ratio", "spark.driver_gap_s" -> "s")
  /** Counts that repeat exactly when the program does the same work. */
  val ExactCandidates: Seq[String] = CountMetrics.map(_._1).filter(n =>
    !n.endsWith("_s") && !n.endsWith("_frac") && n != "transcript.resume.concurrency")
  val PerLayer: Seq[(String, String)] =
    SpanMetrics.map(n => s"${n}_s" -> "s") ++ Seq("cli.session_floor_s" -> "s", "cli.first_use_s" -> "s",
      "spark.job_s" -> "s") ++ CountMetrics ++ Seq(
      "cold.spark.plan_s" -> "s", "cold.spark.codegen_s" -> "s", "cold.spark.codegen_classes" -> "count",
      "bench.self_s" -> "s", "ledger.residual_frac" -> "ratio", "trace.overhead_frac" -> "ratio")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, launchMs: Long,
                        launchStat: CpuStat, work: Path, nproc: Int, classpath: String, commit: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.keys.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("launch-ms").toLong,
      CpuStat.parse(need("launch-stat")), Paths.get(need("work")).toAbsolutePath, need("nproc").toInt, need("classpath"),
      m.getOrElse("commit", "unknown"))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.length; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def procStatus(pid: String, key: String): Long =
    try Files.readAllLines(Paths.get(s"/proc/$pid/status")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    catch { case _: java.io.IOException => 0L }

  /** CPU and steal jiffies and the load averages, for run quality. */
  private def quality(): Map[String, Any] = {
    val c = CpuStat.read()
    val load = Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).map(_.toDouble)
    Map("cpu_total_jiffies" -> c.total, "cpu_steal_jiffies" -> c.steal,
      "loadavg_1m" -> load(0), "loadavg_5m" -> load(1), "loadavg_15m" -> load(2))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val q0 = quality()
    val spark = Session.build(o.nproc)
    val sessionS = (System.currentTimeMillis() - o.launchMs) / 1e3
    val sessionStolen = o.launchStat.stolenUntil(CpuStat.read())
    val runDir = o.work.resolve("run").resolve(ProcessHandle.current().pid().toString)
    val tg = System.nanoTime()
    val gen = Inputs.generate(spark, runDir.resolve("input"), Workloads(o.workload), o.seed)
    val genS = (System.nanoTime() - tg) / 1e9
    val tracer = if (o.trace) Some(new SpanTracer(spark, o.nproc)) else None
    val tr = new Switch(tracer.getOrElse(Tracer.Off))
    val t0 = System.nanoTime()
    val c0 = CpuStat.read()
    val w: Workload = o.workload match {
      case "transcript_suite" => new TranscriptSuiteWorkload(spark, tr, gen.dir)
      case "kye_model" => new KyeWorkload(spark, tr, gen.dir)
    }
    val openS = (System.nanoTime() - t0) / 1e9
    val openStolen = c0.stolenUntil(CpuStat.read())
    val setupAdjusted = sessionS * (1 - sessionStolen) + openS * (1 - openStolen)

    // untimed, before the first operation only: a full GC and a wait until
    // the JIT has been idle for 0.3 s (at most 3 s), so garbage and
    // compilations left by the input generation do not spill into the cold
    // operation
    def quiesce(): Unit = {
      System.gc()
      val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      val end = System.nanoTime() + 3000000000L
      var last = -1L; var idle = 0
      while (idle < 3 && System.nanoTime() < end) {
        Thread.sleep(100)
        val now = jit.getTotalCompilationTime
        idle = if (now == last) idle + 1 else 0
        last = now
      }
    }
    def runOp(i: Int, traced: Boolean, wl: Workload = w): OpRec = {
      tr.on = traced
      wl.beforeOp(i)
      if (i == 1) quiesce()
      val c = CpuStat.read()
      val s = System.nanoTime()
      val (obs, err) =
        try (Some(tr.op(i)(wl.op(i))), Nil)
        catch { case e: Throwable => (None, Seq(s"exception: ${e.toString.take(500)}")) }
      OpRec(i, (System.nanoTime() - s) / 1e9, c.stolenUntil(CpuStat.read()), obs, traced, err)
    }
    // one cold operation, then a fixed number of warm ones (a count that
    // depended on speed would shift the median along the JIT warm-up).
    // Traced runs: 2 x TracedPass traced warm operations (two passes, for
    // count exactness), each paired with an untraced one in alternating
    // order (tracing overhead, free of the warm-up trend).
    val nWarm = if (o.trace) 2 * TracedPass else math.max(3, math.round(o.seconds / 3).toInt)
    val ops0 = collection.mutable.ArrayBuffer[OpRec](runOp(1, traced = o.trace))
    for (k <- 0 until nWarm; traced <- if (!o.trace) Seq(false) else if (k % 2 == 0) Seq(true, false)
         else Seq(false, true))
      ops0 += runOp(ops0.size + 1, traced)
    // traced transcript_suite: a resumable leg over the same partitioned
    // table (io and transcript.resume layers): a full run from an empty
    // manifest, then runs that each revalidate two rewritten partitions
    val resume =
      if (o.trace && o.workload == "transcript_suite")
        Some(new ResumeWorkload(spark, tr, gen.dir, runDir.resolve("resume"), o.seed, maxConcurrent = o.nproc))
      else None
    val resumeOps = resume.toSeq.flatMap(rw =>
      (0 to ResumeWarmOps).map(k => runOp(ops0.size + 1 + k, traced = true, rw)))
    tr.on = false
    val drained = tracer.forall(_.drain())

    // reference (cached, or computed now) and the checks
    val tr0 = System.nanoTime()
    val (ref, refCached) = Inputs.reference(spark, gen, o.work.resolve("refs"))
    val refS = (System.nanoTime() - tr0) / 1e9
    def checked(wl: Workload)(r: OpRec) = r.copy(rows = wl.inputRows(r.index, ref),
      errors = r.errors ++ r.observed.map(obs => wl.check(r.index, obs, ref)).getOrElse(Nil))
    val ops = ops0.map(checked(w)).toSeq
    val legOps = resume.toSeq.flatMap(rw => resumeOps.map(checked(rw)))
    /** steal-adjusted time; failed operations are never timed as fast: they
      * count as at least the whole window */
    def timed(r: OpRec): Double = if (r.ok) r.adjustedS else math.max(r.adjustedS, o.seconds)

    val metrics = collection.mutable.LinkedHashMap[String, Double]()
    val detail = collection.mutable.LinkedHashMap[String, Any]()
    if (!o.trace) {
      val warm = ops.drop(1)
      metrics("setup_s") = setupAdjusted
      metrics("cold_op_s") = timed(ops.head)
      metrics("op_s_p50") = median(warm.map(timed))
      metrics("rows_per_s") = median(warm.map(r => if (r.ok) r.rows / r.adjustedS else 0.0))
      metrics("cli_wall_s") = metrics("setup_s") + metrics("cold_op_s")
      metrics("peak_rss_mb") = procStatus("self", "VmHWM") / 1024.0
    } else {
      val st = tracer.get
      val ledgers = (ops ++ legOps).filter(_.traced).map(r => r.index -> st.ledger(r.index, r.rows.toDouble)).toMap
      val warmTraced = ops.filter(r => r.traced && r.index > 1).map(r => ledgers(r.index))
      val (pass1, pass2) = warmTraced.splitAt(TracedPass)
      // resumable-leg layers come from its warm runs, everything else from pass 1
      val legWarm = legOps.drop(1).map(r => ledgers(r.index))
      def source(name: String) =
        if (legWarm.nonEmpty && (name.startsWith("transcript.resume.") || name.startsWith("io."))) legWarm
        else pass1
      def value(l: OpLedger, name: String): Double =
        l.selfS.getOrElse(name.stripSuffix("_s"), l.counts.getOrElse(name, 0.0))
      for ((name, _) <- PerLayer) metrics(name) = median(source(name).map(l => value(l, name)))
      metrics("spark.job_s") = median(pass1.map(_.selfS.getOrElse(Tracer.JobSpan, 0.0)))
      metrics("bench.self_s") = median(pass1.map(l =>
        l.selfS.getOrElse(Tracer.OpSpan, 0.0) + l.selfS.getOrElse("bench.unspanned", 0.0)))
      metrics("cold.spark.plan_s") = ledgers(1).counts("spark.plan_s")
      metrics("cold.spark.codegen_s") = ledgers(1).counts("spark.codegen_s")
      metrics("cold.spark.codegen_classes") = ledgers(1).counts("spark.codegen_classes")
      val residuals = ledgers.values.map { l =>
        val wall = (ops ++ legOps).find(_.index == l.op).get.wallS
        l.op -> (math.abs(l.attributedS - wall) + l.clippedS) / wall
      }.toMap
      metrics("ledger.residual_frac") = residuals.values.max
      // adjacent (traced, untraced) pairs after the cold operation
      val pairs = ops.drop(1).grouped(2).toSeq.map(p => (p.find(_.traced).get, p.find(!_.traced).get))
      metrics("trace.overhead_frac") = median(pairs.map { case (t, u) => timed(t) / timed(u) }) - 1
      detail("counts_exact") = ExactCandidates.map { n =>
        val compared = if (source(n) eq legWarm) legWarm else pass1 ++ pass2
        n -> (drained && compared.map(_.counts.getOrElse(n, 0.0)).distinct.size == 1 &&
          (!n.startsWith("spark.codegen") || st.codegenExact))
      }.toMap
      detail("listener_drained") = drained
      detail("ledger") = Map("tolerance" -> LedgerTolerance, "residual_frac_per_op" -> residuals,
        "consistent" -> residuals.values.forall(_ <= LedgerTolerance))
      // traced vs untraced, per end-to-end metric: warm operations from the
      // pairs above; set-up, cold operation and memory against the latest
      // untraced run of the same workload and seed, when there is one
      val tracedE2e = Map("setup_s" -> setupAdjusted, "cold_op_s" -> timed(ops.head),
        "cli_wall_s" -> (setupAdjusted + timed(ops.head)),
        "peak_rss_mb" -> procStatus("self", "VmHWM") / 1024.0)
      val untraced = latestResult(o, trace = false).map(_.get("all_metrics"))
      detail("tracing_overhead") = Map(
        "op_s_p50" -> (median(pairs.map(p => timed(p._1))) / median(pairs.map(p => timed(p._2))) - 1),
        "rows_per_s" -> (median(pairs.map(p => p._1.rows / p._1.adjustedS)) /
          median(pairs.map(p => p._2.rows / p._2.adjustedS)) - 1)) ++
        untraced.toSeq.flatMap(u => tracedE2e.collect {
          case (k, v) if u.has(k) => k -> (v / u.get(k).asDouble() - 1)
        })
      val traceFile = o.work.resolve("traces")
        .resolve(s"${o.workload}-seed${o.seed}-${ProcessHandle.current().pid()}.json")
      Files.createDirectories(traceFile.getParent)
      Files.writeString(traceFile, Json.write(Map(
        "spans" -> st.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end)),
        "ledgers" -> ledgers.toSeq.sortBy(_._1).map { case (i, l) =>
          Map("op" -> i, "wall_s" -> l.wallS, "self_s" -> l.selfS, "counts" -> l.counts, "clipped_s" -> l.clippedS)
        })))
      detail("trace_file") = traceFile.toString
      st.close()
    }
    w.close()
    resume.foreach(_.close())
    val sparkVersion = spark.version
    spark.stop()

    // traced kye_model: a session-floor JVM and a `graft.cli.Main kye` run
    // of the same model and table, each timed from start to exit (the cores
    // are free: this JVM's session has stopped)
    val children =
      if (o.workload == "kye_model" && o.trace) cliChildren(o, ref, runDir) else Seq.empty[ChildRec]
    if (children.nonEmpty) {
      def childTime(c: ChildRec) = if (c.errors.isEmpty) c.wallS else math.max(c.wallS, o.seconds)
      metrics("cli.session_floor_s") = median(children.filter(_.kind == "floor").map(childTime))
      metrics("cli.first_use_s") = median(children.filter(_.kind == "cli").map(childTime)) -
        metrics("cli.session_floor_s")
    }
    Inputs.deleteTree(runDir)

    val attempted = ops.size + legOps.size + children.size
    val failed = (ops ++ legOps).count(!_.ok) + children.count(_.errors.nonEmpty)
    val correct = failed == 0
    val wanted = if (o.trace) PerLayer else EndToEnd
    val out = wanted.map { case (n, u) => n -> Map("value" -> metrics.getOrElse(n, 0.0), "unit" -> u) }
    val q1 = quality()
    detail ++= Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace, "seconds" -> o.seconds,
      "failed_frac" -> failed.toDouble / attempted,
      "env" -> Map("nproc" -> o.nproc, "xmx_bytes" -> Runtime.getRuntime.maxMemory,
        "jdk" -> System.getProperty("java.version"), "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> sparkVersion, "commit" -> o.commit, "seed" -> o.seed),
      "quality" -> Map("start" -> q0, "end" -> q1,
        "steal_frac" -> o.launchStat.stolenUntil(CpuStat(q1("cpu_total_jiffies").asInstanceOf[Long],
          q1("cpu_steal_jiffies").asInstanceOf[Long]))),
      "input" -> Map("key" -> gen.key, "descriptor" -> ref.meta.get("input"), "gen_s" -> genS,
        "reference_cached" -> refCached, "reference_s" -> refS),
      "setup" -> Map("session_s" -> sessionS, "session_stolen" -> sessionStolen,
        "open_inputs_s" -> openS, "open_stolen" -> openStolen),
      "ops" -> ops.map(r => Map("index" -> r.index, "wall_s" -> r.wallS, "stolen" -> r.stolen,
        "rows" -> r.rows, "traced" -> r.traced, "errors" -> r.errors)),
      "resume_leg_ops" -> legOps.map(r => Map("index" -> r.index, "wall_s" -> r.wallS, "stolen" -> r.stolen,
        "rows" -> r.rows, "errors" -> r.errors)),
      "children" -> children.map(c => Map("kind" -> c.kind, "wall_s" -> c.wallS, "exit" -> c.exit,
        "vm_hwm_kb" -> c.hwmKb, "errors" -> c.errors)),
      "all_metrics" -> metrics)
    val resultFile = o.work.resolve("results")
      .resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}-${ProcessHandle.current().pid()}.json")
    Files.createDirectories(resultFile.getParent)
    Files.writeString(resultFile, Json.write(detail))
    println("PERFBENCH_DETAIL " + Json.write(detail))
    ((ops ++ legOps).flatMap(r => r.errors.map(e => s"op ${r.index}: $e")) ++
      children.flatMap(c => c.errors.map(e => s"${c.kind} child: $e"))).foreach(e => System.err.println(s"MISMATCH $e"))
    println(Json.write(scala.collection.immutable.ListMap("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> scala.collection.immutable.ListMap(out: _*))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Detail record of the latest run of this workload and seed. */
  private def latestResult(o: Opts, trace: Boolean): Option[com.fasterxml.jackson.databind.JsonNode] = {
    val dir = o.work.resolve("results")
    val prefix = s"${o.workload}-seed${o.seed}-trace${if (trace) 1 else 0}-"
    if (!Files.isDirectory(dir)) None
    else {
      val ls = Files.list(dir)
      val files = try ls.iterator().asScala.filter(_.getFileName.toString.startsWith(prefix)).toSeq
        finally ls.close()
      files.sortBy(f => Files.getLastModifiedTime(f).toMillis).lastOption
        .map(f => Inputs.mapper.readTree(Files.readString(f)))
    }
  }

  /** Runs session-floor children (a JVM that only starts and stops a
    * session configured like the CLI's), then `graft.cli.Main kye` runs. */
  private def cliChildren(o: Opts, in: Inputs.Prepared, runDir: Path): Seq[ChildRec] = {
    Files.createDirectories(runDir)
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-agentlib")).toSeq
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val expectViolations = in.ref.get("violations").asLong()
    val expectSurvivors = in.ref.get("survivors").asLong()
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    def child(kind: String, main: String, args: Seq[String]): ChildRec = {
      val k = counter.incrementAndGet()
      val outF = runDir.resolve(s"child-$k.out"); val errF = runDir.resolve(s"child-$k.err")
      val pb = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++ Seq("-cp", o.classpath, main) ++ args).asJava)
        .redirectOutput(outF.toFile).redirectError(errF.toFile)
      pb.environment().put("SPARK_MASTER", s"local[${o.nproc}]")
      pb.environment().put("SPARK_GRAFT_CPUS", o.nproc.toString)
      val s = System.nanoTime()
      val p = pb.start()
      val pid = p.pid().toString
      var hwm = 0L
      while (!p.waitFor(20, TimeUnit.MILLISECONDS)) hwm = math.max(hwm, procStatus(pid, "VmHWM"))
      val wall = (System.nanoTime() - s) / 1e9
      val exit = p.exitValue()
      val stdout = Files.readString(outF)
      val errors = collection.mutable.Buffer[String]()
      if (kind == "floor") {
        if (exit != 0) errors += s"session floor exited $exit: ${Files.readString(errF).takeRight(400)}"
      } else {
        if (exit != 65) errors += s"kye CLI exited $exit, expected 65: ${Files.readString(errF).takeRight(400)}"
        val line = stdout.linesIterator.find(_.matches("\\d+ violations; survivors=\\d+"))
        val want = s"$expectViolations violations; survivors=$expectSurvivors"
        if (!line.contains(want)) errors += s"kye CLI printed ${line.getOrElse("no summary")}, expected $want"
      }
      ChildRec(kind, wall, exit, hwm, errors.toSeq)
    }
    val kyeArgs = Seq("kye", "--schema", in.dir.resolve("model.kye").toString,
      "--data", in.dir.resolve("table").toString, "--model", Inputs.KyeModelName)
    val out = collection.mutable.ArrayBuffer[ChildRec]()
    out += child("floor", "perfbench.SessionFloor", Nil)
    out += child("cli", "graft.cli.Main", kyeArgs)
    out.toSeq
  }
}

/** A tracer that can be switched off between operations (the untraced
  * pass of a traced run). */
final class Switch(t: Tracer) extends Tracer {
  @volatile var on = true
  def span[T](name: String)(body: => T): T = if (on) t.span(name)(body) else body
  def op[T](index: Int)(body: => T): T = if (on) t.op(index)(body) else body
  def count(key: String, v: Double): Unit = if (on) t.count(key, v)
}
