package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.CompiledSchema
import graft.validate.{Validator, ValidatorConfig}
import graft.io.{ParquetPartitionedSource, TextFile}
import graft.transcript._

/** CLI mirroring the reference's entry points (kyepy kye/cli.py):
  *
  * Kye-model validation (E1 `.kye` source or E2 precompiled artifact):
  *   graft.cli.Main kye --schema s.kye[.json|.yaml] --data t.parquet --model M
  *     [--violations outDir] [--parity]
  *   requires --schema, and --model or --compile; --model requires --data.
  *
  * Transcript suite (north rule):
  *   graft.cli.Main transcripts --table dir [--conv-keys path]
  *     [--checkpoint manifest.json] [--violations outDir]
  *     [--baseline hist.json] [--write-baseline hist.json]
  *   requires --table; --max-concurrent above 1 and --partition-timeout-ms
  *   require --checkpoint.
  *
  * IVF nearest-neighbour search:
  *   graft.cli.Main ann --table items.parquet --centroids artifact.json
  *   requires --table and --centroids.
  *
  * Exit code 2 with the usage text for any command-line error, decided by
  * [[parseArgs]] before Spark starts; 65 when violations (or drift) were
  * found, like the reference CLI (kye/cli.py:80-83).
  */
object Main {

  def main(args: Array[String]): Unit = {
    // UTF-8 whatever the locale: the CLI prints data values (multilingual
    // transcript text) and messages with non-ASCII punctuation, which a
    // POSIX-locale JVM would otherwise print as '?'
    val out = new java.io.PrintStream(System.out, true, java.nio.charset.StandardCharsets.UTF_8)
    val err = new java.io.PrintStream(System.err, true, java.nio.charset.StandardCharsets.UTF_8)
    System.setOut(out)
    System.setErr(err)
    Console.withOut(out)(Console.withErr(err)(run(args)))
  }

  private def run(args: Array[String]): Unit = {
    // every command-line question is settled BEFORE paying SparkSession
    // startup: a malformed or incomplete command line must cost a usage
    // line, not a cluster spin-up
    val (mode, opts) = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(error) => System.err.println(error); usage(); sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tuning(spark) // engine-wide session tuning (a host-set value wins)
    // error exits stop the session too, not leaning on JVM exit cleanup;
    // exit 65 when violations, compile errors or drift were found
    val hadViolations =
      try mode match {
        case "kye" => runKye(spark, opts)
        case "ann" => runAnn(spark, opts)
        case _ => runTranscripts(spark, opts)
      } finally spark.stop()
    if (hadViolations) sys.exit(65)
  }

  /** IVF ANN with the persisted centroid artifact keyed by the table
    * snapshot id (ops.Similarity.trainOrLoadCentroids): the first run over
    * a corpus trains k-means and commits the artifact; later runs over the
    * UNCHANGED corpus load it (one small read, no Spark job, no training);
    * a corpus change flips the snapshot id and retrains. Prints
    * `ann centroids: trained|loaded` so operators (and the e2e spec) can
    * see which path ran. */
  private def runAnn(spark: SparkSession, opts: Map[String, String]): Boolean = {
    val table = opts("table")
    val artifact = opts("centroids")
    val idCol = opts.getOrElse("id", "vec_id")
    val vecCol = opts.getOrElse("vec", "embedding")
    val nLists = opts.get("n-lists").fold(32)(_.toInt)
    val k = opts.get("k").fold(5)(_.toInt)
    val nProbe = opts.get("n-probe").fold(4)(_.toInt)
    lazy val items = spark.read.parquet(table) // a load needs no schema inference
    val (cents, trained) = graft.ops.Similarity.trainOrLoadCentroids(
      items, idCol, vecCol, nLists, artifact, new ParquetPartitionedSource(spark, table).snapshotId)
    println(s"ann centroids: ${if (trained) "trained" else "loaded"} ($artifact, " +
      s"nLists=${cents.length})")
    val queries = opts.get("queries") match {
      case Some(qp) => spark.read.parquet(qp)
        .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
      case None => // deterministic smoke default: the 3 lowest-id items
        items.orderBy(col(idCol)).limit(3)
          .select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    }
    val topk = graft.ops.Similarity.ivfTopK(
      items, idCol, vecCol, queries, "q_id", "q_vec", k, cents, nProbe)
      .select(col("query_id"), col("item_id"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
    opts.get("out") match {
      case Some(outDir) =>
        topk.write.mode("overwrite").parquet(outDir)
        println(s"ann top-$k written to $outDir")
      case None =>
        topk.collect().foreach(r => println(s"ann ${r.mkString(" ")}"))
    }
    false
  }

  private def runKye(spark: SparkSession, opts: Map[String, String]): Boolean = {
    val schemaPath = opts("schema")
    val text = readOption(spark, "schema", schemaPath)
    // E1 path: `.kye` source compiles through the DSL front-end; E2 path:
    // precompiled JSON/YAML artifacts load directly (kyepy kye.py:60-63)
    // the pure compile result (no native-type merge) is what --compile
    // writes, mirroring the reference (kye.py:100-113 writes self.compiled;
    // the loader merges native types separately, loader.py:30)
    val compiledOnly =
      if (schemaPath.endsWith(".kye"))
        // multi-error compile: print every source-highlighted error and
        // exit 65, like the reference reporter (compilation_errors.py:64-67
        // + cli.py:67-70)
        try graft.parse.KyeParser.compile(text)
        catch {
          case e: graft.parse.KyeParser.CompileException =>
            System.err.println(e.rendered)
            System.err.println(s"${e.errors.length} compile error(s)")
            return true // exit 65, the same path as violations
        }
      else if (schemaPath.endsWith(".yaml") || schemaPath.endsWith(".yml"))
        CompiledSchema.fromYaml(text) // normalize precompiled input too
      else CompiledSchema.fromJson(text)
    // CompiledSchema.load(text) is exactly fromX + nativeTypes.merge —
    // merging the already-parsed artifact avoids a second Jackson parse
    // and a branch that could drift from the compiledOnly one above
    val schema = CompiledSchema.nativeTypes.merge(compiledOnly)
    // --compile out.(json|yaml|yml): write the compiled artifact
    // (kye/cli.py:75-76 `-c`); compile-only runs need no --model/--data
    opts.get("compile").foreach { out =>
      val artifact =
        if (out.endsWith(".yaml") || out.endsWith(".yml")) compiledOnly.toYaml
        else compiledOnly.toJson
      TextFile.write(out, artifact, spark.sparkContext.hadoopConfiguration)
      println(s"wrote compiled artifact $out")
    }
    if (!opts.contains("model")) return false // compile-only (parseArgs required --compile)
    val model = opts("model")
    val dataPath = opts("data")
    // --row-key <col>: anchor violations on a natural key column (stays
    // columnar/codegen, no RDD round-trip). Without it, parquet ingress
    // derives columnar positional ids from _metadata.row_index;
    // zipWithIndex remains only for CSV/JSON fixtures. readAny happens
    // INSIDE each branch: the parquet default path must not list files /
    // resolve footers twice (withParquetRowIds does its own read)
    lazy val data = readAny(spark, dataPath)
    val withIds = opts.get("row-key") match {
      case Some(k) =>
        // fail fast on keys whose long-cast could NULL or truncate row
        // anchors: only integral types are loss-free. Resolve through
        // Spark's own analyzer (case-insensitive, nested paths) rather
        // than case-sensitive StructType lookup.
        import org.apache.spark.sql.types._
        val dt = data.select(col(k)).schema.head.dataType
        require(
          dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType,
          s"--row-key column '$k' must be an integral type (found $dt): " +
            "floats truncate and wide decimals overflow to NULL, which would " +
            "corrupt the report's row anchors; omit --row-key for positional ids")
        // duplicate or NULL key values would conflate violations from
        // different rows and corrupt the highlighted-slice isin lookup.
        // The key comes from outside the program, so the guard always
        // runs: one aggregate job, a full extra pass over the input
        // (count + exact count_distinct).
        val kc = data.agg(
          count(lit(1)).as("n"),
          count_distinct(col(k)).as("d"),
          count(when(col(k).isNull, 1)).as("nulls")).collect()(0)
        require(kc.getLong(2) == 0,
          s"--row-key column '$k' contains ${kc.getLong(2)} NULLs — row " +
            "anchors must be non-null; omit --row-key for positional ids")
        require(kc.getLong(0) == kc.getLong(1),
          s"--row-key column '$k' is not unique (${kc.getLong(0)} rows, " +
            s"${kc.getLong(1)} distinct values) — duplicate anchors would " +
            "conflate violations from different rows")
        data.withColumn("_row", col(k).cast("long"))
      case None if isParquet(dataPath) => Validator.withParquetRowIds(spark, dataPath)
      case None => Validator.withRowIds(data)
    }
    val result = new Validator(schema,
      ValidatorConfig(
        strictReferenceParity = opts.contains("parity"),
        maxGroupValues = opts.get("max-group-values").fold(ValidatorConfig().maxGroupValues)(_.toInt)))
      .validate(model, withIds)
    val violations = result.violations.cache()
    opts.get("violations").foreach(out =>
      violations.write.mode("overwrite").parquet(out))
    // driver fetch is bounded: total via count(), report via limit(50) —
    // never collect the full violation set (10^12 rows x 1e-3 error rate
    // would be 10^9 driver-side rows)
    val totalViolations = violations.count()
    val rows = violations.orderBy("err", "row", "col").limit(50).collect()
    rows.foreach { r =>
      println(s"${r.getAs[String]("err")}: ${r.getAs[String]("model")}" +
        s" row=${Option(r.get(2)).getOrElse("-")} col=${Option(r.get(3)).getOrElse("-")}" +
        Option(r.getAs[String]("expected")).map(e => s" expected=$e").getOrElse(""))
    }
    if (totalViolations > 50) println(s"... and ${totalViolations - 50} more")
    // highlighted slice of offending data, like the reference report
    // (kyepy validation_errors.py:126-154: <=10 rows, offending columns)
    val vioRowIds = rows.flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Long]))
      .distinct.sorted.take(10)
    val vioCols = rows.flatMap(r => Option(r.getAs[String]("col"))).distinct
    if (vioRowIds.nonEmpty && vioCols.nonEmpty) {
      // violation col values are post-rename edge NAMES; the source data
      // may carry the edges' TITLES — map back so titled schemas still get
      // a populated slice
      val srcColOf: Map[String, String] = schema.models.get(model)
        .map(_.edges.values.map(e => e.name -> e.title.getOrElse(e.name)).toMap)
        .getOrElse(Map.empty)
      val keepSrc = vioCols.flatMap(srcColOf.get).toSet
      val keep = withIds.columns.filter(c =>
        c == "_row" || vioCols.contains(c) || keepSrc.contains(c))
      withIds.filter(col("_row").isin(vioRowIds: _*))
        .select(keep.map(col): _*).orderBy("_row").show(10, truncate = false)
      // compare distinct violation ROWS to rows shown — one row failing
      // three assertions is still one row, not "2 more rows" (violations
      // is cached, so the distinct count is cheap)
      val distinctVioRows = violations.filter(col("row").isNotNull)
        .select("row").distinct().count()
      if (distinctVioRows > vioRowIds.length)
        println(s"... and ${distinctVioRows - vioRowIds.length} more violation rows")
    }
    println(s"$totalViolations violations; survivors=" +
      result.survivors.map(_.count().toString).getOrElse("<aborted>"))
    violations.unpersist()
    result.cleanup()
    totalViolations > 0
  }

  private def runTranscripts(spark: SparkSession, opts: Map[String, String]): Boolean = {
    val source = new ParquetPartitionedSource(spark, opts("table"))
    val convKeys = opts.get("conv-keys").map(p => spark.read.parquet(p))
    val validator = new TranscriptValidator()

    // parse the baseline ONCE and share it between the per-partition and
    // table-level legs: two reads of the same path could silently compare
    // against different baselines if the file is replaced mid-run (e.g. a
    // concurrent --write-baseline). LAZY so the non-checkpoint path keeps
    // its contract of failing on an unreadable baseline only AFTER
    // validation completed and violations were written; the checkpointed
    // path forces it up front by necessity (the per-partition leg needs
    // it before the loop), which loses nothing — the manifest is intact.
    lazy val baselineSnap: Option[Map[String, Drift.Histogram]] =
      opts.get("baseline").map(p => Drift.snapshotFromJson(readOption(spark, "baseline", p)))
    def histogramsOf(df: DataFrame): Map[String, Drift.Histogram] = Map(
      "role" -> Drift.collect(StatsProfiler.categoricalHistogram(df, col("role"))),
      "text_len" -> Drift.collect(
        StatsProfiler.numericHistogram(df, length(col("text")), 0, 20, 20)))
    // both drift legs' verdict lines; `scope` is "" (table) or "p=N ".
    // formatLocal(Locale.ROOT): a comma-decimal default locale would print
    // psi=0,1234 and break parsers of this line
    def printVerdicts(scope: String, verdicts: Seq[Drift.DriftVerdict]): Unit =
      verdicts.foreach(v => println("drift %s%s: psi=%.4f ks=%.4f drifted=%s".formatLocal(
        java.util.Locale.ROOT, scope, v.name, v.psi, v.ks, v.drifted)))

    // per-partition histograms are additive: when the checkpointed run
    // validated EVERY partition, their sum IS the table histogram and the
    // table-level drift leg below reuses it instead of a third full scan
    val partHistSums = scala.collection.mutable.Map[String, Drift.Histogram]()
    var allPartitionsValidated = false

    val totalViolations: Long = opts.get("checkpoint") match {
      case Some(manifestPath) =>
        val manifest = new CheckpointManifest(manifestPath)
        val sink = opts.get("violations").map { out => (p: Int, r: TranscriptReport) =>
          r.violations.write.mode("overwrite").parquet(s"$out/partition_id=$p")
        }
        // --baseline under --checkpoint additionally localizes drift to
        // the partition grain: each VALIDATED partition's role/text_len
        // histograms PSI/KS-compare against the (table-level) baseline —
        // "the corpus drifted" becomes "partitions 3 and 7 drifted",
        // riding the same checkpointed loop. The table-level verdict
        // below is unchanged, and alone names the metrics only one side
        // has: partitions produce its metric set (histogramsOf).
        val driftCheck = baselineSnap.map { base =>
          ResumableRunner.DriftCheck(
            baseline = base,
            histograms = histogramsOf,
            columns = Seq("role", "text"),
            onVerdicts = pd => {
              printVerdicts(s"p=${pd.partitionId} ", pd.verdicts)
              partHistSums.synchronized {
                for ((k, h) <- pd.histograms)
                  partHistSums(k) = Drift.merge(partHistSums.getOrElse(k, Map.empty), h)
              }
            })
        }
        // --max-concurrent N: validate N partitions simultaneously (Spark
        // accepts multi-threaded job submission; manifest commits stay
        // atomic per partition). --partition-timeout-ms: per-partition
        // wall-clock budget (0 = no watcher)
        val summary = new ResumableRunner(source, manifest, validator, convKeys, sink,
          opts.get("max-concurrent").fold(1)(_.toInt), driftCheck,
          opts.get("partition-timeout-ms").fold(ResumableRunner.DefaultPartitionTimeoutMs)(_.toLong))
          .run()
        allPartitionsValidated = summary.skipped.isEmpty
        // skipped partitions were NOT drift-checked — say so, or the
        // absence of drift lines reads as "no partition drifted"
        if (driftCheck.isDefined && summary.skipped.nonEmpty)
          println(s"drift: partitions ${summary.skipped.mkString(",")} skipped " +
            "(already validated under this lineage) — not re-drift-checked")
        println(s"validated=${summary.validated.map(_.partitionId).mkString(",")}" +
          s" skipped=${summary.skipped.mkString(",")} rows=${summary.totalRows}" +
          s" violations=${summary.totalViolations}")
        summary.totalViolations +
          summary.skipped.flatMap(manifest.load().get(_)).map(_.violations).sum
      case None =>
        val report = validator.validate(source.read(), convKeys)
        opts.get("violations").foreach(out =>
          report.violations.write.mode("overwrite").parquet(out))
        report.partitionVerdicts.orderBy("partition_id").show(100, truncate = false)
        val n = report.violations.count()
        report.cleanup()
        println(s"violations=$n")
        n
    }

    // drift leg: compare against (or write) a baseline histogram snapshot.
    // lazy + shared: --baseline AND --write-baseline together must scan
    // the table once for the histograms, not twice, and a run using
    // neither flag must not read the table here at all. When the
    // checkpointed loop just validated EVERY partition, the summed
    // per-partition histograms ARE the table histograms — no extra scan.
    lazy val cur: Map[String, Drift.Histogram] =
      if (allPartitionsValidated && partHistSums.synchronized(partHistSums.nonEmpty))
        partHistSums.synchronized(partHistSums.toMap)
      else histogramsOf(source.read())
    opts.get("write-baseline").foreach { p =>
      Drift.writeSnapshot(p, cur)
      println(s"wrote baseline snapshot $p")
    }
    val drifted = baselineSnap.exists { base =>
      // a baseline from a different build may carry metrics this build
      // doesn't produce (or miss ones it does): warn and skip, never crash
      // after validation already completed
      val c = Drift.compare(base, cur)
      c.baselineNotProduced.foreach(k =>
        System.err.println(s"warning: baseline metric '$k' not produced by this build — skipped"))
      c.producedNotInBaseline.foreach(k =>
        System.err.println(s"warning: metric '$k' missing from the baseline — NOT drift-checked (refresh with --write-baseline)"))
      printVerdicts("", c.verdicts)
      c.verdicts.exists(_.drifted)
    }
    totalViolations > 0 || drifted
  }

  /** The text of the file `--option` names; a missing file is an error. */
  private def readOption(spark: SparkSession, option: String, path: String): String =
    TextFile.read(path, spark.sparkContext.hadoopConfiguration)
      .getOrElse(throw new java.io.FileNotFoundException(s"--$option $path does not exist"))

  private def isParquet(path: String): Boolean =
    !(path.endsWith(".csv") || path.endsWith(".json") || path.endsWith(".jsonl"))

  private def readAny(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".csv"))
      spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    else if (path.endsWith(".json") || path.endsWith(".jsonl"))
      spark.read.json(path)
    else spark.read.parquet(path)

  /** The options of each mode: exactly those [[usage]] lists. */
  private val modeOptions: Map[String, Set[String]] = Map(
    "kye" -> Set("schema", "data", "model", "violations", "parity", "row-key", "compile",
      "max-group-values"),
    "transcripts" -> Set("table", "conv-keys", "checkpoint", "violations", "baseline",
      "write-baseline", "max-concurrent", "partition-timeout-ms"),
    "ann" -> Set("table", "centroids", "id", "vec", "n-lists", "k", "n-probe", "queries", "out"))

  /** Options that are bare flags; every other option REQUIRES a value. */
  private val boolFlags = Set("parity")

  /** What each mode cannot run without: one option of every group. */
  private val requiredOptions: Map[String, Seq[Seq[String]]] = Map(
    "kye" -> Seq(Seq("schema"), Seq("model", "compile")),
    "transcripts" -> Seq(Seq("table")),
    "ann" -> Seq(Seq("table"), Seq("centroids")))

  /** An option that acts only next to `companion`, when its value
    * `applies`: a silently ignored option is a lie to the operator —
    * concurrency and the partition wall-clock watcher only exist on the
    * checkpointed path. */
  private final case class Needs(option: String, companion: String,
                                 applies: String => Boolean = _ => true)
  private val companions = Seq(Needs("model", "data"),
    Needs("max-concurrent", "checkpoint", _.toInt > 1), Needs("partition-timeout-ms", "checkpoint"))

  /** The values a numeric option accepts, and how the usage error names them. */
  private final case class Shape(accepts: String => Boolean, what: String)

  /** A typo'd number costs a usage line, not a raw NumberFormatException
    * or a job-time require deep inside the engine (`--n-lists 0` would
    * reach a divide-by-zero in trainCentroids). */
  private val valueShapes: Map[String, Shape] = {
    val positive = Shape(_.toIntOption.exists(_ >= 1), "a positive integer")
    Map("max-group-values" -> positive, "max-concurrent" -> positive, "n-lists" -> positive,
      "k" -> positive, "n-probe" -> positive,
      "partition-timeout-ms" -> Shape(_.toLongOption.exists(_ >= 0), "a non-negative integer"))
  }

  /** The first rule of [[valueShapes]], [[requiredOptions]] and
    * [[companions]] (checked in that order) that `opts` breaks. */
  private def brokenRule(mode: String, opts: Map[String, String]): Option[String] =
    opts.toSeq.sorted.collectFirst {
      case (k, v) if valueShapes.get(k).exists(!_.accepts(v)) =>
        s"--$k requires ${valueShapes(k).what}, got '$v'"
    }.orElse(requiredOptions(mode).collectFirst {
      case group if !group.exists(opts.contains) =>
        s"$mode requires ${group.map("--" + _).mkString(" or ")}"
    }).orElse(companions.collectFirst {
      case n if opts.get(n.option).exists(n.applies) && !opts.contains(n.companion) =>
        s"--${n.option} requires --${n.companion}"
    })

  /** `mode --option [value] ...` as the mode and its options, or the usage
    * error. This parse alone decides whether a command line can run, so
    * every error lands before Spark starts. Anything [[usage]] does not
    * list for the mode, and an option given twice, is an error: a silently
    * ignored typo (`--checkpiont m.json`) would run without a manifest,
    * and a run that cannot be resumed. So is a command line that breaks
    * one of the rules in [[brokenRule]]; the `run*` methods read only
    * options it checked. */
  private[cli] def parseArgs(args: Seq[String]): Either[String, (String, Map[String, String])] =
    args.toList match {
      case Nil => Left("missing mode")
      case mode :: rest => modeOptions.get(mode).toRight(s"unknown mode $mode").flatMap { allowed =>
        def options(rest: List[String], acc: Map[String, String]): Either[String, Map[String, String]] =
          rest match {
            case Nil => Right(acc)
            case a :: _ if !a.startsWith("--") => Left(s"unexpected argument '$a'")
            case a :: _ if !allowed(a.drop(2)) => Left(s"unknown option $a")
            case a :: _ if acc.contains(a.drop(2)) => Left(s"option $a given twice")
            case a :: tail if boolFlags(a.drop(2)) => options(tail, acc + (a.drop(2) -> "true"))
            case a :: v :: tail if !v.startsWith("--") => options(tail, acc + (a.drop(2) -> v))
            // a silent "true" here produced misleading downstream failures
            // (--data with a forgotten value -> "Path does not exist: .../true")
            case a :: _ => Left(s"option $a requires a value")
          }
        options(rest, Map.empty).flatMap(opts => brokenRule(mode, opts).toLeft(mode -> opts))
      }
    }

  private def usage(): Unit = System.err.println(
    """usage:
      |  graft.cli.Main kye --schema s.kye[.json|.yaml] [--data table.parquet --model M]
      |                 [--violations out] [--parity] [--row-key col] [--compile out.json]
      |                 [--max-group-values K]
      |  graft.cli.Main transcripts --table dir [--conv-keys path] [--checkpoint m.json]
      |                 [--violations out] [--baseline h.json] [--write-baseline h.json]
      |                 [--max-concurrent N] [--partition-timeout-ms MS]
      |  graft.cli.Main ann --table items.parquet --centroids artifact.json
      |                 [--id vec_id] [--vec embedding] [--n-lists 32] [--k 5]
      |                 [--n-probe 4] [--queries q.parquet] [--out dir]
      |
      |  ann trains IVF centroids on first run and persists them to
      |  --centroids, keyed by the table's snapshot id; an unchanged table
      |  loads the artifact (no retrain), a changed one retrains.
      |
      |  --partition-timeout-ms default is 21600000 (6 h): any partition task
      |  exceeding it FAILS the cohort loudly (committed partitions stay
      |  resumable). Pass 0 for the pre-r4 unbounded-wait behavior.""".stripMargin)
}
