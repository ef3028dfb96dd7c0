package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{ParquetPartitionedSource, TableSource}
import graft.parse.KyeParser
import graft.schema.CompiledSchema
import graft.transcript._
import graft.validate.Validator

/** What one operation returned, checked against the reference after the
  * run (the reference is computed after the operations on a cache miss, so
  * it never warms the JVM before the first one). */
final case class Observed(outputs: Map[String, Any])

/** One workload: inputs opened in the constructor (timed as set-up), then a
  * closed loop of operations. `beforeOp` runs untimed before operation
  * `index`; `check` compares an operation's outputs with the reference and
  * returns every mismatch. */
trait Workload {
  def beforeOp(index: Int): Unit = ()
  def op(index: Int): Observed
  def check(index: Int, o: Observed, ref: Inputs.Prepared): Seq[String]
  /** Input rows operation `index` validates. */
  def inputRows(index: Int, ref: Inputs.Prepared): Long = ref.rows
  def close(): Unit = ()
}

object Workloads {
  val ProfileCols: Seq[String] = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** Role and text-length histograms, the drift inputs of the CLI. */
  def histogramsOf(df: DataFrame): Map[String, Drift.Histogram] = Map(
    "role" -> Drift.collect(StatsProfiler.categoricalHistogram(df, col("role"))),
    "text_len" -> Drift.collect(StatsProfiler.numericHistogram(df, length(col("text")), 0, 20, 20)))

  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Mismatches between observed and expected outputs, by name. */
  def compare(o: Observed, want: Map[String, Any]): Seq[String] =
    want.toSeq.sortBy(_._1).collect {
      case (k, v) if o.outputs.get(k) != Some(v) => s"$k: got ${o.outputs.get(k).orNull}, expected $v"
    }

  /** Drift baseline of the benchmark: a fixed snapshot (role shares and
    * 20-char text-length bins), so the drift leg has the same work on
    * every seed; the verdicts are not checked, the histograms are. */
  val Baseline: Map[String, Drift.Histogram] = Map(
    "role" -> Map("system" -> 13L, "user" -> 40L, "assistant" -> 40L, "tool" -> 7L),
    "text_len" -> (0 until 20).map(b => b.toString -> (if (b < 8) 10L else 1L)).toMap)

  def histRef(p: Inputs.Prepared, name: String): Drift.Histogram =
    p.ref.get("histograms").get(name).fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
}

/** `TranscriptValidator` whose `validate` call is a span. */
final class TracedTranscriptValidator(tr: Tracer) extends TranscriptValidator() {
  override def validate(df: DataFrame, convKeys: Option[DataFrame]): TranscriptReport =
    tr.span("transcript.build")(super.validate(df, convKeys))
}

/** Delegating `TableSource` whose calls are `io.*` spans. */
final class TracedSource(s: TableSource, tr: Tracer) extends TableSource {
  def snapshotId: String = tr.span("io.snapshot")(s.snapshotId)
  override def partitionSnapshotId(p: Int): String = tr.span("io.snapshot")(s.partitionSnapshotId(p))
  def partitionIds(): Seq[Int] = tr.span("io.partition_ids")(s.partitionIds())
  def readPartition(p: Int): DataFrame = tr.span("io.read_partition")(s.readPartition(p))
  def read(): DataFrame = tr.span("io.read")(s.read())
}

/** `CheckpointManifest` whose commits are spans. */
final class TracedManifest(path: String, tr: Tracer) extends CheckpointManifest(path) {
  override def record(entry: PartitionEntry): Unit =
    tr.span("transcript.resume.commit")(super.record(entry))
}

/** transcript_suite: the whole-table constraint suite, then the column
  * profile and the drift check. */
final class TranscriptSuiteWorkload(spark: SparkSession, tr: Tracer, dir: Path) extends Workload {
  import Workloads._
  private val tablePath = dir.resolve("table").toString
  private val table = spark.read.option("basePath", tablePath).parquet(tablePath)
  private val keys = spark.read.parquet(dir.resolve("conv_keys").toString)
  table.schema; keys.schema
  private val validator = new TracedTranscriptValidator(tr)

  def op(index: Int): Observed = {
    val report = validator.validate(table, Some(keys))
    val perConstraint = tr.span("transcript.violations")(
      report.violations.groupBy("constraint_id").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    val conv = tr.span("transcript.conv_verdicts")(
      report.convVerdicts.agg(count(lit(1)), sum(when(col("pass"), 0L).otherwise(1L))).collect()(0))
    val parts = tr.span("transcript.partition_verdicts")(report.partitionVerdicts.collect())
    val cached = storageBytes(spark)
    tr.count("transcript.seq_cache_bytes", cached.toDouble)
    tr.count("spark.storage_bytes", cached.toDouble)
    tr.count("transcript.violation_rows", perConstraint.values.sum.toDouble)
    report.cleanup()
    val profile = tr.span("transcript.stats.profile")(StatsProfiler.profile(table, ProfileCols).collect())
    val (hists, verdicts) = tr.span("transcript.stats.drift") {
      val h = histogramsOf(table)
      (h, h.toSeq.sortBy(_._1).map { case (k, v) => Drift.verdict(k, Baseline(k), v) })
    }
    Observed(Map(
      "violations per constraint" -> perConstraint,
      "conversation verdicts" -> conv.getLong(0),
      "failing conversations" -> conv.getLong(1),
      "partition rows" -> parts.map(r => r.getAs[Int]("partition_id").toString -> r.getAs[Long]("rows_scanned")).toMap,
      "partition violations" -> parts.map(r => r.getAs[Int]("partition_id").toString -> r.getAs[Long]("violations")).toMap,
      "profile nulls" -> profile.map(r => r.getString(0) -> r.getLong(2)).toMap,
      "profile counts" -> profile.map(r => r.getString(0) -> r.getLong(1)).toMap,
      "histograms" -> hists,
      "drift verdicts" -> verdicts.map(_.name)))
  }

  def check(index: Int, o: Observed, ref: Inputs.Prepared): Seq[String] = {
    val nulls = ref.longMap("null_counts")
    compare(o, Map(
      "violations per constraint" -> ref.longMap("per_constraint").filter(_._2 > 0),
      "conversation verdicts" -> ref.ref.get("conversations").asLong(),
      "failing conversations" -> ref.ref.get("failing_conversations").asLong(),
      "partition rows" -> ref.longMap("partition_rows"),
      "partition violations" -> ref.longMap("partition_violations"),
      "profile nulls" -> nulls,
      "profile counts" -> nulls.map { case (k, v) => k -> (ref.rows - v) },
      "histograms" -> Seq("role", "text_len").map(n => n -> histRef(ref, n)).toMap,
      "drift verdicts" -> Seq("role", "text_len")))
  }
}

/** kye_model: compile the model, validate, force violations and survivors. */
final class KyeWorkload(spark: SparkSession, tr: Tracer, dir: Path) extends Workload {
  import Workloads._
  private val modelText = Files.readString(dir.resolve("model.kye"))
  private val withIds = Validator.withParquetRowIds(spark, dir.resolve("table").toString)
  withIds.schema

  def op(index: Int): Observed = {
    val compiled = tr.span("parse.compile")(KyeParser.compile(modelText))
    val schema = tr.span("schema.load")(CompiledSchema.nativeTypes.merge(compiled))
    val result = tr.span("validate.build")(new Validator(schema).validate(Inputs.KyeModelName, withIds))
    val perCol = tr.span("validate.violations")(
      result.violations.groupBy("err", "col").count().collect()
        .map(r => s"${r.getString(0)}|${r.getString(1)}" -> r.getLong(2)).toMap)
    val survivors = tr.span("validate.survivors")(result.survivors.map(_.count()).getOrElse(-1L))
    val cached = storageBytes(spark)
    tr.count("validate.cache_bytes", cached.toDouble)
    tr.count("spark.storage_bytes", cached.toDouble)
    tr.count("validate.violation_rows", perCol.values.sum.toDouble)
    result.cleanup()
    Observed(Map("violations per (err, col)" -> perCol, "survivors" -> survivors))
  }

  def check(index: Int, o: Observed, ref: Inputs.Prepared): Seq[String] =
    compare(o, Map("violations per (err, col)" -> ref.longMap("per_err_col"),
      "survivors" -> ref.ref.get("survivors").asLong()))
}

/** Resumable leg of traced transcript_suite runs: checkpointed
  * partition-wise validation of the suite's partitioned table. The first
  * operation validates every partition from an empty manifest; each later
  * one first rewrites two seed-chosen partitions (same bytes, new files),
  * then times the resumed run, which must validate exactly those two. */
final class ResumeWorkload(spark: SparkSession, tr: Tracer, dir: Path, workDir: Path, seed: Long,
                           maxConcurrent: Int) extends Workload {
  import Workloads._
  private val root = dir.resolve("table")
  private val manifestPath = workDir.resolve("manifest.json")
  private val sinkDir = workDir.resolve("violations")
  private val source = new TracedSource(new ParquetPartitionedSource(spark, root.toString), tr)
  private val keys = spark.read.parquet(dir.resolve("conv_keys").toString)
  keys.schema
  private val validator = new TracedTranscriptValidator(tr)
  private val allParts: Seq[Int] = {
    val ls = Files.list(root)
    try ls.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("partition_id="))
      .map(_.stripPrefix("partition_id=").toInt).toSeq.sorted finally ls.close()
  }
  private val rewritten = collection.mutable.Map[Int, Seq[Int]]()

  override def beforeOp(index: Int): Unit = rewritten(index) =
    if (rewritten.isEmpty) allParts
    else {
      val chosen = new scala.util.Random(seed * 7919L + index).shuffle(allParts).take(2).sorted
      for (p <- chosen) {
        val pdir = root.resolve(s"partition_id=$p")
        val ls = Files.list(pdir)
        val files = try ls.iterator().asScala.toSeq finally ls.close()
        files.filter(_.getFileName.toString.endsWith(".parquet")).zipWithIndex.foreach { case (f, k) =>
          val bytes = Files.readAllBytes(f)
          Files.delete(f)
          Files.write(pdir.resolve(s"part-op$index-$k.parquet"), bytes)
        }
        files.filter(_.getFileName.toString.endsWith(".crc")).foreach(Files.deleteIfExists)
      }
      chosen
    }

  def op(index: Int): Observed = {
    val drifts = new java.util.concurrent.ConcurrentLinkedQueue[ResumableRunner.PartitionDrift]()
    val manifest = new TracedManifest(manifestPath.toString, tr)
    val sink = (p: Int, r: TranscriptReport) => tr.span("transcript.resume.sink")(
      r.violations.write.mode("overwrite").parquet(sinkDir.resolve(s"partition_id=$p").toString))
    val driftCheck = ResumableRunner.DriftCheck(Baseline,
      df => tr.span("transcript.resume.drift")(histogramsOf(df)), Seq("role", "text"),
      pd => { drifts.add(pd); () })
    val runner = new ResumableRunner(source, manifest, validator, Some(keys), Some(sink),
      maxConcurrent, Some(driftCheck))
    val t0 = System.nanoTime()
    val summary = tr.span("transcript.resume.run")(runner.run())
    val wall = (System.nanoTime() - t0) / 1e9
    tr.count("transcript.resume.partitions_validated", summary.validated.size.toDouble)
    tr.count("transcript.resume.partitions_skipped", summary.skipped.size.toDouble)
    tr.count("transcript.resume.manifest_bytes", Files.size(manifestPath).toDouble)
    tr.count("transcript.resume.concurrency", summary.validated.map(_.wallMs).sum / 1e3 / wall)
    tr.count("transcript.violation_rows", summary.totalViolations.toDouble)
    Observed(Map(
      "validated partitions" -> summary.validated.map(_.partitionId).toSet,
      "skipped partitions" -> summary.skipped.toSet,
      "partition rows" -> summary.validated.map(e => e.partitionId.toString -> e.rowsScanned).toMap,
      "partition violations" -> summary.validated.map(e => e.partitionId.toString -> e.violations).toMap,
      "drift-checked partitions" -> drifts.asScala.map(d => d.partitionId -> d.verdicts.size).toMap,
      "sink partitions" -> summary.validated.map(_.partitionId)
        .filter(p => Files.isDirectory(sinkDir.resolve(s"partition_id=$p"))).toSet))
  }

  def check(index: Int, o: Observed, ref: Inputs.Prepared): Seq[String] = {
    val expected = rewritten(index).toSet
    val mine = (m: Map[String, Long]) => m.filter(x => expected(x._1.toInt))
    compare(o, Map(
      "validated partitions" -> expected,
      "skipped partitions" -> (allParts.toSet -- expected),
      "partition rows" -> mine(ref.longMap("partition_rows")),
      "partition violations" -> mine(ref.longMap("partition_violations")),
      "drift-checked partitions" -> expected.map(_ -> 2).toMap,
      "sink partitions" -> expected))
  }

  override def inputRows(index: Int, ref: Inputs.Prepared): Long =
    rewritten(index).map(p => ref.longMap("partition_rows")(p.toString)).sum

  override def close(): Unit = Inputs.deleteTree(workDir)
}
