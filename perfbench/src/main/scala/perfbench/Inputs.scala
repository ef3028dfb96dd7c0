package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.gen.TranscriptGen
import graft.gen.TranscriptGen.GenConfig
import graft.io.ParquetPartitionedSource

/** Seeded inputs, their descriptors, and the expected outputs computed with
  * plain DataFrame code (no graft validator is called here).
  *
  * Every run generates its input afresh (untimed, before any operation), so
  * every measured JVM is in the same state when its first operation starts.
  * The descriptor and reference are cached, keyed by input kind, seed,
  * size, `TranscriptGen.GenVersion`, a digest of the generation plan and
  * [[Inputs.RefVersion]], and are computed after the operations on a miss. */
object Inputs {
  /** Bump when the reference code or the kye-table derivation changes. */
  val RefVersion = 1
  val Roles: Seq[String] = Seq("system", "user", "assistant", "tool")
  val KyeModelName = "Turn"
  /** The model of `kye_model` (and its CLI runs): every Validator stage that a
    * single-index model runs does work on it (S3 casts `tokens`, S4
    * evaluates both assertions, S6 finds missing and multiple values). */
  val KyeModel: String =
    """Turn(conv_id, turn_idx) {
      |  conv_id: String
      |  turn_idx: Number
      |  role!: String
      |  text: String
      |  tokens: Number
      |  assert role == "system" | role == "user" | role == "assistant" | role == "tool"
      |  assert text != ""
      |}
      |""".stripMargin

  val mapper = new ObjectMapper()

  /** A generated input: its directory and cache key. */
  final case class Generated(dir: Path, kind: String, key: String)

  /** Descriptor and reference of a generated input. */
  final case class Prepared(dir: Path, meta: JsonNode) {
    def ref: JsonNode = meta.get("reference")
    def longMap(field: String): Map[String, Long] =
      ref.get(field).fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    def rows: Long = meta.get("input").get("rows").asLong()
  }

  /** Per-kind error rates of `graft.ScalingBench` (about 1e-3). */
  def transcriptConfig(numConvs: Long, seed: Long, partitions: Int): GenConfig = GenConfig(
    numConvs = numConvs, seed = seed, numPartitions = partitions,
    dupRate = 1e-3, gapRate = 1e-3, nullRoleRate = 5e-4, badRoleRate = 5e-4,
    negTurnRate = 2e-4, nullTextRate = 5e-4, tsRegressRate = 5e-4, orphanConvRate = 2e-4)

  /** Transcript-shaped table for the kye model, error rates near 1e-2:
    * null and unknown roles, null and empty texts, and duplicated
    * (conv_id, turn_idx) keys whose copy carries a different `tokens`. */
  def kyeTable(spark: SparkSession, numConvs: Long, seed: Long): DataFrame = {
    val t = TranscriptGen.transcripts(spark, GenConfig(numConvs = numConvs, seed = seed,
      numPartitions = 8, nullRoleRate = 3e-3, badRoleRate = 4e-3, nullTextRate = 2e-3))
    def u(salt: String): Column =
      pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(s"$salt-$seed")), lit(1000000L))
        .cast("double") / 1e6
    val base = t.select(col("conv_id"), col("turn_idx"), col("role"),
      when(col("text").isNotNull && u("empty-text") < 3e-3, lit("")).otherwise(col("text")).as("text"),
      pmod(xxhash64(col("conv_id"), col("turn_idx"), lit("tok")), lit(2000L)).as("tok"))
    val dups = base.filter(u("kdup") < 5e-3).withColumn("tok", col("tok") + 1)
    base.union(dups).select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
      col("tok").cast("string").as("tokens"))
  }

  // ---- generation and the reference cache ---------------------------------

  /** Writes input `kind` for `seed` under `dir`. */
  def generate(spark: SparkSession, dir: Path, kind: String, seed: Long): Generated = {
    deleteTree(dir)
    Files.createDirectories(dir)
    val table = dir.resolve("table").toString
    val (size, plan) = kind match {
      case "suite" =>
        val cfg0 = transcriptConfig(0L, seed, SuitePartitions)
        val cfg = cfg0.copy(numConvs = convsForRows(spark, cfg0, SuiteRows))
        val gen = TranscriptGen.transcripts(spark, cfg)
        ParquetPartitionedSource.write(gen, table)
        TranscriptGen.conversations(spark, cfg).select("conv_id")
          .write.mode("overwrite").parquet(dir.resolve("conv_keys").toString)
        (s"convs=${cfg.numConvs} parts=${cfg.numPartitions} max_len=${cfg.maxLen}", gen)
      case "kye" =>
        val numConvs = convsForRows(spark, GenConfig(numConvs = 0L, seed = seed, numPartitions = 8), KyeRows)
        val gen = kyeTable(spark, numConvs, seed)
        gen.repartition(KyeFiles).write.mode("overwrite").parquet(table)
        Files.writeString(dir.resolve("model.kye"), KyeModel)
        (s"convs=$numConvs files=$KyeFiles", gen)
    }
    val planDigest = graft.io.Digests.sha8(plan.queryExecution.analyzed.canonicalized.toString)
    Generated(dir, kind, s"$kind seed=$seed $size gen=v${TranscriptGen.GenVersion}-$planDigest ref=v$RefVersion")
  }

  /** The descriptor and reference of `g`, from the cache or computed now. */
  def reference(spark: SparkSession, g: Generated, cacheRoot: Path): (Prepared, Boolean) = {
    val file = cacheRoot.resolve(s"${g.kind}-${graft.io.Digests.sha8(g.key)}.json")
    if (Files.exists(file)) {
      val meta = mapper.readTree(Files.readString(file))
      if (meta.get("key").asText() == g.key) return (Prepared(g.dir, meta), true)
    }
    val table = g.dir.resolve("table").toString
    val (input, ref) = g.kind match {
      case "kye" =>
        val df = spark.read.parquet(table)
        describe(df, g.dir, kyeReference(df), "per_err")
      case _ =>
        val df = spark.read.option("basePath", table).parquet(table)
        describe(df, g.dir, transcriptReference(df, spark.read.parquet(g.dir.resolve("conv_keys").toString)),
          "per_constraint")
    }
    Files.createDirectories(cacheRoot)
    val tmp = cacheRoot.resolve(file.getFileName.toString + ".tmp")
    Files.writeString(tmp, Json.write(Map("key" -> g.key, "input" -> input, "reference" -> ref)))
    Files.move(tmp, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    (Prepared(g.dir, mapper.readTree(Files.readString(file))), false)
  }

  private def describe(df: DataFrame, dir: Path, ref: Map[String, Any], kinds: String) = {
    val sh = shape(df)
    val n = sh("rows").asInstanceOf[Long].toDouble
    val share = ref(kinds).asInstanceOf[Map[String, Long]].map { case (k, v) => k -> v / n }
    (sh ++ parquetLayout(dir.resolve("table")) + ("violation_share" -> share), ref)
  }

  /** Smallest conversation count whose generated turns reach `targetRows`:
    * conversation lengths depend only on (seed, conversation id), so every
    * seed yields about the same row count while keeping the Zipf lengths. */
  def convsForRows(spark: SparkSession, cfg: GenConfig, targetRows: Long): Long = {
    val lens = TranscriptGen.conversations(spark, cfg.copy(numConvs = targetRows / 2))
      .select("conv_len").collect().map(_.getInt(0).toLong)
    val n = lens.scanLeft(0L)(_ + _).indexWhere(_ >= targetRows)
    if (n < 0) lens.length.toLong else n.toLong
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Parquet bytes, file count and hive partition count under `dir`. */
  def parquetLayout(dir: Path): Map[String, Any] = {
    val s = Files.walk(dir)
    val files = try s.iterator().asScala.filter(f => f.toString.endsWith(".parquet")).toSeq finally s.close()
    Map(
      "parquet_bytes" -> files.map(Files.size).sum,
      "parquet_files" -> files.size,
      "partitions" -> files.map(_.getParent.getFileName.toString)
        .filter(_.startsWith("partition_id=")).distinct.size)
  }

  /** Conversation-length profile of a table with a conv_id column. */
  def shape(df: DataFrame): Map[String, Any] = {
    val lens = df.filter(col("conv_id").isNotNull).groupBy("conv_id").count()
      .select(col("count")).collect().map(_.getLong(0)).sorted
    val rows = df.count()
    def pct(q: Double): Long = lens(math.min(lens.length - 1, math.floor(q * lens.length).toInt))
    val top = math.max(1, math.ceil(lens.length * 0.01).toInt)
    Map(
      "rows" -> rows,
      "conversations" -> lens.length,
      "conv_len_p50" -> pct(0.5),
      "conv_len_p99" -> pct(0.99),
      "conv_len_max" -> lens.last,
      "top1pct_conv_turn_share" -> lens.takeRight(top).sum.toDouble / rows)
  }

  // ---- references (plain DataFrame code) ----------------------------------

  /** Expected transcript-suite outputs: violation counts per constraint and
    * per partition, rows per partition, and conversation verdict counts. */
  def transcriptReference(df: DataFrame, keys: DataFrame): Map[String, Any] = {
    val rowKinds: Seq[(String, Column)] = Seq(
      "null_conv_id" -> col("conv_id").isNull,
      "null_turn_idx" -> col("turn_idx").isNull,
      "neg_turn_idx" -> (col("turn_idx").isNotNull && col("turn_idx") < 0),
      "null_role" -> col("role").isNull,
      "role_enum" -> (col("role").isNotNull && !col("role").isin(Roles: _*)),
      "null_text" -> col("text").isNull,
      "null_ts" -> col("ts").isNull,
      "tool_role" -> (col("tool").isNotNull && (col("role").isNull || col("role") =!= "tool")))
    val profileCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
    def countIf(p: Column) = sum(when(p, 1L).otherwise(0L))
    val perPart = df.groupBy(col("partition_id")).agg(count(lit(1)).as("rows"),
      rowKinds.map { case (k, p) => countIf(p).as(k) } ++
        profileCols.map(c => countIf(col(c).isNull).as(s"null_$c")): _*).collect()
    require(perPart.forall(r => r.getAs[Long]("null_ts") == 0),
      "reference assumes non-null ts (the generator never nulls it)")

    val turns = df.filter(col("conv_id").isNotNull && col("turn_idx").isNotNull)
      .groupBy("conv_id", "turn_idx")
      .agg(count(lit(1)).as("n"), min("ts").as("mn"), max("ts").as("mx"), min("partition_id").as("pid"))
      .cache()
    val convs = turns.groupBy("conv_id").agg(min("turn_idx").as("min_t"), min("pid").as("pid"))
    val dup = turns.filter(col("n") > 1)
    // a turn is a gap unless turn-1 exists, or it is the conversation's
    // first turn and not above 0
    val hasPred = turns.select(col("conv_id"), (col("turn_idx") + 1).as("turn_idx"))
    val gap = turns.join(hasPred, Seq("conv_id", "turn_idx"), "left_anti")
      .join(convs.select("conv_id", "min_t"), "conv_id")
      .filter(!(col("turn_idx") === col("min_t") && col("turn_idx") <= 0))
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val ts = turns.withColumn("prev_mx", lag("mx", 1).over(w))
      .filter(col("prev_mx").isNotNull && col("mn") < col("prev_mx"))
    val orphan = convs.join(keys.select("conv_id"), Seq("conv_id"), "left_anti")
    val keyed = Seq("dup_key" -> dup, "seq_gap" -> gap, "ts_monotone" -> ts, "orphan_conv" -> orphan)
      .map { case (k, v) => v.select(lit(k).as("kind"), col("conv_id"), col("pid")) }.reduce(_ union _)
    val keyedCounts: Seq[(String, Int, Long)] = keyed.groupBy("kind", "pid").count().collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    val failingConvs = keyed.filter(col("kind") =!= "orphan_conv").select("conv_id")
      .union(convs.filter(col("min_t") < 0).select("conv_id")).distinct().count()
    val nConvs = convs.count()
    turns.unpersist()

    // drift inputs: role counts and 20-char text-length bins 0..19
    def hist(c: Column): Map[String, Long] = df.groupBy(c.as("bin")).count().collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>") -> r.getLong(1)).toMap
    val lenBin = when(col("text").isNotNull,
      least(lit(19L), floor(length(col("text")) / 20)).cast("string"))

    val keyedKinds = Seq("dup_key", "seq_gap", "ts_monotone", "orphan_conv")
    val perConstraint = (rowKinds.map { case (k, _) => k -> perPart.map(_.getAs[Long](k)).sum } ++
      keyedKinds.map(k => k -> keyedCounts.filter(_._1 == k).map(_._3).sum)).toMap
    val partVio = perPart.map { r =>
      val p = r.getAs[Int]("partition_id")
      p.toString -> (rowKinds.map { case (k, _) => r.getAs[Long](k) }.sum +
        keyedCounts.filter(_._2 == p).map(_._3).sum)
    }.toMap
    Map(
      "histograms" -> Map("role" -> hist(col("role")), "text_len" -> hist(lenBin)),
      "null_counts" -> profileCols.map(c => c -> perPart.map(_.getAs[Long](s"null_$c")).sum).toMap,
      "per_constraint" -> perConstraint,
      "partition_violations" -> partVio,
      "partition_rows" -> perPart.map(r => r.getAs[Int]("partition_id").toString -> r.getAs[Long]("rows")).toMap,
      "violations" -> perConstraint.values.sum,
      "conversations" -> nConvs,
      "failing_conversations" -> failingConvs)
  }

  /** Expected Validator outputs for [[KyeModel]] on a kye table: violation
    * counts per `err` and per (err, col), and the survivor count. */
  def kyeReference(df: DataFrame): Map[String, Any] = {
    val roleFail = col("role").isNotNull && !col("role").isin(Roles: _*)
    val textFail = col("text").isNotNull && col("text") === ""
    val asserts = df.agg(sum(when(roleFail, 1L).otherwise(0L)), sum(when(textFail, 1L).otherwise(0L)),
      sum(when(col("tokens").isNotNull && col("tokens").cast("double").isNull, 1L).otherwise(0L)))
      .collect()(0)
    require(asserts.getLong(2) == 0, "reference assumes every tokens value casts to a number")
    val passed = df.filter(!roleFail && !textFail).withColumn("tok", col("tokens").cast("double"))
    val valueCols = Seq("role", "text", "tok")
    val groups = passed.groupBy("conv_id", "turn_idx").agg(count(lit(1)).as("n"),
      valueCols.flatMap(c => Seq(count(col(c)).as(s"c_$c"), countDistinct(col(c)).as(s"d_$c"))): _*)
      .cache()
    val named = Map("role" -> "role", "text" -> "text", "tok" -> "tokens")
    val aggs = valueCols.flatMap { c =>
      Seq(sum(when(col(s"c_$c") === 0, col("n")).otherwise(0L)).as(s"MissingValue|${named(c)}"),
        sum(when(col(s"d_$c") > 1, col("n")).otherwise(0L)).as(s"MultipleValues|${named(c)}"))
    }
    val ok = valueCols.map(c => col(s"c_$c") > 0 && col(s"d_$c") <= 1).reduce(_ && _)
    val g = groups.agg(sum(when(ok, 1L).otherwise(0L)).as("survivors"), aggs: _*).collect()(0)
    groups.unpersist()
    val perCol: Map[String, Long] = (Seq(
      "AssertionFailed|role" -> asserts.getLong(0), "AssertionFailed|text" -> asserts.getLong(1)) ++
      aggs.indices.map(i => g.schema(i + 1).name -> Option(g.get(i + 1)).map(_.asInstanceOf[Long]).getOrElse(0L)))
      .filter(_._2 > 0).toMap
    val perErr = perCol.groupBy(_._1.takeWhile(_ != '|')).map { case (k, v) => k -> v.values.sum }
    Map("per_err_col" -> perCol, "per_err" -> perErr, "violations" -> perCol.values.sum,
      "survivors" -> g.getLong(0))
  }

  // ---- the inputs --------------------------------------------------------

  /** Target input rows. Warm operations stay near three seconds on 4 cores,
    * so a run (fresh JVM, generation, set-up, one cold and four warm
    * operations, reference) takes well under a minute. */
  val SuiteRows = 60000L
  val KyeRows = 60000L
  val SuitePartitions = 8
  val KyeFiles = 8

}

/** Minimal JSON writer for the result and cache files. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case n: JsonNode => n.toString
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
