package graft.transcript

import graft.SparkSuite
import graft.gen.TranscriptGen
import org.apache.spark.sql.functions._

class StatsDriftSpec extends SparkSuite {

  test("typed moments aggregator matches exact values and merges across partitions") {
    import spark.implicits._
    val vals = (1 to 1000).map(_.toDouble)
    val df = spark.sparkContext.parallelize(vals, 7).toDF("x")
    val m = df.agg(StatsProfiler.numericMoments(col("x")).as("m"))
      .select("m.*").collect()(0)
    assert(m.getAs[Long]("n") == 1000L)
    assert(math.abs(m.getAs[Double]("mean") - 500.5) < 1e-9)
    // sample variance of 1..1000 = n(n+1)/12 = 83416.666...
    assert(math.abs(m.getAs[Double]("variance") - 83416.66666666667) < 1e-6)
    assert(m.getAs[Double]("min") == 1.0 && m.getAs[Double]("max") == 1000.0)
  }

  test("one-pass column profile: counts, null rates, min/max, approx distinct") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), Some("a")), (Some(2.0), None), (None, Some("b")), (Some(2.0), Some("b"))
    ).toDF("x", "s")
    val p = StatsProfiler.profile(df, Seq("x", "s")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p("x").getAs[Long]("count") == 3)
    assert(p("x").getAs[Long]("nulls") == 1)
    assert(math.abs(p("x").getAs[Double]("null_rate") - 0.25) < 1e-9)
    assert(p("x").getAs[String]("min") == "1.0" && p("x").getAs[String]("max") == "2.0")
    assert(p("s").getAs[Long]("approx_distinct") == 2)
  }

  test("PSI/KS: identical distributions ~0, drifted generator above threshold") {
    val base = TranscriptGen.transcripts(spark, TranscriptGen.GenConfig(numConvs = 400, seed = 1))
    val same = TranscriptGen.transcripts(spark, TranscriptGen.GenConfig(numConvs = 400, seed = 2))
    val drift = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 400, seed = 3, drifted = true))

    def roleHist(df: org.apache.spark.sql.DataFrame) =
      Drift.collect(StatsProfiler.categoricalHistogram(df, col("role")))
    def lenHist(df: org.apache.spark.sql.DataFrame) =
      Drift.collect(StatsProfiler.numericHistogram(df, length(col("text")), 0, 20, 20))

    val psiSameRole = Drift.psi(roleHist(base), roleHist(same))
    val psiDriftRole = Drift.psi(roleHist(base), roleHist(drift))
    assert(psiSameRole < 0.05, s"same-dist role PSI $psiSameRole")
    assert(psiDriftRole > 0.1, s"drifted role PSI $psiDriftRole")

    val psiDriftLen = Drift.psi(lenHist(base), lenHist(drift))
    assert(psiDriftLen > 0.25, s"drifted text-length PSI $psiDriftLen")
    assert(Drift.ks(lenHist(base), lenHist(drift)) > Drift.ks(lenHist(base), lenHist(same)))
  }

  test("histogram collect: NULL bin merges with a colliding literal label by summing") {
    import spark.implicits._
    // regression: toMap kept only the last entry on a key collision, so a
    // genuine "<null>" string bin next to real NULLs silently shrank the
    // distribution PSI/KS ran against
    val df = Seq(Option("a"), None, Option("<null>"), Option("a"), None)
      .toDF("bin").groupBy("bin").count()
    val h = Drift.collect(df)
    assert(h("a") == 2L)
    assert(h("<null>") == 3L, "NULL bins and the literal label must sum, not overwrite")
    assert(h.values.sum == 5L)
  }

  test("baseline snapshot JSON roundtrip") {
    val snap = Map(
      "role" -> Map("user" -> 10L, "assistant" -> 12L),
      "text_len" -> Map("0" -> 5L, "1" -> 7L))
    val json = Drift.snapshotToJson(snap)
    assert(Drift.snapshotFromJson(json) == snap)
  }

  test("writeSnapshot replaces the file atomically and leaves no temp file") {
    val dir = java.nio.file.Files.createTempDirectory("snap")
    val file = dir.resolve("baseline.json")
    java.nio.file.Files.writeString(file, "{\"trunc") // a crashed earlier write
    val snap = Map("role" -> Map("user" -> 3L), "text_len" -> Map("0" -> 1L, "<null>" -> 2L))
    Drift.writeSnapshot(file.toString, snap)
    assert(Drift.snapshotFromJson(java.nio.file.Files.readString(file)) == snap)
    val left = java.nio.file.Files.list(dir)
    try assert(left.toArray.toSeq == Seq(file), "no .tmp sibling may be left behind")
    finally left.close()
  }

  test("compare: verdicts for shared metrics, one-sided metrics named, all sorted") {
    val h = Map("a" -> 5L, "b" -> 5L)
    val c = Drift.compare(
      baseline = Map("role" -> h, "text_len" -> h, "gone" -> h),
      current = Map("text_len" -> h, "role" -> Map("a" -> 10L), "new2" -> h, "new1" -> h))
    assert(c.verdicts.map(_.name) == Seq("role", "text_len"))
    assert(c.verdicts.map(_.drifted) == Seq(true, false))
    assert(c.verdicts(1) == Drift.verdict("text_len", h, h))
    assert(c.producedNotInBaseline == Seq("new1", "new2"))
    assert(c.baselineNotProduced == Seq("gone"))
  }

  test("legacy 'null' bin label normalizes to '<null>' on snapshot load") {
    // baselines written by pre-_format builds used "null" for the NULL
    // bin; a raw load would PSI-compare as one vanished + one novel bin.
    // Only UNMARKED (legacy) snapshots normalize — a marked snapshot's
    // genuine "null" STRING bin must stay distinct (review finding: the
    // unconditional rename broke snapshotToJson/FromJson round-tripping
    // for data that legitimately contains the string "null")
    val legacy = """{"role": {"user": 10, "null": 3, "<null>": 2}}"""
    val h = Drift.snapshotFromJson(legacy)("role")
    assert(h == Map("user" -> 10L, "<null>" -> 5L),
      "legacy label must normalize AND merge with an existing <null> bin")
    // unmarked without the legacy label: untouched
    assert(Drift.snapshotFromJson("""{"r": {"<null>": 4, "a": 1}}""")("r") ==
      Map("<null>" -> 4L, "a" -> 1L))
    // v2 round-trip with a genuine "null" STRING bin: preserved verbatim
    val v2 = Map("col" -> Map("null" -> 3L, "<null>" -> 2L, "a" -> 1L))
    assert(Drift.snapshotFromJson(Drift.snapshotToJson(v2)) == v2,
      "marked snapshots must round-trip a genuine 'null' string bin")
  }

  test("bin(): NULL/NaN get a NULL bin; far-out values clamp instead of wrapping") {
    import spark.implicits._
    // r4 review regressions: Spark greatest/least SKIP nulls (a NULL input
    // used to land in bin 0, hiding null-rate drift inside bin-0 drift),
    // and clamp-after-int-cast wrapped 2^32+5 into interior bin 5
    val df = Seq[Option[Double]](
      Some(5.0), None, Some(Double.NaN), Some(4294967301.0), Some(-50.0), Some(2147483648.0))
      .toDF("v")
    val bins = df.select(StatsProfiler.bin(col("v"), 0, 1, 20).as("b"))
      .collect().map(r => if (r.isNullAt(0)) null else Integer.valueOf(r.getInt(0)))
    assert(bins(0) == 5)
    assert(bins(1) == null, "NULL input must produce a NULL bin, not bin 0")
    assert(bins(2) == null, "NaN input must produce a NULL bin")
    assert(bins(3) == 19, "2^32+5 must clamp to the overflow bin, not wrap to bin 5")
    assert(bins(4) == 0, "underflow clamps to bin 0")
    assert(bins(5) == 19, "2^31 must clamp, not wrap negative")
    // and the NULL bin flows through to the histogram + collect as <null>
    val h = Drift.collect(StatsProfiler.numericHistogram(df, col("v"), 0, 1, 20))
    assert(h(Drift.NullBin) == 2L, s"NULL+NaN inputs must land in the <null> bin: $h")
  }

  test("moments aggregator excludes-and-counts NaN/Infinity instead of poisoning the profile") {
    import spark.implicits._
    val m = Seq(1.0, 2.0, Double.NaN, 3.0, Double.PositiveInfinity)
      .toDF("v").agg(StatsProfiler.numericMoments(col("v"))).collect()(0).getStruct(0)
    assert(m.getLong(0) == 3, "only finite values enter the moments")
    assert(m.getDouble(1) == 2.0, s"mean over finite values, got ${m.getDouble(1)}")
    assert(m.getDouble(3) == 1.0 && m.getDouble(4) == 3.0, "min/max unpoisoned")
    // excluded mass is SURFACED, not silently dropped — a 99%-Infinity
    // column must not profile as a small clean distribution
    assert(m.getLong(5) == 2, s"NaN + Infinity must be counted: ${m.getLong(5)}")
  }

  test("Drift.collect bounds the driver-side histogram") {
    import spark.implicits._
    val wide = spark.range(200).select(col("id").cast("string").as("bin"), lit(1L).as("n"))
    val e = intercept[IllegalArgumentException](Drift.collect(wide, maxBins = 100))
    assert(e.getMessage.contains("100 bins"))
    assert(Drift.collect(wide, maxBins = 200).size == 200)
  }

  test("ks(): literal 'NaN' bin label sorts deterministically; optional ksThreshold gates") {
    // "NaN".toDouble succeeds -> IEEE NaN keys violate the sort contract
    val a = Map("1" -> 10L, "NaN" -> 5L, "2" -> 10L, "x" -> 1L)
    assert(Drift.ks(a, a) == 0.0) // must not throw / be order-dependent
    // one-directional shift: decisive KS, sub-threshold PSI
    val base = (0 until 20).map(i => i.toString -> 50L).toMap
    val cur = (0 until 20).map(i => i.toString -> (if (i < 10) 40L else 60L)).toMap
    val psiOnly = Drift.verdict("m", base, cur)
    assert(!psiOnly.drifted, s"PSI-only gate stays quiet: $psiOnly")
    val gated = Drift.verdict("m", base, cur, ksThreshold = 0.05)
    assert(gated.drifted && gated.ks > 0.05, s"ksThreshold must gate: $gated")
  }

  test("salted two-phase conv counts equal direct groupBy") {
    val data = TranscriptGen.transcripts(spark,
      TranscriptGen.GenConfig(numConvs = 200, seed = 5))
    val direct = data.groupBy("conv_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = StatsProfiler.saltedConvCounts(data, 16)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == direct)
  }

  test("generator is deterministic and Zipf-skewed") {
    val cfg = TranscriptGen.GenConfig(numConvs = 500, seed = 11)
    val a = TranscriptGen.transcripts(spark, cfg)
    val b = TranscriptGen.transcripts(spark, cfg)
    def h(df: org.apache.spark.sql.DataFrame) = df.agg(
      sum(pmod(xxhash64(col("conv_id"), col("turn_idx"), col("role"), col("text")),
        lit(1000000007L)))).collect()(0).getLong(0)
    val ha = h(a); val hb = h(b)
    assert(ha == hb)
    val lens = TranscriptGen.conversations(spark, cfg)
      .agg(min("conv_len"), max("conv_len"), expr("percentile(conv_len, 0.5)")).collect()(0)
    assert(lens.getInt(1) > 20 * lens.getInt(0), "expected heavy tail")
    assert(lens.getDouble(2) < 10, "median should stay small under Zipf")
  }
}
