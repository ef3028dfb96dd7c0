package graft.transcript

import org.apache.spark.sql.DataFrame

/** Distribution-drift checks (PSI / KS) between a baseline histogram
  * snapshot and the current run's histograms — the drift leg of the north
  * rule. Histograms are tiny (≤ a few hundred bins), so the math runs
  * driver-side on collected maps; the heavy lifting (binned counting) is
  * the distributed groupBy in [[StatsProfiler]].
  */
object Drift {

  type Histogram = Map[String, Long]

  /** Reserved bin label for SQL NULL values — shared by the batch
    * histograms here and the streaming monitor's binning
    * ([[graft.streaming.StreamingValidator.windowedValueCounts]]): the
    * PSI/KS comparison between the two legs depends on identical labels. */
  val NullBin = "<null>"

  /** Collect a (bin, n) DataFrame to a driver-side histogram. NULL bins
    * get the reserved [[NullBin]] label; colliding labels (a genuine
    * "<null>" string bin) MERGE by summing — a plain toMap would keep
    * only the last entry and silently shrink the distribution, corrupting
    * PSI/KS against it.
    *
    * Guarded against the classic misuse the streaming leg caps explicitly
    * (pointing a drift monitor at a high-cardinality column like
    * conv_id): the collect is LIMIT-bounded so an id-like bin column
    * raises an actionable error instead of pulling billions of groups
    * into the driver. */
  def collect(df: DataFrame, maxBins: Int = 100000): Histogram = {
    val rows = df.limit(maxBins + 1).collect().toSeq
    require(rows.length <= maxBins,
      s"histogram exceeds $maxBins bins — this is not a categorical/binned " +
        "column; bin it (StatsProfiler.bin) or declare a category set like " +
        "the streaming leg's bounded-state binning")
    rows
      .map(r => Option(r.get(0)).map(_.toString).getOrElse(NullBin) -> r.getLong(1))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Sum two histograms bin-wise. Histograms over the same binning are
    * additive (fixed-bin groupBy counts), so partition histograms merge
    * into table histograms — a plain `++` would overwrite colliding bins
    * instead of summing, the same label-collision bug [[collect]] guards
    * against. */
  def merge(a: Histogram, b: Histogram): Histogram =
    (a.toSeq ++ b.toSeq).groupMapReduce(_._1)(_._2)(_ + _)

  /** Population Stability Index: sum over bins of (p-q)·ln(p/q), with the
    * standard epsilon floor for empty bins. PSI < 0.1 stable, 0.1-0.25
    * moderate, > 0.25 drifted. */
  def psi(baseline: Histogram, current: Histogram, eps: Double = 1e-6): Double = {
    val bins = (baseline.keySet ++ current.keySet).toSeq
    val bTot = math.max(1L, baseline.values.sum).toDouble
    val cTot = math.max(1L, current.values.sum).toDouble
    bins.map { k =>
      val p = math.max(eps, baseline.getOrElse(k, 0L) / bTot)
      val q = math.max(eps, current.getOrElse(k, 0L) / cTot)
      (q - p) * math.log(q / p)
    }.sum
  }

  /** Kolmogorov–Smirnov statistic over binned counts: max |CDF_b - CDF_c|.
    * Bins are ordered numerically when possible, else lexically. */
  def ks(baseline: Histogram, current: Histogram): Double = {
    // lexical tie-break keeps categorical (non-numeric) bins deterministic
    // across runs — an unordered tie at MaxValue would make KS depend on
    // Map iteration order. A literal "NaN" label PARSES to Double.NaN,
    // whose IEEE comparisons violate the sort contract (TimSort can throw)
    // — route non-finite parses to the categorical fallback explicitly.
    val bins = (baseline.keySet ++ current.keySet).toSeq
      .sortBy(k => (scala.util.Try(k.toDouble).toOption.filterNot(_.isNaN)
        .getOrElse(Double.MaxValue), k))
    val bTot = math.max(1L, baseline.values.sum).toDouble
    val cTot = math.max(1L, current.values.sum).toDouble
    var cb = 0.0; var cc = 0.0; var d = 0.0
    for (k <- bins) {
      cb += baseline.getOrElse(k, 0L) / bTot
      cc += current.getOrElse(k, 0L) / cTot
      d = math.max(d, math.abs(cb - cc))
    }
    d
  }

  final case class DriftVerdict(name: String, psi: Double, ks: Double, drifted: Boolean)

  /** Drift verdict. `drifted` gates on PSI by default — the KS statistic
    * is reported but INFORMATIONAL unless `ksThreshold` is set: a
    * cumulative one-directional shift can carry decisive KS (0.10 at
    * 10^12-row mass) while per-bin PSI stays under 0.25, so callers
    * watching ordered numeric histograms should pass a ksThreshold (0.1
    * is a common choice) to gate on both. */
  def verdict(name: String, baseline: Histogram, current: Histogram,
              psiThreshold: Double = 0.25,
              ksThreshold: Double = Double.PositiveInfinity): DriftVerdict = {
    val p = psi(baseline, current)
    val k = ks(baseline, current)
    DriftVerdict(name, p, k, p > psiThreshold || k > ksThreshold)
  }

  /** [[compare]]'s result; each list is sorted by name. */
  final case class Comparison(verdicts: Seq[DriftVerdict],
                              producedNotInBaseline: Seq[String], baselineNotProduced: Seq[String])

  /** Verdicts for the metrics both sides have, and the metrics only one
    * side has. Asymmetries are SURFACED, never silently intersected: a
    * metric absent from the baseline must not self-compare (psi 0 reads as
    * "no drift"), and a baseline metric the current run does not produce
    * must not vanish. */
  def compare(baseline: Map[String, Histogram], current: Map[String, Histogram]): Comparison =
    Comparison(
      (baseline.keySet intersect current.keySet).toSeq.sorted
        .map(k => verdict(k, baseline(k), current(k))),
      (current.keySet diff baseline.keySet).toSeq.sorted,
      (baseline.keySet diff current.keySet).toSeq.sorted)

  // ---- baseline snapshot codec (JSON) ---------------------------------------

  import com.fasterxml.jackson.databind.ObjectMapper
  import scala.jdk.CollectionConverters._

  /** Format marker written by current builds. Its absence identifies a
    * legacy snapshot whose NULL bin carries the old "null" label; version
    * 2 identifies snapshots whose NUMERIC histograms were produced before
    * `StatsProfiler.bin` routed NULL/NaN to the `<null>` bin (that mass
    * sits in bin "0" and cannot be split out retroactively). */
  private val FormatKey = "_format"
  private val FormatVersion = 3

  /** Serialize named histograms to the checked-in baseline snapshot
    * format. The `_format` marker lets the loader distinguish a genuine
    * "null" STRING bin (kept verbatim in v2 snapshots) from a legacy
    * NULL bin (normalized on load). */
  def snapshotToJson(snapshots: Map[String, Histogram]): String = {
    require(!snapshots.contains(FormatKey),
      s"'$FormatKey' is reserved for the snapshot format marker and cannot name a metric")
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put(FormatKey, FormatVersion)
    for ((name, h) <- snapshots.toSeq.sortBy(_._1)) {
      val node = root.putObject(name)
      for ((k, v) <- h.toSeq.sortBy(_._1)) node.put(k, v)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Write the snapshot atomically through the path's FileSystem: a crash
    * mid-write must not leave truncated JSON that the next `--baseline`
    * run fails on. */
  def writeSnapshot(path: String, snapshots: Map[String, Histogram]): Unit =
    graft.io.TextFile.write(path, snapshotToJson(snapshots),
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  /** Legacy-label compatibility: pre-`_format` builds' `collect` labeled
    * the NULL bin "null"; it is now [[NullBin]]. A legacy baseline would
    * otherwise PSI-compare as one vanished bin plus one novel bin —
    * spurious drift with no warning — so snapshots WITHOUT the format
    * marker normalize "null" to [[NullBin]] on load, MERGING (summing)
    * with any existing "<null>" bin (under the old format a literal
    * "null" string value was already indistinguishable from SQL NULL, so
    * the merge loses nothing that was ever recorded distinctly).
    * Marked v2+ snapshots load verbatim: a genuine "null" STRING bin in
    * current data stays a distinct bin and round-trips exactly. */
  def snapshotFromJson(json: String): Map[String, Histogram] = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(json)
    val legacy = !root.has(FormatKey)
    // v2 numeric histograms binned NULL/NaN into "0" (see FormatVersion);
    // comparing them against v3 histograms reports spurious bin-0 /
    // <null> drift on null-bearing columns. The mass can't be migrated
    // (real zeros and nulls are merged), so WARN — silence here is the
    // exact no-warning spurious-drift class the marker exists to prevent.
    if (root.has(FormatKey) && root.get(FormatKey).asInt() == 2)
      System.err.println("warning: v2 baseline snapshot — numeric histograms " +
        "binned NULL/NaN into bin \"0\" before v3; refresh baselines for " +
        "null-bearing numeric columns (--write-baseline)")
    // drop ONLY the marker itself: a metric legitimately named with a
    // leading underscore must round-trip (reserved-name collisions are
    // rejected at save time instead)
    root.properties().asScala
      .filter(e => e.getKey != FormatKey)
      .map { e =>
        e.getKey -> e.getValue.properties().asScala
          .map { b =>
            val label = if (legacy && b.getKey == "null") NullBin else b.getKey
            label -> b.getValue.asLong()
          }
          .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
      }.toMap
  }
}
