package graft.transcript

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.TableSource

/** Resumable partition-wise validation (north rule): iterates the source's
  * partitions, skips any recorded in the manifest under the same
  * (snapshot-id, constraint-set hash) lineage, validates the rest, and
  * commits a manifest entry per completed partition — so a killed and
  * restarted run does no repeated work.
  *
  * '''Partitioning contract''': conversations must not span source
  * partitions (partition by a conversation-derived key — conv hash, or a
  * bucketing that closes conversations before the partition seals, e.g.
  * day-of-conversation-END). Per-partition sequence/duplicate checks are
  * only complete within one partition: a conversation split across two
  * partitions would see false gap verdicts on the later slice and miss
  * cross-partition duplicates. The same contract is what makes the
  * incremental skip sound — Iceberg-style engines impose it identically
  * for partition-local maintenance. [[graft.gen.TranscriptGen]] and the
  * CLI's hive layout both partition by conversation hash.
  *
  * @param sink optional callback receiving each validated partition's
  *   violations (e.g. parquet writer); runs before the manifest commit so a
  *   crash between the two re-validates (at-least-once, idempotent by
  *   overwrite). Under `maxConcurrent > 1` the sink is invoked from
  *   multiple threads (distinct partitions) — it must be thread-safe or
  *   write to per-partition destinations (a hive-partitioned parquet
  *   writer is).
  * @param driftCheck optional per-partition distribution-drift leg: for
  *   each VALIDATED partition, `histograms` aggregates the partition's
  *   binned histograms and each is PSI/KS-compared against the baseline
  *   snapshot; verdicts go to `onVerdicts`. PSI/KS normalize by mass, so a
  *   partition's distribution compares against a table-level baseline
  *   directly — this localizes "the corpus drifted" to WHICH partitions
  *   drifted, riding the same checkpointed loop (skipped partitions are
  *   not re-checked, same as their validation). Costs one extra
  *   aggregation scan per validated partition.
  * @param maxConcurrent partitions validated simultaneously. Spark accepts
  *   job submission from multiple driver threads, so in-flight partitions
  *   overlap their scan/shuffle stages — on a large cluster a single
  *   sequential partition job leaves most executors idle between stages
  *   (consider `spark.scheduler.mode=FAIR` so partitions share fairly).
  *   Manifest commits stay per-partition and atomic (CheckpointManifest is
  *   synchronized), so kill-and-resume semantics are unchanged; completed
  *   partitions are skipped on restart regardless of completion order.
  *   Per-partition `wallMs` includes cluster contention from its cohort.
  */
class ResumableRunner(
    source: TableSource,
    manifest: CheckpointManifest,
    validator: TranscriptValidator,
    convKeys: Option[DataFrame] = None,
    sink: Option[(Int, TranscriptReport) => Unit] = None,
    maxConcurrent: Int = 1,
    driftCheck: Option[ResumableRunner.DriftCheck] = None,
    partitionTimeoutMs: Long = ResumableRunner.DefaultPartitionTimeoutMs) {

  require(maxConcurrent >= 1, s"maxConcurrent must be >= 1, got $maxConcurrent")
  require(partitionTimeoutMs >= 0,
    s"partitionTimeoutMs must be >= 0 (0 disables), got $partitionTimeoutMs")

  final case class RunSummary(
      validated: Seq[PartitionEntry],
      skipped: Seq[Int],
      totalRows: Long,
      totalViolations: Long)

  def constraintHash: String = CheckpointManifest.constraintHash(
    Constraints.all.filterNot(_ == Constraints.OrphanConv) ++
      convKeys.map(_ => Constraints.OrphanConv).toSeq)

  /** Run `f` over `items` with `maxConcurrent`-bounded parallelism,
    * preserving input order. On the first failure the shared `failed` flag
    * makes every still-queued task bail BEFORE touching Spark, the sink,
    * or the manifest — matching sequential crash semantics (nothing new
    * launches after a failure; in-flight tasks finish and their commits
    * remain valid completions). The first failure in input order is
    * rethrown as itself.
    *
    * Every item is a plain task on one daemon pool that is shut down right
    * after submission: queued tasks still run, and no continuation is ever
    * scheduled on the pool afterwards, so nothing can be rejected. The
    * caller waits in heartbeats: each logs which partitions are in flight
    * (a wedged 10^12-row run stays diagnosable), and with
    * `partitionTimeoutMs > 0` a task over its wall-clock budget — e.g. an
    * object store stalling a ranged GET forever — fails the cohort LOUDLY
    * with the wedged partitions named, interrupting the pool.
    * Already-committed manifest entries stay valid; the run resumes past
    * them after diagnosis. */
  private def boundedTraverse[A, B](items: Seq[A], what: A => String)(f: A => B): Seq[B] = {
    import java.util.concurrent._
    // daemon threads: shutdownNow() only INTERRUPTS — a task wedged in
    // interrupt-insensitive native I/O would otherwise keep a non-daemon
    // pool thread alive and block JVM exit after the cohort already
    // failed loudly
    val tf = new ThreadFactory {
      private val n = new atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"resumable-partition-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    }
    val pool = Executors.newFixedThreadPool(maxConcurrent, tf)
    val failed = new atomic.AtomicBoolean(false)
    val inFlight = new ConcurrentHashMap[String, Long]()
    val tasks = try items.map { a =>
      pool.submit(new Callable[B] {
        def call(): B = {
          if (failed.get())
            throw new CancellationException("skipped: another partition in the cohort failed")
          val key = what(a)
          inFlight.put(key, System.nanoTime())
          try f(a)
          catch { case e: Throwable => failed.set(true); throw e }
          finally inFlight.remove(key)
        }
      })
    } finally pool.shutdown()
    val heartbeatMs =
      if (partitionTimeoutMs > 0) math.max(250L, math.min(60000L, partitionTimeoutMs / 4))
      else 60000L
    while (!pool.awaitTermination(heartbeatMs, TimeUnit.MILLISECONDS)) {
      val now = System.nanoTime()
      import scala.jdk.CollectionConverters._
      val running = inFlight.asScala.toSeq
        .map { case (k, t0) => k -> ((now - t0) / 1000000L) }
        .sortBy(-_._2)
      if (partitionTimeoutMs > 0) {
        val wedged = running.filter(_._2 > partitionTimeoutMs)
        if (wedged.nonEmpty) {
          failed.set(true)
          pool.shutdownNow() // interrupt the wedged tasks
          throw new TimeoutException(
            s"cohort failed: ${wedged.size} partition task(s) exceeded the " +
              s"$partitionTimeoutMs ms budget: " +
              wedged.map { case (k, ms) => s"$k (${ms} ms)" }.mkString(", ") +
              " — completed partitions remain committed in the manifest; " +
              "resume skips them after the wedged partition is diagnosed")
        }
      }
      if (running.nonEmpty) System.err.println(
        s"[resumable] heartbeat: ${running.size} in flight — " +
          running.take(8).map { case (k, ms) => s"$k ${ms}ms" }.mkString(", "))
    }
    tasks.map { t =>
      try t.get()
      catch { case e: ExecutionException => throw e.getCause }
    }
  }

  def run(): RunSummary = {
    val cHash = constraintHash
    // lineage is checked at the PARTITION grain: an append or rewrite of
    // one partition must not force re-validation of every other; the skip
    // predicate lives in the manifest (isComplete) so it can't drift from
    // what record() wrote. Snapshots are computed here, before any scan,
    // and validateOne re-reads each one before its commit: a partition
    // that changed in between (data landing, a directory deleted) fails
    // instead of committing under a listing it no longer has (one more
    // listing and edge-block read per partition). The snapshot phase
    // shares the concurrency bound: against an object store it is two
    // ranged GETs per file, and a serial prelude over thousands of
    // partitions would idle the cluster before any validation begins.
    val snaps = boundedTraverse(source.partitionIds(), (p: Int) => s"snapshot p=$p")(
      p => p -> source.partitionSnapshotId(p))
    val (skipped, todo) = snaps.partition { case (p, snap) =>
      manifest.isComplete(p, snap, cHash)
    }
    val skip = skipped.map(_._1)
    def validateOne(p: Int, snap: String): PartitionEntry = try {
      val t0 = System.nanoTime()
      val report = validator.validate(source.readPartition(p), convKeys)
      // release this partition's persisted seq/violations on every exit, a
      // failed sink or drift leg included: leaked caches would crowd out
      // executor storage over thousands of partitions or a long session
      try {
        // one action materializes the partition verdict (rows + violations)
        val verdict = report.partitionVerdicts
          .agg(sum(col("rows_scanned")), sum(col("violations"))).collect()(0)
        sink.foreach(_(p, report))
        // per-partition drift BEFORE the manifest commit: like the sink, a
        // crash mid-drift re-validates (and re-checks) the partition. The
        // partition df is persisted across the histogram aggregations so N
        // metrics cost ONE extra partition scan, not N.
        driftCheck.foreach { dc =>
          // persist ONLY the projected drift columns: caching the full-width
          // partition (large text payloads and all) would defeat parquet
          // column pruning and pressure the same executor storage the
          // validator's own caches use — N concurrent partitions would pin
          // N full partitions
          val pdf = source.readPartition(p).select(dc.columns.map(col): _*)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val hs = dc.histograms(pdf)
            val c = Drift.compare(dc.baseline, hs)
            dc.onVerdicts(ResumableRunner.PartitionDrift(
              p, c.verdicts, c.producedNotInBaseline, c.baselineNotProduced, hs))
          } finally { pdf.unpersist(); () }
        }
        val entry = PartitionEntry(
          partitionId = p, snapshotId = snap, constraintHash = cHash,
          rowsScanned = if (verdict.isNullAt(0)) 0L else verdict.getLong(0),
          violations = if (verdict.isNullAt(1)) 0L else verdict.getLong(1),
          wallMs = (System.nanoTime() - t0) / 1000000L)
        if (source.partitionSnapshotId(p) != snap)
          throw new IllegalStateException("partition changed during validation")
        manifest.record(entry)
        entry
      } finally report.cleanup()
    } catch {
      // name the partition: a source fault (a truncated file, a vanished
      // object) otherwise surfaces as a bare Spark task failure
      case scala.util.control.NonFatal(e) =>
        throw new RuntimeException(s"validate p=$p failed: ${e.getMessage}", e)
    }
    val validated = boundedTraverse(todo, (e: (Int, String)) => s"validate p=${e._1}") {
      case (p, snap) => validateOne(p, snap)
    }
    RunSummary(validated, skip,
      validated.map(_.rowsScanned).sum, validated.map(_.violations).sum)
  }
}

object ResumableRunner {

  /** Default per-partition wall-clock budget: generous (6 h) so healthy
    * giant partitions never trip it, while a ranged GET an object store
    * stalls FOREVER still fails loudly instead of wedging the run. 0
    * disables the budget; the wait then only logs heartbeats. */
  val DefaultPartitionTimeoutMs: Long = 6L * 3600 * 1000

  /** One validated partition's [[Drift.compare]] result and its raw
    * histograms (additive across partitions: callers can sum them into a
    * table-level histogram without a separate full-table scan). */
  final case class PartitionDrift(
      partitionId: Int,
      verdicts: Seq[Drift.DriftVerdict],
      producedNotInBaseline: Seq[String],
      baselineNotProduced: Seq[String],
      histograms: Map[String, Drift.Histogram])

  /** Per-partition drift configuration.
    * @param baseline table-level baseline snapshot (PSI/KS normalize by
    *   mass, so partition-vs-table comparison is well-defined)
    * @param histograms aggregates a partition's binned histograms (e.g.
    *   role frequencies via [[StatsProfiler.categoricalHistogram]],
    *   text-length bins via [[StatsProfiler.numericHistogram]]); the df it
    *   receives is the partition PROJECTED to `columns` and persisted for
    *   the call, so N metrics = one extra pruned scan
    * @param columns the source columns `histograms` reads — the projection
    *   that gets persisted (never the full-width partition)
    * @param onVerdicts receives each validated partition's
    *   [[PartitionDrift]]. Called from worker threads under
    *   `maxConcurrent > 1` — must be thread-safe. */
  final case class DriftCheck(
      baseline: Map[String, Drift.Histogram],
      histograms: DataFrame => Map[String, Drift.Histogram],
      columns: Seq[String],
      onVerdicts: PartitionDrift => Unit)
}
