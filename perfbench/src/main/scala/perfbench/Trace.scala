package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call from the benchmark into a layer, or one Spark job attributed
  * to the call that launched it. Times are `System.nanoTime` based. */
final case class Span(id: Long, parent: Long, op: Int, name: String, start: Long, end: Long) {
  /** `transcript.resume.commit` belongs to layer `transcript.resume`. */
  def layer: String = if (name == Tracer.OpSpan) "bench" else name.substring(0, name.lastIndexOf('.'))
}

/** Spans around the benchmark's calls into the engine. The untraced runs
  * use [[Tracer.Off]], whose spans cost one by-name call. */
trait Tracer {
  def span[T](name: String)(body: => T): T
  def op[T](index: Int)(body: => T): T
  /** Adds `v` to a per-operation counter (rows, bytes, partitions). */
  def count(key: String, v: Double): Unit
}

object Tracer {
  val OpSpan = "op"
  val JobSpan = "spark.job"
  /** Spark local property carrying the id of the span that submits a job. */
  val SpanProperty = "perfbench.span"

  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
    def op[T](index: Int)(body: => T): T = body
    def count(key: String, v: Double): Unit = ()
  }
}

/** Per-operation figures derived from the spans and listener events. */
final case class OpLedger(
    op: Int,
    wallS: Double,
    selfS: Map[String, Double],
    counts: Map[String, Double],
    clippedS: Double) {
  def attributedS: Double = selfS.values.sum
}

/** Records spans in memory and Spark listener events, and turns them into
  * per-operation ledgers when the run ends. Spans nest per thread; threads
  * started inside a span (the resumable runner's partition pool) inherit
  * the span stack and the Spark local properties of their creator. */
final class SpanTracer(spark: SparkSession, nproc: Int) extends Tracer {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val stack = new InheritableThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val curOp = new InheritableThreadLocal[Int] { override def initialValue(): Int = 0 }
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanOp = new ConcurrentHashMap[Long, Int]()
  private val counters = new ConcurrentHashMap[(Int, String), Double]()
  private val opWindows = new ConcurrentHashMap[Int, (Long, Long)]()
  private val codegen = new ConcurrentHashMap[Int, (Long, Double)]()
  // epoch-ms (listener events) to nanoTime
  private val msToNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(ms: Long): Long = ms * 1000000L + msToNs

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val prevProp = sc.getLocalProperty(Tracer.SpanProperty)
    spanOp.put(id, curOp.get())
    stack.set(id :: outer)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, outer.headOption.getOrElse(0L), curOp.get(), name, t0, System.nanoTime()))
      stack.set(outer)
      sc.setLocalProperty(Tracer.SpanProperty, prevProp)
    }
  }

  def op[T](index: Int)(body: => T): T = {
    curOp.set(index)
    val (n0, s0) = codegenTotals()
    val t0 = System.nanoTime()
    try span(Tracer.OpSpan)(body)
    finally {
      opWindows.put(index, (t0, System.nanoTime()))
      val (n1, s1) = codegenTotals()
      codegen.put(index, (n1 - n0, s1 - s0))
      curOp.set(0)
    }
  }

  def count(key: String, v: Double): Unit = counters.merge((curOp.get(), key), v, (a: Double, b: Double) => a + b)

  /** Janino compilations so far and their summed milliseconds. The
    * histogram's reservoir keeps every sample until it holds 1028, so the
    * sum is exact below that; `codegenExact` says whether it still is. */
  private def codegenTotals(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }
  def codegenExact: Boolean = CodegenMetrics.METRIC_COMPILATION_TIME.getCount < 1028

  // ---- listener state --------------------------------------------------
  private final class JobRec(val id: Int, val span: Long, val start: Long) {
    @volatile var end: Long = -1L
  }
  private final class StageAcc {
    var span = 0L; var submitted = -1L; var completed = -1L; var done = false
    var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var deserMs = 0L
    var bytesRead = 0L; var recordsRead = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakMem = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageAcc = new ConcurrentHashMap[Int, StageAcc]()
  private val qes = new ConcurrentLinkedQueue[SpanTracer.QeRec]()

  private def acc(stage: Int): StageAcc = stageAcc.computeIfAbsent(stage, _ => new StageAcc)

  private val listener = new SparkListener {
    private def spanOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProperty))).map(_.toLong).getOrElse(0L)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, new JobRec(e.jobId, spanOf(e.properties), ns(e.time)))
    // a stage belongs to the span that submitted it (a stage listed by a
    // later job but skipped there is not counted again)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val a = acc(e.stageInfo.stageId)
      a.synchronized { a.span = spanOf(e.properties) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = ns(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = acc(e.stageInfo.stageId)
      a.synchronized {
        a.done = true
        a.submitted = e.stageInfo.submissionTime.map(ns).getOrElse(-1L)
        a.completed = e.stageInfo.completionTime.map(ns).getOrElse(-1L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc(e.stageId)
      a.synchronized {
        a.tasks += 1
        if (e.reason != Success) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime; a.deserMs += m.executorDeserializeTime
          a.bytesRead += m.inputMetrics.bytesRead; a.recordsRead += m.inputMetrics.recordsRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) qes.add(SpanTracer.QeRec(
        ns(phases.map(_.endTimeMs).max),
        phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3,
        SpanTracer.shuffles(qe.executedPlan)))
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Waits until the listener bus is empty; false if it did not drain, in
    * which case no count from this run is exact. */
  def drain(): Boolean = org.apache.spark.perfbench.ListenerDrain(sc, 60000L)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** All spans recorded so far, with each Spark job as a child span of the
    * span whose id it carried. */
  def allSpans: Seq[Span] = {
    val bench = spans.asScala.toSeq
    val jobSpans = jobs.values.asScala.toSeq.filter(_.end >= 0).map { j =>
      Span(-j.id - 1L, j.span, spanOp.getOrDefault(j.span, 0), Tracer.JobSpan, j.start, j.end)
    }
    (bench ++ jobSpans).sortBy(s => (s.start, s.id))
  }

  /** The ledger of operation `index`: wall-clock self time per span name,
    * where each instant of the operation is split evenly among the spans
    * that are open then and have no open child (so concurrent partitions
    * share the wall instead of double-counting it), plus Spark counters of
    * the jobs the operation launched. */
  def ledger(index: Int, inputRows: Double): OpLedger = {
    val (w0, w1) = opWindows.get(index)
    val all = allSpans.filter(_.op == index)
    val byId = all.map(s => s.id -> s).toMap
    // clip every span into its parent's (clipped) interval so the tree nests
    val clipped = mutable.Map[Long, (Long, Long)]()
    var clippedNs = 0L
    def interval(s: Span): (Long, Long) = clipped.get(s.id) match {
      case Some(x) => x
      case None =>
        val (p0, p1) = byId.get(s.parent).map(interval).getOrElse((w0, w1))
        val a = math.max(s.start, p0); val b = math.max(a, math.min(s.end, p1))
        clippedNs += (s.end - s.start) - (b - a)
        clipped(s.id) = (a, b)
        (a, b)
    }
    val iv = all.map(s => s -> interval(s))
    val childrenOf = all.groupBy(_.parent)
    val cuts = (iv.flatMap { case (_, (a, b)) => Seq(a, b) } ++ Seq(w0, w1)).distinct.sorted.toArray
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    for (k <- 0 until cuts.length - 1) {
      val (a, b) = (cuts(k), cuts(k + 1))
      val open = iv.filter { case (_, (s0, s1)) => s0 <= a && s1 >= b && s1 > s0 }.map(_._1)
      val openIds = open.map(_.id).toSet
      val exposed = open.filterNot(s => childrenOf.getOrElse(s.id, Nil).exists(c => openIds(c.id)))
      if (exposed.nonEmpty) {
        val share = (b - a) / 1e9 / exposed.size
        exposed.foreach(s => self(s.name) += share)
      } else self("bench.unspanned") += (b - a) / 1e9
    }
    val wall = (w1 - w0) / 1e9
    // Spark counters of this operation's jobs
    val opJobs = jobs.values.asScala.filter(j => spanOp.getOrDefault(j.span, 0) == index).toSeq
    val stages = stageAcc.values.asScala.toSeq
      .filter(a => a.synchronized(spanOp.getOrDefault(a.span, 0) == index))
    def sumL(f: StageAcc => Long): Double = stages.map(a => a.synchronized(f(a))).sum.toDouble
    val ranStages = stages.filter(_.done)
    val stageIv = ranStages.filter(a => a.submitted >= 0 && a.completed >= a.submitted)
      .map(a => (math.max(a.submitted, w0), math.min(a.completed, w1))).filter(x => x._2 > x._1)
    val runS = sumL(_.runMs) / 1e3
    val opQes = qes.asScala.filter(q => q.endNs >= w0 && q.endNs <= w1).toSeq
    val (cgN, cgMs) = codegen.get(index)
    val validateBuild = all.filter(_.name == "validate.build").map(_.id).toSet
    val extra = counters.asScala.collect { case ((o, k), v) if o == index => k -> v }.toMap
    val counts = Map(
      "spark.jobs" -> opJobs.size.toDouble,
      "spark.stages" -> ranStages.size.toDouble,
      "spark.tasks" -> sumL(_.tasks),
      "spark.failed_tasks" -> sumL(_.failedTasks),
      "spark.exchanges" -> opQes.map(_.exchanges).sum.toDouble,
      "spark.plan_s" -> opQes.map(_.planS).sum,
      "spark.codegen_classes" -> cgN.toDouble,
      "spark.codegen_s" -> cgMs / 1e3,
      "spark.exec_run_s" -> runS,
      "spark.exec_cpu_s" -> sumL(_.cpuNs) / 1e9,
      "spark.gc_s" -> sumL(_.gcMs) / 1e3,
      "spark.deserialize_s" -> sumL(_.deserMs) / 1e3,
      "spark.scan_bytes" -> sumL(_.bytesRead),
      "spark.scan_rows_per_input_row" ->
        (if (inputRows > 0) sumL(_.recordsRead) / inputRows else 0.0),
      "spark.shuffle_write_bytes" -> sumL(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> sumL(_.shuffleRead),
      "spark.spill_bytes" -> sumL(_.spill),
      "spark.peak_exec_mem_bytes" -> stages.map(a => a.synchronized(a.peakMem)).foldLeft(0L)(math.max).toDouble,
      "spark.core_busy_frac" -> runS / (nproc * wall),
      "spark.driver_gap_s" -> (wall - SpanTracer.unionLength(stageIv) / 1e9),
      "validate.eager_jobs" -> opJobs.count(j => validateBuild(j.span)).toDouble) ++ extra
    OpLedger(index, wall, self.toMap, counts, clippedNs / 1e9)
  }
}

object SpanTracer {
  /** One finished query: when planning ended, planning seconds, exchanges. */
  final case class QeRec(endNs: Long, planS: Double, exchanges: Int)

  /** Distinct shuffle exchanges, descending into AQE query stages; reused
    * exchanges do not count (the rule of the engine's plan-shape tests). */
  def shuffles(p: SparkPlan): Int = {
    val self = p match {
      case _: ReusedExchangeExec => 0
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    self + kids.map(shuffles).sum
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
