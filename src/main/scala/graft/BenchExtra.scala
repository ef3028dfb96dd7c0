package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import java.nio.file.{Files, Paths}

/** Diagnostic bench (guide §1): per-query breakdown of where the wall time
  * goes — planning vs execution, job/stage/task counts, scheduler-side
  * stage time — plus `.explain("formatted")` capture for the plan
  * deliverables. NOT the measurement harness (Bench.scala is frozen);
  * numbers here guide optimization and feed OPTIMIZATION_r07.md evidence.
  *
  * Env:
  *   SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     cores (default 4)
  *   SPARK_GRAFT_ONLY     comma-separated query subset
  *   SPARK_GRAFT_PLANDIR  if set, write <q>.txt explain dumps there
  *   SPARK_GRAFT_REPEATS  timed repeats per query (default 1)
  */
object BenchExtra {

  private final class QueryListener extends SparkListener {
    val lock = new Object
    var jobs = 0
    var stages = 0
    var tasks = 0
    var stageTimeMs = 0L
    override def onJobStart(js: SparkListenerJobStart): Unit = lock.synchronized {
      jobs += 1
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = ()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages += 1
      tasks += sc.stageInfo.numTasks
      for (s <- sc.stageInfo.submissionTime; c <- sc.stageInfo.completionTime)
        stageTimeMs += (c - s)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val planDir = sys.env.get("SPARK_GRAFT_PLANDIR")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "1").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same warmup as Bench
    try {
      val ev = spark.read.parquet(s"$sfDir/events.parquet").limit(20000)
      Bench.force(ev.groupBy(col("event_type")).agg(count(lit(1)), min(col("value"))))
      Bench.force(spark.read.parquet(s"$sfDir/documents.parquet").limit(500)
        .select(xxhash64(col("text"))))
    } catch { case _: Throwable => () }
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    println(f"${"query"}%-30s ${"build_s"}%8s ${"exec_s"}%8s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"stageT_s"}%9s")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.forall(_.contains(name))) {
      val l = new QueryListener
      spark.sparkContext.addSparkListener(l)
      try {
        var execMin = Double.MaxValue
        var buildS = 0.0
        for (r <- 1 to repeats) {
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          // force planning (analysis + optimization + physical planning)
          df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          if (r == 1) {
            buildS = (t1 - t0) / 1e9
            val phases = df.queryExecution.tracker.phases
              .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
              .mkString(" ")
            System.err.println(s"[phases] $name $phases")
            if (sys.env.contains("SPARK_GRAFT_RULES"))
              System.err.println(
                org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent()
                  .linesIterator.take(20).mkString("\n"))
            planDir.foreach { d =>
              Files.writeString(Paths.get(d, s"$name.txt"),
                df.queryExecution.explainString(
                  org.apache.spark.sql.execution.FormattedMode))
            }
          }
          Bench.force(df)
          val t2 = System.nanoTime()
          execMin = math.min(execMin, (t2 - t1) / 1e9)
        }
        // listener events are async: wait until the bus delivered them all
        org.apache.spark.graft.GraftListenerBus.drain(spark.sparkContext, 60000L)
        println(f"$name%-30s $buildS%8.3f $execMin%8.3f ${l.jobs}%5d ${l.stages}%7d ${l.tasks}%6d ${l.stageTimeMs / 1e3}%9.2f")
      } catch {
        case e: Throwable =>
          println(s"$name FAILED: ${e.toString.take(200)}")
      } finally {
        spark.sparkContext.removeSparkListener(l)
      }
    }
    spark.stop()
  }
}
