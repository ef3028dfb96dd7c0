package graft.transcript

import graft.SparkSuite
import graft.gen.TranscriptGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Physical-plan regressions: the fused transcript suite must keep its
  * shuffle budget (SURVEY §3 "exactly two shuffle points" for the
  * key/sequence leg) — a silent extra exchange here is a 100-TB problem
  * invisible at test scale. */
class PlanShapeSpec extends SparkSuite {

  /** Count distinct shuffle exchanges, descending into AQE query stages;
    * reused exchanges don't count (that's the point of reuse). */
  private def countShuffles(p: SparkPlan): Int = {
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
    self + kids.map(countShuffles).sum
  }

  private def shuffles(df: DataFrame): Int = countShuffles(df.queryExecution.executedPlan)

  private def hasCodegen(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }.nonEmpty

  private lazy val data =
    TranscriptGen.transcripts(spark, TranscriptGen.GenConfig(numConvs = 100, seed = 1))

  test("row predicates: zero shuffles, single codegen'd scan") {
    val v = new TranscriptValidator().rowViolations(data)
    val n = shuffles(v)
    assert(n == 0, s"expected 0 shuffles, got $n")
    assert(hasCodegen(v), "row predicates must stay in whole-stage codegen")
  }

  private lazy val validator =
    new TranscriptValidator()

  test("all keyed violation kinds (dup/gap/ts) share one 2-exchange plan") {
    val keyV = validator.keySequenceViolations(validator.seqTable(data))
    keyV.count()
    val n = shuffles(keyV)
    assert(n <= 2, s"expected <=2 shuffles (key agg + conv window), got $n:\n" +
      keyV.queryExecution.executedPlan.toString)
  }

  test("conversation rollup reuses the window's conv_id partitioning") {
    val verdicts = validator.convVerdicts(validator.seqTable(data))
    verdicts.count()
    val n = shuffles(verdicts)
    assert(n <= 2, s"expected <=2 shuffles (rollup must not add an exchange), got $n:\n" +
      verdicts.queryExecution.executedPlan.toString)
  }
}
