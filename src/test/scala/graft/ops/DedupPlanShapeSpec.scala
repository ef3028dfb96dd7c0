package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Physical-plan regressions for the dedup/similarity scale fixes: the
  * bucket pipelines must never materialize per-bucket id lists
  * (collect_list aggregation buffers are O(bucket) — the round-1
  * scale-killer), the jaccard inverted index must reuse one exchange, and
  * the only cartesian product allowed anywhere is the broadcast top-k scan.
  */
class DedupPlanShapeSpec extends SparkSuite {

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // drive THIS QueryExecution's AQE to its final plan
    df.queryExecution.executedPlan
  }

  private def planTree(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(planTree)
  }

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("bucketed dedup plans carry no collect_list/collect_set buffers") {
    val plans = Seq(
      "exact" -> Dedup.exactDuplicates(docs, "doc_id", "text"),
      "minhash" -> Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.7).df,
      "simhash" -> Dedup.simHashNearDuplicates(docs, "doc_id", "text").df,
      "embedding" -> Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding").df)
    for ((name, df) <- plans) {
      val s = executed(df).toString
      assert(!s.contains("collect_list") && !s.contains("collect_set"),
        s"$name plan materializes per-bucket lists:\n$s")
    }
  }

  test("ngram jaccard reuses one inverted-index exchange (single Generate runs)") {
    val df = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    val tree = planTree(executed(df))
    val reused = tree.count(_.isInstanceOf[ReusedExchangeExec])
    assert(reused >= 2,
      s"expected the shingle exchange to be reused by count + both self-join sides, " +
        s"got $reused ReusedExchange nodes")
  }

  test("no unbounded cartesian products in any near-dup pipeline") {
    val plans = Seq(
      Dedup.minHashNearDuplicates(docs, "doc_id", "text").df,
      Dedup.simHashNearDuplicates(docs, "doc_id", "text").df,
      Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding").df,
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3))
    for (df <- plans) {
      val tree = planTree(executed(df))
      assert(!tree.exists(_.isInstanceOf[CartesianProductExec]),
        "near-dup pipelines must join on bucket keys, never cross-join")
    }
  }

  test("LSH and IVF top-k join on bucket/cell keys, never cross-join") {
    import org.apache.spark.sql.functions._
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val lsh = Similarity.lshTopK(emb, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3)
    val centroids = Similarity.trainCentroids(emb, "vec_id", "embedding", nLists = 8)
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, centroids, nProbe = 2)
    for (df <- Seq(lsh, ivf)) {
      val tree = planTree(executed(df))
      assert(!tree.exists(_.isInstanceOf[CartesianProductExec]),
        "approximate top-k must join on bucket/cell keys")
    }
  }

  test("brute-force top-k broadcasts the query side") {
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
        org.apache.spark.sql.functions.col("embedding").as("qvec"))
    val df = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "query_id", "qvec", 5)
    val s = executed(df).toString
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"queries must broadcast (items stream once):\n$s")
  }
}
