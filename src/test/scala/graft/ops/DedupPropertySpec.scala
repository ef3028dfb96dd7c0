package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Property legs for the hash-dependent dedup operators (round-1 verdict
  * item 1c): the driver gate checks these rows-only, so correctness is
  * pinned here instead — injected-duplicate recall, signature-estimate vs
  * exact Jaccard bounds, and hot-bucket guards.
  */
class DedupPropertySpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** documents with exact copies injected under doc_id + 10M (the driver
    * query's construction). */
  private lazy val docsWithDups = docs.union(
    docs.filter(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)).cache()

  private def exactJaccard(a: String, b: String, k: Int): Double = {
    def shingleSet(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
      if (toks.size >= k) toks.sliding(k).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val (sa, sb) = (shingleSet(a), shingleSet(b))
    (sa intersect sb).size.toDouble / (sa union sb).size
  }

  test("minhash: every injected exact duplicate is recalled with est=1.0") {
    val pairs = Dedup.minHashNearDuplicates(docsWithDups, "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.7).df
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val injected = docs.filter(col("doc_id") % 17 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    assert(injected.nonEmpty)
    injected.foreach { id =>
      val est = pairs.get((id, id + 10000000L))
      assert(est.contains(1.0),
        s"injected dup pair ($id, ${id + 10000000L}) missing or est != 1.0: $est")
    }
  }

  test("minhash: signature estimate tracks exact Jaccard on emitted pairs") {
    val texts = docsWithDups.select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val emitted = Dedup.minHashNearDuplicates(docsWithDups, "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5).df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(emitted.nonEmpty)
    emitted.foreach { case (a, b, est) =>
      val exact = exactJaccard(texts(a), texts(b), 3)
      // 64 hashes -> sigma = sqrt(j(1-j)/64) <= 0.0625; 0.3 is ~5 sigma
      assert(math.abs(est - exact) <= 0.3,
        s"pair ($a,$b): est=$est exact=$exact drifted beyond the 64-hash bound")
    }
  }

  test("simhash: injected exact duplicates recalled at hamming 0") {
    val pairs = Dedup.simHashNearDuplicates(docsWithDups, "doc_id", "text",
        maxHamming = 3).df
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val injected = docs.filter(col("doc_id") % 17 === 0)
      .select("doc_id").collect().map(_.getLong(0))
    injected.foreach { id =>
      assert(pairs.get((id, id + 10000000L)).contains(0),
        s"injected dup pair ($id,...) must be present at hamming 0")
    }
  }

  // ---- hot-bucket guards: a degenerate corpus (all docs identical) must be
  // dropped by the cap, not explode into O(n^2) pairs -----------------------

  private lazy val degenerate =
    (0L until 200L).map(i => (i, "same boilerplate text everywhere here")).toDF("doc_id", "text")

  test("minhash: hot bucket above maxBucketSize emits nothing (guard)") {
    assert(Dedup.minHashNearDuplicates(degenerate, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucketSize = 100).df.count() === 0)
    assert(Dedup.minHashNearDuplicates(degenerate, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucketSize = 300).df.count() === 200L * 199 / 2)
  }

  test("simhash: hot chunk above maxBucketSize emits nothing (guard)") {
    assert(Dedup.simHashNearDuplicates(degenerate, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 100).df.count() === 0)
    assert(Dedup.simHashNearDuplicates(degenerate, "doc_id", "text",
      maxHamming = 3, maxBucketSize = 300).df.count() === 200L * 199 / 2)
  }

  test("token-free documents are never declared near-duplicates of each other") {
    // distinct punctuation-only texts share zero content — a shared
    // degenerate hash would pair them all
    val junk = Seq((1L, "!!!"), (2L, "???"), (3L, "... ---"), (4L, ""),
      (5L, "real words here appear three times words here appear"))
      .toDF("doc_id", "text")
    assert(Dedup.minHashNearDuplicates(junk, "doc_id", "text",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.1).df.count() === 0)
    assert(Dedup.simHashNearDuplicates(junk, "doc_id", "text", maxHamming = 10).df.count() === 0)
    assert(Dedup.ngramJaccardPairs(junk, "doc_id", "text", n = 2, threshold = 0.1).count() === 0)
  }

  test("embedding near-dup: hot hyperplane bucket above maxBucketSize emits nothing") {
    val vecs = (0L until 100L).map(i => (i, Array(1.0f, 0.5f, 0.25f)))
      .toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDuplicates(vecs, "vec_id", "embedding",
      threshold = 0.99, maxBucketSize = 50).df.count() === 0)
    assert(Dedup.embeddingNearDuplicates(vecs, "vec_id", "embedding",
      threshold = 0.99, maxBucketSize = 100).df.count() === 100L * 99 / 2)
  }
}
