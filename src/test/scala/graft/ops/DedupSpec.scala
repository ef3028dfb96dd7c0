package graft.ops

import graft.SparkSuite

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"),    // near dup of 1
    (4L, "completely different content about spark engines and shuffles"),
    (5L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 1
    (6L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("exact duplicates: groups collapse to (keep, dup) pairs") {
    val pairs = Dedup.exactDuplicates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 5L)))
  }

  test("minhash LSH finds near-duplicates, skips unrelated docs") {
    val nd = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((1L, 2L))) // exact dups always collide
    assert(nd.contains((1L, 3L)) || nd.contains((2L, 3L)) || nd.contains((3L, 5L)),
      s"near-dup 3 should pair with 1/2/5, got $nd")
    assert(!nd.exists(p => p._1 == 4L || p._2 == 4L))
    assert(!nd.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("Cached variants release their persisted signature relations on cleanup") {
    // regression (r3 advice): the near-dup pipelines persisted their
    // signature relation and never unpersisted it, so each call in a
    // long-lived session permanently accumulated cached relations
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val r = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
    val pairs = r.df.collect()
    assert(pairs.nonEmpty)
    assert(!cm.isEmpty, "pipeline must have persisted its signatures")
    r.cleanup()
    assert(cm.isEmpty, "cleanup must release every persisted relation")
  }

  test("exact ngram jaccard matches hand-computed value") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 2, threshold = 0.1).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // doc1 vs doc3: 8 bigrams each, 6 shared -> 6/10
    assert(math.abs(pairs((1L, 3L)) - 0.6) < 1e-9)
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("simhash: identical text = identical fingerprint; near text = small hamming") {
    val nd = Dedup.simHashNearDuplicates(docs, "doc_id", "text", maxHamming = 8)
      .df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd.contains((1L, 2L)))
  }

  test("embedding near-duplicates via hyperplane buckets + exact cosine") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.2f, 0.1f)),
      (2L, Array(0.98f, 0.01f, 0.21f, 0.09f)), // ~ same direction as 1
      (3L, Array(-1.0f, 0.5f, 0.0f, 0.0f)),
      (4L, Array(0.0f, 1.0f, -0.5f, 0.3f))
    ).toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDuplicates(emb, "vec_id", "embedding", threshold = 0.99)
      .df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd == Set((1L, 2L)))
  }

  test("works on the driver documents table") {
    val documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = Dedup.exactDuplicates(documents, "doc_id", "text")
    assert(exact.count() >= 0) // runs end to end
  }

  test("duplicate injection keeps the input's column order") {
    // an id that is not the first column must stay where it was: the
    // oracle gate compares column order
    val dir = java.nio.file.Files.createTempDirectory("docs-dups").toString
    Seq(("a", 2L), ("b", 17L)).toDF("text", "doc_id")
      .write.parquet(s"$dir/documents.parquet")
    val injected = graft.SparkEntry.docsWithDups(spark, dir)
    assert(injected.columns.toSeq == Seq("text", "doc_id"))
    // doc_id % 17 == 0 rows reappear under doc_id + 10^7
    assert(injected.as[(String, Long)].collect().sorted.toSeq ==
      Seq(("a", 2L), ("b", 17L), ("b", 10000017L)))
  }
}
