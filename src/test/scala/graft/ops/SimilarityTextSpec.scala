package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SimilarityTextSpec extends SparkSuite {
  import spark.implicits._

  test("cosine/dot/norm expressions match exact math") {
    val df = Seq((Array(1.0f, 2.0f, 2.0f), Array(2.0f, 0.0f, 1.0f))).toDF("a", "b")
    val r = df.select(
      Similarity.dot(col("a"), col("b")),
      Similarity.norm(col("a")),
      Similarity.cosine(col("a"), col("b"))).collect()(0)
    assert(math.abs(r.getDouble(0) - 4.0) < 1e-6)
    assert(math.abs(r.getDouble(1) - 3.0) < 1e-6)
    assert(math.abs(r.getDouble(2) - 4.0 / (3.0 * math.sqrt(5.0))) < 1e-6)
  }

  test("degenerate inputs: zero vectors, null texts, token-free docs stay inert") {
    // cosine(zero, x) is NULL, not NaN — NaN sorts ABOVE every real score
    // under desc and passes >= filters, so a garbage item would head every
    // query's top-k and zero-vector pairs would report as near-dups
    val items = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (99L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(items, "vec_id", "embedding",
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      "query_id", "qvec", k = 3).collect()
    val byRank = top.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("item_id")).toSeq
    assert(byRank.take(2) == Seq(1L, 2L),
      s"the zero-norm item must rank below every real score, got $byRank")
    val dups = Dedup.embeddingNearDuplicates(items, "vec_id", "embedding",
      threshold = 0.9, planes = 4, maxBucketSize = 100).df
    assert(!dups.collect().exists(x => x.getLong(0) == 99L || x.getLong(1) == 99L),
      "zero-vector pairs (cosine NULL) must not pass the threshold filter")
    // null texts: xxhash64(NULL) is a constant — null-text docs must not
    // group as mutual exact duplicates
    val docs = Seq((1L, null: String), (2L, null: String), (3L, "real text"))
      .toDF("doc_id", "text")
    assert(Dedup.exactDuplicates(docs, "doc_id", "text").count() == 0)
  }

  test("jaccard over the rare-shingle universe: boilerplate does not dilute identical docs") {
    // regression: pre-prune sizes with a post-prune intersection scored
    // identical half-boilerplate docs at ~0.33 and never reported them
    val boiler = "common shared boilerplate header words everyone has"
    val docs = Seq(
      (1L, s"$boiler unique alpha beta gamma delta"),
      (2L, s"$boiler unique alpha beta gamma delta"), // identical to 1
      (3L, s"$boiler totally different tail content here"),
      (4L, s"$boiler another unrelated ending entirely now")
    ).toDF("doc_id", "text")
    // maxDocFreq=3 prunes the boilerplate shingles (present in all 4 docs)
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 1, threshold = 0.99, maxDocFreq = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)),
      s"identical docs must score 1.0 over the rare-shingle universe, got $pairs")
  }

  test("brute-force top-k returns exact nearest neighbors on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 5)
    val byQuery = topk.collect().groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.values.foreach { rows =>
      assert(rows.length == 5)
      // self is its own nearest neighbor at rank 1
      val r1 = rows.minBy(_.getAs[Int]("rank"))
      assert(r1.getAs[Long]("item_id") == r1.getAs[Long]("query_id"))
      assert(math.abs(r1.getAs[Double]("score") - 1.0) < 1e-5)
    }
  }

  test("LSH top-k recall against brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("item_id"))).toSet
    // testdata embeddings are unstructured noise (mean top-1 cosine ~0.37),
    // the hardest case for LSH — recall needs many short-signature tables;
    // real corpora with cluster structure use longer signatures.
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding",
      queries, "query_id", "qvec", k = 3, planes = 4, tables = 8, probeBits = 1).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("item_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall $recall too low")
    // self-match must always survive bucketing (identical signature)
    assert((0L until 10L).forall(q => approx.contains((q, q))))
    emb.unpersist()
  }

  test("LSH top-k at scale defaults (planes=16): near-duplicate queries recalled") {
    // the scale configuration (2^16 buckets/table) can't recall random-noise
    // neighbors (no LSH can), but real corpora are clustered: queries that
    // are small perturbations of items must come back at rank 1
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x * lit(1.01f) + lit(0.002f)).as("qvec"))
    val top1 = Similarity.lshTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("item_id")))
    val recalled = top1.count { case (q, i) => q == i }
    assert(recalled >= 18, s"perturbed-self recall $recalled/20 below 0.9")
    emb.unpersist()
  }

  test("multiprobe probeBits is a working recall lever at production maxBucketSize") {
    // tables=1 so multiprobe is the ONLY recall lever: a perturbed query
    // whose signature drifted d bits from its item's is recalled iff
    // d <= probeBits (modulo lucky bucket collisions). The probe set at
    // probeBits=j is a strict superset of j-1, so recall must be
    // monotone; the perturbation is tuned so some queries sit exactly 2
    // bits out, making the 2-bit tier a strict improvement. Default
    // maxBucketSize (the production cap) stays in force throughout.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val queries = emb.filter(col("vec_id") < 40)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x * lit(1.15f) + lit(0.03f)).as("qvec"))
    def recall(probeBits: Int): Int =
      Similarity.lshTopK(emb, "vec_id", "embedding", queries, "query_id", "qvec",
          k = 1, planes = 16, tables = 1, probeBits = probeBits)
        .collect().count(r => r.getAs[Long]("query_id") == r.getAs[Long]("item_id"))
    val r0 = recall(0); val r1 = recall(1); val r2 = recall(2)
    assert(r0 <= r1 && r1 <= r2, s"recall must be monotone in probeBits: $r0/$r1/$r2")
    assert(r2 > r1, s"2-bit flips must recover queries 1-bit probing misses: $r0/$r1/$r2 of 40")
    assert(intercept[IllegalArgumentException](recall(3)).getMessage.contains("probeBits"))
    emb.unpersist()
  }

  test("negating a vector complements its hyperplane signature in every table") {
    // the premise of the q_ann_lsh_hot hard oracle: sig(-v) is the bitwise
    // complement of sig(v) per table, so a hot cluster built from -v is
    // Hamming-16 from v's bucket and unreachable by <=2-bit multiprobe.
    // Exact unless some plane dot is exactly +-0.0 — verify it holds for
    // EVERY corpus vector, not just the one the oracle uses.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val planes = 16; val tables = 8
    val mask = (1L << planes) - 1
    import graft.functions.HyperplaneSignatures.hyperplane_signatures
    val bad = emb.select(
        hyperplane_signatures(col("embedding"), planes, tables).as("s"),
        hyperplane_signatures(transform(col("embedding"), x => -x), planes, tables).as("n"))
      .filter(exists(zip_with(col("s"), col("n"),
        (a, b) => a.bitwiseXOR(b) =!= lit(mask)), p => p))
      .count()
    assert(bad == 0L, s"$bad vectors whose negation is not the exact complement")
  }

  test("brute-force top-k works when items and queries share column names") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 2) // same schema, same names
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queries, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("item_id")).toMap
    assert(top == Map(0L -> 0L, 1L -> 1L))
  }

  test("IVF top-k: deterministic centroids, self-recall, clustered recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val c1 = Similarity.trainCentroids(emb, "vec_id", "embedding", nLists = 16)
    val c2 = Similarity.trainCentroids(emb, "vec_id", "embedding", nLists = 16)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq, "training must be deterministic")
    assert(c1.length == 16 && c1.forall(_.length == 64))
    // self-recall: queries ARE items -> rank 1 must be self (hash/kmeans independent)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val top = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 3, c1, nProbe = 2)
      .collect()
    val rank1 = top.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("item_id")).toMap
    assert((0L until 10L).forall(q => rank1.get(q).contains(q)), s"self-recall broken: $rank1")
    // clustered recall: perturbed copies come back at rank 1 via probing
    val perturbed = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x * lit(1.01f) + lit(0.002f)).as("qvec"))
    val pTop1 = Similarity.ivfTopK(emb, "vec_id", "embedding",
        perturbed, "query_id", "qvec", k = 1, c1, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("item_id")))
    val recalled = pTop1.count { case (q, i) => q == i }
    assert(recalled >= 18, s"perturbed-self IVF recall $recalled/20 below 0.9")
    emb.unpersist()
  }

  test("IVF centroid artifact: round-trip, reuse on unchanged corpus, retrain on change") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    val dir = java.nio.file.Files.createTempDirectory("centroids").toString
    val path = s"$dir/ivf_centroids.json"
    assert(Similarity.loadCentroids(spark, path).isEmpty, "absent artifact is None")
    // the lineage key is an input: the caller's table snapshot id, never a
    // scan of the rows. First invocation trains and persists
    val (c1, trained1) =
      Similarity.trainOrLoadCentroids(emb, "vec_id", "embedding", 16, path, "snapshot-v1")
    assert(trained1, "first run must train")
    // artifact round-trips exactly (doubles via JVM toString round-trip)
    val loaded = Similarity.loadCentroids(spark, path).get
    assert(loaded.centroids.map(_.toSeq).toSeq == c1.map(_.toSeq).toSeq)
    // second invocation under the SAME key skips training
    val (c2, trained2) =
      Similarity.trainOrLoadCentroids(emb, "vec_id", "embedding", 16, path, "snapshot-v1")
    assert(!trained2, "unchanged corpus must reuse the artifact")
    assert(c2.map(_.toSeq).toSeq == c1.map(_.toSeq).toSeq)
    // ...and serves the same query results as a fresh training
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val viaArtifact = Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 1, c2, nProbe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("item_id"))).toSet
    assert((0L until 5L).forall(q => viaArtifact.contains((q, q))))
    // a moved key (the corpus changed) -> retrain + overwrite
    val (_, trained3) =
      Similarity.trainOrLoadCentroids(emb, "vec_id", "embedding", 16, path, "snapshot-v2")
    assert(trained3, "a changed lineage key must retrain")
    assert(Similarity.loadCentroids(spark, path).get.lineage == "snapshot-v2")
    // corrupt artifact raises (corrupt != absent) — written through the
    // same Hadoop FS so the local checksum sidecar stays consistent
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hp, true)
    try out.write("{\"_format\":9}".getBytes("UTF-8")) finally out.close()
    intercept[IllegalArgumentException](Similarity.loadCentroids(spark, path))
    // right format but missing keys must raise the guard, not NPE
    val out2 = fs.create(hp, true)
    try out2.write("{\"_format\":1}".getBytes("UTF-8")) finally out2.close()
    val e = intercept[IllegalArgumentException](Similarity.loadCentroids(spark, path))
    assert(e.getMessage.contains("malformed centroid artifact"), e.getMessage)
    // the atomic commit leaves no .tmp sibling behind
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".tmp")),
      "save must rename its temp file away")
    emb.unpersist()
  }

  test("caller-supplied digest keys the centroid artifact without a corpus scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("centroids_lineage").toString
    val path = s"$dir/ivf_centroids.json"
    // the corpus is passed by name: count how often it is built
    var built = 0
    def corpus = { built += 1; emb }
    val (c1, trained1) = Similarity.trainOrLoadCentroids(
      corpus, "vec_id", "embedding", 16, path, "snapshot-v1")
    assert(trained1)
    assert(built == 1, "training builds the corpus once")
    // same lineage key -> reuse without building, let alone scanning, the rows
    val (c2, trained2) = Similarity.trainOrLoadCentroids(
      corpus, "vec_id", "embedding", 16, path, "snapshot-v1")
    assert(!trained2 && c2.map(_.toSeq).toSeq == c1.map(_.toSeq).toSeq)
    assert(built == 1, "a reused artifact must not touch the corpus")
    // lineage key moved -> retrain
    val (_, trained3) = Similarity.trainOrLoadCentroids(
      corpus, "vec_id", "embedding", 16, path, "snapshot-v2")
    assert(trained3, "a changed lineage key must retrain")
    assert(built == 2)
  }

  test("IVF recall on clustered data whose cluster structure correlates with id order") {
    // 10 clusters laid out BY id (cluster = id/300): the round-2 sampler
    // (lowest-512-ids) would train k-means on clusters 0-1 only and recall
    // on late-id clusters would collapse; the hash-ordered sample sees all
    // clusters. Deterministic small noise keeps items distinct.
    val df = spark.range(0, 3000).select(col("id"),
      transform(sequence(lit(0), lit(15)), d =>
        when(d === (col("id") / 300).cast("int"), lit(1.0)).otherwise(lit(0.0)) +
          (pmod(xxhash64(col("id"), d), lit(1000)).cast("double") / lit(10000.0) - lit(0.05)))
        .as("v")).cache()
    val cents = Similarity.trainCentroids(df, "id", "v", nLists = 10, maxSamples = 512)
    // every cluster must have attracted a centroid: for each cluster c the
    // max centroid component at dim c should dominate
    val queries = df.filter(col("id") >= 2700) // the LAST id-cluster
      .select(col("id").as("query_id"),
        transform(col("v"), x => x * lit(1.01)).as("qvec"))
    val top1 = Similarity.ivfTopK(df, "id", "v", queries, "query_id", "qvec",
        k = 1, cents, nProbe = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("item_id")))
    val recalled = top1.count { case (q, i) => q == i }
    assert(recalled >= 270, s"late-id cluster recall $recalled/300 below 0.9 — " +
      "the training sample is id-biased")
    df.unpersist()
  }

  test("token counts: whitespace and BPE-ish") {
    val df = Seq(("Hello, world! This is tokenization."),
      (""), ("supercalifragilisticexpialidocious")).toDF("text")
    val r = df.select(
      TextAnalysis.whitespaceTokenCount(col("text")),
      TextAnalysis.approxBpeTokenCount(col("text"))).collect()
    assert(r(0).getInt(0) == 5)
    assert(r(0).getInt(1) >= 8) // words + punctuation
    assert(r(1).getInt(0) == 0 && r(1).getInt(1) == 0)
    assert(r(2).getInt(1) > 2)  // long word costs multiple subword units
  }

  test("language id: stopword heuristic picks the right language") {
    val df = Seq(
      ("en", "the cat sat on the mat and it was happy with the dog"),
      ("de", "der hund und die katze sind nicht in der wohnung mit dem kind"),
      ("fr", "le chien et le chat sont dans la maison avec une souris pour le dîner"),
      ("es", "el perro y el gato están en la casa con una comida para el niño"),
      ("und", "zzz qqq xxx yyy www")
    ).toDF("expected", "text")
    val got = df.select(col("expected"), TextAnalysis.langId(col("text")).as("got"))
      .collect().map(r => r.getString(0) -> r.getString(1))
    got.foreach { case (exp, g) => assert(g == exp, s"expected $exp got $g") }
  }

  test("language id runs over the documents table and emits valid labels") {
    // NB the testdata documents' `lang` column is random metadata over
    // English-ish synthetic word soup, so agreement with it is not a
    // meaningful oracle; the handcrafted-language test above pins accuracy.
    val documents = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val labels = documents.select(TextAnalysis.langId(col("text")).as("l"))
      .groupBy("l").count().collect().map(_.getString(0)).toSet
    val valid = TextAnalysis.stopwords.keySet + "und"
    assert(labels.subsetOf(valid), s"unexpected labels $labels")
  }

  test("quality score separates real prose from junk") {
    val df = Seq(
      ("good", "The quick brown fox jumps over the lazy dog. It was a sunny day and the animals were playing in the field near the river bank. Later that afternoon the farmer walked past the old barn and waved at the children who were flying kites in the warm summer wind."),
      ("short", "hi"),
      ("punct", "!!! ??? *** ### @@@ $$$ %%% ^^^ &&& ((( ))) !!! ??? *** ### @@@ ")
    ).toDF("kind", "text")
    val s = df.select(col("kind"), TextAnalysis.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(s("good") > 0.8)
    assert(s("short") < 0.5)
    assert(s("punct") < s("good"))
  }

  test("fingerprints: cosmetic edits keep content fingerprint; winnowing shares passages") {
    val df = Seq(
      (1L, "The Quick   brown fox"),
      (2L, "the quick brown fox"),
      (3L, "some long shared passage appears here in the middle of this document padded with words")
    ).toDF("id", "text")
    val fp = df.select(col("id"), TextAnalysis.contentFingerprint(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }
}
