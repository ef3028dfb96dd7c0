package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.schema.{Cmd, CompiledSchema, Op}
import graft.expr.ExprCompiler
import graft.validate.Validator
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.transcript.{StatsProfiler, TranscriptValidator}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data ops), each with a DuckDB-equivalent
  * oracle in [[oracleSql]] where the math is engine-portable (hash-based
  * ops get rows-only checks).
  *
  * The transcript-shaped input mandated by BASELINE.json `input_hint` is
  * derived deterministically from the `events` table (same derivation in
  * Spark and in the oracle SQL), with error injection (duplicate keys,
  * sequence gaps, null roles/text) keyed off `event_id` arithmetic so both
  * engines inject identically.
  */
object SparkEntry {

  // ---------- shared inputs ---------------------------------------------------

  /** Parquet relations resolved once per session, as temp views in the
    * session's own catalog (metadata only: every action still scans the
    * files). `spark.read.parquet` re-resolves (file listing + footer read)
    * on every call: 15 of the 29 queries plan ~0.06 s slower without this
    * (graft.BenchExtra build_s, sf0.1, local[4]). The data dirs must not be
    * rewritten while a session reads them: the view keeps the first listing. */
  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val view = s"graft_parquet_${graft.io.Digests.sha8(path)}"
    if (!spark.catalog.tableExists(view)) spark.read.parquet(path).createOrReplaceTempView(view)
    spark.table(view)
  }

  private def events(spark: SparkSession, dir: String): DataFrame =
    readParquet(spark, s"$dir/events.parquet")

  private def documents(spark: SparkSession, dir: String): DataFrame =
    readParquet(spark, s"$dir/documents.parquet")

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    readParquet(spark, s"$dir/embeddings.parquet")

  /** Transcript table derived from events: conv = user, turns ordered by
    * (ts, event_id); deterministic error injection keyed on event_id:
    * +1 turn gap (%97), null role (%251), null text (%157). */
  def transcripts(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    // conv_id is materialized as an ATTRIBUTE before the window and the
    // window partitions by that attribute (same groups — the cast is
    // injective on integral user_ids — so row_number is unchanged).
    // Partitioning by the attribute (not the cast expression, which the
    // planner would extract into a `_w0` twin alias and project away)
    // means the window's exchange IS a conv_id hash partitioning, so
    // every downstream conv_id-keyed aggregation/window in the transcript
    // suite reuses this one exchange instead of adding its own (guide
    // §2.4 "two operations keyed the same way can share one exchange").
    // Measured (plans/r07 before/after): q_conv_verdicts,
    // q_transcript_seq_gaps and q_transcript_uniqueness each go from 3
    // Exchange nodes to 1.
    val base = ev.select(
      col("user_id").cast("string").as("conv_id"),
      col("event_id"), col("ts"), col("event_type"), col("props"))
    val w = Window.partitionBy(col("conv_id")).orderBy(col("ts"), col("event_id"))
    base.select(
      col("conv_id"),
      (row_number().over(w) - 1 +
        when(col("event_id") % 97 === 0, 1).otherwise(0)).cast("int").as("turn_idx"),
      when(col("event_id") % 251 === 0, lit(null: String))
        .otherwise(
          when(col("event_type") === "click", "user")
            .when(col("event_type") === "view", "assistant")
            .when(col("event_type") === "signup", "system")
            .when(col("event_type") === "purchase", "tool")
            .otherwise("robot")).as("role"), // 'error' events -> invalid role
      when(col("event_id") % 157 === 0, lit(null: String))
        .otherwise(col("props")).as("text"),
      lit(null).cast("string").as("tool"),
      col("ts"),
      col("event_id"))
  }

  private val transcriptSqlBase =
    """SELECT CAST(user_id AS VARCHAR) AS conv_id,
      | CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
      |      + CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END AS INTEGER) AS turn_idx,
      | CASE WHEN event_id % 251 = 0 THEN NULL
      |      ELSE CASE event_type WHEN 'click' THEN 'user' WHEN 'view' THEN 'assistant'
      |           WHEN 'signup' THEN 'system' WHEN 'purchase' THEN 'tool'
      |           ELSE 'robot' END END AS role,
      | CASE WHEN event_id % 157 = 0 THEN NULL ELSE props END AS text,
      | CAST(NULL AS VARCHAR) AS tool, ts, event_id
      |FROM events""".stripMargin

  /** Transcripts with duplicate-(conv_id, turn_idx) injection (%101).
    * Injection by explode (1 or 2 copies per row), not self-union: the
    * union form ran the whole transcripts window TWICE (one scan + one
    * window shuffle per leg) and its Union node erased the window's
    * conv_id partitioning for downstream aggregations. Same row multiset
    * by construction. */
  def transcriptsWithDups(spark: SparkSession, dir: String): DataFrame = {
    val t = transcripts(spark, dir)
    t.select(col("*"),
        explode(when(col("event_id") % 101 === 0, typedlit(Seq(0, 1)))
          .otherwise(typedlit(Seq(0)))).as("_copy"))
      .drop("_copy")
  }

  /** Rows duplicated under a rewritten id: id % `mod` == 0 rows appear
    * again with id + 10^7 — the shared dup-injection shape of the dedup
    * fixtures, as ONE scan (explode of 1-or-2 ids) instead of a
    * self-union that scans the table twice. */
  private def injectDups(df: DataFrame, idCol: String, mod: Int): DataFrame = {
    val ids = explode(
      when(col(idCol) % mod === 0, array(col(idCol), col(idCol) + 10000000L))
        .otherwise(array(col(idCol)))).as(idCol)
    df.select(df.columns.map(c => if (c == idCol) ids else col(c)): _*)
  }

  /** Documents with injected exact duplicates: rows with doc_id % 17 == 0
    * appear again under doc_id + 10000000. */
  def docsWithDups(spark: SparkSession, dir: String): DataFrame =
    injectDups(documents(spark, dir), "doc_id", 17)

  /** Corpus + the deterministic multilingual slice
    * ([[graft.gen.MultilingualSlice]]) — the non-ASCII leg of the text
    * oracles. NOT used by the minhash/simhash queries, whose oracle slices
    * rely on the corpus invariant "zero token-free docs" (the slice
    * deliberately contains an emoji-only doc). */
  private def documentsWithMl(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).unionByName(graft.gen.MultilingualSlice.df(spark))

  /** [[docsWithDups]] over the multilingual-extended corpus (same %17
    * dup-injection rule, mirrored in the oracle SQL). */
  def docsWithDupsMl(spark: SparkSession, dir: String): DataFrame =
    injectDups(documentsWithMl(spark, dir), "doc_id", 17)

  // ---------- kye-engine fixtures ---------------------------------------------

  private val eventArtifact: String =
    """{"models": {"Event": {
      |  "index": "event_id",
      |  "edges": {
      |    "event_id": {"type": "Number"},
      |    "event_type": {"type": "String"},
      |    "value": {"type": "Number"}
      |  },
      |  "assertions": [
      |    {"msg": "value <= 300", "expr": [{"col": "value"}, {"le": 300}]}
      |  ]}}}""".stripMargin

  private def validateEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .withColumn("_row", col("event_id")) // natural key as violation anchor
    new Validator(CompiledSchema.load(eventArtifact))
      .validate("Event", ev).violations
  }

  /** Flagship: full Kye validation pipeline over sf0.001 events —
    * violations of `value <= 300` exist at every SF. */
  def entry(spark: SparkSession): DataFrame =
    validateEvents(spark, "/root/testdata/sf0.001")

  // ---------- queries -----------------------------------------------------------

  /** [[queries0]] with [[Tuning]] applied on entry: every declared query
    * runs under the engine's session tuning regardless of which harness
    * (Bench, Verify, BenchExtra, tests) built the session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queries0.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) => { Tuning(s); fn(s, dir) })
    }

  private def queries0: Map[String, (SparkSession, String) => DataFrame] = Map(

    // == Kye engine: expression VM opcode coverage (SURVEY §2.1), compiled
    // through ExprCompiler postfix programs into one Catalyst projection ==
    "q_expr_opcodes" -> ((s, dir) => {
      import Op._
      def p(cmds: Cmd*): org.apache.spark.sql.Column = ExprCompiler.compile(cmds)
      events(s, dir).select(
        col("event_id"),
        p(Cmd.one(COL, "value"), Cmd.one(COL, "event_id"), Cmd(ADD)).as("add_vi"),
        p(Cmd.one(COL, "value"), Cmd(NEG), Cmd.one(MOD, 7.0)).as("negmod7"),
        p(Cmd.one(COL, "event_type"), Cmd(LEN)).as("etype_len"),
        p(Cmd.one(COL, "event_type"), Cmd.one(CONCAT, "!")).as("etype_bang"),
        p(Cmd.one(COL, "event_type"), Cmd.one(MATCHES, "s.g")).as("etype_re"),
        p(Cmd.one(COL, "value"), Cmd.one(CAST, "str")).as("value_str"),
        p(Cmd.one(COL, "value"), Cmd.one(GT, 50.0), Cmd.one(COL, "value"),
          Cmd.one(LE, 150.0), Cmd(AND), Cmd.one(COL, "event_id"),
          Cmd.one(LT, 10.0), Cmd(OR)).as("band_or_early"),
        p(Cmd.one(COL, "props"), Cmd(NA)).as("props_na"),
        p(Cmd.one(COL, "props"), Cmd(DEF), Cmd(NOT)).as("props_not_def"),
        p(Cmd.one(COL, "value"), Cmd.one(SUB, 1.0), Cmd.one(MUL, 2.0),
          Cmd.one(DIV, 4.0)).as("arith_chain"),
        p(Cmd.one(COL, "value"), Cmd.one(NE, 9.64)).as("ne_lit"),
        p(Cmd.one(COL, "event_id"), Cmd.one(GE, 500.0), Cmd.one(COL, "event_id"),
          Cmd.one(EQ, 500.0), Cmd(OR)).as("ge_eq"))
    }),

    // == Kye engine: TYPE-DIRECTED operator dispatch (r5 runtime-fuzz
    // semantics, SURVEY §2.1 refinement) — inline-vs-stacked logical args,
    // bool-is-int with dtype-faithful promotion, Python str(bool), int64
    // floor-mod through cast-str, elementwise string repeat, cross-type
    // comparisons. Every rule here is ALSO pinned bit-for-bit against the
    // live reference VM by runtime_fuzz/probes_r5.json; this query puts
    // the same rules under the DuckDB hash gate. ==
    "q_expr_bool_dispatch" -> ((s, dir) => {
      import Op._
      val tags: String => ExprCompiler.Tag = {
        case "value" | "event_id" => ExprCompiler.Tag.Num
        case "event_type"         => ExprCompiler.Tag.Str
        case _                    => ExprCompiler.Tag.Unknown
      }
      def p(cmds: Cmd*): org.apache.spark.sql.Column =
        ExprCompiler.compile(cmds, colTag = tags)
      // event_id declared KNOWN-integral for the r6 bitwise-dispatch rows
      def pInt(cmds: Cmd*): org.apache.spark.sql.Column =
        ExprCompiler.compile(cmds, colTag = {
          case "event_id" => ExprCompiler.Tag.NumInt
          case n          => tags(n)
        })
      val vgt = List(Cmd.one(COL, "value"), Cmd.one(GT, 50.0))
      events(s, dir).select(
        col("event_id"),
        // inline literal OR: absent left stays ABSENT (left-index rule)
        p(vgt :+ Cmd(OR, List(true)): _*).as("or_inline_true"),
        // stacked VAL OR: absent left poisons to FALSE (alignment rule)
        p(vgt ++ List(Cmd(VAL, List(true)), Cmd(OR)): _*).as("or_stacked_true"),
        // bool+bool = logical OR, then compared as 1/0 (bool-is-int)
        p(vgt ++ List(Cmd(ADD, List(true)), Cmd.one(EQ, 1.0)): _*).as("badd_eq1"),
        // bool*bool = logical AND; Python str(bool) casing
        p(vgt ++ List(Cmd(MUL, List(true)), Cmd.one(CAST, "str")): _*).as("bmul_str"),
        // int64 floor-mod with an int literal stays integral ("3", not "3.0")
        p(Cmd.one(COL, "event_id"), Cmd(MOD, List(7)), Cmd.one(CAST, "str")).as("mod7_str"),
        // bool upcasts to the other operand's dtype: long + True stays long
        p(Cmd.one(COL, "event_id"), Cmd(ADD, List(true)), Cmd.one(CAST, "str")).as("addtrue_str"),
        // pandas str-series * int64-series repeats elementwise
        p(Cmd.one(COL, "event_type"), Cmd.one(COL, "event_type"), Cmd(LEN), Cmd(MUL)).as("etype_rep"),
        // cross-type EQ completes elementwise FALSE over present rows
        p(Cmd.one(COL, "event_type"), Cmd(EQ, List(5.0))).as("etype_eq_num"),
        // cross-type ordered comparison: vacuous (reference TypeError) —
        // asserted via isNull so the compared column is non-null (an
        // all-null boolean column renders differently through the two
        // compare paths' pandas materializations)
        p(Cmd.one(COL, "event_type"), Cmd(LT, List(5.0))).isNull.as("etype_lt_vacuous"),
        // r6: int64 & int64 is numpy BITWISE with an int64 result
        // (operands necessarily stacked — the artifact signature rejects
        // non-bool inline args on and/or)
        pInt(Cmd.one(COL, "event_id"), Cmd(VAL, List(5L)), Cmd(AND)).as("andint5"),
        // r6: int64-ness survives ADD, so the derived | dispatches bitwise
        pInt(Cmd.one(COL, "event_id"), Cmd(VAL, List(1L)), Cmd(ADD),
             Cmd(VAL, List(2L)), Cmd(OR), Cmd.one(EQ, 3.0)).as("orint_eq3"),
        // r6: pandas __neg__ on a bool series is LOGICAL NOT
        p(vgt :+ Cmd(NEG): _*).as("negbool"))
    }),

    // == Kye engine: COUNT opcode (aggregate context, artifact-reachable
    // only — kyepy op.py:40 / vm.py:112-113) ==
    "q_expr_count" -> ((s, dir) => {
      import Op._
      events(s, dir).groupBy(col("user_id")).agg(
        ExprCompiler.compileAggregate(
          List(Cmd.one(COL, "event_type"), Cmd(COUNT))).as("n_types"),
        ExprCompiler.compileAggregate(
          List(Cmd.one(COL, "value"), Cmd(COUNT))).as("n_values"))
    }),

    // == Kye engine: S4 assertions; violations anchored on natural key ==
    "q_assert_violations" -> ((s, dir) =>
      validateEvents(s, dir).select(
        col("err"), col("row").as("row_id"), col("col").as("col_name"))),

    // == Kye engine: S3 implicit cast (Number -> String coercion edge) ==
    "q_kye_typecheck_cast" -> ((s, dir) => {
      val schema = CompiledSchema.load(
        """{"models": {"Event": {"index": "event_id", "edges": {
          |  "event_id": {"type": "Number"}, "value": {"type": "String"}}}}}""".stripMargin)
      val ev = events(s, dir).select(col("event_id"), col("value"))
        .withColumn("_row", col("event_id"))
      new Validator(schema)
        .validate("Event", ev).survivors.get
    }),

    // == Kye engine: S6 cardinality + group-by-key (clean model) ==
    "q_kye_survivors" -> ((s, dir) => {
      val schema = CompiledSchema.load(
        """{"models": {"Event": {"index": "event_id", "edges": {
          |  "event_id": {"type": "Number"}, "event_type": {"type": "String"}}}}}""".stripMargin)
      val ev = events(s, dir).select(col("event_id"), col("event_type"))
        .withColumn("_row", col("event_id"))
      new Validator(schema)
        .validate("Event", ev).survivors.get
    }),

    // == Kye engine: S5 sub-index functional dependency ==
    "q_kye_subindex" -> ((s, dir) => {
      val schema = CompiledSchema.load(
        """{"models": {"Event": {"indexes": ["event_id", "dup_key"], "edges": {
          |  "event_id": {"type": "Number"}, "dup_key": {"type": "Number"}}}}}""".stripMargin)
      val ev = events(s, dir).select(col("event_id"), (col("event_id") % 500).as("dup_key"))
        .withColumn("_row", col("event_id"))
      new Validator(schema)
        .validate("Event", ev).violations
        .filter(col("err") === "NonUniqueSubIndex")
        .select(col("err"), col("row").as("row_id"), col("col").as("col_name"))
    }),

    // == Kye engine: S7 index-conflict across alternate keys ==
    "q_kye_index_conflict" -> ((s, dir) => {
      val schema = CompiledSchema.load(
        """{"models": {"Event": {"indexes": ["k1", "k2"], "edges": {
          |  "k1": {"type": "Number"}, "k2": {"type": "Number"}}}}}""".stripMargin)
      val ev = events(s, dir).select(
        col("event_id").as("k1"), (col("event_id") + 1).as("k2"),
        col("event_id").as("_row"))
      new Validator(schema)
        .validate("Event", ev).violations
        .filter(col("err") === "IndexConflict")
        .select(col("err"), col("row").as("row_id"), col("col").as("col_name"))
    }),

    // == transcript suite: uniqueness of (conv_id, turn_idx) ==
    "q_transcript_uniqueness" -> ((s, dir) =>
      transcriptsWithDups(s, dir)
        .groupBy(col("conv_id"), col("turn_idx"))
        .agg(count(lit(1)).as("n_dup"))
        .filter(col("n_dup") > 1)),

    // == transcript suite: gap-free sequence (aggregate form, no sort) ==
    "q_transcript_seq_gaps" -> ((s, dir) =>
      transcripts(s, dir)
        .groupBy(col("conv_id"))
        .agg(
          countDistinct(col("turn_idx")).as("n_distinct"),
          min(col("turn_idx")).as("min_turn"),
          max(col("turn_idx")).as("max_turn"))
        .filter(!(col("min_turn") === 0 && col("max_turn") === col("n_distinct") - 1))),

    // == transcript suite: row-level predicate violations (one codegen pass) ==
    "q_transcript_row_violations" -> ((s, dir) =>
      new TranscriptValidator().rowViolations(transcripts(s, dir))
        .select(col("constraint_id"), col("conv_id"), col("turn_idx"))),

    // == transcript suite: per-conversation verdicts ==
    "q_conv_verdicts" -> ((s, dir) => {
      val v = new TranscriptValidator()
      v.convVerdicts(v.seqTable(transcripts(s, dir)))
        .select(col("conv_id"), col("n_turns"), col("n_rows"), col("min_turn"),
          col("max_turn"), col("n_dup_keys"), col("n_gaps"), col("pass"))
    }),

    // == stats: single-pass column profile (exact legs only for the oracle) ==
    "q_stats_colprofile" -> ((s, dir) =>
      StatsProfiler.profile(events(s, dir), Seq("user_id", "value", "event_type"))
        .select(col("column").as("col_name"), col("count"), col("nulls"),
          col("min"), col("max"))),

    // == stats: aggregate profile with decimal-exact sums ==
    "q_stats_profile" -> ((s, dir) =>
      events(s, dir).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("null_props"))),

    // == stats: histogram of text lengths (drift input) ==
    "q_textlen_histogram" -> ((s, dir) =>
      StatsProfiler.numericHistogram(documents(s, dir), length(col("text")), 0, 100, 30)
        .select(col("bin"), col("n"))),

    // == dedup: exact (hash-groupBy) over dup-injected documents ==
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDuplicates(docsWithDupsMl(s, dir), "doc_id", "text")),

    // == dedup: exact unigram Jaccard via pruned inverted index ==
    "q_dedup_jaccard" -> ((s, dir) =>
      // %10 sampling pushed BELOW the dup injection (Catalyst cannot do
      // this itself — it needs the arithmetic fact that the +10^7 id
      // rewrite preserves the mod-10 class, so filtering originals first
      // yields exactly the same row multiset): the explode then runs on a
      // tenth of the corpus instead of generating rows the filter drops
      Dedup.ngramJaccardPairs(
        injectDups(documents(s, dir).filter(col("doc_id") % 10 === 0), "doc_id", 17),
        "doc_id", "text",
        n = 1, threshold = 0.8, maxDocFreq = 500)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))),

    // == dedup: MinHash + LSH. Full oracle via the injected-duplicate
    // slice (same technique as q_dedup_embedding): a doc and its injected
    // copy have identical text, hence identical shingle sets, hence
    // identical signatures under ANY hash family — the pair always shares
    // every band bucket and its est_jaccard is exactly 64/64 = 1.0. The
    // id relation doc_b = doc_a + 10^7 holds only for injected pairs
    // (original ids are far below 10^7), so the slice is fully
    // deterministic. General near-dup behavior (recall + estimate-vs-exact
    // bounds) stays pinned by DedupPropertySpec. The near-dup queries take
    // the pipeline's `.df` without cleanup(): a query hands back a lazy
    // DataFrame, and its persisted signatures live as long as the session. ==
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minHashNearDuplicates(docsWithDups(s, dir), "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.7,
        // oracle guard: above any band-bucket size this corpus can produce
        // at any test SF, so the hot-bucket cap can't drop an injected pair
        maxBucketSize = 1000000).df
        .filter(col("doc_b") === col("doc_a") + 10000000L)
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"))),

    // == dedup: SimHash near-dup. Same injected-duplicate oracle slice:
    // identical text -> identical 64-bit fingerprint -> hamming exactly 0
    // and all four 16-bit pigeonhole chunks collide, for ANY hash family. ==
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simHashNearDuplicates(docsWithDups(s, dir), "doc_id", "text",
        maxHamming = 3, maxBucketSize = 1000000).df
        .filter(col("doc_b") === col("doc_a") + 10000000L)
        .select(col("doc_a"), col("doc_b"), col("hamming"))),

    // == dedup: embedding-cosine near-dup. Full oracle: at threshold 0.999
    // the only true near-dup pairs are the injected exact copies (top-1
    // natural cosine in this corpus is ~0.37), identical vectors always
    // share their hyperplane bucket, and the exact-cosine verify removes
    // any other candidate — so the output is deterministic regardless of
    // the hash family. ==
    "q_dedup_embedding" -> ((s, dir) => {
      val withDups = injectDups(embeddings(s, dir), "vec_id", 13)
      // maxBucketSize raised well above any bucket this corpus can produce
      // (noise vectors, 2^16 buckets) so the oracle's "every injected pair
      // present" invariant can't collide with the production hot-bucket
      // guard at any test SF
      Dedup.embeddingNearDuplicates(withDups, "vec_id", "embedding", threshold = 0.999,
          maxBucketSize = 1000000).df
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
    }),

    // == similarity: exact brute-force cosine top-k ==
    "q_ann_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(e, "vec_id", "embedding", queries, "query_id", "qvec", 5)
        .select(col("query_id"), col("item_id"), col("rank"))
    }),

    // == similarity: LSH-bucketed approximate top-k. Oracle via the
    // self-recall invariant: each query vector IS an item vector, so the
    // exact re-rank must place it at rank 1 independent of the hash
    // family (identical vectors always share every bucket). The full
    // top-k recall-vs-brute-force property is covered on clustered data
    // in SimilarityTextSpec. ==
    "q_ann_lsh" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      // maxBucketSize raised above any bucket this corpus can produce at
      // any test SF (mirrors q_dedup_embedding): the hot-bucket hash-sample
      // may otherwise evict an item from every one of its buckets —
      // including a query's own item — silently breaking the self-recall
      // invariant once a bucket exceeds the production default
      Similarity.lshTopK(e, "vec_id", "embedding", queries, "query_id", "qvec",
        k = 5, planes = 16, tables = 8, maxBucketSize = 1000000)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("item_id"), col("rank"))
    }),

    // == dedup: PRODUCTION hot-bucket cap under a hard oracle (r3 verdict
    // #5 — the other dedup rows raise maxBucketSize to protect their
    // determinism, so the cap's drop path never ran under a CORRECTNESS
    // row). 1500 injected boilerplate clones share one text, hence one
    // signature, hence every band bucket they occupy holds >= 1500 members
    // — above the DEFAULT cap of 1000, so boundedBucketPairs must drop
    // those buckets entirely: zero clone pairs in the output, under ANY
    // hash family. The injected-dup slice survives untouched: an injected
    // pair shares all 16 band buckets (identical signatures), and losing a
    // pair would require its band hash to collide with the boilerplate
    // signature's in every one of the 16 bands. If the cap logic breaks
    // (no-op or wrong comparison), ~1500^2/2 clone pairs at est_jaccard
    // 1.0 flood the result and the row goes red.
    // PRECONDITION (corpus fact, verified at sf0.001/0.01/0.1 and the
    // ScaleUp corpora whose replicas carry distinct suffix tokens): no
    // NATURAL text occurs ~1000+ times, so no natural band bucket can
    // cross the default cap and drop an injected pair — the boilerplate
    // clones are the ONLY hot mass. A corpus that violated this would
    // already break q_dedup_exact's oracle (duplicate texts change its
    // expected groups), so the assumption is cross-checked, not silent. ==
    "q_dedup_hotbucket" -> ((s, dir) => {
      val boiler = "terms of service all rights reserved contact us privacy policy cookie settings"
      val clones = s.range(0, 1500, 1, 1).select(
        (col("id") + 20000000L).as("doc_id"), lit(boiler).as("text"))
      val corpus = docsWithDups(s, dir).select(col("doc_id"), col("text")).union(clones)
      Dedup.minHashNearDuplicates(corpus, "doc_id", "text",
          shingleK = 3, numHashes = 64, bands = 16, threshold = 0.7).df // default maxBucketSize=1000
        .filter(col("doc_b") === col("doc_a") + 10000000L ||
          col("doc_a") >= 20000000L || col("doc_b") >= 20000000L)
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
    }),

    // == similarity: LSH hot-bucket SAMPLING path under a hard oracle.
    // The hot cluster is 1500 ids sharing the exact NEGATION of item 1's
    // vector: negating a vector flips the sign of every hyperplane dot,
    // so the cluster's signature is the BITWISE COMPLEMENT of item 1's in
    // every table — Hamming distance 16, unreachable by 1-bit multiprobe.
    // The query (an exact copy of item 1) therefore never probes a hot
    // bucket, its own item can never be hash-sampled away, and self-recall
    // at rank 1 is deterministic — while the 1500-member buckets exceed
    // maxBucketSize=200 and exercise the deterministic hash-sample
    // (Similarity.lshTopK's skew guard) on every run. Over-aggressive
    // sampling (dropping from non-hot buckets) breaks self-recall and
    // the row goes red. ==
    "q_ann_lsh_hot" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val neg = e.filter(col("vec_id") === 1)
        .select(transform(col("embedding"), x => -x).as("embedding"))
      val hot = s.range(0, 1500, 1, 1).crossJoin(neg)
        .select((col("id") + 30000000L).as("vec_id"), col("embedding"))
      val items = e.select(col("vec_id"), col("embedding")).union(hot)
      val queries = e.filter(col("vec_id") === 1)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.lshTopK(items, "vec_id", "embedding", queries, "query_id", "qvec",
          k = 5, planes = 16, tables = 8, maxBucketSize = 200)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("item_id"), col("rank"))
    }),

    // == similarity: IVF (k-means inverted-file) approximate top-k. Same
    // self-recall oracle technique as q_ann_lsh: queries are exact item
    // copies, cell assignment is deterministic (cosine argmax, ties to
    // the lower centroid id), so the item's cell is always the query's
    // first probe and exact re-rank puts self at rank 1 — independent of
    // where k-means converged. ==
    "q_ann_ivf" -> ((s, dir) => {
      val e = embeddings(s, dir)
      val queries = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      // lineage-keyed persisted centroid artifact (r5 verdict item 3):
      // repeated ANN over an unchanged corpus skips k-means. Keyed by the
      // table snapshot id (one FS listing plus two edge-block reads per
      // file), so the loaded path costs no row I/O; a rewritten corpus
      // flips the snapshot and retrains. The artifact lives in the
      // session's own scratch directory, deleted when the session stops:
      // a run's first call trains, its later calls load, and no other
      // checkout or run ever serves it centroids.
      // 128-bit hex of the dir key (r6 advice): the old 32-bit hash
      // across many corpora risked artifact-path collisions, surfacing
      // as retrain churn between corpora sharing a path
      val artifact = new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(), s"ivf_${
        java.security.MessageDigest.getInstance("SHA-256")
          .digest(dir.getBytes("UTF-8")).take(16).map("%02x".format(_)).mkString}.json").toURI.toString
      val snapshot = new graft.io.ParquetPartitionedSource(
        s, s"$dir/embeddings.parquet").snapshotId
      val (centroids, trained) = Similarity.trainOrLoadCentroids(
        e, "vec_id", "embedding", nLists = 32, artifactPath = artifact, lineage = snapshot)
      System.err.println(
        s"q_ann_ivf centroids: ${if (trained) "trained" else "loaded"} ($artifact)")
      Similarity.ivfTopK(e, "vec_id", "embedding", queries, "query_id", "qvec",
        k = 5, centroids, nProbe = 4)
        .filter(col("rank") === 1)
        .select(col("query_id"), col("item_id"), col("rank"))
    }),

    // == text analysis: per-doc stats (one native scan; the two-stage
    // select keeps the struct-producing expression evaluated once —
    // CollapseProject does not inline non-cheap exprs used 3x) ==
    "q_text_stats" -> ((s, dir) =>
      documentsWithMl(s, dir)
        .select(col("doc_id"),
          graft.functions.TextStats.text_stats(col("text")).as("_ts"))
        .select(col("doc_id"),
          col("_ts.ws_tokens").as("ws_tokens"),
          col("_ts.n_chars").as("n_chars"),
          col("_ts.n_punct").as("n_punct"),
          col("_ts.bpe_tokens").as("bpe_tokens"))),

    // == text analysis: language id distribution (deterministic stopword
    // argmax, integer-exact threshold — full DuckDB oracle) ==
    "q_lang_counts" -> ((s, dir) =>
      documentsWithMl(s, dir)
        .groupBy(TextAnalysis.langId(col("text")).as("lang_detected"))
        .agg(count(lit(1)).as("n"))),

    // == text analysis: quality score deciles (deterministic C4/Gopher-
    // style arithmetic — full DuckDB oracle) ==
    "q_quality_buckets" -> ((s, dir) =>
      documentsWithMl(s, dir)
        .groupBy(floor(TextAnalysis.qualityScore(col("text")) * 10).as("decile"))
        .agg(count(lit(1)).as("n"))),

    // == text analysis: content fingerprint dedup groups ==
    "q_fingerprint_groups" -> ((s, dir) =>
      docsWithDupsMl(s, dir)
        .groupBy(TextAnalysis.contentFingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
        .filter(col("n") > 1)
        .select(col("keep_id"), col("n")))
  )

  // ---------- oracles -----------------------------------------------------------

  /** DuckDB list literal of a language's stopwords (single source of truth:
    * [[TextAnalysis.stopwords]]). */
  private def swList(lang: String): String =
    TextAnalysis.stopwords(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  /** Tokens CTE fragment: identical semantics to the native tokenizer
    * (lower-cased maximal letter/digit runs; the corpus is ASCII, so
    * `[a-z0-9]` ≡ `\p{L}\p{N}` here). */
  private val toksExpr =
    // Character.isLetterOrDigit-run tokenization (= L* + Nd categories;
    // identical to the old [^a-z0-9]+-over-lower(text) form on ASCII) —
    // stopword membership lowercases PER TOKEN below, token lengths count
    // original codepoints like the native lenSum
    "list_filter(string_split_regex(text, '[^\\p{L}\\p{Nd}]+'), x -> len(x) > 0)"

  /** documents + the multilingual slice, as oracle SQL (mirrors
    * [[documentsWithMl]] byte-for-byte — the VALUES text is generated from
    * the same Scala constants). */
  private val mlDocsSql =
    s"SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM ${graft.gen.MultilingualSlice.valuesSql}"

  def oracleSql: Map[String, String] = Map(
    "q_expr_opcodes" ->
      """SELECT event_id,
        | value + event_id AS add_vi,
        | ((-value % 7) + 7) % 7 AS negmod7,
        | CAST(length(event_type) AS INTEGER) AS etype_len,
        | event_type || '!' AS etype_bang,
        | regexp_matches(event_type, 's.g') AS etype_re,
        | CAST(value AS VARCHAR) AS value_str,
        | -- reference logical semantics (verified empirically, incl. the
        | -- runtime fuzz campaign): an absent LEFT operand makes the OR
        | -- result FALSE regardless of the right side (pandas NaN-poisons
        | -- the row, then fills the result NaN with False); a present left
        | -- sees the right coerced to FALSE; null only when BOTH absent
        | -- (event_id is never null, so never here)
        | CASE WHEN value IS NULL THEN FALSE
        |      ELSE (value > 50 AND value <= 150) OR event_id < 10
        | END AS band_or_early,
        | -- na/def see only PRESENT values (reference dropna): null rows
        | -- stay absent (NULL), present rows are false/true
        | CASE WHEN props IS NOT NULL THEN FALSE END AS props_na,
        | CASE WHEN props IS NOT NULL THEN FALSE END AS props_not_def,
        | ((value - 1) * 2) / 4 AS arith_chain,
        | value != 9.64 AS ne_lit,
        | event_id >= 500 OR event_id = 500 AS ge_eq
        |FROM events""".stripMargin,
    "q_expr_bool_dispatch" ->
      // reference dispatch semantics spelled out (each rule also pinned
      // against the live reference VM by runtime_fuzz/probes_r5.json):
      // inline OR keeps the left index (null stays null) while stacked
      // VAL OR poisons an absent left to FALSE; bool+bool is logical OR
      // compared as 1/0; bool*bool logical AND with Python str casing;
      // int64 arithmetic with int literals stays integral through
      // cast-str; str * len repeats; str==num is elementwise FALSE and
      // str<num vacuous
      """SELECT event_id,
        | CASE WHEN value IS NULL THEN NULL ELSE TRUE END AS or_inline_true,
        | CASE WHEN value IS NULL THEN FALSE ELSE TRUE END AS or_stacked_true,
        | CASE WHEN value IS NULL THEN NULL ELSE TRUE END AS badd_eq1,
        | CASE WHEN value IS NULL THEN NULL
        |      WHEN value > 50 THEN 'True' ELSE 'False' END AS bmul_str,
        | CAST(event_id % 7 AS VARCHAR) AS mod7_str,
        | CAST(event_id + 1 AS VARCHAR) AS addtrue_str,
        | repeat(event_type, length(event_type)) AS etype_rep,
        | CASE WHEN event_type IS NULL THEN NULL ELSE FALSE END AS etype_eq_num,
        | TRUE AS etype_lt_vacuous,
        | event_id & 5 AS andint5,
        | ((event_id + 1) | 2) = 3 AS orint_eq3,
        | CASE WHEN value IS NULL THEN NULL ELSE NOT (value > 50) END AS negbool
        |FROM events""".stripMargin,
    "q_expr_count" ->
      """SELECT user_id, count(DISTINCT event_type) AS n_types,
        |       count(DISTINCT value) AS n_values
        |FROM events GROUP BY user_id""".stripMargin,
    "q_assert_violations" ->
      """SELECT 'AssertionFailed' AS err, event_id AS row_id, 'value' AS col_name
        |FROM events WHERE NOT (value <= 300)""".stripMargin,
    "q_kye_typecheck_cast" ->
      "SELECT event_id, CAST(value AS VARCHAR) AS value FROM events",
    "q_kye_survivors" ->
      "SELECT event_id, event_type FROM events",
    "q_kye_subindex" ->
      """WITH t AS (SELECT event_id, event_id % 500 AS dup_key FROM events),
        | bad AS (SELECT dup_key FROM t GROUP BY dup_key HAVING count(DISTINCT event_id) <> 1)
        |SELECT 'NonUniqueSubIndex' AS err, event_id AS row_id, 'dup_key' AS col_name
        |FROM t JOIN bad USING (dup_key)""".stripMargin,
    "q_kye_index_conflict" ->
      """WITH t AS (SELECT event_id AS k1, event_id + 1 AS k2 FROM events),
        | u AS (SELECT k1 AS v, k1 AS key FROM t UNION ALL SELECT k2 AS v, k1 AS key FROM t),
        | bad AS (SELECT v FROM u GROUP BY v HAVING count(DISTINCT key) > 1),
        | -- reference multiplicity: one entry per (key, sub-index side)
        | -- occurrence whose key value conflicts — a row colliding through
        | -- BOTH its sub-keys is listed twice per edge (kyepy
        | -- loader.py:190-196; runtime-fuzz case 0198)
        | affected AS (SELECT key FROM u JOIN bad USING (v))
        |SELECT 'IndexConflict' AS err, key AS row_id, c.col_name
        |FROM affected CROSS JOIN (VALUES ('k1'), ('k2')) AS c(col_name)""".stripMargin,
    "q_transcript_uniqueness" ->
      s"""WITH t AS ($transcriptSqlBase),
         | d AS (SELECT * FROM t UNION ALL SELECT * FROM t WHERE event_id % 101 = 0)
         |SELECT conv_id, turn_idx, count(*) AS n_dup
         |FROM d GROUP BY conv_id, turn_idx HAVING count(*) > 1""".stripMargin,
    "q_transcript_seq_gaps" ->
      s"""WITH t AS ($transcriptSqlBase)
         |SELECT conv_id, count(DISTINCT turn_idx) AS n_distinct,
         |       min(turn_idx) AS min_turn, max(turn_idx) AS max_turn
         |FROM t GROUP BY conv_id
         |HAVING NOT (min(turn_idx) = 0 AND max(turn_idx) = count(DISTINCT turn_idx) - 1)""".stripMargin,
    "q_transcript_row_violations" ->
      s"""WITH t AS ($transcriptSqlBase)
         |SELECT 'null_role' AS constraint_id, conv_id, turn_idx FROM t WHERE role IS NULL
         |UNION ALL
         |SELECT 'role_enum' AS constraint_id, conv_id, turn_idx FROM t
         |WHERE role IS NOT NULL AND role NOT IN ('system', 'user', 'assistant', 'tool')
         |UNION ALL
         |SELECT 'null_text' AS constraint_id, conv_id, turn_idx FROM t WHERE text IS NULL""".stripMargin,
    "q_conv_verdicts" ->
      s"""WITH t AS ($transcriptSqlBase),
         | k AS (SELECT conv_id, turn_idx, count(*) AS n FROM t
         |       WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
         |       GROUP BY conv_id, turn_idx),
         | s AS (SELECT *, lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
         |       FROM k),
         | v AS (SELECT conv_id, count(*) AS n_turns, CAST(sum(n) AS BIGINT) AS n_rows,
         |        min(turn_idx) AS min_turn, max(turn_idx) AS max_turn,
         |        CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
         |        CAST(sum(CASE WHEN (prev IS NULL AND turn_idx > 0)
         |                   OR (prev IS NOT NULL AND turn_idx != prev + 1)
         |                 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps
         |       FROM s GROUP BY conv_id)
         |SELECT conv_id, n_turns, n_rows, min_turn, max_turn, n_dup_keys, n_gaps,
         |  (n_gaps = 0 AND min_turn = 0 AND max_turn = n_turns - 1
         |   AND n_dup_keys = 0) AS pass
         |FROM v""".stripMargin,
    "q_stats_colprofile" ->
      """SELECT 'user_id' AS col_name, count(user_id) AS count,
        |       count(*) - count(user_id) AS nulls,
        |       CAST(min(user_id) AS VARCHAR) AS min, CAST(max(user_id) AS VARCHAR) AS max
        |FROM events
        |UNION ALL
        |SELECT 'value', count(value), count(*) - count(value),
        |       CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR) FROM events
        |UNION ALL
        |SELECT 'event_type', count(event_type), count(*) - count(event_type),
        |       min(event_type), max(event_type) FROM events""".stripMargin,
    "q_stats_profile" ->
      """SELECT count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
        |       min(value) AS min_value, max(value) AS max_value,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       count(*) FILTER (WHERE props IS NULL) AS null_props
        |FROM events""".stripMargin,
    // NULL texts bin to NULL on both sides (the corpus has none — the
    // CASE keeps the formulas equivalent if that ever changes); the clamp
    // runs before any narrowing so out-of-range values cannot wrap
    "q_textlen_histogram" ->
      """SELECT CASE WHEN text IS NULL THEN NULL
        |            ELSE CAST(least(29, greatest(0, CAST(floor(length(text) / 100.0) AS BIGINT))) AS VARCHAR)
        |       END AS bin,
        |       count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,
    "q_dedup_exact" ->
      s"""WITH base AS ($mlDocsSql),
        | d AS (SELECT doc_id, text FROM base
        |           UNION ALL
        |           SELECT doc_id + 10000000, text FROM base WHERE doc_id % 17 = 0),
        | g AS (SELECT text, min(doc_id) AS keep_id, count(*) AS n FROM d
        |       GROUP BY text HAVING count(*) > 1)
        |SELECT g.keep_id, d.doc_id AS dup_id
        |FROM d JOIN g USING (text) WHERE d.doc_id != g.keep_id""".stripMargin,
    "q_dedup_jaccard" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 17 = 0),
        | ds AS (SELECT * FROM d WHERE doc_id % 10 = 0),
        | tok AS (SELECT doc_id,
        |          unnest(list_distinct(list_filter(
        |            string_split_regex(lower(text), '[^0-9a-z\p{L}\p{N}]+'),
        |            x -> len(x) > 0))) AS t
        |         FROM ds),
        | pruned AS (SELECT * FROM (SELECT doc_id, t,
        |              count(*) OVER (PARTITION BY t) AS df FROM tok)
        |            WHERE df <= 500),
        | sz AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY 1),
        | inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |           FROM pruned a JOIN pruned b ON a.t = b.t AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |       round(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter
        |JOIN sz sa ON doc_a = sa.doc_id
        |JOIN sz sb ON doc_b = sb.doc_id
        |WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.8""".stripMargin,
    "q_text_stats" ->
      s"""WITH d AS ($mlDocsSql)
        |SELECT doc_id,
        | CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0)) AS INTEGER) AS ws_tokens,
        | CAST(length(text) AS INTEGER) AS n_chars,
        | CAST(len(regexp_extract_all(text, '[^\\s\\p{L}\\p{N}]')) AS INTEGER) AS n_punct,
        | CAST(len(regexp_extract_all(text, '\\p{L}+|\\p{N}|[^\\s\\p{L}\\p{N}]'))
        |   + coalesce(list_sum(list_transform(
        |       list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> len(x) > 6),
        |       x -> (len(x) - 1) // 6)), 0) AS INTEGER) AS bpe_tokens
        |FROM d""".stripMargin,
    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 3),
        | i AS (SELECT vec_id AS item_id, embedding::DOUBLE[] AS iv FROM embeddings),
        | s AS (SELECT query_id, item_id, list_cosine_similarity(iv, qv) AS score
        |       FROM i CROSS JOIN q),
        | r AS (SELECT query_id, item_id,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                                 ORDER BY score DESC, item_id) AS INTEGER) AS rank
        |       FROM s)
        |SELECT query_id, item_id, rank FROM r WHERE rank <= 5""".stripMargin,
    // self-recall invariant: identical query/item vectors must re-rank to
    // the top regardless of the LSH hash family (see the query comment)
    "q_ann_lsh" ->
      """SELECT vec_id AS query_id, vec_id AS item_id, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
    // negation-protected self-recall (see the query comment): the hot
    // cluster lives in the complement bucket of every table, so sampling
    // can never evict the query's own item — rank 1 is exactly self
    "q_ann_lsh_hot" ->
      """SELECT vec_id AS query_id, vec_id AS item_id, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id = 1""".stripMargin,
    "q_ann_ivf" ->
      """SELECT vec_id AS query_id, vec_id AS item_id, CAST(1 AS INTEGER) AS rank
        |FROM embeddings WHERE vec_id < 3""".stripMargin,
    // only the injected exact copies clear threshold 0.999 in this corpus
    // (natural top-1 cosine ~0.37), and identical vectors always collide
    "q_dedup_embedding" ->
      """SELECT vec_id AS id_a, vec_id + 10000000 AS id_b,
        |       CAST(1.0 AS DOUBLE) AS cosine
        |FROM embeddings WHERE vec_id % 13 = 0""".stripMargin,
    "q_lang_counts" ->
      s"""WITH d AS ($mlDocsSql),
         | t AS (SELECT $toksExpr AS toks FROM d),
         | c AS (SELECT len(toks) AS n,
         |   len(list_filter(toks, x -> list_contains(${swList("de")}, lower(x)))) AS c_de,
         |   len(list_filter(toks, x -> list_contains(${swList("en")}, lower(x)))) AS c_en,
         |   len(list_filter(toks, x -> list_contains(${swList("es")}, lower(x)))) AS c_es,
         |   len(list_filter(toks, x -> list_contains(${swList("fr")}, lower(x)))) AS c_fr,
         |   len(list_filter(toks, x -> list_contains(${swList("it")}, lower(x)))) AS c_it
         |  FROM t),
         | b AS (SELECT n, greatest(c_de*8+0, c_en*8+1, c_es*8+2, c_fr*8+3, c_it*8+4) AS bv
         |       FROM c)
         |SELECT CASE WHEN n > 0 AND 20 * (bv // 8) > n
         |            THEN ['de','en','es','fr','it'][CAST(bv % 8 AS INTEGER) + 1]
         |            ELSE 'und' END AS lang_detected,
         |       count(*) AS n
         |FROM b GROUP BY 1""".stripMargin,
    "q_quality_buckets" ->
      s"""WITH d AS ($mlDocsSql),
         | p AS (SELECT length(text) AS len,
         |    len(regexp_extract_all(text, '[^\\s\\p{L}\\p{N}]')) AS n_punct,
         |    $toksExpr AS toks
         |  FROM d),
         | c AS (SELECT len, n_punct, len(toks) AS n,
         |    len(list_filter(toks, x -> list_contains(${swList("en")}, lower(x)))) AS sw,
         |    coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS lensum
         |  FROM p),
         | s AS (SELECT
         |    CAST(CASE WHEN len < 20 THEN 0.0 WHEN len < 200 THEN 0.5
         |              WHEN len <= 20000 THEN 1.0 ELSE 0.5 END AS DOUBLE) AS len_score,
         |    CAST(CASE WHEN len > 0 AND n_punct * 1.0 / len > 0.2
         |              THEN 0.3 ELSE 1.0 END AS DOUBLE) AS punct_score,
         |    CAST(CASE WHEN n > 0 AND 20 * sw >= n THEN 1.0 ELSE 0.4 END AS DOUBLE) AS sw_score,
         |    CAST(CASE WHEN n > 0 AND lensum * 1.0 / n >= 2.5 AND lensum * 1.0 / n <= 12.0
         |              THEN 1.0 ELSE 0.5 END AS DOUBLE) AS word_score
         |  FROM c)
         |SELECT CAST(floor((len_score * 0.4 + punct_score * 0.2 + sw_score * 0.2
         |                   + word_score * 0.2) * 10) AS BIGINT) AS decile,
         |       count(*) AS n
         |FROM s GROUP BY 1""".stripMargin,
    // the fingerprint is xxhash64 of the normalized text, but group
    // membership depends only on normalized-text equality — so the groups
    // (keep_id, n) are hash-independent and fully oracle-able
    "q_fingerprint_groups" ->
      s"""WITH base AS ($mlDocsSql),
        | d AS (SELECT doc_id, text FROM base
        |           UNION ALL
        |           SELECT doc_id + 10000000, text FROM base WHERE doc_id % 17 = 0)
        |SELECT min(doc_id) AS keep_id, count(*) AS n
        |FROM d GROUP BY regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')
        |HAVING count(*) > 1""".stripMargin,
    // injected-duplicate slices (see the query comments): the pair
    // (doc_id, doc_id + 10^7) exists for every doc_id % 17 = 0 with
    // est_jaccard exactly 1.0 / hamming exactly 0 under ANY hash family;
    // the corpus has zero token-free docs (verified against all SFs), so
    // the NULL-signature exclusion never removes an injected doc
    "q_dedup_minhash" ->
      """SELECT doc_id AS doc_a, doc_id + 10000000 AS doc_b,
        |       CAST(1.0 AS DOUBLE) AS est_jaccard
        |FROM documents WHERE doc_id % 17 = 0""".stripMargin,
    "q_dedup_simhash" ->
      """SELECT doc_id AS doc_a, doc_id + 10000000 AS doc_b,
        |       CAST(0 AS INTEGER) AS hamming
        |FROM documents WHERE doc_id % 17 = 0""".stripMargin,
    // hot-bucket cap drop path (see the query comment): the 1500
    // boilerplate clones exceed the default cap, their buckets are
    // dropped, and ONLY the injected-dup slice remains
    "q_dedup_hotbucket" ->
      """SELECT doc_id AS doc_a, doc_id + 10000000 AS doc_b,
        |       CAST(1.0 AS DOUBLE) AS est_jaccard
        |FROM documents WHERE doc_id % 17 = 0""".stripMargin
  )
}
