package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language id,
  * quality scoring, token counting, fingerprinting. Pure Catalyst
  * expressions (no UDFs) — every op is a map-only column that fuses into
  * the scan's codegen stage.
  */
object TextAnalysis {

  // ---- token counting --------------------------------------------------------

  /** Whitespace token count. */
  def whitespaceTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  /** BPE-ish subword count: letter runs, digit singles, and single
    * punctuation marks each count as a token, long letter runs costing an
    * extra unit per 6 chars beyond 6 (a cheap proxy for byte-pair vocab
    * tokenization used for budget estimates). Native single-pass leg of
    * [[graft.functions.TextStats]] — the regex/HOF reference formulation
    * lives in [[approxBpeTokenCountReference]] and is pinned equal by
    * NativeExprSpec. */
  def approxBpeTokenCount(text: Column): Column =
    graft.functions.TextStats.text_stats(text).getField("bpe_tokens")

  /** Reference (regex + interpreted HOF) formulation of
    * [[approxBpeTokenCount]] — two extra passes per row; kept as the
    * executable spec of the arithmetic and for non-ASCII `\p{N}` parity. */
  def approxBpeTokenCountReference(text: Column): Column =
    coalesce(regexp_count(text, lit("\\p{L}+|\\p{N}|[^\\s\\p{L}\\p{N}]")), lit(0)) +
      // long letter runs cost extra subword units (~1 per 6 chars beyond 6)
      coalesce(aggregate(
        filter(split(text, "[^\\p{L}]+"), t => length(t) > 6),
        lit(0), (acc, t) => acc + ((length(t) - 1) / lit(6)).cast("int")), lit(0))

  // ---- language id -------------------------------------------------------------

  /** Tiny per-language stopword profiles (top function words). Public
    * common knowledge lists. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "are", "this", "you"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich", "ein", "mit", "von", "zu", "den", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "qui", "pas", "des", "du"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "en", "que", "una", "por", "con", "para", "del"),
    "it" -> Seq("il", "la", "che", "di", "e", "un", "una", "per", "non", "sono", "con", "del"))

  /** Stopword-hit score for one language: fraction of tokens found in the
    * language's stopword profile. HOF formulation — fine for one-off use;
    * the hot paths ([[langId]], [[qualityScore]]) use the single-pass
    * native expressions in [[graft.functions.TextProfile]] instead. */
  def langScore(text: Column, lang: String): Column = {
    val toks = Dedup.tokens(text)
    val sw = lit(stopwords(lang).toArray)
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(sw, t))).cast("double") / size(toks))
      .otherwise(lit(0.0))
  }

  /** Heuristic language id: argmax stopword-hit count over all language
    * profiles, "und" (undetermined) unless best_count/n_tokens > 0.05.
    * Native single-pass expression — the round-1 HOF formulation
    * re-tokenized the text once per language (5x). */
  def langId(text: Column): Column = graft.functions.LangId.lang_id(text)

  // ---- quality scoring -----------------------------------------------------------

  /** Composite [0,1] quality score: length in a sane band, moderate
    * punctuation, non-trivial stopword share, word lengths in natural
    * range. The standard C4/Gopher-style heuristic family. Native
    * single-pass expression (one tokenize loop instead of three HOF
    * passes); formula in [[graft.functions.TextProfile.qualityScore]]. */
  def qualityScore(text: Column): Column = graft.functions.QualityScore.quality_score(text)

  // ---- fingerprinting --------------------------------------------------------------

  /** Content fingerprint of normalized text (case-folded, whitespace
    * collapsed): stable under cosmetic edits. */
  def contentFingerprint(text: Column): Column =
    xxhash64(regexp_replace(trim(lower(text)), "\\s+", " "))
}
