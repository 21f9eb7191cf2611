package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: tokenization,
  * language-ID, quality scoring, fingerprinting. All pure Column
  * expressions (codegen'd, no UDFs) so they vectorize inside
  * whole-stage codegen and push through 100 TB as ordinary projections.
  *
  * Regex syntax is kept in the Java-regex ∩ RE2 subset so the same
  * pattern strings drive the DuckDB oracle.
  */
object Text {

  /** ASCII word tokens of lowercased text. Unicode-lowercase differences
    * between engines are moot because only [a-z0-9] runs survive.
    * Codegen'd (graft.plans.AsciiTokens): byte-identical to
    * `filter(split(lower(c), "[^a-z0-9]+"), _ =!= "")` but ~100x
    * cheaper — the filter lambda evaluates interpreted per element. */
  def tokens(c: Column): Column =
    graft.plans.GraftFunctions.graft_tokens(lower(c))

  /** Whitespace-ish token count (the "wc -w" analog). */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword count: letter runs, single digits, and single
    * punctuation marks each count as one token — a cheap, deterministic
    * stand-in for a real BPE vocab. */
  def subwordCount(c: Column): Column =
    graft.plans.GraftFunctions.regexp_count_only(
      lower(c), "[a-z]+|[0-9]|[^a-z0-9\\s]")

  /** Shingles from an already-materialized token array. Reference `t`
    * as a bound column, never an expression subtree: this expression
    * mentions the token array five times, and Catalyst does not
    * eliminate common subtrees inside one projection — inlining
    * `tokens(text)` here re-runs the regex split per mention (measured
    * 5x cost on the shingle path). */
  def shinglesFromTokens(t: Column, n: Int): Column =
    array_distinct(
      when(size(t) >= n,
        transform(sequence(lit(0), size(t) - n), i =>
          concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*)))
        .otherwise(array().cast("array<string>")))

  /** Word n-gram shingles (distinct), the dedup unit. Docs shorter than
    * n tokens contribute no shingles. Prefer tokenizing into a column
    * and calling shinglesFromTokens when the caller controls the plan. */
  def shingles(c: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(c), n)

  // --- language ID (stopword + script heuristic) ----------------------

  val cjkPattern = "[\\x{4e00}-\\x{9fff}]"

  /** Per-language anchor stopwords, matched case-insensitively on the
    * raw text ((?i) instead of lower() keeps both engines byte-equal). */
  val stopwords: Seq[(String, String)] = Seq(
    "en" -> "(?i)\\b(the|and|of|to|in|is|that|it|for|was)\\b",
    "de" -> "(?i)\\b(der|die|und|das|nicht|ist|ich|ein|zu|den)\\b",
    "fr" -> "(?i)\\b(le|la|les|et|des|est|dans|une|que|pour)\\b",
    "es" -> "(?i)\\b(el|los|las|y|que|en|un|una|por|con)\\b")

  /** Count-only matcher (graft.plans.RegexCount): identical match count
    * to `regexp_count`, which Spark compiles to
    * `size(regexp_extract_all(...))` — one String + one UTF8String copy
    * per MATCH, collected into an array whose only reader is `size`.
    * Stopword hits number in the dozens per document, so the count-only
    * form removes all per-match allocation from the q17/q18 scans. */
  def stopwordHits(c: Column, lang: String): Column =
    graft.plans.GraftFunctions.regexp_count_only(c, stopwords.toMap.apply(lang))

  /** The langId decision tree over ALREADY-COMPUTED signals: CJK script
    * wins outright, else argmax of stopword hit counts with a fixed
    * precedence order for ties. Factored out so callers on a hot path
    * can materialize each count ONCE in a prior projection and feed
    * bound columns here: inlining `stopwordHits` directly into this
    * CASE mentions each regex up to three times, and Catalyst does not
    * eliminate common subtrees inside one projection (the plan showed
    * 13 regexp_extract_all calls per row; the two-projection form runs
    * 4 regexp_counts + 1 rlike). */
  def langIdFrom(cjkHit: Column, en: Column, de: Column,
                 fr: Column, es: Column): Column =
    when(cjkHit, "zh")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")

  /** Heuristic language ID as a single Column (convenience form — the
    * optimizer may evaluate each count several times; see
    * [[langIdFrom]] for the hot-path split). `rlike` replaces the old
    * `regexp_count(..) > 0` CJK gate: same predicate, but the matcher
    * stops at the first hit instead of materializing every match. */
  def langId(c: Column): Column =
    langIdFrom(c.rlike(cjkPattern),
      stopwordHits(c, "en"), stopwordHits(c, "de"),
      stopwordHits(c, "fr"), stopwordHits(c, "es"))

  // --- quality scoring -------------------------------------------------

  def punctCount(c: Column): Column =
    graft.plans.GraftFunctions.regexp_count_only(c, "[.,;:!?]")

  /** Composite [0,1] quality score: token mass, low punctuation density,
    * healthy stopword ratio. Every term is a deterministic IEEE double
    * expression, so the score is engine-portable bit-for-bit. */
  def qualityScore(c: Column): Column = {
    val toks = tokenCount(c).cast("double")
    val len = greatest(length(c), lit(1)).cast("double")
    val punctRatio = punctCount(c).cast("double") / len
    val stopRatio = stopwordHits(c, "en").cast("double") / greatest(toks, lit(1.0))
    least(toks / lit(100.0), lit(1.0)) * lit(0.4) +
      (lit(1.0) - least(punctRatio * lit(5.0), lit(1.0))) * lit(0.3) +
      least(stopRatio * lit(5.0), lit(1.0)) * lit(0.3)
  }

  /** Canonical content fingerprint: md5 of whitespace-collapsed, trimmed
    * text. Case is preserved (unicode case-folding is the one place
    * engines may disagree byte-wise). */
  def fingerprint(c: Column): Column =
    md5(trim(regexp_replace(c, "\\s+", " ")).cast("binary"))
}
