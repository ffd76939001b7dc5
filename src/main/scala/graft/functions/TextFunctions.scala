package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis columns for a training-data pipeline: token counting,
  * punctuation/stopword ratios, quality scoring, language-ID heuristic,
  * rolling-hash fingerprints. Everything is built-in Catalyst expressions
  * (codegen'd, no UDF) so the hot path stays inside WholeStageCodegen at
  * any scale.
  */
object TextFunctions {

  /** Whitespace tokens; empty/blank text → empty array (split would
    * return [""] otherwise). */
  def tokens(text: Column): Column =
    when(trim(text) === "", array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish sub-word unit count: letter-runs, digit-runs, and punctuation
    * runs each count as one unit — a cheap deterministic proxy for a real
    * tokenizer's token count. */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[\\p{L}]+|[\\p{N}]+|[^\\s\\p{L}\\p{N}]"))

  def charCount(text: Column): Column = length(text)

  def punctRatio(text: Column): Column =
    regexp_count(text, lit("[\\p{Punct}]")).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be")

  /** Composite quality score in [0,1]: rewards mid-length docs, penalizes
    * extreme punctuation density and degenerate repetition (sqrt of
    * type/token ratio, so pure repetition collapses the score).
    * Deterministic, fully expression-based. */
  def qualityScore(text: Column): Column = {
    val len = length(text).cast("double")
    val lenScore = least(len / lit(500.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * lit(4.0), lit(1.0))
    val distinctToks = size(array_distinct(tokens(lower(text)))).cast("double")
    val total = greatest(tokenCount(text).cast("double"), lit(1.0))
    val diversity = sqrt(distinctToks / total)
    Rounding.dround(lenScore * (lit(1.0) - punctPenalty * lit(0.5)) * diversity, 4)
  }

  /** Stopword-profile language ID over {en, es, de, fr} + a CJK
    * char-range check for zh. Scores are per-language stopword hit
    * counts; `greatest` over (score, lang) structs breaks score ties
    * by the lexicographically largest language code. */
  private val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "with"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "des", "et", "est", "dans", "une", "du"))

  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores = LangStopwords.map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).as("score"),
        lit(lang).as("lang"))
    }
    val best = greatest(scores: _*)
    val cjk = regexp_count(text, lit("[\\u4e00-\\u9fff]"))
    when(cjk > tokenCount(text) / 2, lit("zh"))
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Order-sensitive 64-bit document fingerprint: xxhash64 over the
    * token stream joined with a non-printing separator — content identity
    * that is whitespace-normalization-invariant (unlike hashing the raw
    * string) and never shuffles the text itself. */
  def fingerprint(text: Column): Column =
    xxhash64(concat_ws("\u0001", tokens(text)))

  // --- text scrubbing (PII/noise removal for training corpora) --------
  // Patterns deliberately avoid Java-only regex features (backrefs,
  // possessive quantifiers) so the same pattern runs under RE2-family
  // engines — scrub rules must be auditable outside Spark.
  val UrlPattern = "https?://[^\\s]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  def scrubUrls(text: Column, repl: String = "<URL>"): Column =
    regexp_replace(text, UrlPattern, repl)

  def scrubEmails(text: Column, repl: String = "<EMAIL>"): Column =
    regexp_replace(text, EmailPattern, repl)

  /** Collapse whitespace runs and trim — the standard post-scrub
    * normalization pass. */
  def normalizeWhitespace(text: Column): Column =
    trim(regexp_replace(text, "\\s+", " "))

  /** Fraction of word n-gram occurrences that are repeats of an
    * earlier occurrence within the same document — the Gopher-style
    * repetition signal (high values ⇒ boilerplate/generated text).
    * `(count - distinct) / count`, 0.0 for empty docs; a narrow
    * array expression, no shuffle at any n. */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val ngs =
      if (n == 1) tokens(lower(text))
      else WordShingles.column(tokens(lower(text)), n)
    val total = size(ngs)
    when(total > 0,
      (total - size(array_distinct(ngs))).cast("double") /
        total.cast("double"))
      .otherwise(lit(0.0))
  }
}
