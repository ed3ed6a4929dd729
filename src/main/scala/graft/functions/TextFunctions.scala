package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-data-pipeline operators, composed
  * entirely from codegen'd built-ins (`org.apache.spark.sql.functions`) so
  * they stay inside whole-stage codegen and visible to Catalyst — unlike the
  * reference, whose only extension point was an opaque pickled function
  * (`/root/reference/Worker.fs:20`).
  *
  * Tokenization contract (shared with the DuckDB oracles, see
  * `queries/Pipeline.scala`): lowercase, split on runs of non-alphanumerics,
  * drop empty tokens.
  */
object TextFunctions {

  /** Lowercased alphanumeric tokens; empties removed. Native expression —
    * the Column-composed equivalent is
    * `filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")`. */
  def tokens(text: Column): Column = TextExpressions.tokenize(text)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word n-gram shingles over a token array, space-joined.
    * size < n → single shingle of all tokens (so short docs still hash). */
  def tokenShingles(toks: Column, n: Int): Column =
    TextExpressions.tokenShingles(toks, n)

  /** Character k-gram shingles of the raw string (near-dup at char level). */
  def charShingles(text: Column, k: Int): Column =
    TextExpressions.charShingles(text, k)

  /** Total characters across tokens (exact-int arithmetic). */
  def tokenChars(toks: Column): Column =
    aggregate(toks, lit(0), (acc, t) => acc + length(t))

  /** BPE-ish subword count of a token array: words are split into
    * ceil(len/4) units — a cheap, deterministic stand-in for a real
    * tokenizer's token count. */
  def subwordCountFromTokens(toks: Column): Column =
    aggregate(toks, lit(0),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast("int"))

  /** GPT-2-style pre-tokenizer pattern, minus the lookahead clauses (RE2
    * engines — the DuckDB oracle's — don't support lookahead): contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    * then residual whitespace. Pre-tokenization is where token counts are
    * decided; the BPE merge table only splits within these matches. */
  val bpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token count under [[bpePattern]] — the "BPE-ish" budget estimate a
    * training pipeline runs over every document. Codegen'd: regexp_extract_all
    * is a native Spark expression. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpePattern), lit(0)))

  /** Tiny per-language stopword inventories (public, conventional lists). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "zu", "mit", "ein", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "pour", "que", "dans", "les"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "you", "he", "zai", "ta", "men"))

  /** Number of tokens that are stopwords of `lang` (with multiplicity). */
  def stopwordCount(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isInCollection(stopwords(lang))))

  /** Language-ID by stopword-hit scoring: argmax over languages, ties broken
    * by language-code order. An n-gram heuristic in the classic style —
    * deterministic, oracle-reproducible.
    *
    * Prefer staging: compute [[stopwordCount]] per language into columns
    * first, then apply [[langIdFromScores]] on the column references —
    * higher-order functions are interpreted (no codegen CSE), so inlining
    * this whole tree re-tokenizes per language. */
  def langIdExpr(toks: Column): Column =
    langIdFromScores(stopwords.keys.toSeq.sorted.map(l =>
      l -> stopwordCount(toks, l)))

  /** Argmax over per-language score columns; ties → first lang in sorted
    * code order. */
  def langIdFromScores(scores: Seq[(String, Column)]): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first language (in sorted order) achieving the max score
    scores.reverse.foldLeft(lit(scores.last._1)) { case (acc, (l, s)) =>
      when(s === best, lit(l)).otherwise(acc)
    }
  }

  /** Ratio of alphabetic characters in the raw text (0 when empty). */
  def alphaRatio(text: Column): Column = {
    val alpha = length(regexp_replace(lower(text), "[^a-z]", ""))
    when(length(text) === 0, lit(0.0)).otherwise(alpha / length(text))
  }

  /** Ratio of punctuation characters in the raw text. */
  def punctRatio(text: Column): Column = {
    val punct = length(regexp_replace(text, "[^.,;:!?'\"()-]", ""))
    when(length(text) === 0, lit(0.0)).otherwise(punct / length(text))
  }

  /** Mean token length (0 when no tokens). */
  def meanTokenLen(toks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(tokenChars(toks) / size(toks))

  /** Heuristic quality score in [0,1]: favors mid-length docs, high alpha
    * ratio, some stopword presence, and sane mean word length. The exact
    * blend is arbitrary but fixed; it exists to rank/filter corpus docs.
    *
    * Prefer [[qualityScoreFromTokens]] with a pre-staged token column in
    * hot paths — this form re-tokenizes per sub-score (HOFs have no CSE). */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text))

  /** [[qualityScore]] with the token array supplied (stage it into a column
    * first so the tokenizer runs once per row). Identical values. */
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val lenScore = least(size(toks) / lit(100.0), lit(1.0))
    val alphaScore = alphaRatio(text)
    val stopScore = least(
      stopwordCount(toks, "en") / greatest(size(toks), lit(1)) * 5.0, lit(1.0))
    val wordLen = meanTokenLen(toks)
    val wordLenScore = when(wordLen >= 3 && wordLen <= 10, lit(1.0))
      .otherwise(lit(0.5))
    (lenScore * 0.3 + alphaScore * 0.3 + stopScore * 0.2 + wordLenScore * 0.2)
  }

  // ---- PII scrubbing ------------------------------------------------------
  // Patterns are shared verbatim with the DuckDB oracles → RE2-safe only
  // (no lookahead, no backreferences). All three are plain codegen'd
  // regexp_replace/regexp_extract_all — scan-shaped, no shuffle.

  /** Email addresses (lowercase form; run after lower() for mixed case). */
  val emailPattern: String = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  /** International-prefix phone numbers, e.g. +1-555-0042. */
  val phonePattern: String = "\\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{4}"

  /** Dotted-quad IPv4 addresses. */
  val ipv4Pattern: String = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Replace emails, then phones, then IPv4s with typed placeholder tags.
    * Email runs first so its digit/dot substrings can't be half-eaten by
    * the narrower patterns. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipv4Pattern, "<IP>")

  /** Number of matches of `pattern` in `text` (count before redacting — the
    * audit trail a scrubbing pipeline keeps per document). */
  def piiCount(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))
}
