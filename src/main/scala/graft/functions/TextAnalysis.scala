package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for the documents pipeline.
  *
  * All are compositions of built-in (codegen'd) functions — no Scala
  * UDFs — so they stay inside whole-stage codegen and push down through
  * Catalyst. Every regex here is deliberately restricted to syntax with
  * identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
  * no lookarounds, explicit ASCII classes instead of \p{...}.
  */
object TextAnalysis {

  /** ASCII punctuation as an explicit range class (== POSIX [:punct:])
    * so Spark (Java regex) and the DuckDB oracle (RE2) agree. */
  val PunctClass = "[!-/:-@\\[-`{-~]"

  /** BPE-ish token pattern: letter runs, digit runs, single
    * punctuation/symbol chars — a cheap proxy for BPE pre-tokenization.
    * The whitespace exclusion is the EXPLICIT Java-`\s` class
    * [ \t\n\x0B\f\r] (identical semantics in Java here) so the oracle
    * can use the same literal class: RE2's `\s` omits \x0B, and inside
    * a NEGATED class that difference would turn a vertical tab into a
    * token on one engine only. */
  val BpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]"

  /** Whitespace tokens, empties removed. The split class is written
    * out explicitly ([ \t\n\x0B\f\r] — exactly Java's `\s`, so this is
    * a semantic no-op for Spark) because the DuckDB oracle must use
    * the same literal class: RE2's `\s` omits \x0B, and a corpus with
    * a vertical tab would otherwise tokenize differently per engine. */
  def tokens(text: Column): Column =
    filter(split(text, "[ \\t\\n\\x0B\\f\\r]+"), t => length(t) > 0)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count (regex-match count, no lookarounds). */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Alphabetic character ratio. */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** ASCII punctuation ratio. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, s"[^!-/:-@\\[-`{-~]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  val StopwordsEn = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "on", "for", "with", "as", "at", "by", "it", "that")

  /** Fraction of tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    when(size(toks) === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.isin(StopwordsEn: _*))).cast("double") /
        size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: balanced length, alpha-heavy,
    * some stopwords, low punctuation. NOT rounded: the whole expression
    * tree is identical to the oracle SQL's, so the doubles match bit
    * for bit; a final round would only add divergence risk. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    lenScore * lit(0.25) + alphaRatio(text) * lit(0.35) +
      (lit(1.0) - punctRatio(text)) * lit(0.2) +
      least(stopwordRatio(text) * lit(4.0), lit(1.0)) * lit(0.2)
  }

  /** Stopword marker lists per language for the n-gram/stopword
    * language-ID heuristic. Deterministic, SQL-expressible. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une"))

  /** Email pattern — RE2-safe (no lookarounds), same semantics in Java
    * regex and the DuckDB oracle. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"

  /** Phone-ish pattern: optional +, then 8+ digits/dashes starting with
    * a digit. */
  val PhonePattern = "\\+?[0-9][0-9-]{7,}"

  /** PII redaction: emails then phones replaced by typed placeholders —
    * the standard pre-training scrub pass. Order matters: the email
    * rule must run first or its digit runs would be half-eaten by the
    * phone rule. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Language ID: argmax of per-language marker-token hit counts with a
    * fixed priority order (en > es > de > fr) on ties, 'unknown' when
    * no marker hits at all. */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    def score(ws: Seq[String]): Column =
      size(filter(toks, t => t.isin(ws: _*)))
    val Seq(en, es, de, fr) = LangMarkers.map { case (_, ws) => score(ws) }
    when(en >= es && en >= de && en >= fr && en > 0, lit("en"))
      .when(es >= de && es >= fr && es > 0, lit("es"))
      .when(de >= fr && de > 0, lit("de"))
      .when(fr > 0, lit("fr"))
      .otherwise(lit("unknown"))
  }
}
