package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for a training-data pipeline: token
  * counting, quality signals, language-ID voting, fingerprinting.
  *
  * Everything here is built from `org.apache.spark.sql.functions` and
  * the engine's own kernels (codegen'd Catalyst expressions — no
  * UDFs), so the whole column pipeline stays inside WholeStageCodegen
  * and scales linearly with the scan; nothing is collected or
  * row-looped.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Token count after whitespace split: `size(tokens(text))`, counted
    * by the `token_count` byte-scan kernel ([[TokenCount]]) without
    * building the token array. */
  def tokenCount(text: Column): Column = TokenCount(text)

  /** BPE-ish subword count: alpha runs, digit runs, and single
    * non-alnum glyphs each count as one token (the common pre-tokenizer
    * regex shape used before byte-pair merging).
    */
  def subwordCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  /** Ratio of punctuation/symbol characters to all characters. */
  def punctRatio(text: Column): Column =
    Rounding.portableRound4(
      length(regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("double") /
        greatest(length(text), lit(1)).cast("double"))

  val stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "and", "in", "to", "is", "it", "for")

  /** Fraction of tokens that are stopwords (quality signal: natural
    * prose sits in a band; word salad and boilerplate fall outside).
    */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(text)
    val stops = filter(toks, t => lower(t).isInCollection(stopwords))
    Rounding.portableRound4(
      size(stops).cast("double") / greatest(size(toks), lit(1)).cast("double"))
  }

  /** Mean token length, rounded. */
  def avgTokenLen(text: Column): Column = {
    val toks = tokens(text)
    Rounding.portableRound4(
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        greatest(size(toks), lit(1)).cast("double"))
  }

  /** Language-ID marker words (tiny closed-class vocabularies — the
    * classic cheap n-gram/stopword heuristic). Scores are marker-token
    * counts; prediction is argmax with a fixed priority tie-break so the
    * result is deterministic and SQL-expressible for the oracle.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "und", "die", "das"),
    "es" -> Seq("el", "y", "los", "las"),
    "fr" -> Seq("le", "et", "les", "des"))

  def langScore(text: Column, lang: String): Column = {
    val toks = tokens(text)
    size(filter(toks, t => lower(t).isInCollection(langMarkers(lang))))
  }

  /** Predicted language: argmax of marker scores, priority order
    * en > de > es > fr on ties, `und` when no marker hits at all.
    */
  def langPredict(text: Column): Column = {
    val en = langScore(text, "en"); val de = langScore(text, "de")
    val es = langScore(text, "es"); val fr = langScore(text, "fr")
    when(greatest(en, de, es, fr) === 0, lit("und"))
      .when(en >= de && en >= es && en >= fr, lit("en"))
      .when(de >= es && de >= fr, lit("de"))
      .when(es >= fr, lit("es"))
      .otherwise(lit("fr"))
  }

  /** Canonical-content fingerprint: md5 of lowercased,
    * whitespace-collapsed, trimmed text. Two documents differing only in
    * spacing/case collide — the cheap first tier of dedup.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))
}
