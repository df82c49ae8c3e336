package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for the LLM-data-pipeline operators
  * (SURVEY §2 q32–q35). All builtin-function compositions — codegen'd,
  * no UDFs — so scoring a 100 TB corpus is a single scan with no
  * shuffle.
  */
object TextFunctions {

  /** Whitespace tokens, empties dropped: split on single spaces
    * through the native codegen'd kernel [[Tokens]] (the same
    * [[TextKernelUtil.tokenize]] as the shingle kernels). */
  def tokens(text: Column): Column = Tokens.tokens(text)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** How many tokens fall in `set`: a native count over the shared
    * [[tokens]] subtree, so N tokensIn sites in one projection (langId
    * scores one per language) tokenize ONCE per row via codegen
    * subexpression elimination. Counting straight over the text would
    * re-tokenize per site (r18 measured that form slower on
    * q32/q33/q42). */
  def tokensIn(text: Column, set: Seq[String]): Column =
    CountIn.countIn(tokens(text), set)

  /** BPE-ish subword count: letter runs, digit runs, single symbols. */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))

  /** Deterministic language-ID scorer: per-language marker-word hit
    * counts; argmax with lexicographic tie-break. `markers` maps
    * language code → marker words (stopword lists in real corpora). */
  def langId(text: Column, markers: Map[String, Seq[String]]): Column = {
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(tokensIn(text, words).as("score"), lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs: highest score wins, then the
    // lexicographically LAST lang among ties — deterministic; we invert
    // to prefer first by ordering on (score, negated-rank) instead:
    // simpler and still deterministic: pick via aggregate fold.
    aggregate(
      array(scored: _*),
      struct(lit(-1).as("score"), lit("").as("lang")),
      (acc, x) => when(x.getField("score") > acc.getField("score"), x).otherwise(acc)
    ).getField("lang")
  }
}
