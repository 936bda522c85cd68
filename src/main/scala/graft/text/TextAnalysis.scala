package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the training-data pipeline tier: token
  * counting (whitespace + BPE-ish regex), quality scoring, language-ID
  * (marker-word profile heuristic), and document fingerprinting (min-shingle
  * winnowing + head polynomial). All pure built-in expressions — codegen'd,
  * shuffle-free, and reproducible in the DuckDB oracle.
  */
object TextAnalysis {

  /** Deterministic 6-decimal truncation: floor(x*1e6)/1e6. Unlike round(),
    * identical in every engine given the same input double (round-half rules
    * differ between Spark and DuckDB at representation boundaries). */
  def r6(c: Column): Column = floor(c * 1000000d) / 1000000d

  /** Non-empty whitespace tokens (split on single space, like the SimHash
    * tokenizer — parity with string_split in the oracle). */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= lit(""))

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** BPE-ish subword segmentation: runs of letters, runs of digits, or a
    * single non-alphanumeric symbol — the standard pre-tokenizer shape. */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(colName: String): Column =
    // lit() pattern, not expr(): SQL string literals would eat the \s escape
    size(regexp_extract_all(col(colName), lit(BpePattern), lit(0))).cast("long")

  /** Language marker-word profiles (deterministic demo profiles drawn from
    * the synthetic vocabulary; the operator is profile-agnostic). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "und", "data", "group", "window"),
    "en" -> Seq("the", "a", "scan", "join", "table"),
    "es" -> Seq("el", "la", "row", "value", "query"),
    "fr" -> Seq("le", "et", "sort", "merge", "filter"),
    "zh" -> Seq("de", "shi", "hash", "batch", "vector"))

  /** Predicted language = argmax marker score (ties → lexicographic first,
    * profiles are lang-sorted). One custom codegen'd expression: a single
    * token walk scores every profile — the composed HOF form re-split and
    * re-scanned the string once per marker word (~25 passes per row). */
  def langId(c: Column): Column =
    graft.functions.TextFunctions.langId(c, LangProfiles)

  /** Quality-signal columns: length, token stats, character-class ratios,
    * stopword ratio, and a composite score. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")

  def qualityColumns(c: Column): Seq[(String, Column)] = {
    val nChars = length(c).cast("long")
    val nToks = tokenCount(c)
    val alpha = length(regexp_replace(c, "[^A-Za-z]", "")).cast("long")
    val digits = length(regexp_replace(c, "[^0-9]", "")).cast("long")
    val punct = length(regexp_replace(c, "[A-Za-z0-9 ]", "")).cast("long")
    // one token walk for the whole stopword set (was one array scan per word)
    val stops = graft.functions.TextFunctions.wordSetCount(c, Stopwords)
    val nCharsD = nChars.cast("double")
    val nToksD = greatest(nToks, lit(1L)).cast("double")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nToks,
      "avg_token_len" ->
        r6(length(array_join(tokens(c), "")).cast("double") / nToksD),
      "alpha_ratio" -> r6(alpha.cast("double") / nCharsD),
      "digit_ratio" -> r6(digits.cast("double") / nCharsD),
      "punct_ratio" -> r6(punct.cast("double") / nCharsD),
      "stopword_ratio" -> r6(stops.cast("double") / nToksD))
  }

  /** Composite quality score in [0,1]-ish: favors alphabetic prose with a
    * plausible token length; penalizes digit/punct noise. */
  def qualityScore(c: Column): Column = {
    val cols = qualityColumns(c).toMap
    r6(
      cols("alpha_ratio") * 0.5
        + (lit(1.0) - cols("digit_ratio")) * 0.2
        + (lit(1.0) - cols("punct_ratio")) * 0.2
        + least(cols("stopword_ratio") * 2.0, lit(1.0)) * 0.1)
  }

  /** Document fingerprints, three components:
    *  - fp_min: min 5-gram shingle hash (1-perm winnowing; concentrates on
    *    shared-vocabulary corpora — a similarity signal, not an identity)
    *  - fp_set: sum of distinct shingle keys mod P — an order-insensitive
    *    set hash, near-unique per distinct content (the identity signal)
    *  - fp_head (below): head-8-chars polynomial. */
  def fingerprint(colName: String): Column =
    array_min(graft.near.NearDup.shingleKeys(colName))

  def fingerprintSet(colName: String): Column =
    aggregate(graft.near.NearDup.shingleKeys(colName),
      lit(0L), (acc, x) => acc + x) % lit(2147483647L)

  def headHash(c: Column): Column = {
    // polynomial over the first 8 chars padded with '_' (base 131, cp % 256)
    val padded = rpad(c, 8, "_")
    (0 until 8).map { i =>
      (ascii(substring(padded, i + 1, 1)).cast("long") % 256) *
        lit(math.pow(131.0, i).toLong)
    }.reduce(_ + _)
  }

  /** N-gram repetition signal: 1 - distinct-5-gram / total-5-gram ratio.
    * Boilerplate and degenerate (looping) generations repeat n-grams;
    * clean prose approaches 0. Total 5-grams of an n-char text = n-4;
    * distinct count reuses the one-pass shingle expression (which
    * deduplicates), so the ratio is one map-side projection. */
  def repetitionColumns(colName: String): Seq[(String, Column)] = {
    val total = (length(col(colName)) - 4).cast("long")
    val distinctN = size(graft.near.NearDup.shingleKeys(colName)).cast("long")
    Seq(
      "n_grams" -> total,
      "n_distinct_grams" -> distinctN,
      "repetition_ratio" -> r6(lit(1.0) -
        distinctN.cast("double") / total.cast("double")))
  }
}
