package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines, all pure
 * Catalyst expressions (codegen'd, no UDFs): language-ID (stopword-hit
 * heuristic), quality scoring, token counting, document fingerprinting.
 * Each is exposed over the `documents` table via SparkEntry.queries with a
 * DuckDB oracle.
 */
object TextOps {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Normalization for fingerprinting: lowercase, strip non-alphanumerics,
   * collapse whitespace. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]+", " "), " +", " "))

  /** Deterministic document fingerprint (md5 of normalized text) — the
   * exact-dedup key. md5 exists in both Spark and DuckDB, so the oracle can
   * check values, not just shapes. */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Portable 32-bit token hash: first 8 hex digits of md5, as a long in
   * [0, 2^32). md5 is bit-identical in Spark and DuckDB, so any operator
   * built on this basis (notably simhash for the q_simhash_pairs driver
   * query) can be value-oracled instead of rows-only. The default simhash
   * basis stays Spark's codegen murmur `hash` — this one trades one md5
   * per token for cross-engine verifiability. */
  def portableHash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Stopword lists per language for the n-gram-free language-ID heuristic.
   * Counts hits WITH multiplicity. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un"),
    "es" -> Seq("el", "los", "de", "y", "es", "un", "una"))

  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val lst = array(words.map(lit): _*)
    size(filter(tokens(lower(text)), t => array_contains(lst, t)))
  }

  /** Best-scoring language, "und" when nothing hits; ties break by list
   * order (en, de, fr, es) via strictly-greater comparison. */
  def langId(text: Column): Column = {
    val scored = stopwords.map { case (l, ws) => (l, stopwordHits(text, ws)) }
    val best = scored.foldLeft((lit("und"), lit(0))) { case ((bl, bs), (l, s)) =>
      (when(s > bs, lit(l)).otherwise(bl), greatest(s, bs))
    }
    when(best._2 > 0, best._1).otherwise(lit("und"))
  }

  /** Quality features + a composite score in [0,1]:
   * length, token count, mean token length, punctuation ratio, stopword
   * ratio. Everything rounded so a DuckDB oracle can compare values. */
  def quality(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val nTok = tokenCount(t)
    val nChar = length(t)
    val punct = length(t) - length(regexp_replace(t, "[.!?,;:]", ""))
    val stopHits = stopwordHits(t, stopwords.head._2)
    df.withColumn("n_chars", nChar)
      .withColumn("n_tokens", nTok)
      .withColumn("mean_token_len",
        round(length(regexp_replace(t, "\\s+", "")).cast("double") / nTok, 4))
      .withColumn("punct_ratio", round(punct.cast("double") / nChar, 4))
      .withColumn("stopword_ratio", round(stopHits.cast("double") / nTok, 4))
      // floor-truncate rather than round: Spark round() goes through the
      // decimal STRING repr (HALF_UP) while DuckDB rounds the binary value,
      // so x.xxxx5 boundaries diverge; floor on bit-identical doubles cannot.
      .withColumn("quality_score", floor(
        (least(lit(1.0), nTok.cast("double") / 100.0) * 0.5
          + least(lit(1.0), col("stopword_ratio") * 5) * 0.3
          + when(col("mean_token_len").between(3.0, 8.0), 0.2).otherwise(0.0)) * 10000) / 10000)
  }
}
