package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unicode text canonicalization — the normalization pass a crawl corpus
  * goes through BEFORE any hashing/dedup/tokenizing, so that byte-level
  * encoding noise ("café" composed vs decomposed, NBSP vs space, runs of
  * whitespace) cannot split what is semantically one string into several
  * fingerprints. Steps, in order:
  *
  *   1. NFC normalization (composed forms; e + U+0301 → é),
  *   2. accent stripping (NFD, drop combining marks: é → e),
  *   3. NBSP → space,
  *   4. whitespace-run collapse + trim.
  *
  * Steps 1–2 are the codegen'd [[graft.functions.StringNfc]] /
  * [[graft.functions.StringUnaccent]] Catalyst expressions (Spark has no
  * built-in Unicode normalizer; a Scala UDF would break whole-stage
  * codegen on the full-corpus path). Steps 3–4 are stock `translate` /
  * `regexp_replace` (Java and RE2 agree that `\s` is the ASCII class, so
  * the DuckDB oracle replays the collapse verbatim).
  *
  * Scale shape: a pure per-row projection — no shuffle, no state; it
  * fuses into whatever scan feeds it.
  */
object Canonical {

  /** The canonical form of a text column. */
  def canonicalize(text: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    val nfc = graft.functions.GraftFunctions.nfc(spark, text)
    val plain = graft.functions.GraftFunctions.unaccent(spark, nfc)
    trim(regexp_replace(translate(plain, "\u00A0", " "), "\\s+", " "))
  }

  /** (doc_id, canonical, n_raw_chars, n_canonical_chars) over `text`;
    * null text rows pass through with null canonical (the caller's
    * null policy stays theirs). */
  def canonicalized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      canonicalize(col("text")).as("canonical"),
      length(col("text")).cast("long").as("n_raw_chars"),
      length(canonicalize(col("text"))).cast("long").as("n_canonical_chars"))
}
