package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-document character-distribution Shannon entropy (m76) — the
  * model-free information-density dial next to [[CompressionRatio]]'s
  * deflate proxy: binary-ish junk and mojibake sit HIGH, repeated-char
  * spam sits LOW, natural prose in a stable band (~4.1 bits ≈ 2.8 nats
  * for English). Unlike deflate it is exactly SQL-replayable, so this
  * one carries a hash oracle.
  *
  * One compiled pass per row via the NATIVE Catalyst expression
  * [[graft.functions.CharProfile]] (doGenCode, no UDF fence): run-length
  * over the sorted char array, entropy folded in ascending char order so
  * the float summation is deterministic within the engine. Chars are
  * UTF-16 code units — identical to per-character for the BMP text this
  * corpus ships; a surrogate-aware variant would walk code points.
  *
  * Scale shape (100 TB): a pure projection — no shuffle, no explode
  * (the relational explode-per-character form the ORACLE uses would be
  * one row per char; the engine keeps the walk inside the row).
  */
object CharEntropy {

  /** (doc_id, n_chars_counted, char_types, char_entropy) for non-empty
    * documents; entropy in nats over the character distribution. Runs on
    * the codegen'd [[graft.functions.CharProfile]] expression — the scan,
    * profile and projection fuse into one whole-stage pipeline. */
  def entropy(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    docs.filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.charProfile(spark, col("text")).as("e"))
      .select(col("doc_id"), col("e.n_chars_counted"), col("e.char_types"),
        col("e.char_entropy"))
  }
}
