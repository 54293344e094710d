package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Intra-document repetition removal — the training-data cleanup step that
  * collapses consecutive duplicate-token runs ("batch batch batch" → "batch"),
  * the cheap tier of CCNet/Gopher-style repetition filters.
  *
  * Scale shape: a pure per-row projection (higher-order `filter` over the
  * token array — codegen'd, no UDF, no shuffle). At 100 TB this runs at scan
  * speed; the repetition *metrics* it emits (n_collapsed per doc) are what a
  * downstream quality gate thresholds on, so both the cleaned text and the
  * counts come out of the same single pass.
  *
  * Tokenization is the corpus-wide standard: space-split of
  * `trim(lower(text))`, consistent with TextOps.chunk / NgramJaccard.
  */
object Repetition {

  /** Keep each token only when it differs from its predecessor. The lambda
    * index `i` is 0-based; `element_at` is 1-based, so `element_at(t, i)` is
    * exactly the previous token, and the `when` guard keeps the invalid
    * 0-index branch unevaluated (CaseWhen branches are lazy in codegen). */
  private def collapsed(t: Column): Column =
    filter(t, (tok, i) =>
      when(i === 0, lit(true)).otherwise(tok =!= element_at(t, i)))

  /** Run-collapsed text from an ALREADY-PROJECTED token-array attribute.
    * The token array MUST be aliased in a projection below (`.as("t")`,
    * then pass `col("t")`) — handing the split/lower expression tree in
    * directly would embed a copy of it inside the lambda's `element_at`,
    * re-evaluating the whole upstream chain once per token (measured 9×
    * on the m28 composite, where upstream is a triple-regex scrub). */
  def collapseTokens(t: Column): Column = array_join(collapsed(t), " ")

  /** Per-document run-collapse: cleaned text plus repetition metrics.
    * Null text is excluded up front (the corpus contract; same policy as
    * Sessionize's null-ts rows) so engines that drop null groups and
    * engines that propagate null rows cannot diverge. */
  def collapseRuns(docs: DataFrame): DataFrame = {
    val toks = split(lower(trim(col("text"))), " +")
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"), collapsed(col("t")).as("k"),
        size(col("t")).cast("long").as("n_tokens"))
      .select(col("doc_id"),
        array_join(col("k"), " ").as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - size(col("k"))).cast("long").as("n_collapsed"))
  }
}
