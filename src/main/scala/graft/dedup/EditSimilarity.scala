package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance near-duplicate verification — the third verify style
  * over the stored LSH candidate pairs, beside shingle-hash Jaccard
  * (m05) and char-n-gram Jaccard (m07). Jaccard is a BAG-OF-SHINGLES
  * measure: reordering a document's sentences barely moves it.
  * Levenshtein similarity 1 − dist/max(len) (Levenshtein 1966, public;
  * the normalization is the standard similarity form) is ORDER-AWARE —
  * the verify to use when sequence matters: templated pages with swapped
  * sections, plagiarism-style paraphrase checks, OCR-noise twins.
  *
  * Both engines ship the same exact algorithm (`levenshtein` in Spark's
  * functions and in DuckDB), so the oracle replays the verify integer-
  * for-integer — no capture needed.
  *
  * Scale shape: the expensive half (candidate GENERATION) is the stored
  * banded-LSH asset ([[graft.pipeline.DedupAssets.minhashCandidates]]);
  * this stage probes it through the shared candidate verifier
  * ([[PairVerify]]: candidate ids semi-join the corpus, the capped text
  * projection is pinned once, both joins read the snapshot).
  * Levenshtein is O(len²) per pair, which is why `prefix` caps the
  * compared text (512 chars default): cost per
  * pair is bounded at prefix² regardless of document length — the
  * standard truncation for edit-verify over long documents (full-length
  * edit distance at corpus scale is what the Jaccard tiers exist to
  * avoid). Pairs are bucketCap-bounded upstream, so the whole stage is
  * candidate-bounded, never corpus².
  *
  * Determinism: edit_dist and max_len are exact integers; edit_sim is
  * the one double, in fixed operand order; two empty prefixes yield a
  * null similarity (the /0 → null contract), not NaN. */
object EditSimilarity {

  /** (doc_a, doc_b, edit_dist, max_len, edit_sim) for every candidate
    * pair whose normalized edit similarity over the first `prefix`
    * lowercased chars reaches `threshold`. Same eager-pin contract as
    * [[PairVerify.withFeature]]. */
  def scorePairs(docs: DataFrame, pairs: DataFrame,
                 prefix: Int = 512, threshold: Double = 0.7): DataFrame = {
    require(prefix >= 1, s"prefix must be >= 1, got $prefix")
    val sim = lit(1.0) -
      col("edit_dist").cast("double") / col("max_len").cast("double")
    PairVerify.withFeature(docs.filter(col("text").isNotNull), pairs, "t",
        substring(lower(col("text")), 1, prefix))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("t_a"), col("t_b")).cast("long").as("edit_dist"),
        greatest(length(col("t_a")), length(col("t_b"))).cast("long").as("max_len"))
      .withColumn("edit_sim", when(col("max_len") > 0L, sim))
      .filter(col("edit_sim") >= threshold)
  }
}
