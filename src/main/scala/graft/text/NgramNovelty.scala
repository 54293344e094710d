package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bigram-frequency novelty scoring — the contextual tier above m24's
  * unigram vocab quality: score each document by how usual its word
  * PAIRS are in the corpus. This is the cheap stand-in for language-model
  * perplexity filtering (CCNet-style): a document whose bigrams are
  * mostly corpus-rare is either novel content or noise, and the
  * mean-log-frequency statistic is what a quality gate thresholds on.
  *
  * Scale shape (100 TB):
  *  - bigrams come from one zip_with over the token array (pure codegen
  *    projection, no per-token window, no UDF) — same construction as the
  *    m22 top-bigrams exchange;
  *  - the count pass exchanges (gram, partial count) only — map-side
  *    combine collapses each partition's gram stream first;
  *  - the score pass re-joins the gram stream to the count table on gram:
  *    an equi-join AQE turns into a broadcast when the gram vocabulary is
  *    small, and a sort-merge join (both sides already keyed by gram)
  *    when it is not — never a cross product;
  *  - the per-doc aggregation collapses map-side because explode keeps a
  *    document's grams inside one partition, so the doc_id exchange
  *    carries one row per document, not per gram;
  *  - the gram subtree IS evaluated twice (once under the count agg, once
  *    as the join's stream side) — deliberate: the alternative is
  *    persisting the exploded gram stream, which is ~n_tokens× the corpus
  *    text and would spill at exactly the scale this targets, while the
  *    recompute is a whole-stage-codegen projection straight off the
  *    column-pruned scan. Recompute-over-materialize is the same call
  *    Spark's own planner makes by not auto-caching shared subtrees.
  */
object NgramNovelty {

  /** Per-document bigram novelty: (doc_id, n_bigrams, n_rare, rare_rate,
    * mean_log_freq) where a bigram is "rare" when its corpus count is
    * ≤ `rareMax`. Documents shorter than two tokens have no bigrams and
    * are absent (same contract as m22's NULL-gram exclusion). */
  def bigramNovelty(docs: DataFrame, rareMax: Long): DataFrame = {
    require(rareMax >= 1, "rareMax must be >= 1")
    val toks = split(lower(trim(col("text"))), " +")
    val grams = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("gram"))
    val counts = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
    grams.join(counts, Seq("gram"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(when(col("cnt") <= rareMax, 1L).otherwise(0L)).as("n_rare"),
        (sum(when(col("cnt") <= rareMax, 1.0).otherwise(0.0)) /
          count(lit(1))).as("rare_rate"),
        avg(log(col("cnt"))).as("mean_log_freq"))
  }
}
