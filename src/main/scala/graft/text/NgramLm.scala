package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bigram language-model perplexity scoring — the actual statistic the
  * CCNet/Gopher-style quality filters threshold on, one tier above m32's
  * rare-bigram rate. Train an add-α-smoothed bigram LM from corpus counts,
  * then score every document by its per-token cross-entropy under that LM:
  * noise (mis-parsed boilerplate, OCR garbage, key-mash) lands in the
  * high-perplexity tail, templated spam in the low tail.
  *
  * Model: p(b | a) = (c(ab) + α) / (c(a) + α·V), with c(a) = Σ_b c(ab)
  * (context mass), V = |{tokens seen in any bigram slot}|. Unseen context
  * degrades to the uniform 1/V and unseen bigram to α/(c(a)+α·V) — both
  * fall out of one coalesce-to-zero formula, no branch.
  *
  * Scale shape (100 TB):
  *  - bigrams are one zip_with over the token array (codegen projection,
  *    no per-token window) — the m22/m32 construction;
  *  - the COUNT pass exchanges (a, b, partial count) only; map-side
  *    combine collapses each partition's gram stream first;
  *  - everything else derives from that count table, which is bounded by
  *    the realized bigram vocabulary (≪ corpus; minCount prunes the
  *    long tail at scale): context mass c(a) is a re-aggregation of the
  *    counts, NOT a second pass over text, and V is a 1-row aggregate
  *    cross-joined in (no driver action, no literal baked at plan time);
  *  - the SCORE pass left-joins the gram stream to the broadcast LM —
  *    the token stream never shuffles for the lookup, and the per-doc
  *    aggregation collapses map-side (explode keeps a document's grams
  *    in one partition), so the doc_id exchange carries one row per doc;
  *  - the gram subtree is evaluated twice (count + score) — deliberate,
  *    same recompute-over-materialize call as m32 (NgramNovelty.scala).
  */
object NgramLm {

  /** The add-α smoothing mass α. */
  private val Alpha = 0.5

  private[text] def gramsOf(docs: DataFrame): DataFrame = {
    val toks = split(lower(trim(col("text"))), " +")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("g"))
      .select(col("doc_id"), col("g.a").as("a"), col("g.b").as("b"))
      // a/b can never be null (zip_with over two equal-length slices),
      // so this filter drops nothing — but stating it here means every
      // consumer branch carries the SAME predicate instead of each
      // join inferring a different IsNotNull subset, which split the
      // bigram-count shuffle into three canonically-distinct stages
      // (counts / context-mass / vocab each re-exploded the corpus).
      // With it, AQE's stage cache computes the count exchange once.
      .filter(col("a").isNotNull && col("b").isNotNull)
  }

  /** Bigram count table (a, b, cab) — the trained LM. `minCount` prunes
    * the singleton tail (at 100 TB the realized-bigram table is the only
    * thing worth shipping; pruned mass still backs off through α). */
  def bigramCounts(docs: DataFrame, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    gramsOf(docs)
      .groupBy("a", "b").agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
  }

  /** Score `docs` against a trained `counts` LM: (doc_id, n_bigrams,
    * cross_entropy, perplexity). Docs with < 2 tokens have no bigrams and
    * are absent (the m22/m32 contract). Perplexity ≥ 1 always: each
    * smoothed p ≤ 1 because c(ab) ≤ c(a) and α ≤ α·V. */
  def scoreAgainst(docs: DataFrame, counts: DataFrame): DataFrame = {
    val ctx = counts.groupBy("a").agg(sum("cab").as("ca"))
    val vocab = counts
      .select(explode(array(col("a"), col("b"))).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    val p = (coalesce(col("cab"), lit(0L)).cast("double") + lit(Alpha)) /
      (coalesce(col("ca"), lit(0L)).cast("double") + lit(Alpha) * col("v"))
    // The LM tables are gram-vocabulary-sized — broadcastable for the
    // minCount-pruned models a quality gate ships, NOT for a raw crawl's
    // full bigram table; AQE decides per run (the LineDedup lesson).
    gramsOf(docs)
      .join(counts, Seq("a", "b"), "left")
      .join(ctx, Seq("a"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (-avg(log(p))).as("cross_entropy"))
      .withColumn("perplexity", exp(col("cross_entropy")))
  }

  /** Self-perplexity: train and score on the same corpus at add-0.5
    * smoothing — the no-external-LM quality gate (every gram is seen, so
    * smoothing only tempers the estimates; the tails still separate noise
    * from boilerplate). */
  def selfPerplexity(docs: DataFrame): DataFrame =
    scoreAgainst(docs, bigramCounts(docs))
}
