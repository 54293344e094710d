package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DoReMi-style domain reweighting — one Group-DRO mirror-ascent
  * (multiplicative-weights) step on the domain mixture from per-domain
  * EXCESS LOSS (Xie et al. 2023, "DoReMi: Optimizing Data Mixtures
  * Speeds Up Language Model Pretraining" — public literature). The full
  * method alternates proxy-model training with weight updates; the
  * engine's card is the update itself, Algorithm 1's step with uniform
  * initialization: α ∝ exp(η·excess), then smoothing with uniform,
  * α_k = (1−c)·softmaxish + c/K. The loss oracle is the corpus's own
  * add-α bigram LM ([[graft.text.NgramLm]], the m43 statistic): a
  * domain's loss is its pooled per-bigram cross-entropy under the
  * corpus LM, and the reference loss is the corpus-pooled value — so
  * "excess" reads "how much worse than average does the shared model
  * fit this domain", the domains a DRO step up-weights. The fourth
  * mixing law beside m100's waterfill, m110's n^α smoothing and m115's
  * Neyman allocation.
  *
  * Determinism discipline: per-document cross-entropy is map-side
  * deterministic (the m43 argument — a doc's grams never leave its
  * partition), and its domain aggregation is made exact by the m89
  * move: quantize the per-doc total loss to floor(ce·n·1e6) as a LONG
  * before the cross-partition sum, so every domain statistic derives
  * from exact integer aggregates. The only remaining double sum — the
  * MW normalizer Σ_k exp(η·excess_k) — folds over the domain-sorted
  * collected list (K-bounded, the m110 rule). Every derived double is
  * computed in a fixed operand order so the DuckDB replay agrees.
  *
  * Scale shape: the LM chain is m43's (gram exchanges carry (a, b,
  * count) partials; the score join broadcasts the minCount-pruned LM or
  * lets AQE decide); the doc→domain join is corpus-sized on both sides
  * (the m89 shape — a legitimate shuffle join at scale); everything
  * after the per-domain aggregate is K-row-bounded with 1-row totals
  * broadcast back — and the K-row pool is eagerly pinned
  * ([[graft.Snapshot]]) so its four consumers (totals, excess, the MW
  * normalizer, the final card) never re-derive the corpus-sized LM
  * chain. Zero collects.
  */
object DoremiWeights {

  /** The MW step size η and the uniform-smoothing mass c; the m117
    * oracle replays both. */
  private val Eta = 1.0
  private val Smoothing = 0.01

  /** One MW step from uniform init over the `lang` domains: (domain,
    * n_docs, n_bigrams, ce, excess, weight). `ce` = pooled per-bigram cross-entropy under the
    * corpus bigram LM; `excess` = max(0, ce − corpus-pooled ce);
    * `weight` = (1−c)·exp(η·excess)/Σ + c/K, η = 1, c = 0.01, over the
    * add-0.5 bigram LM. Docs with
    * < 2 tokens carry no bigrams and are absent from every pool (the
    * m43 contract); a domain whose docs are all bigram-free is absent. */
  def weights(docs: DataFrame): DataFrame = {
    val scored = graft.text.NgramLm.selfPerplexity(docs)
      .select(col("doc_id"), col("n_bigrams"),
        // m89's cross-engine quantization: floor on the identical double
        // is bit-stable where a decimal round was not
        floor(col("cross_entropy") * col("n_bigrams").cast("double") * lit(1e6))
          .cast("long").as("q"))
      .join(docs.select(col("doc_id"), col("lang").as("domain")), Seq("doc_id"))
    // Eagerly pin the K-row domain pool (the m110 rule): totals, excess
    // and the MW normalizer are four consumers — without the pin each
    // re-derives the whole corpus-sized LM chain.
    val dom = graft.Snapshot.pin(
      scored.groupBy("domain")
        .agg(count(lit(1)).as("n_docs"), sum("n_bigrams").as("n_bigrams"),
          sum("q").as("lq")),
      eager = true)
    val totals = dom.agg(sum("n_bigrams").as("tb"), sum("lq").as("tq"),
      count(lit(1)).as("k"))
    val ce = (col("lq").cast("double") / lit(1e6)) / col("n_bigrams").cast("double")
    val ceRef = (col("tq").cast("double") / lit(1e6)) / col("tb").cast("double")
    val e = dom.crossJoin(broadcast(totals))
      .select(col("domain"), col("n_docs"), col("n_bigrams"), col("k"),
        ce.as("ce"), greatest(lit(0.0), ce - ceRef).as("excess"))
    // MW normalizer: the K-row domain-sorted fold (m110's discipline)
    val den = e.agg(
      aggregate(
        array_sort(collect_list(struct(col("domain"),
          exp(lit(Eta) * col("excess")).as("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("denom"))
    e.crossJoin(broadcast(den))
      .select(col("domain"), col("n_docs"), col("n_bigrams"), col("ce"),
        col("excess"),
        (lit(1.0 - Smoothing) * (exp(lit(Eta) * col("excess")) / col("denom")) +
          lit(Smoothing) / col("k").cast("double")).as("weight"))
  }
}
