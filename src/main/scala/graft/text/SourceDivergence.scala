package graft.text

import graft.Snapshot
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-source token-distribution drift card: KL(P_source ‖ P_corpus) in
  * bits over a bounded top-V vocabulary plus an "other" bucket — the
  * source-anomaly detector a corpus dashboard reads to catch the feed
  * whose language suddenly isn't like the others (a scraper gone wrong,
  * machine-generated filler, format bleed, the wrong language routed in).
  * KL against the corpus mixture is the standard measure (Kullback &
  * Leibler 1951 — public); restricting it to the corpus's top-V tokens +
  * a tail bucket is what makes it both SCALE-bounded and statistically
  * honest (per-token tail estimates at one source are noise; the bucket
  * aggregates them).
  *
  * Determinism discipline: every COUNT is an exact integer aggregate;
  * the only transcendental arithmetic (log2) runs in a per-source fold
  * over the rank-sorted collected bucket list — a ≤(V+1)-element array,
  * the m110/m95 sorted-fold rule — so no floating sum ever depends on
  * partition merge order and the partition-invariance contract holds
  * bit-for-bit. Vocabulary selection tie-breaks on the token string
  * (count DESC, token ASC), never on an engine-private hash, so the
  * DuckDB oracle replays the exact same vocabulary.
  *
  * Scale shape: the corpus is tokenized ONCE — the (source, token)
  * count table is eagerly pinned ([[graft.Snapshot]], the m110 rule), so
  * the four consumers (per-source buckets, corpus totals, vocabulary
  * top-V, vocabulary mass) all read the snapshot instead of re-scanning
  * 100 TB of text four times. The token-total table is pinned too (it
  * feeds three branches). After the pins everything is vocabulary-sized
  * or smaller: a V-row TakeOrderedAndProject for the vocabulary
  * (broadcast back), 1-row totals broadcast, (sources × (V+1))-bounded
  * final state. The exchanges carry (token, count) partials only, never
  * document text. */
object SourceDivergence {

  /** One row per source: (source, n_tokens, other_frac, kl_bits) where
    * kl_bits = Σ_b (c_b/n) · log2((c_b/n) / (C_b/N)) over the source's
    * non-empty buckets b (absent buckets contribute 0·log0 = 0, the KL
    * convention), other_frac = the source's token mass outside the
    * corpus top-`vocab`. Sources identical to the corpus mixture score
    * ~0; drifted sources score high. */
  def klBySource(docs: DataFrame, sourceCol: String = "source", vocab: Int = 256): DataFrame = {
    require(vocab >= 1, s"vocabulary size must be >= 1, got $vocab")
    val toks = docs.filter(col("text").isNotNull)
      .select(col(sourceCol).as("source"),
        explode(split(lower(trim(col("text"))), " +")).as("tok"))
      .filter(length(col("tok")) > 0)
    // Pin the only corpus-sized aggregate: four branches consume it.
    val counts = Snapshot.pin(
      toks.groupBy("source", "tok").agg(count(lit(1)).as("c")), eager = true)
    // Vocab-sized; pinned because totals, topV and the bucket join all read it.
    val tokTot = Snapshot.pin(
      counts.groupBy("tok").agg(sum("c").as("ct")), eager = true)
    // Vocabulary: top-V corpus tokens, tie-broken on the token STRING so
    // the oracle selects the identical set; ranked on the V-row frame.
    val topV = tokTot.orderBy(desc("ct"), col("tok")).limit(vocab)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("ct"), col("tok"))))
    val totals = tokTot.agg(sum("ct").as("n_corpus"))
    val vocabTot = topV.agg(sum("ct").as("ct_vocab"))
    // Bucket id: vocabulary rank, or vocab+1 for the tail. Counts stay
    // exact longs; the per-bucket corpus mass C_b rides the broadcast.
    val bucketed = counts
      .join(broadcast(topV.select(col("tok"), col("rank"), col("ct"))), Seq("tok"), "left")
      .select(col("source"), col("c"),
        coalesce(col("rank"), lit(vocab + 1)).as("bucket"),
        col("ct"))
      .groupBy("source", "bucket")
      .agg(sum("c").as("c"), first("ct").as("ct"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(vocabTot))
      // Tail bucket mass: N − Σ_vocab C (exact longs).
      .withColumn("cb",
        when(col("bucket") === vocab + 1, col("n_corpus") - col("ct_vocab"))
          .otherwise(col("ct")))
    // Per-source fold over the rank-sorted bounded bucket array — the
    // only place a double sum happens, and its order is pinned.
    bucketed.groupBy("source")
      .agg(sum("c").as("n_tokens"),
        coalesce(sum(when(col("bucket") === vocab + 1, col("c"))), lit(0L))
          .as("c_other"),
        first("n_corpus").as("n_corpus"),
        collect_list(struct(col("bucket"), col("c"), col("cb"))).as("bs"))
      .select(col("source"), col("n_tokens"),
        (col("c_other").cast("double") / col("n_tokens").cast("double"))
          .as("other_frac"),
        aggregate(array_sort(col("bs")), lit(0.0), (acc, x) =>
          acc + (x.getField("c").cast("double") / col("n_tokens").cast("double")) *
            log(2.0, (x.getField("c").cast("double") / col("n_tokens").cast("double")) /
              (x.getField("cb").cast("double") / col("n_corpus").cast("double"))))
          .as("kl_bits"))
  }
}
