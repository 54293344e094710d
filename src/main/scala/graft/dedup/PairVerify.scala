package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** The one candidate-pair verifier behind every verify style over LSH
  * candidates — shingle-hash Jaccard ([[MinHashLSH.verifiedPairsOver]],
  * m05), char-n-gram Jaccard ([[NgramJaccard.scorePairs]], m07) and
  * edit similarity ([[EditSimilarity.scorePairs]], m131). Each style
  * supplies only its per-doc feature and its score expression.
  */
private[dedup] object PairVerify {

  /** (doc_b, doc_a, `name`_a, `name`_b): every candidate pair with the
    * per-doc `feature` joined onto both sides.
    *
    * The pair table is tiny (bucketCap-bounded), so AQE broadcasts it
    * into each join — which means a bare full-corpus feature projection
    * would STREAM through both joins, paying the feature over every
    * document twice. Instead the pairs are pinned, their candidate id
    * set semi-joins `docs` first, the feature is computed for candidate
    * docs only and pinned once, and both joins probe that snapshot.
    *
    * EAGER, like [[graft.operators.PrefixSum]]: the localCheckpoint pins
    * run jobs over the pairs and the candidate docs AT CALL TIME — this
    * is not a lazy plan. Don't build it speculatively; call when the
    * result will be consumed, and release snapshots afterwards in
    * long-lived sessions. */
  def withFeature(docs: DataFrame, pairs: DataFrame, name: String,
                  feature: Column): DataFrame = {
    val p = pairs.select("doc_a", "doc_b").pinned(true)
    val ids = p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id"))).distinct()
    val f = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), feature.as(name))
      .pinned(true)
    p
      .join(f.withColumnsRenamed(Map("doc_id" -> "doc_a", name -> s"${name}_a")), Seq("doc_a"))
      .join(f.withColumnsRenamed(Map("doc_id" -> "doc_b", name -> s"${name}_b")), Seq("doc_b"))
  }

  /** Jaccard of two hash-set arrays: |a ∩ b| / |a ∪ b|. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")
}
