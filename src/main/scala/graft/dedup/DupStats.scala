package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-mass accounting over a near-dup cluster map — the two
  * analysis cards a curation run publishes after dedup (Lee et al. 2021's
  * "Deduplicating Training Data Makes Language Models Better" reports
  * exactly these shapes):
  *
  *  - [[familyHistogram]]: duplicate-family size k → how many families,
  *    docs and tokens sit at that size, and how much of that token mass
  *    is EXCESS (would be deleted by keep-one). The long tail of this
  *    histogram is the classic dedup-payoff plot.
  *  - [[sourceDupMass]]: per-source duplicate counts/mass, split by
  *    whether the family's canonical doc lives in the SAME source or a
  *    different one — the mirror-site attribution card ("source B mostly
  *    re-ships source A's content").
  *
  * Scale shape: the cluster map comes in as an argument (the stored
  * [[graft.pipeline.DedupAssets]] component table at 100 TB — built once
  * per corpus fingerprint, reused by every report); this module adds only
  * (id, id)-keyed joins and source/size-bounded aggregates. Token counts
  * ride the same projection that reads the text, so no exchange here ever
  * carries document bodies.
  */
object DupStats {

  /** Whitespace token count (the corpus convention), empty tokens
    * excluded, null text → 0. */
  private def tokenCount(text: org.apache.spark.sql.Column) =
    coalesce(
      size(filter(split(lower(trim(text)), " +"), t => t =!= ""))
        .cast("long"),
      lit(0L))

  /** (doc_id, family_id) for EVERY doc: the doc's near-dup component id
    * (= least member doc_id, the canonical) or itself when unpaired.
    * `clusters` is the (doc_id, cluster_id) component table — membership
    * rows exist only for paired docs. */
  private def families(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("family_id"))

  /** (family_size, n_families, n_docs, token_mass, excess_token_mass) —
    * one row per distinct family size k. excess = token mass of the
    * non-canonical members (what keep-one dedup deletes). */
  def familyHistogram(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      tokenCount(col("text")).as("n_tokens"))
    val fs = families(docs, clusters).join(toks, Seq("doc_id"))
      .groupBy("family_id")
      .agg(count(lit(1)).as("family_size"),
        sum("n_tokens").as("fam_tokens"),
        // canonical == family_id by construction (least member)
        sum(when(col("doc_id") === col("family_id"), col("n_tokens"))
          .otherwise(lit(0L))).as("canon_tokens"))
    fs.groupBy("family_size")
      .agg(count(lit(1)).as("n_families"),
        sum("fam_tokens").as("token_mass"),
        sum(col("fam_tokens") - col("canon_tokens")).as("excess_token_mass"))
      .select(col("family_size"), col("n_families"),
        (col("family_size") * col("n_families")).as("n_docs"),
        col("token_mass"), col("excess_token_mass"))
  }

  /** Per-source duplicate mass with cross-source attribution:
    * (source, n_docs, n_dup_docs, dup_tokens, n_cross_source_dups,
    * cross_source_tokens, dup_doc_share). A doc is a duplicate iff it is
    * a non-canonical family member; it is CROSS-source iff its family's
    * canonical doc carries a different source. */
  def sourceDupMass(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val meta = docs.select(col("doc_id"), col("source"),
      tokenCount(col("text")).as("n_tokens"))
    val canonSrc = meta.select(col("doc_id").as("family_id"),
      col("source").as("canon_source"))
    val joined = families(docs, clusters)
      .join(meta, Seq("doc_id"))
      .join(canonSrc, Seq("family_id"))
    val isDup = col("doc_id") =!= col("family_id")
    val isCross = isDup && (col("source") =!= col("canon_source"))
    joined.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(isDup, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(isDup, col("n_tokens")).otherwise(0L)).as("dup_tokens"),
        sum(when(isCross, 1L).otherwise(0L)).as("n_cross_source_dups"),
        sum(when(isCross, col("n_tokens")).otherwise(0L)).as("cross_source_tokens"))
      .withColumn("dup_doc_share",
        col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
  }
}
