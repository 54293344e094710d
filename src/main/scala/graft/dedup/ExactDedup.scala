package graft.dedup

import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact deduplication: hash-groupBy on a content fingerprint, keeping the
  * lowest doc id per group (deterministic winner — SURVEY §7.4.3 applies to
  * corpus dedup exactly as it does to dim_product).
  *
  * Scale shape: one shuffle on the 128-bit fingerprint — uniformly
  * distributed by construction, so no skew; partial aggregation collapses
  * per-partition duplicates before the exchange. At 100 TB the md5 is
  * computed in the scan projection, so the shuffle carries (fp, doc_id)
  * pairs, never the document bodies.
  */
object ExactDedup {

  /** One row per distinct content: winner doc_id, copy count. */
  def groups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated corpus: keeps exactly the winner rows. Implemented as
    * a semi-join of the winners back onto the corpus rather than a window,
    * so the heavy side streams (no per-key sort). */
  def dedup(docs: DataFrame): DataFrame = {
    val winners = groups(docs).select(col("doc_id"))
    docs.join(winners, Seq("doc_id"), "left_semi")
  }

  /** Incremental admission — the daily path at 100 TB, where you never
    * re-dedup the whole corpus: dedup the DELTA internally, then anti-join
    * its fingerprints against the already-ingested index. `seen` is a
    * frame with a `fingerprint` column (the running index table; append
    * the admitted rows' fingerprints to it after each batch).
    *
    * Keys on the FINGERPRINT, not doc_id, so a delta assembled from
    * shards with colliding doc_id sequences still admits each distinct
    * content exactly once (a doc_id-keyed semi-join would silently keep
    * every collision). One md5 pass; the in-delta dedup and the index
    * anti-join share the fingerprint partitioning, so the delta bodies
    * shuffle once and the corpus bodies never move. */
  def admitNew(delta: DataFrame, seen: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fingerprint").orderBy("doc_id")
    delta
      .withColumn("fingerprint", TextOps.fingerprint(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .join(seen.select("fingerprint"), Seq("fingerprint"), "left_anti")
  }
}
