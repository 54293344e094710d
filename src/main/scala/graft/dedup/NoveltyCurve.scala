package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Marginal-novelty curve — the "is more of this data still worth
  * ingesting" diagnostic: walk the corpus in ingestion order (doc_id),
  * bucket it into `buckets` equal-count slices, and count how many NEW
  * distinct word w-shingles each slice contributes (a shingle is credited
  * to the slice of its FIRST containing document). A flattening curve
  * means additional documents mostly repeat already-seen n-grams — the
  * data-scaling signal curation teams read before paying for another
  * crawl snapshot.
  *
  * Scale shape:
  *  - shingles are md5-keyed in the same projection that explodes them —
  *    the first-occurrence exchange carries (16-byte key, doc_id), never
  *    gram text;
  *  - the global ingestion rank comes from [[graft.operators.PrefixSum]]
  *    (two-pass range partitioning), NOT a single-partition window;
  *  - the first-occurrence→decile join is corpus-sized on BOTH sides
  *    (gram first-occurrences vs the doc-level decile map) and at real
  *    scale legitimately plans as a shuffle join on doc_id — but its
  *    exchanges carry only (16-byte hash, doc_id, bucket), never text;
  *  - only AFTER the per-bucket aggregates is state `buckets`-row: the
  *    cumulative window is bounded by `buckets` (default 10 rows), not
  *    corpus-sized.
  */
object NoveltyCurve {

  /** (bucket, n_docs, new_grams, cum_new_grams, cum_share) — one row per
    * corpus slice in ingestion order. Docs with NULL/blank text occupy
    * ingestion slots (they count in n_docs) but contribute no shingles,
    * the [[NgramJaccard]] empty-content policy. */
  def curve(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val base = docs.filter(col("text").isNotNull)
    // exclusive running count of ones == 0-based global ingestion rank
    val ranked = graft.operators.PrefixSum.exclusiveRunningTotals(
      base.select(col("doc_id"), lit(1L).as("one")), "doc_id", "one")
    val nDocs = ranked.agg(count(lit(1)).as("n_all"))
    val deciled = ranked.crossJoin(broadcast(nDocs))
      .select(col("doc_id"),
        ((col("running") * buckets) / col("n_all")).cast("long").as("bucket"))
    val firstDoc = base
      .select(col("doc_id"),
        explode(NgramJaccard.wordShingleSet(col("text"), lit(3))).as("gram"))
      .select(col("doc_id"), md5(col("gram")).as("h"))
      .groupBy("h").agg(min("doc_id").as("doc_id"))
    val perBucketDocs = deciled.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
    val perBucketNew = firstDoc.join(deciled, Seq("doc_id"))
      .groupBy("bucket").agg(count(lit(1)).as("new_grams"))
    // both sides are ≤ `buckets` rows, but post-aggregate size estimates
    // can't prove it — hint the broadcast so this never plans as an SMJ
    val joined = perBucketDocs.join(broadcast(perBucketNew), Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("new_grams"), lit(0L)).as("new_grams"))
    // ≤ `buckets` rows from here on — the windows are bounded, not global
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    joined
      .withColumn("cum_new_grams", sum("new_grams").over(wCum))
      .withColumn("cum_share",
        col("cum_new_grams").cast("double") / sum("new_grams").over(wAll))
  }
}
