package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-document TF-IDF keyword extraction — the top-k most characteristic
  * terms of each document (m13's corpus-level vocabulary turned per-doc):
  * what a corpus browser shows as document tags, and the cheap feature a
  * domain classifier trains on.
  *
  * Scale shape (100 TB):
  *  - the token stream collapses to the (doc_id, term, tf) table map-side
  *    (explode keeps a document's tokens inside one partition), so the
  *    first exchange carries distinct terms per doc, not tokens;
  *  - the tokenize pass runs ONCE: df re-aggregates tf through the SAME
  *    exchange — its aggregate is `sum(least(tf, 1))` ≡ the doc count
  *    (tf ≥ 1 per group), written so the optimizer cannot remove the tf
  *    dependency (`count(tf)` gets rewritten to `count(1)` for the
  *    non-null tf, and then column pruning specializes the subtree to a
  *    distinct, splitting the exchange); with the dependency kept, the
  *    df subtree's shuffle canonicalizes equal to the join branch's and
  *    AQE's stage cache computes it once. The corpus doc count comes
  *    from the RAW docs scan with no explode (a doc has ≥1 token iff
  *    its trimmed text is non-empty);
  *  - the df-table join strategy is left to AQE: vocabulary-sized is
  *    broadcastable for curated corpora but not for raw crawls — no
  *    forced hint (the LineDedup lesson);
  *  - the top-k window partitions by doc_id — rank truncation happens
  *    inside each partition (Spark's WindowExec filters rank<=k before
  *    materializing further), and k is a constant, so the output is
  *    k rows per doc.
  * Ties break score DESC then term ASC — deterministic across engines.
  */
object TfIdf {

  /** (doc_id, rank, term, tf, score) with rank ≤ k per document;
    * score = tf · ln((N+1)/(df+1)), N = docs with ≥1 token. */
  def topTerms(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tf = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), " +")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(sum(least(col("tf"), lit(1L))).as("df"))
    val nDocs = docs
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .agg(countDistinct(col("doc_id")).cast("double").as("nd"))
    val score = col("tf").cast("double") *
      log((col("nd") + 1.0) / (col("df").cast("double") + 1.0))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term").asc)
    // df is vocabulary-sized — not safely broadcastable at crawl scale
    // (the LineDedup lesson); AQE picks broadcast when stats allow.
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "rank", "term", "tf", "score")
  }
}
