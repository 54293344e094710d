package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion of two ranked retrieval lists — the standard
  * hybrid-search combiner (Cormack et al., SIGIR'09): lexical BM25 and
  * embedding-cosine ranks fuse without score calibration because RRF only
  * consumes RANKS.
  *
  * Exactness: each list's contribution is the integer
  * `floor(10⁹ / (c+rank))` with c = 60 — the double division of two exact small
  * integers is correctly rounded and the true quotient is never within
  * an ulp of an integer boundary (the fractional part is a multiple of
  * `1/(c+rank)` ≥ 2⁻¹⁰ for any sane c+k), so the floor equals exact
  * integer division in both the engine and the DuckDB oracle and the
  * fused score is an exact BIGINT sum. Ties break on doc_id ascending.
  *
  * Scale shape: both input lists are already top-k-per-query (queries ×
  * k rows — bounded by construction, the corpus never enters), so the
  * full-outer join and the re-rank window are small-side operations
  * regardless of corpus size.
  */
object RrfFusion {

  /** Fuse two (query_id, rank, doc_id) lists; returns
    * (query_id, rank, doc_id, rank_a, rank_b, rrf_q9) — the fused top-k
    * with each source list's rank (null where absent). */
  def fuse(listA: DataFrame, listB: DataFrame, k: Int): DataFrame = {
    val a = listA.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("rank_a"))
    val b = listB.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("rank_b"))
    val joined = a.join(b, Seq("query_id", "doc_id"), "full_outer")
    val contrib = (r: org.apache.spark.sql.Column) =>
      coalesce(floor(lit(1000000000L) / (lit(60L) + r)).cast("long"), lit(0L))
    val scoredCol = (contrib(col("rank_a")) + contrib(col("rank_b")))
      .as("rrf_q9")
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_q9").desc, col("doc_id").asc)
    joined.select(col("query_id"), col("doc_id"), col("rank_a"),
      col("rank_b"), scoredCol)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "rank_a", "rank_b", "rrf_q9")
  }
}
