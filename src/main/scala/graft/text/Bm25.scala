package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 retrieval over the documents table — the lexical half of a
  * training-data / RAG retrieval stack (the reference's query surface stops
  * at exact SQL filters; this is the standard keyword-ranking companion to
  * the ANN tier in `graft.similarity`).
  *
  * Scale shape (100 TB corpus, bounded query set):
  *  - the corpus is tokenized ONCE into (doc_id, term, tf, dl) postings;
  *    per-doc length `dl` is computed in the same projection (an array
  *    `size`, no second scan and no doc_id shuffle);
  *  - the query-term table is tiny by construction and BROADCAST — the
  *    posting stream is semi-join-pruned to query terms BEFORE the df
  *    aggregate, so document frequencies are computed over exactly the
  *    postings that survive (df per term is identical to the full-corpus
  *    df for those terms — pruning by term drops no postings of a kept
  *    term);
  *  - the only corpus-sized exchange carries (term, doc_id, tf, dl)
  *    postings of QUERY terms — never text;
  *  - per-(query, doc) accumulation quantizes each term's BM25 partial to
  *    `floor(s·10⁶)` BEFORE the sum, so the aggregate is exact integer
  *    arithmetic — partial aggregation is order-free and the DuckDB oracle
  *    replays it bit-for-bit (the m98 discipline);
  *  - top-k ranks run under a window partitioned by query_id — the scored
  *    set is already pruned to (queries × candidate docs), never the
  *    corpus.
  */
object Bm25 {

  /** Whitespace tokens of the lowercased text — the corpus-wide
    * tokenization convention ([[TextOps.tokens]]). */
  private def tokens(text: Column): Column = split(lower(trim(text)), " +")

  /** Pre-aggregation token stream: one row per token occurrence, with the
    * doc's token count `dl` computed in the same projection (an array
    * `size` before the explode — no second scan, no doc_id shuffle). */
  private def tokenStream(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        filter(tokens(col("text")), t => t =!= "").as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))

  /** (doc_id, term, tf, dl) postings over non-null-text docs; `dl` is the
    * doc's non-empty token count. Docs with zero tokens contribute no
    * postings but still count in the corpus stats (N, avgdl). */
  def postings(docs: DataFrame): DataFrame =
    tokenStream(docs)
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** One-row (n_docs, sum_dl) corpus stats — broadcast as a scalar join.
    * avgdl is derived as the exact integer-sum division
    * `sum_dl.toDouble / n_docs` in the scoring expression, so the oracle's
    * division is the same two operands. */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(size(filter(tokens(col("text")), t => t =!= ""))
        .cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))

  /** Top-10 BM25 retrieval. `queryTerms` is a small (query_id, term)
    * bag-of-words table (duplicate terms within a query should be
    * pre-deduped by the caller — each (query_id, term) row scores once).
    * Self-hits (doc_id == query_id) are excluded, matching the ANN tier's
    * convention (m08). Returns (query_id, rank, doc_id, n_terms_hit,
    * score) where score = Σ_terms floor(bm25_term·10⁶) / 10⁶. */
  def topK(docs: DataFrame, queryTerms: DataFrame): DataFrame = {
    // broadcast-prune the raw token stream BEFORE the tf aggregate: the
    // only corpus-sized exchange then carries query-term postings (map-
    // side-combined), not the full vocabulary. tf/df over the kept terms
    // are identical to full-postings values — pruning by term drops no
    // occurrence of a kept term.
    val pruned = tokenStream(docs)
      .join(broadcast(queryTerms.select("term").distinct()), Seq("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    score(pruned, corpusStats(docs), queryTerms, 10)
  }

  /** Serving path over a STORED postings index (m112): `postings` is the
    * persisted (doc_id, term, tf, dl) table — term-sorted parquet, so
    * the broadcast term prune rides row-group min/max skipping instead
    * of re-tokenizing the corpus — and `stats` the persisted 1-row
    * (n_docs, sum_dl). Scoring is [[topK]]'s verbatim (shared tail), so
    * stored ≡ fresh bit-for-bit: df over term-pruned postings equals
    * global df for those terms, and everything downstream is identical
    * integer arithmetic. */
  def topKStored(postings: DataFrame, stats: DataFrame,
                 queryTerms: DataFrame, k: Int): DataFrame =
    score(
      postings.join(broadcast(queryTerms.select("term").distinct()), Seq("term"))
        .select("doc_id", "dl", "term", "tf"),
      stats, queryTerms, k)

  /** The shared scoring tail, at the standard k1 = 1.2, b = 0.75. */
  private def score(pruned: DataFrame, stats: DataFrame,
                    queryTerms: DataFrame, k: Int): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val df = pruned.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = pruned
      .join(broadcast(df), Seq("term"))
      .join(broadcast(queryTerms), Seq("term"))
      .crossJoin(broadcast(stats))
      .filter(col("doc_id") =!= col("query_id"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val tfNorm = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    val perTerm = scored.select(col("query_id"), col("doc_id"),
      floor(idf * tfNorm * lit(1e6)).cast("long").as("s_q6"))
    val acc = perTerm.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms_hit"), sum("s_q6").as("score_q6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_q6").desc, col("doc_id").asc)
    acc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms_hit"),
        (col("score_q6").cast("double") / lit(1e6)).as("score"))
  }

  /** Bag-of-words queries derived from documents: the first `maxTerms`
    * DISTINCT terms of each query doc in order of first appearance —
    * deterministic, SQL-replayable. */
  def queryBags(queryDocs: DataFrame, maxTerms: Int): DataFrame = {
    val first = queryDocs.filter(col("text").isNotNull)
      .select(col("doc_id").as("query_id"),
        posexplode(filter(tokens(col("text")), t => t =!= "")))
      .groupBy("query_id", "col")
      .agg(min("pos").as("first_pos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("first_pos").asc, col("col").asc)
    first.withColumn("tr", row_number().over(w))
      .filter(col("tr") <= maxTerms)
      .select(col("query_id"), col("col").as("term"))
  }
}
