package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-duplicate admission (m72) — the crawl-time shape:
  * a NEW batch probes the inverted shingle index of the corpus already
  * admitted, producing only (batch, indexed) pairs — never batch×batch
  * or index×index. [[graft.operators.QuotaSample]]-era m29 answers
  * "exact duplicate of something admitted?"; this answers the near-dup
  * version of the same admission question, which is how dedup actually
  * runs in production: nobody re-pairs 100 TB on every ingest — the
  * daily batch (GBs) probes the standing index.
  *
  * Gram walk, stop-gram cap and jaccard arithmetic are [[NgramJaccard]]'s
  * (one shared tokenization; FNV-hashed grams count like the oracle's
  * string replay up to 2^-64 collisions). The df cap applies to the
  * INDEX postings — a viral boilerplate gram never materializes its
  * posting list ([[graft.functions.CappedCollect]] bounds the buffer),
  * and the index doc's set size is counted over KEPT grams, mirroring
  * m14's denominator convention.
  *
  * Scale shape (100 TB): the index's postings exchange is amortizable —
  * [[probeStoredIndex]] materializes it through
  * [[graft.pipeline.DedupAssets]] (with a stable asset root, once per
  * corpus fingerprint ACROSS ingest JVMs), so a second ingest pays only
  * the batch-sized probe: batch grams shuffle, the standing index is a
  * sorted-parquet scan, and the pair space is bounded by 50 × batch
  * grams. DedupAssetsSpec and IncrementalNearDupSpec pin the reuse.
  */
object IncrementalNearDup {

  /** Word 3-shingles of `text`, as [[NgramJaccard.invertedIndexPairs]]
    * walks them. */
  private def grams(df: DataFrame, idAs: String): DataFrame =
    df.select(col("doc_id").as(idAs),
      explode(NgramJaccard.wordShingleHashSet(col("text"), lit(3))).as("gram"))

  /** The standing-index halves: capped (gram, ids) postings and per-doc
    * KEPT-gram sizes (index_id, n_i) — everything a future ingest needs,
    * none of the corpus text. A gram in more than 50 index docs (the df
    * cap) has no posting list. */
  def buildIndex(indexed: DataFrame): (DataFrame, DataFrame) = {
    val postings = grams(indexed, "index_id")
      .groupBy("gram")
      .agg(graft.functions.CappedCollect.cappedIds(50)(col("index_id")).as("ids"))
      .filter(col("ids").isNotNull)
    val sizes = postings.select(explode(col("ids")).as("index_id"))
      .groupBy("index_id").agg(count(lit(1)).as("n_i"))
    (postings, sizes)
  }

  /** Probe prebuilt postings/sizes with a new batch — the per-ingest
    * cost: only the batch's grams exchange. */
  def probePostings(batch: DataFrame, postings: DataFrame, sizes: DataFrame,
                    threshold: Double): DataFrame = {
    val bGrams = grams(batch, "batch_id")
    val nB = bGrams.groupBy("batch_id").agg(count(lit(1)).as("n_b"))
    val inter = bGrams.join(postings, Seq("gram"))
      .select(col("batch_id"), explode(col("ids")).as("index_id"))
      .groupBy("batch_id", "index_id").agg(count(lit(1)).as("shared"))
    inter
      .join(nB, Seq("batch_id"))
      .join(sizes, Seq("index_id"))
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n_b") + col("n_i") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "index_id", "jaccard")
  }

  /** (batch_id, index_id, jaccard) for batch docs whose kept-gram
    * jaccard against an indexed doc reaches `threshold` — index built
    * inline (one-shot shape; recurring ingests use
    * [[probeStoredIndex]]). */
  def probeIndex(batch: DataFrame, indexed: DataFrame,
                 threshold: Double = 0.6): DataFrame = {
    val (postings, sizes) = buildIndex(indexed)
    probePostings(batch, postings, sizes, threshold)
  }

  /** [[probeIndex]] with the index as a MATERIALIZED ASSET keyed by
    * `indexKey` (a corpus dir for fingerprint staleness): the postings
    * and size tables build once per (corpus, semantics) and every probe
    * — this JVM or, with a stable asset root, any later ingest JVM —
    * reads the stored sorted parquet instead of re-sharding the corpus.
    * `indexed` is by-name: a warm asset never evaluates it. */
  def probeStoredIndex(s: org.apache.spark.sql.SparkSession,
                       batch: DataFrame, indexed: => DataFrame,
                       indexKey: String,
                       threshold: Double = 0.6): DataFrame = {
    val postings = graft.pipeline.DedupAssets.materialized(
      s, "neardup-postings", indexKey, Seq("gram"))(
      buildIndex(indexed)._1)
    // sizes derive from the STORED postings, so they can never disagree
    // with them (and a warm postings asset makes this build corpus-free)
    val sizes = graft.pipeline.DedupAssets.materialized(
      s, "neardup-index-sizes", indexKey, Seq("index_id"))(
      postings.select(explode(col("ids")).as("index_id"))
        .groupBy("index_id").agg(count(lit(1)).as("n_i")))
    probePostings(batch, postings, sizes, threshold)
  }
}
