package graft.similarity

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers, matching how production vector pipelines scale:
  *  - [[bruteForceTopK]]: exact cosine top-k via broadcast of the query set.
  *    Correctness baseline; O(queries × corpus) but the corpus side streams
  *    — right answer whenever the query set is small.
  *  - [[lshTopK]]: random-hyperplane LSH — each vector gets a sign-bit
  *    bucket from a fixed set of hyperplanes; only same-bucket pairs are
  *    scored. This bounds the scored pairs, turning the cross product into
  *    an equi-join shuffle on bucket id; recall is tunable via `planes`
  *    (fewer planes → bigger buckets → higher recall, more compute) and
  *    `tables` (OR-amplification: a pair is scored if it collides in ANY
  *    table, recall 1-(1-r)^tables).
  *
  * Per-pair similarity is `graft_dot` — the codegen'd ArrayDotProduct
  * Catalyst expression — with norms precomputed once per row, so the
  * O(pairs) inner loop is a primitive dot product, not an interpreted
  * higher-order fold. Hyperplanes are generated from a fixed seed on the
  * driver and inlined as literal arrays: deterministic, no fit/persist.
  */
object Ann {

  /** The cosine at or above which two vectors are near duplicates. */
  private val NearDupCos = 0.99

  private def withNorm(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    df.withColumn("nrm", sqrt(GraftFunctions.dot(spark, col("vec"), col("vec"))))
  }

  /** Exact top-k neighbors per query vector. `queries` and `corpus` both
    * have (id, vec double[]). Self-matches are excluded. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val q = withNorm(queries)
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("nrm").as("qnrm"))
    val scored = withNorm(corpus)
      .join(broadcast(q))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (GraftFunctions.dot(spark, col("qvec"), col("vec")) /
          (col("qnrm") * col("nrm"))).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Seed of the LSH hyperplanes; table t draws from Seed + t, as the
    * m09/m10 oracles inline them. */
  private val Seed = 42L

  /** Deterministic random hyperplanes: `planes` rows of `dim` doubles. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = Seed): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit LSH bucket id of a vector under the given hyperplanes.
    * Uses graft_dot (min-length semantics): if the configured `dim`
    * mismatches the real vector width, the projection falls back to the
    * common prefix instead of NULL-ing out (zip_with would null-pad, the
    * sign test would silently send EVERY vector to bucket 0, and the
    * "LSH" join would degenerate to a full cross product). */
  def bucketId(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(GraftFunctions.dot(spark, vec, plane) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** (row..., table, bucket) — one row per hash table (OR-amplification). */
  private def withBuckets(df: DataFrame, numPlanes: Int, dim: Int,
                          tables: Int): DataFrame = {
    val buckets = array((0 until tables).map(t =>
      bucketId(col("vec"), hyperplanes(numPlanes, dim, Seed + t))): _*)
    df.select(col("*"), posexplode(buckets).as(Seq("table", "bucket")))
  }

  /** LSH-bucketed ANN over one hash table: score only candidates sharing
    * its bucket, so no pair is scored twice. Returns the same schema as
    * bruteForceTopK; ranks are within retrieved candidates, so recall < 1
    * by design. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              numPlanes: Int = 8, dim: Int = 64): DataFrame = {
    val spark = corpus.sparkSession
    val q = withBuckets(withNorm(queries), numPlanes, dim, 1)
      .select(col("table"), col("bucket"), col("id").as("query_id"),
        col("vec").as("qvec"), col("nrm").as("qnrm"))
    val c = withBuckets(withNorm(corpus), numPlanes, dim, 1)
    val scored = c.join(broadcast(q), Seq("table", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (GraftFunctions.dot(spark, col("qvec"), col("vec")) /
          (col("qnrm") * col("nrm"))).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "sim")
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar corpus vectors whose LABEL DIFFERS from the query's —
    * the near-misses a metric-learning loss needs (easy negatives teach
    * nothing; same-label neighbors are positives, not negatives).
    *
    * `queries`/`corpus`: (id, vec, label). Same broadcast-query stream
    * shape as [[bruteForceTopK]] — exact, one corpus scan, no shuffle of
    * vectors; the label test rides the same codegen'd filter as the
    * self-match exclusion. At 100 TB the candidate stage is an index
    * ([[IvfPq]] + [[Rerank]]) and this exact form is its verify baseline. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val q = withNorm(queries)
      .select(col("id").as("query_id"), col("vec").as("qvec"),
        col("nrm").as("qnrm"), col("label").as("qlabel"))
    val scored = withNorm(corpus)
      .join(broadcast(q))
      .filter(col("id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .select(col("query_id"), col("id").as("neighbor_id"), col("label"),
        (GraftFunctions.dot(spark, col("qvec"), col("vec")) /
          (col("qnrm") * col("nrm"))).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "label", "sim")
  }

  /** Exact threshold search for a (small, broadcast) probe set: every
    * corpus vector with cosine ≥ [[NearDupCos]] against each probe, self-match
    * excluded. The oracle-checkable exact baseline next to [[nearDupPairs]]
    * (whose LSH mode is the at-scale path): the corpus side streams in one
    * scan, so cost is O(probes × corpus) dot products with no shuffle. */
  def bruteForceNearDups(probes: DataFrame, corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    val p = withNorm(probes)
      .select(col("id").as("probe_id"), col("vec").as("pvec"), col("nrm").as("pnrm"))
    withNorm(corpus)
      .join(broadcast(p))
      .filter(col("id") =!= col("probe_id"))
      .select(col("probe_id"), col("id").as("neighbor_id"),
        (GraftFunctions.dot(spark, col("pvec"), col("vec")) /
          (col("pnrm") * col("nrm"))).as("sim"))
      .filter(col("sim") >= NearDupCos)
  }

  /** Embedding near-duplicate pairs: cosine ≥ [[NearDupCos]], doc_a < doc_b.
    * numPlanes=0 → exact all-pairs (O(n²) scored with the codegen'd dot —
    * the verification baseline); numPlanes>0 → LSH buckets with
    * OR-amplified tables (the 100 TB path: only same-bucket pairs ship). */
  def nearDupPairs(vectors: DataFrame, numPlanes: Int = 0, dim: Int = 64,
                   tables: Int = 1): DataFrame = {
    val spark = vectors.sparkSession
    val base =
      if (numPlanes <= 0) {
        val v = withNorm(vectors)
        val a = v.select(col("id").as("doc_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
        val b = v.select(col("id").as("doc_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
        a.join(b, col("doc_a") < col("doc_b"))
      } else {
        val bucketed = withBuckets(withNorm(vectors), numPlanes, dim, tables)
        bucketed
          .select(col("table"), col("bucket"), col("id").as("doc_a"),
            col("vec").as("vec_a"), col("nrm").as("nrm_a"))
          .join(bucketed.select(col("table"), col("bucket"), col("id").as("doc_b"),
            col("vec").as("vec_b"), col("nrm").as("nrm_b")),
            Seq("table", "bucket"))
          .filter(col("doc_a") < col("doc_b"))
      }
    val pairs = base.select(col("doc_a"), col("doc_b"),
        (GraftFunctions.dot(spark, col("vec_a"), col("vec_b")) /
          (col("nrm_a") * col("nrm_b"))).as("sim"))
      .filter(col("sim") >= NearDupCos)
    // exact mode and single-table LSH cannot produce duplicate pairs.
    if (numPlanes > 0 && tables > 1) pairs.distinct() else pairs
  }
}
