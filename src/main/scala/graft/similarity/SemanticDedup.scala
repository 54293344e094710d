package graft.similarity

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantic (embedding-space) deduplication, SemDeDup-style: a coarse
  * k-means quantizer partitions the corpus into cells, and only
  * WITHIN-CELL pairs are scored for cosine similarity — near-duplicates
  * land in the same cell because the quantizer adapts to the data, so the
  * all-pairs cross product never materializes. The third near-dup path
  * next to hyperplane LSH ([[Ann.nearDupPairs]], data-oblivious buckets)
  * and the exact probe ([[Ann.bruteForceNearDups]], the verification
  * baseline): SemDeDup is the one that catches SEMANTIC copies — same
  * content re-encoded, translated, or paraphrased — that n-gram dedup is
  * blind to.
  *
  * Boundary pairs: two ε-close vectors can straddle a Voronoi boundary,
  * so each vector is assigned to its `nprobeAssign` nearest cells for
  * PAIR GENERATION (membership explode, the standard multi-probe fix); a
  * pair sharing several cells is generated more than once, which the
  * min/max aggregation absorbs without a distinct.
  *
  * Scale shape: cells are an equi-join key (the join is cell-bucketed,
  * AQE-broadcastable per cell); the quantizer trains on a bounded sample
  * ([[Ivf.train]]) and ships as a closure matrix; per-cell pair cost is
  * quadratic in CELL size, which production sizing bounds by picking
  * nlist ≈ corpus/target_cell_size — the same knob FAISS/SemDeDup use.
  */
object SemanticDedup {

  /** Vectors to DROP: (vec_id, keeper_id, sim) for every vector with a
    * smaller-id within-cell neighbor at cosine ≥ 0.99. keeper_id is
    * the smallest such neighbor (the cluster's representative pointer),
    * sim the best similarity seen. Input schema: (id, vec: array<double>). */
  def dropNearDups(vectors: DataFrame, model: Ivf.Model,
                   nprobeAssign: Int = 2): DataFrame = {
    require(nprobeAssign >= 1, "nprobeAssign must be >= 1")
    val spark = vectors.sparkSession
    val withCell = vectors
      .withColumn("nrm", sqrt(GraftFunctions.dot(spark, col("vec"), col("vec"))))
      .withColumn("cell",
        explode(Ivf.probeCells(col("vec"), model, nprobeAssign)))
    val a = withCell.select(col("cell"), col("id").as("id_a"),
      col("vec").as("va"), col("nrm").as("na"))
    val b = withCell.select(col("cell"), col("id").as("id_b"),
      col("vec").as("vb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (GraftFunctions.dot(spark, col("va"), col("vb")) /
          (col("na") * col("nb"))).as("sim"))
      .filter(col("sim") >= 0.99)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("keeper_id"), max(col("sim")).as("sim"))
  }
}
