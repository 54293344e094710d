package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-space outlier report (m78) — distance-to-centroid with
  * median/MAD robust z-scores: the corpus-level corrupt-vector detector
  * ([[Winsorize]] clips per-DIMENSION tails; this flags whole VECTORS
  * that sit far from the cloud — a bad encoder batch, a zeroed export,
  * an off-manifold dupe — before they poison quantizer training or ANN
  * recall). Robust stats on purpose: mean/std of distances would be
  * dragged by exactly the outliers being hunted (the m69 argument, in
  * embedding space).
  *
  * Scale shape (100 TB):
  *  - the centroid is one (dim, partial-sum) exchange of partitions × d
  *    rows, folded to a single broadcast row ([[Winsorize]]'s bounds
  *    pattern);
  *  - each vector's distance is a zip_with/aggregate fold INSIDE the row
  *    against the broadcast centroid — no explode, no shuffle;
  *  - median/MAD of the distance distribution are two exact percentiles
  *    (quantile_cont parity; approx_percentile at 100 TB, same shape)
  *    broadcast back for the per-row z.
  */
object EmbedOutliers {

  /** (vec_id, dist, robust_z, is_outlier): Euclidean distance to the
    * corpus centroid, 0.6745·(d−med)/MAD, and the |z| > 3.5 flag
    * (false when MAD = 0 — a degenerate all-equal cloud). */
  def report(vecs: DataFrame): DataFrame = {
    val xs = vecs.select(col("vec_id"), Vectors.toDouble(col("embedding")).as("x"))
      .filter(col("x").isNotNull)
    // Per-dim means folded onto one broadcastable row, in dim order.
    val centroid = xs
      .select(posexplode(col("x")).as(Seq("dim", "v")))
      .groupBy("dim").agg(avg(col("v")).as("m"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
      .select(transform(col("dm"), e => e.getField("m")).as("c"))
    // Fail loudly on ragged input: zip_with null-pads a length mismatch,
    // which would silently turn dist (and the flag) into null and drop
    // the row from the median/MAD percentiles. The check rides the dist
    // expression itself so column pruning can't elide it.
    val dist = when(size(col("x")) === size(col("c")),
      sqrt(aggregate(
        zip_with(col("x"), col("c"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, t) => acc + t)))
      .otherwise(raise_error(concat(
        lit("EmbedOutliers: ragged embedding (dim "), size(col("x")),
        lit(" != corpus dim "), size(col("c")),
        lit(") at "), col("vec_id").cast("string"))))
    val dists = xs.crossJoin(broadcast(centroid))
      .withColumn("dist", dist)
      .select(col("vec_id"), col("dist"))
    val stats = dists.agg(percentile(col("dist"), lit(0.5)).as("med"))
    val withMed = dists.crossJoin(broadcast(stats))
    val mad = withMed
      .agg(percentile(abs(col("dist") - col("med")), lit(0.5)).as("mad"))
    val z = lit(0.6745) * (col("dist") - col("med")) / col("mad")
    withMed.crossJoin(broadcast(mad))
      .withColumn("robust_z",
        when(col("mad") === 0.0, lit(null).cast("double")).otherwise(z))
      .withColumn("is_outlier",
        when(col("mad") === 0.0, lit(false)).otherwise(abs(z) > 3.5))
      .select(col("vec_id"), col("dist"), col("robust_z"), col("is_outlier"))
  }
}
