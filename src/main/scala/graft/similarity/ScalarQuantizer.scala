package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8, m59) — the third FAISS storage tier next to
  * [[Pq]]'s product codes and [[IvfPq]]'s celled variant: each dimension
  * gets an independent affine 8-bit code
  * code = round((x − min_d) / (max_d − min_d) · 255), so a 64-dim float32
  * corpus stores as 64 bytes/vector (4× smaller, and trivially SIMD-able
  * at query time). SQ8 loses far less recall than PQ at the same scan
  * speed when dimensions are roughly independent — it is what FAISS's
  * `SQ8` index does before anyone reaches for codebooks.
  *
  * Scale shape (100 TB):
  *  - the (dim, x) exchange for training carries ONE pair per component
  *    with map-side min/max partial aggregation, so the shuffle is
  *    partition-count × dim rows, not corpus-sized;
  *  - the fitted bounds table is dim-sized (64 rows) and BROADCAST into
  *    the encode join — vectors never shuffle to be encoded;
  *  - min/max are order-independent EXACT aggregates (unlike mean/std),
  *    which is why the whole pipeline hash-matches the oracle bit-for-bit:
  *    every downstream arithmetic op is the identical IEEE expression
  *    tree over identical doubles in both engines.
  *
  * A constant dimension (max = min) encodes as code 0 with zero error —
  * guarded, not divided.
  */
object ScalarQuantizer {

  /** (vec_id, dim, code, abs_err): the 8-bit code of every vector
    * component under per-dimension affine bounds, plus the absolute
    * reconstruction error |x − decode(code)|. */
  def sq8(vecs: DataFrame): DataFrame = {
    val comps = vecs
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x0")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("x0").cast("double").as("x"))
    val bounds = comps.groupBy("dim")
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val scaled = (col("x") - col("mn")) / (col("mx") - col("mn")) * 255.0 + 0.5
    val code = when(col("mx") === col("mn"), lit(0L))
      .otherwise(greatest(least(floor(scaled), lit(255.0)), lit(0.0)).cast("long"))
    comps.join(broadcast(bounds), Seq("dim"))
      .withColumn("code", code)
      .withColumn("recon",
        col("mn") + col("code").cast("double") / 255.0 * (col("mx") - col("mn")))
      .withColumn("abs_err", abs(col("x") - col("recon")))
      .select(col("vec_id"), col("dim"), col("code"), col("abs_err"))
  }
}
