package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection (Achlioptas 2003, "Database-
  * friendly random projections", public) — the cheap dimensionality
  * reducer the embedding-hygiene tier was missing: a DATA-INDEPENDENT
  * ±1 sign matrix (no training pass, unlike PCA/m63) projects d-dim
  * embeddings to k dims while preserving norms and pairwise distances to
  * within ~1/√k with high probability. At 100 TB this is the projection
  * you can apply in the ingest pass itself: the matrix is a plan
  * literal, so the operator is one codegen'd projection — no model
  * asset, no second scan, no shuffle.
  *
  * Portability: the sign s(i,j) is the parity of the last hex char of
  * md5("jl:i:j") — the same engine-stable hash trick as the DSIR bucket
  * hash, so the DuckDB oracle regenerates the identical matrix and the
  * fold runs in the identical index order (Spark `aggregate` over
  * zip_with ≡ DuckDB list_sum over an index-ordered list_transform, the
  * m95 discipline).
  */
object JlProjection {

  /** ±1.0 from md5 parity — deterministic, data-independent, identical
    * in the SQL replay. */
  private[similarity] def sign(i: Int, j: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"jl:$i:$j".getBytes("UTF-8"))
    // parity of the last nibble ≡ parity of the last hex char's value
    if ((hex(15) & 1) == 0) 1.0 else -1.0
  }

  /** The k×d literal sign matrix (row j = output dim). */
  private def signMatrix(d: Int, k: Int): Column =
    array((0 until k).map(j =>
      array((0 until d).map(i => lit(sign(i, j))): _*)): _*)

  /** Project `vecCol` (array<float|double>, fixed dim d) to k dims:
    * y_j = Σ_i x_i · s(i,j) / √k, folded in index order. */
  def project(vecCol: Column, d: Int, k: Int): Column = {
    require(k > 0 && d > 0, "dims must be positive")
    val xs = transform(vecCol, x => x.cast("double"))
    transform(signMatrix(d, k), row =>
      aggregate(zip_with(xs, row, (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) / math.sqrt(k.toDouble))
  }

  /** Norm-preservation card: (vec_id, norm2_orig, norm2_proj, ratio) per
    * embedding — the JL guarantee made measurable (ratio concentrates
    * around 1 with spread ~1/√k). Zero-norm vectors carry a null ratio.
    * One projection pass over the pruned (vec_id, embedding) scan. */
  def normCard(embeddings: DataFrame, d: Int, k: Int): DataFrame = {
    val sq = (v: Column) =>
      aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x)
    val xs = transform(col("embedding"), x => x.cast("double"))
    embeddings
      .select(col("vec_id"), xs.as("xs"), project(col("embedding"), d, k).as("ys"))
      .select(col("vec_id"), sq(col("xs")).as("norm2_orig"),
        sq(col("ys")).as("norm2_proj"))
      .withColumn("ratio",
        when(col("norm2_orig") > 0.0, col("norm2_proj") / col("norm2_orig")))
  }
}
