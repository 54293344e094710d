package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Top-principal-component extraction by distributed power iteration
  * (m63) — the dimensionality-reduction / whitening primitive the
  * embedding tier lacked next to clipping ([[Winsorize]]) and
  * quantization ([[ScalarQuantizer]], [[Pq]]): the dominant direction of
  * an embedding corpus is what you inspect for "rogue dimension"
  * pathologies (a single dimension carrying batch-norm drift), subtract
  * for anisotropy correction (all-but-the-top), or whiten before cosine
  * retrieval.
  *
  * Computes v ← normalize( Σ_i (x_i−μ) ((x_i−μ)·v) ) for a fixed
  * iteration count from a deterministic all-ones start — the classic
  * power method on the covariance. Since Σ_i x_c (x_c·v) = G·v with
  * G = Σ_i x_c x_cᵀ, the corpus touches the cluster exactly TWICE (the
  * mean pass and one centered-Gram pass); every iteration after that is
  * a d×d mat-vec on the driver.
  *
  * Scale shape (100 TB):
  *  - two corpus passes TOTAL, independent of the iteration count: the
  *    Gram pass folds each partition into a d(d+1)/2 upper-triangle
  *    accumulator (one array per partition crosses the wire, never
  *    vectors) merged by treeAggregate — the earlier shape (a full
  *    corpus pass per iteration against a localCheckpoint) re-read the
  *    materialized corpus ~8×, which at 100 TB means 8 scans plus a
  *    100 TB disk pin;
  *  - driver state is G (d² doubles: 32 KB at d=64, 128 MB at d=4096 —
  *    the practical ceiling; beyond that, return to per-iteration
  *    passes) plus the d-sized iterate — the bounded-model contract of
  *    [[Ivf.train]]'s centroids;
  *  - iteration count stops costing anything, so convergence can be
  *    bought freely — the FP trajectory is the one the per-pass form
  *    walks (same mat-vec per step, re-associated sums).
  *
  * Oracle: the first `iterations − 1` steps are driver-state recursion
  * (spec-pinned by PcaPowerSpec: planted-direction recovery, the
  * analytic 2-d eigenpair, sign convention, eigenvalue = explained
  * variance) — but the final step's G·v_{k−1} EQUALS one corpus-wide
  * pass of Σ x_c (x_c·v_{k−1}). Capturing (μ, v_{k−1}) at the top of
  * the last step lets [[graft.OracleModelSql.pcaTopComponent]] replay
  * that pass in DuckDB from the parquet with the state inlined as
  * literals — an INDEPENDENT recomputation of the reported rows (the
  * engine never walks the corpus for it), same captured-model recipe as
  * the IVF/PQ search paths; re-associated float sums are absorbed by
  * the gate's 6-dp rounding.
  */
object PcaPower {

  /** Driver state entering the final power iteration: the per-dimension
    * mean and the unit iterate v_{k−1} — everything the last pass needs. */
  final case class IterState(mu: Seq[Double], v: Seq[Double])

  /** (dim, loading, eigenvalue): the unit top component (sign fixed so
    * the first nonzero loading is positive) and its eigenvalue (the
    * variance explained along it, computed in a final pass). */
  def topComponent(vecs: DataFrame, iterations: Int = 8,
                   captureKey: Option[String] = None): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val spark = vecs.sparkSession
    import spark.implicits._
    val xs = vecs.select(Vectors.toDouble(col("embedding")).as("x"))
      .filter(col("x").isNotNull)

    // One pass: per-dimension mean.
    val comps = xs.select(posexplode(col("x")).as(Seq("dim", "v")))
    val meanRows = comps.groupBy("dim").agg(avg(col("v")).as("m"))
      .orderBy("dim").as[(Int, Double)].collect()
    val d = meanRows.length
    require(d > 0, "empty input")
    val mu = meanRows.map(_._2)

    // One more pass: centered upper-triangle Gram + row count, folded
    // per partition and tree-merged. Rows whose length ≠ d contribute
    // nothing to G (in the per-pass form their dot product was
    // null-poisoned) but still count toward n, mirroring the earlier
    // n = count(all rows) semantics.
    val tri = d * (d + 1) / 2
    val muB = spark.sparkContext.broadcast(mu)
    val agg0 = xs.select(col("x")).as[Seq[Double]].rdd.treeAggregate(
      new Array[Double](tri + 1))(
      seqOp = (acc, row) => {
        acc(tri) += 1.0
        val m = muB.value
        if (row.length == m.length) {
          val c = new Array[Double](m.length)
          var i = 0
          while (i < m.length) { c(i) = row(i) - m(i); i += 1 }
          var k = 0
          i = 0
          while (i < m.length) {
            var j = i
            val ci = c(i)
            while (j < m.length) { acc(k) += ci * c(j); j += 1; k += 1 }
            i += 1
          }
        }
        acc
      },
      combOp = (a, b) => {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      },
      depth = 2)
    muB.destroy()
    val n = agg0(tri)
    val g = Array.ofDim[Double](d, d)
    var k = 0
    for (i <- 0 until d; j <- i until d) {
      g(i)(j) = agg0(k); g(j)(i) = agg0(k); k += 1
    }

    // Power iterations: v <- G v, normalized — driver-local mat-vecs.
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var eigen = 0.0
    for (it <- 1 to iterations) {
      if (it == iterations)
        captureKey.foreach(k =>
          graft.OracleCapture.put(k, IterState(mu.toSeq, v.toSeq)))
      val sums = Array.tabulate(d) { i =>
        var s = 0.0
        var j = 0
        while (j < d) { s += g(i)(j) * v(j); j += 1 }
        s
      }
      val norm = math.sqrt(sums.map(x => x * x).sum)
      // Rayleigh quotient of the PREVIOUS (unit) v: λ ≈ v·(C v) = v·sums/n.
      eigen = sums.zip(v).map { case (s, vi) => s * vi }.sum / n
      v = if (norm == 0.0) v else sums.map(_ / norm)
    }
    // Deterministic sign: first loading with |.| > 1e-12 made positive.
    val lead = v.find(math.abs(_) > 1e-12).getOrElse(1.0)
    val signed = if (lead < 0) v.map(-_) else v

    signed.zipWithIndex
      .map { case (l, i) => (i.toLong, l, eigen) }.toSeq
      .toDF("dim", "loading", "eigenvalue")
  }
}
