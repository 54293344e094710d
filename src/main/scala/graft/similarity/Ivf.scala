package graft.similarity

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** IVF (inverted-file) approximate nearest neighbor: a coarse k-means
  * quantizer partitions the corpus into `nlist` cells; a query scores only
  * the `nprobe` nearest cells. The second scale path next to
  * [[Ann.lshTopK]] — IVF adapts to the data distribution where hyperplane
  * LSH is data-oblivious.
  *
  * The "model" is `nlist × dim` doubles of driver-side state (like any
  * fitted quantizer). Training is Lloyd's algorithm over a BOUNDED
  * deterministic sample (smallest xxhash64(id), one pass over the corpus):
  * quantizer quality needs a representative sample, not every row — the
  * standard IVF recipe (FAISS trains on ~max(256·nlist) points for the
  * same reason). Each iteration is then one small job over `trainCap`
  * rows: assignment via the shared scoring kernel, update via ONE
  * vector-sum aggregation returning the centroid matrix as `nlist` rows
  * (count + elementwise sum), not a per-dimension posexplode of the
  * corpus. Initialization is the hash-ordered oversample refined by greedy
  * farthest-point selection (see [[train]]), so runs are reproducible and
  * seeds spread.
  *
  * Scoring ships the centroid matrix to executors as a flat primitive
  * array inside the UDF closure (one copy per task binary, like a
  * broadcast) and loops over it — NOT as `nlist` inlined literal
  * expression subtrees, which make the PLAN the bottleneck at production
  * nlist (a 4096-cell literal form is megabytes of expression tree per
  * query; the closure form is spec-pinned to a bounded plan). Search is
  * one equi-join on cell id — the cross product never materializes.
  * Centroid averages are double sums, so cell boundaries can move by ulps
  * between partitionings — harmless for ANN (it's approximate by
  * contract), unlike the exact-query paths.
  */
object Ivf {

  /** Training-sample rows: the quantizers train on at most this many
    * vectors (the ksub/nlist floor aside), coarse and PQ alike. */
  private[similarity] val TrainCap = 16384

  final case class Model(centroids: Seq[Seq[Double]]) {
    def nlist: Int = centroids.size

    /** Flattened row-major centroid matrix + per-centroid squared norms,
      * computed once on the driver and shipped in scoring closures. */
    @transient private[similarity] lazy val flat: (Array[Double], Array[Double], Int) = {
      val dim = if (centroids.isEmpty) 0 else centroids.head.length
      val m = new Array[Double](centroids.length * dim)
      val n2 = new Array[Double](centroids.length)
      var i = 0
      centroids.foreach { c =>
        var j = 0; var s = 0.0
        while (j < dim) { val x = c(j); m(i * dim + j) = x; s += x * x; j += 1 }
        n2(i) = s; i += 1
      }
      (m, n2, dim)
    }
  }

  /** The ONE definition of the quantizer distance, shared by corpus
    * assignment and query probing (if these diverged, corpus cells and
    * query probes would disagree and recall would silently collapse).
    * d² = |v|² − 2·v·c + |c|²; |v|² is common to all cells so the score
    * is (−2·v·c + |c|²) only. Returns per-cell scores. */
  private def cellScores(v: Seq[Double], m: Array[Double], n2: Array[Double],
                         dim: Int): Array[Double] = {
    val vArr = v.toArray
    val out = new Array[Double](n2.length)
    var i = 0
    while (i < n2.length) {
      var dot = 0.0; var j = 0; val off = i * dim
      val k = math.min(dim, vArr.length)
      while (j < k) { dot += vArr(j) * m(off + j); j += 1 }
      out(i) = n2(i) - 2.0 * dot
      i += 1
    }
    out
  }

  /** Squared-distance argmin cell id for a vector column — smallest score,
    * ties broken on the smaller idx (strict < keeps the first). */
  def cellId(vec: Column, model: Model): Column = {
    val (m, n2, dim) = model.flat
    udf { (v: Seq[Double]) =>
      val s = cellScores(v, m, n2, dim)
      var best = 0; var i = 1
      while (i < s.length) { if (s(i) < s(best)) best = i; i += 1 }
      best
    }.apply(vec)
  }

  /** `nprobe` nearest cell ids for a query vector (ascending distance,
    * ties on idx — same ordering as a lexicographic (score, idx) sort). */
  def probeCells(vec: Column, model: Model, nprobe: Int): Column = {
    val (m, n2, dim) = model.flat
    udf { (v: Seq[Double]) =>
      val s = cellScores(v, m, n2, dim)
      s.indices.sortBy(i => (s(i), i)).take(nprobe)
    }.apply(vec)
  }

  /** Squared euclidean distance (driver-side, init only). */
  private def dist2(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Greedy k-center (farthest-point) selection over a candidate pool —
    * deterministic, O(|pool|·k) on the driver. A plain random sample can
    * drop every seed into one dense cluster (and "empty cells keep their
    * centroid" then never separates them); farthest-point guarantees the
    * seeds spread across the pool's extent. */
  private def farthestPoints(pool: Seq[Seq[Double]], k: Int): Seq[Seq[Double]] = {
    if (pool.isEmpty || k <= 0) return Seq.empty
    val chosen = scala.collection.mutable.ArrayBuffer(pool.head)
    val d2 = pool.map(v => dist2(v, pool.head)).toArray
    while (chosen.size < math.min(k, pool.size)) {
      var best = 0; var i = 1
      while (i < d2.length) { if (d2(i) > d2(best)) best = i; i += 1 }
      val next = pool(best)
      chosen += next
      i = 0
      while (i < d2.length) { d2(i) = math.min(d2(i), dist2(pool(i), next)); i += 1 }
    }
    chosen.toSeq
  }

  /** Elementwise vector sum — the Lloyd update's aggregation: one shuffle
    * of nlist partial (count, sum-vector) rows instead of a posexplode of
    * sample×dim scalar rows. Buffers are mutated in place (dim doubles per
    * group, bounded by construction). */
  private object VectorSum extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    override def zero: Array[Double] = Array.emptyDoubleArray
    override def reduce(b: Array[Double], v: Seq[Double]): Array[Double] =
      if (b.isEmpty) v.toArray
      else { var i = 0; while (i < b.length) { b(i) += v(i); i += 1 }; b }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
    override def finish(b: Array[Double]): Seq[Double] = b.toSeq
    override def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Lloyd's k-means over (id, vec double[]).
    *
    * Sampling: ONE job takes the `max(trainCap, 4·nlist)` rows with the
    * smallest xxhash64(id) (per-partition heap + driver merge — no row
    * count, no dense-id assumption, fully reproducible) and snapshots
    * them, so the `iters` refinement jobs never rescan the corpus. The
    * snapshot is released before returning. Initialization: the 4·nlist
    * smallest-hash rows of that same pool, refined by greedy
    * farthest-point selection on the driver. When the corpus is smaller
    * than `trainCap` (all spec/test scales) training is exact — identical
    * to unsampled Lloyd's. */
  def train(vectors: DataFrame, nlist: Int, iters: Int = 3,
            trainCap: Int = TrainCap): Model = {
    require(nlist > 0, "nlist must be positive")
    val sample = vectors
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(math.max(trainCap, nlist * 4))
      .select(col("id"), col("vec"))
      .pinned(true)
    try {
      val pool = sample
        .orderBy(xxhash64(col("id")).asc, col("id").asc)
        .limit(nlist * 4)
        .select("vec").collect().map(_.getSeq[Double](0).toSeq).toSeq
      var model = Model(farthestPoints(pool, nlist))
      val vsum = udaf(VectorSum)
      for (_ <- 1 to iters) {
        // (cell → count, Σvec) in ONE aggregation; collect is nlist rows
        // of model-sized state, not corpus data.
        val updated = sample
          .select(cellId(col("vec"), model).as("cell"), col("vec"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n"), vsum(col("vec")).as("s"))
          .collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getSeq[Double](2)))
          .toMap
        // Empty cells keep their previous centroid.
        model = Model(model.centroids.zipWithIndex.map { case (c, i) =>
          updated.get(i).map { case (n, s) => s.map(_ / n) }.getOrElse(c)
        })
      }
      model
    } finally {
      // The sample snapshot is training-internal state — free it so train
      // leaves no persisted blocks behind (same contract as DedupClusters).
      graft.Snapshot.free(sample)
    }
  }

  /** IVF top-k search: same schema as [[Ann.bruteForceTopK]]; recall is
    * bounded by nprobe/nlist coverage. */
  def topK(queries: DataFrame, corpus: DataFrame, model: Model, k: Int,
           nprobe: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    val c = corpus
      .withColumn("nrm", sqrt(GraftFunctions.dot(spark, col("vec"), col("vec"))))
      .withColumn("cell", cellId(col("vec"), model))
    val q = queries
      .withColumn("qnrm", sqrt(GraftFunctions.dot(spark, col("vec"), col("vec"))))
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("qnrm"),
        explode(probeCells(col("vec"), model, nprobe)).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
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
}
