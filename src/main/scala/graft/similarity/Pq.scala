package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — compressed-domain ANN, the FAISS capability
  * the similarity tier lacked next to hyperplane LSH ([[Ann]]) and the IVF
  * coarse quantizer ([[Ivf]]): the vector dimension is split into `m`
  * subspaces, each subspace gets its own tiny k-means codebook (`ksub`
  * centroids), and a vector is stored as its `m` per-subspace nearest
  * centroid ids — for a 64-dim float corpus at m=8 that is 8 bytes per
  * vector, a 32× compression that turns a 100 TB embedding store into
  * ~3 TB of codes that fit executor memory.
  *
  * Search is ADC (asymmetric distance computation): the query stays
  * UNquantized; per query a distance table of m × ksub partial squared
  * distances is precomputed ONCE, and the distance to a corpus vector is m
  * table lookups + adds — no per-pair O(dim) arithmetic, which is the whole
  * point (the table amortizes the dim-dependent work across the corpus).
  *
  * Scale shape:
  *  - training collects a BOUNDED deterministic sample (smallest
  *    xxhash64(id), the [[Ivf.train]] recipe) and runs per-subspace Lloyd's
  *    on the driver — m × ksub × dsub doubles of model state, shipped to
  *    executors inside closures like any fitted quantizer;
  *  - encoding is one map over the corpus (codes never shuffle text or
  *    raw vectors);
  *  - search scans codes linearly with per-partition bounded top-k heaps
  *    (k × queries entries per partition), then merges the per-partition
  *    candidates through one exact window over ≤ k × partitions × queries
  *    rows — the same prune-then-rank shape as
  *    [[graft.operators.QuotaSample]]. The probe set is collected to build
  *    the tables (bounded by contract, as in [[Ann.bruteForceNearDups]]'s
  *    broadcast probes).
  *
  * Ranking is by approximate (reconstructed) distance — PQ is approximate
  * by contract; PqSpec pins recall against [[Ann.bruteForceTopK]] and the
  * planted-duplicate top-1. Composes with [[Ivf]] cells for IVF-PQ (cell
  * equi-join first, ADC within cells); the code/table kernels here are the
  * reusable half of that pair.
  */
object Pq {

  /** codebooks(s)(c) = centroid c of subspace s (dsub doubles each). */
  final case class Model(codebooks: Seq[Seq[Seq[Double]]]) {
    def m: Int = codebooks.size
    def ksub: Int = if (codebooks.isEmpty) 0 else codebooks.head.size
    def dsub: Int =
      if (codebooks.isEmpty || codebooks.head.isEmpty) 0
      else codebooks.head.head.size

    /** Row-major flat form (subspace-major) shipped in scoring closures. */
    @transient private[similarity] lazy val flat: Array[Double] = {
      val out = new Array[Double](m * ksub * dsub)
      var i = 0
      codebooks.foreach(_.foreach(_.foreach { x => out(i) = x; i += 1 }))
      out
    }
  }

  private[similarity] def sliceOf(v: Array[Double], s: Int, dsub: Int): Array[Double] = {
    val from = s * dsub
    java.util.Arrays.copyOfRange(v, from, math.min(from + dsub, v.length))
  }

  private[similarity] def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Driver-side Lloyd's with greedy farthest-point init — the per-subspace
    * trainer. Deterministic: init and assignment tie-breaks are ordinal. */
  private[similarity] def lloyd(points: Array[Array[Double]], k: Int, iters: Int): Seq[Seq[Double]] = {
    if (points.isEmpty) return Seq.empty
    // Farthest-point seeding (same rationale as Ivf.train: random seeding
    // can drop every centroid into one dense cluster).
    val chosen = scala.collection.mutable.ArrayBuffer(points.head)
    val d2 = points.map(p => dist2(p, points.head))
    while (chosen.size < math.min(k, points.length)) {
      var best = 0; var i = 1
      while (i < d2.length) { if (d2(i) > d2(best)) best = i; i += 1 }
      chosen += points(best)
      var j = 0
      while (j < d2.length) { d2(j) = math.min(d2(j), dist2(points(j), points(best))); j += 1 }
    }
    var cents = chosen.toArray
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(new Array[Double](points.head.length))
      val counts = new Array[Long](cents.length)
      points.foreach { p =>
        var best = 0; var bd = dist2(p, cents(0)); var i = 1
        while (i < cents.length) {
          val d = dist2(p, cents(i)); if (d < bd) { bd = d; best = i }; i += 1
        }
        counts(best) += 1
        var j = 0
        while (j < p.length) { sums(best)(j) += p(j); j += 1 }
      }
      cents = cents.indices.map { i =>
        if (counts(i) == 0) cents(i) // empty cell keeps its centroid
        else sums(i).map(_ / counts(i))
      }.toArray
    }
    cents.map(_.toSeq).toSeq
  }

  /** Train m per-subspace codebooks of ksub centroids over a bounded
    * deterministic sample of (id, vec). dim must be divisible by m. */
  def train(vectors: DataFrame, m: Int, ksub: Int, iters: Int = 5): Model = {
    require(m > 0 && ksub > 0, "m and ksub must be positive")
    val sample = vectors
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(math.max(Ivf.TrainCap, ksub * 4))
      .select("vec").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    Model((0 until m).map { s =>
      lloyd(sample.map(v => sliceOf(v, s, dsub)), ksub, iters)
    })
  }

  /** (id, codes array<int>): each vector's m per-subspace centroid ids —
    * the compressed store (m bytes per vector at ksub ≤ 256). */
  def encode(vectors: DataFrame, model: Model): DataFrame = {
    val (flat, m, ksub, dsub) = (model.flat, model.m, model.ksub, model.dsub)
    val enc = udf { (v: Seq[Double]) =>
      val vArr = v.toArray
      val codes = new Array[Int](m)
      var s = 0
      while (s < m) {
        val sub = sliceOf(vArr, s, dsub)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < ksub) {
          var d = 0.0; var j = 0; val off = (s * ksub + c) * dsub
          while (j < dsub) { val x = sub(j) - flat(off + j); d += x * x; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        codes(s) = best
        s += 1
      }
      codes
    }
    vectors.select(col("id"), enc(col("vec")).as("codes"))
  }

  /** ADC top-k: for each probe (collected — bounded by
    * [[IvfPq.MaxServingProbes]]), the k corpus codes with the smallest
    * reconstructed squared L2 distance. Output (query_id, rank,
    * neighbor_id, adist); self-matches excluded. For unit-norm embeddings
    * the L2 ranking equals the cosine ranking (‖q−x‖² = 2 − 2·q·x).
    *
    * This is the SERVING path: per-probe LUTs are driver-built and
    * closure-shipped, which bounds the probe set. Batch retrieval (a
    * query TABLE) wants cells to bound the scan anyway — that path is
    * [[IvfPq.topKBatch]], which builds LUTs executor-side and collects
    * nothing. */
  def adcTopK(queries: DataFrame, codes: DataFrame, model: Model, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = codes.sparkSession
    import spark.implicits._
    val (flat, m, ksub, dsub) = (model.flat, model.m, model.ksub, model.dsub)
    val probes = queries.select(col("id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(probes.length <= IvfPq.MaxServingProbes,
      s"adcTopK collected ${probes.length} probes (> ${IvfPq.MaxServingProbes}): " +
        "driver-built ADC tables bound the serving probe set; use " +
        "IvfPq.topKBatch for batch retrieval")
    // One LUT per probe: tables(q)(s*ksub + c) = ‖q_s − centroid_{s,c}‖².
    // Computed ONCE on the driver (probes × m × ksub doubles) and shipped
    // in the scan closure — the amortization that makes ADC beat per-pair
    // O(dim) arithmetic.
    val tables = probes.map { case (_, q) =>
      val t = new Array[Double](m * ksub)
      var s = 0
      while (s < m) {
        val sub = sliceOf(q, s, dsub)
        var c = 0
        while (c < ksub) {
          var d = 0.0; var j = 0; val off = (s * ksub + c) * dsub
          while (j < dsub) { val x = sub(j) - flat(off + j); d += x * x; j += 1 }
          t(s * ksub + c) = d
          c += 1
        }
        s += 1
      }
      t
    }
    val qids = probes.map(_._1)
    val bc = spark.sparkContext.broadcast((qids, tables))
    // Per-partition bounded heaps (k entries per query), then one exact
    // window over the ≤ k × partitions × queries survivors.
    val candidates = codes.select(col("id"), col("codes")).as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val (ids, tabs) = bc.value
        val ord = Ordering.by[(Double, Long), (Double, Long)](identity)
        val heaps = Array.fill(ids.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
        it.foreach { case (vid, cs) =>
          val codesArr = cs.toArray
          var q = 0
          while (q < ids.length) {
            if (ids(q) != vid) {
              val t = tabs(q)
              var d = 0.0; var s = 0
              while (s < m) { d += t(s * ksub + codesArr(s)); s += 1 }
              val h = heaps(q)
              if (h.size < k) h.enqueue((d, vid))
              else if (ord.lt((d, vid), h.head)) { h.dequeue(); h.enqueue((d, vid)) }
            }
            q += 1
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
          h.iterator.map { case (d, vid) => (ids(q), vid, d) }
        }
      }
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    candidates.toDF("query_id", "neighbor_id", "adist")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adist")
  }
}
