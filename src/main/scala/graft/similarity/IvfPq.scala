package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ — the composed FAISS index: [[Ivf]]'s coarse quantizer bounds
  * WHICH rows a query scans (nprobe cells instead of the corpus), [[Pq]]
  * codes bound WHAT each row costs (m byte-codes instead of dim floats).
  * Together they are the standard billion-scale ANN layout: at 100 TB of
  * raw embeddings the encoded table is ~m/(4·dim) of the input and the
  * per-query work is |corpus| · nprobe/nlist table lookups.
  *
  * Codes quantize RESIDUALS (vec − cell centroid), not raw vectors — the
  * FAISS IVFPQ design: within a cell the residual distribution is tight
  * around zero, so the same ksub centroids resolve much finer distances
  * than they would on the raw space. The price is that ADC lookup tables
  * become per-(query, probed-cell) — the query's residual differs per
  * cell — which stays cheap because nprobe and the probe set are bounded.
  *
  * Scale shape: training is [[Ivf.train]] plus per-subspace Lloyd's over
  * the SAME bounded sample's residuals (driver-side, deterministic);
  * encoding is one map over the corpus; search reuses [[Pq.adcTopK]]'s
  * per-partition bounded-heap scan, additionally skipping every row whose
  * cell the query does not probe. No shuffle of vectors anywhere — the
  * encoded table is (id, cell, codes) and the only exchange is the final
  * ≤ k × partitions × queries candidate merge.
  */
object IvfPq {

  final case class Model(coarse: Ivf.Model, pq: Pq.Model) {
    /** Flat row-major coarse centroid matrix for closure shipping. */
    @transient private[similarity] lazy val coarseFlat: (Array[Double], Int) = {
      val dim = if (coarse.centroids.isEmpty) 0 else coarse.centroids.head.length
      val m = new Array[Double](coarse.nlist * dim)
      var i = 0
      coarse.centroids.foreach { c =>
        var j = 0
        while (j < dim) { m(i * dim + j) = c(j); j += 1 }
        i += 1
      }
      (m, dim)
    }
  }

  private def nearestCells(v: Array[Double], cents: Array[Double], dim: Int,
                           nlist: Int, n: Int): Array[Int] = {
    val scores = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      var d = 0.0; var j = 0; val off = c * dim
      val k = math.min(dim, v.length)
      while (j < k) { val x = v(j) - cents(off + j); d += x * x; j += 1 }
      scores(c) = d
      c += 1
    }
    scores.indices.sortBy(i => (scores(i), i)).take(n).toArray
  }

  /** Coarse quantizer via [[Ivf.train]], then PQ codebooks over the SAME
    * bounded deterministic sample's residuals. */
  def train(vectors: DataFrame, nlist: Int, m: Int, ksub: Int,
            pqIters: Int = 5): Model = {
    require(nlist > 0 && m > 0 && ksub > 0, "nlist, m, ksub must be positive")
    val coarse = Ivf.train(vectors, nlist)
    val sample = vectors
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(math.max(Ivf.TrainCap, ksub * 4))
      .select("vec").collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val model = Model(coarse, Pq.Model(Seq.empty))
    val (cents, cdim) = model.coarseFlat
    val residuals = sample.map { v =>
      val cell = nearestCells(v, cents, cdim, nlist, 1)(0)
      val r = new Array[Double](dim)
      var j = 0
      while (j < dim) { r(j) = v(j) - cents(cell * cdim + j); j += 1 }
      r
    }
    Model(coarse, Pq.Model((0 until m).map { s =>
      Pq.lloyd(residuals.map(r => Pq.sliceOf(r, s, dsub)), ksub, pqIters)
    }))
  }

  /** (id, cell, codes): each vector's coarse cell plus the PQ codes of its
    * residual — the full compressed index, one map over the corpus. */
  def encode(vectors: DataFrame, model: Model): DataFrame = {
    val (cents, cdim) = model.coarseFlat
    val nlist = model.coarse.nlist
    val (flat, m, ksub, dsub) =
      (model.pq.flat, model.pq.m, model.pq.ksub, model.pq.dsub)
    val enc = udf { (v: Seq[Double]) =>
      val vArr = v.toArray
      val cell = nearestCells(vArr, cents, cdim, nlist, 1)(0)
      val codes = new Array[Int](m)
      var s = 0
      while (s < m) {
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < ksub) {
          var d = 0.0; var j = 0
          val voff = s * dsub; val coff = (s * ksub + c) * dsub
          while (j < dsub) {
            // residual on the fly: v_j − cellCentroid_j, vs codebook entry
            val x = vArr(voff + j) - cents(cell * cdim + voff + j) - flat(coff + j)
            d += x * x; j += 1
          }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        codes(s) = best
        s += 1
      }
      (cell, codes)
    }
    vectors.select(col("id"), enc(col("vec")).as("e"))
      .select(col("id"), col("e._1").as("cell"), col("e._2").as("codes"))
  }

  /** Serving-path probe bound: [[topK]] (like [[Pq.adcTopK]]) collects
    * the query set and closure-ships probes × nprobe × m × ksub doubles
    * of ADC tables — the right trade for a bounded online probe set, and
    * a DRIVER BOTTLENECK for batch retrieval. The require makes the
    * contract loud instead of letting a million-query table OOM the
    * driver; batch jobs use [[topKBatch]], which never collects. */
  val MaxServingProbes = 4096

  /** IVF-PQ top-k: each probe (collected — bounded by
    * [[MaxServingProbes]]) ADC-scans only its `nprobe` nearest cells.
    * Output (query_id, rank, neighbor_id, adist); self-matches excluded.
    * Recall is bounded by nprobe coverage × PQ resolution — IvfPqSpec
    * pins both. For probe sets beyond the serving bound (k-NN graph
    * construction, corpus-vs-corpus retrieval) use [[topKBatch]]. */
  def topK(queries: DataFrame, encoded: DataFrame, model: Model, k: Int,
           nprobe: Int): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    val spark = encoded.sparkSession
    import spark.implicits._
    val (cents, cdim) = model.coarseFlat
    val nlist = model.coarse.nlist
    val (m, ksub) = (model.pq.m, model.pq.ksub)
    val probes = queries.select(col("id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(probes.length <= MaxServingProbes,
      s"topK collected ${probes.length} probes (> $MaxServingProbes): " +
        "this serving path driver-builds per-probe ADC tables; use " +
        "topKBatch for batch retrieval")
    // Per-(query, probed cell) LUT over the query's RESIDUAL in that cell:
    // probes × nprobe × m × ksub doubles, driver-built, closure-shipped.
    val np = math.min(nprobe, nlist)
    val probeCells = probes.map { case (_, q) => nearestCells(q, cents, cdim, nlist, np) }
    val tables = probes.zipWithIndex.map { case ((_, q), pi) =>
      probeCells(pi).map(cell => cell -> residualLut(q, cell, cents, cdim, model.pq)).toMap
    }
    val qids = probes.map(_._1)
    val bc = spark.sparkContext.broadcast((qids, probeCells, tables))
    val candidates = encoded.select(col("id"), col("cell"), col("codes"))
      .as[(Long, Int, Seq[Int])]
      .mapPartitions { it =>
        val (ids, pcells, tabs) = bc.value
        val heaps = Array.fill(ids.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](HeapOrd))
        it.foreach { case (vid, cell, cs) =>
          val codesArr = cs.toArray
          var q = 0
          while (q < ids.length) {
            if (ids(q) != vid && pcells(q).contains(cell))
              offer(heaps(q), k, tabs(q)(cell), codesArr, m, ksub, vid)
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

  /** Distributed batch retrieval — [[topK]] semantics with NO driver-side
    * probe state: same (query_id, rank, neighbor_id, adist) rows, built
    * for query TABLES (k-NN graph construction, corpus-vs-corpus
    * retrieval) instead of a bounded online probe set.
    *
    * Shape: only the MODEL is broadcast (nlist × dim + m × ksub × dsub
    * doubles). Queries expand executor-side to (query_id, probed cell,
    * qvec) — nprobe narrow rows per query, never collected — and cogroup
    * with the encoded corpus on `cell`: per (cell, probe) the residual
    * ADC table is built ONCE inside the group (the same amortization the
    * serving path gets from the driver tables, relocated to executors)
    * and the cell's codes stream through bounded per-probe heaps. The
    * corpus side arrives pre-grouped by cell at scale (bucketed index
    * layout → no exchange); the probe side shuffles |Q| × nprobe rows of
    * dim doubles — the small side by construction. Final exact rank is
    * the same one-window merge over ≤ |Q| × nprobe × k candidates.
    *
    * Arithmetic is bit-identical to [[topK]] (same LUT loops, same
    * accumulation order, same (adist, neighbor_id) tie-break), so both
    * paths return the SAME rows — IvfPqBatchSpec pins the equality and
    * the captured-model SQL replay covers it at full-corpus probe count.
    * Skew note: per-cell work is |cell| × |probes probing it| × m; a
    * pathologically hot cell skews its task, which AQE's skew-join
    * handling does not see inside cogroup — at production scale cap cell
    * occupancy at train time (balanced k-means) before reaching for
    * salting here. */
  def topKBatch(queries: DataFrame, encoded: DataFrame, model: Model,
                k: Int, nprobe: Int): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    val spark = encoded.sparkSession
    import spark.implicits._
    val np = math.min(nprobe, model.coarse.nlist)
    val bc = spark.sparkContext.broadcast(model)
    val probesByCell = queries.select(col("id"), col("vec"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val mod = bc.value
        val (cents, cdim) = mod.coarseFlat
        it.flatMap { case (qid, v) =>
          val q = v.toArray
          nearestCells(q, cents, cdim, mod.coarse.nlist, np)
            .iterator.map(cell => (cell, qid, q))
        }
      }
    val codes = encoded.select(col("id"), col("cell"), col("codes"))
      .as[(Long, Int, Seq[Int])]
    val candidates = codes.groupByKey(_._2)
      .cogroup(probesByCell.groupByKey(_._1)) { (cell, codeIt, probeIt) =>
        // probe side materialized (the bounded-per-cell side); code side
        // streamed — sort-based cogroup never holds the corpus group.
        val ps = probeIt.toArray
        if (ps.isEmpty) Iterator.empty
        else {
          val mod = bc.value
          val (cents, cdim) = mod.coarseFlat
          val (m, ksub) = (mod.pq.m, mod.pq.ksub)
          // one residual LUT per probe for THIS cell (topK builds the same)
          val tabs = ps.map { case (_, _, q) => residualLut(q, cell, cents, cdim, mod.pq) }
          val heaps = Array.fill(ps.length)(
            scala.collection.mutable.PriorityQueue.empty[(Double, Long)](HeapOrd))
          codeIt.foreach { case (vid, _, cs) =>
            val codesArr = cs.toArray
            var q = 0
            while (q < ps.length) {
              if (ps(q)._2 != vid)
                offer(heaps(q), k, tabs(q), codesArr, m, ksub, vid)
              q += 1
            }
          }
          heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
            h.iterator.map { case (d, vid) => (ps(q)._2, vid, d) }
          }
        }
      }
    val w = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id").asc)
    candidates.toDF("query_id", "neighbor_id", "adist")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adist")
  }

  /** Residual ADC table of query `q` in coarse `cell`, shared by [[topK]]
    * and [[topKBatch]]: t(s·ksub + c) = ‖(q − centroid(cell))_s −
    * codeword(s, c)‖² over sub-space s's `dsub` coordinates, summed in
    * coordinate order — one loop, so both paths' distances are
    * bit-identical. */
  private def residualLut(q: Array[Double], cell: Int, cents: Array[Double],
                          cdim: Int, pq: Pq.Model): Array[Double] = {
    val (flat, m, ksub, dsub) = (pq.flat, pq.m, pq.ksub, pq.dsub)
    val t = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        var d = 0.0; var j = 0
        val voff = s * dsub; val coff = (s * ksub + c) * dsub
        while (j < dsub) {
          val x = q(voff + j) - cents(cell * cdim + voff + j) - flat(coff + j)
          d += x * x; j += 1
        }
        t(s * ksub + c) = d
        c += 1
      }
      s += 1
    }
    t
  }

  /** The candidate heaps' order: (adist, neighbor_id) ascending. */
  private val HeapOrd = Ordering.by[(Double, Long), (Double, Long)](identity)

  /** Offer code vector `codes` (ADC distance summed over LUT `t` in
    * sub-space order) to the bounded max-heap `h` of the `k` nearest. */
  private def offer(h: scala.collection.mutable.PriorityQueue[(Double, Long)],
                    k: Int, t: Array[Double], codes: Array[Int], m: Int,
                    ksub: Int, vid: Long): Unit = {
    var d = 0.0; var s = 0
    while (s < m) { d += t(s * ksub + codes(s)); s += 1 }
    if (h.size < k) h.enqueue((d, vid))
    else if (HeapOrd.lt((d, vid), h.head)) { h.dequeue(); h.enqueue((d, vid)) }
  }
}
