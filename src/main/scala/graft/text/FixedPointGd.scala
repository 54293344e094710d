package graft.text

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Shared machinery for exact fixed-point full-batch gradient descent —
  * the determinism discipline behind the learned gates
  * ([[QualityClassifier]] m83, [[LangId]] m137): every per-row
  * (loss, gradient) contribution is quantized to rint(x · 2^53) and
  * summed as integers, so per-iteration totals are independent of
  * summation order, a driver fold and per-partition partials are
  * BIT-IDENTICAL, and the trained weights are a pure function of the
  * corpus under any partitioning — which is what lets DuckDB oracles
  * replay scoring from captured weights and specs pin partition
  * invariance exactly.
  *
  * Deterministic early stop (round-15 verdict ask #3): the loop stops
  * once the iteration's EXACT loss drop, scaled by `stopInv`, is at or
  * below the total drop since iteration 0 — i.e. the step recovered
  * ≤ 1/stopInv of all progress made so far — for [[StopPatience]]
  * consecutive iterations. The comparison is pure BigInt arithmetic
  * over the same quantized loss sums both trainer shapes compute
  * (`(prev − cur) · stopInv ≤ first − cur`, no rounding anywhere), so
  * the stop decision (and therefore the weights) is bit-reproducible
  * and identical between the driver-fold and distributed trainers by
  * construction. A RELATIVE-progress rule rather than an absolute
  * loss-delta epsilon because near-separable logistic loss never
  * plateaus absolutely — the delta decays ~1/t along the max-margin
  * direction (measured: still 7e-5/iter at iteration 500 on the real
  * corpus), so any absolute epsilon either never fires or is tuned to
  * the corpus; progress-relative-to-progress is scale-free. Why it
  * matters: each distributed iteration is a full scheduling barrier
  * (~15 ms floor per job on the bench host; real scheduling latency on
  * a 1000-executor cluster).
  *
  * PREREQUISITE, measured: the rule assumes monotone per-iteration
  * losses (the convergence certificate the m83 spec pins at lr = 8).
  * At learning rates whose early iterations oscillate (lr ≥ 16 here),
  * an early low-progress wiggle can satisfy the rule long before any
  * real convergence — measured lr=32 stopping at iteration 14 with
  * 3× the full-run loss. Keep the step size inside the monotone
  * regime and the rule only ever fires in the genuine 1/t tail.
  */
private[text] object FixedPointGd {

  /** Fixed-point scale (2^53): contributions are exact to 2^-53
    * absolute (≤ one ulp of the largest gradient term), and both
    * trainer shapes apply the same rounding. */
  val QScale = 9007199254740992.0

  /** Consecutive calm iterations required before stopping. */
  val StopPatience = 3

  /** Default progress divisor: stop once an iteration recovers ≤ 1/4000
    * of the total loss drop so far (for [[StopPatience]] consecutive
    * iterations) — the classical relative-progress criterion. Chosen
    * from a measured sweep on the real corpus at the production recipe
    * (iters 500, lr 8): inv=4000 stops at ~300 iterations (~40% of the
    * barrier budget saved) while flipping ≤ 1.4% of logit signs vs the
    * full run and costing ~1.3% gate agreement; inv=1000 saved 75% of
    * the budget but flipped 4.5% of decisions — the 1/t tail is still
    * productive, so the divisor buys wall-clock with a PINNED, not
    * assumed, quality trade (QualityClassifierSpec). */
  val DefaultStopInv = 4000L

  /** Exact order-independent accumulator for quantized contributions:
    * a fast Long lane flushed into a BigInt before it can overflow
    * (|lane| ≤ 2^62, |q| < 2^60 → the add itself never overflows). */
  final class ExactAcc(k: Int) extends Serializable {
    private val big = Array.fill(k)(BigInt(0))
    private val lane = new Array[Long](k)
    def add(j: Int, q: Long): Unit = {
      val s = lane(j) + q
      if (s > (1L << 62) || s < -(1L << 62)) { big(j) += BigInt(s); lane(j) = 0L }
      else lane(j) = s
    }
    def sums: Array[BigInt] = Array.tabulate(k)(j => big(j) + BigInt(lane(j)))
  }

  /** The full-batch GD loop over an exact per-iteration (loss, gradient)
    * aggregate. `dim` is the weight count; `step(w)` returns 1 + dim
    * exact integer sums under the current weights — slot 0 the quantized
    * loss total, slots 1..dim the quantized gradient — and where it
    * folds them (driver sample or distributed partitions) is the only
    * difference between trainer shapes. Update arithmetic is the single
    * expression both trainers share: w(j) -= lr/n · (Σq/2^53).
    *
    * `stopInv` = 0 disables the early stop (the spec's full-run
    * reference); otherwise the loop exits once
    * (prevLossSum − lossSum) · stopInv ≤ firstLossSum − lossSum held for
    * [[StopPatience]] consecutive iterations (exact BigInt comparison; a
    * loss INCREASE also counts as no-progress — stopping a diverging
    * configuration early is strictly better than finishing its budget).
    * Returns (weights, per-iteration mean losses — length = iterations
    * actually run). */
  def loop(n: Long, dim: Int, iters: Int, lr: Double, stopInv: Long,
           step: Array[Double] => Array[BigInt]): (Array[Double], Array[Double]) = {
    val w = new Array[Double](dim)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    var first: BigInt = null
    var prev: BigInt = null
    var calm = 0
    var it = 0
    while (it < iters && calm < StopPatience) {
      val s = step(w)
      var j = 0
      while (j < dim) {
        w(j) -= lr / n * (s(j + 1).toDouble / QScale); j += 1
      }
      losses += (s(0).toDouble / QScale) / n
      if (first == null) first = s(0)
      else if (stopInv > 0L && (prev - s(0)) * stopInv <= first - s(0)) calm += 1
      else calm = 0
      prev = s(0)
      it += 1
    }
    (w, losses.toArray)
  }

  /** A trained weight vector: `n` rows folded, the per-iteration mean
    * losses (the convergence certificate). */
  final case class Fit(n: Long, w: Array[Double], losses: Array[Double])

  /** The one training fold behind both learned gates ([[QualityClassifier]]
    * m83, [[LangId]] m137/m146): full-batch exact GD ([[loop]]) over
    * `rows`, with `accumulate(acc, w, row)` folding one row's quantized
    * (loss, gradient) into a `dim + 1`-slot [[ExactAcc]] (slot 0 the
    * loss). `rows` is persisted here and released before returning.
    *
    *  - 0 rows → None (the trainer's empty model — the degrade-to-empty
    *    contract, not an error).
    *  - At most `localMaxRows` rows → collect them ONCE and fold every
    *    iteration on the driver (round-20 optimization: the 500-iteration
    *    loops were one ~10–15 ms single-partition job per iteration —
    *    pure barrier cost, 5–6 s per train at sf0.1 — over a few thousand
    *    rows). Each trainer sizes its gate from its row width so the
    *    collected set stays ~100 MB worst case.
    *  - Otherwise → re-cache at `rowsPerPartition`-sized partitions (the
    *    frame's OWN size, never the corpus layout — inheriting the
    *    corpus's partition count paid iters × that many near-empty tasks:
    *    measured 39 s → ~4 s at fixture scale), release the input cache
    *    once the re-cache materializes (holding both through the loop
    *    doubled the cached footprint for no reader, review r15), and sum
    *    each iteration's per-partition partials — #partitions × (dim + 1)
    *    integers on the wire.
    *
    * The quantized integer sums are order-independent (object doc), so
    * both branches and every partitioning give BIT-IDENTICAL weights and
    * losses — FixedPointGdFitSpec runs both on each trainer's rows. */
  def fit[R](rows: RDD[R], dim: Int, localMaxRows: Long,
             rowsPerPartition: Long, iters: Int, lr: Double, stopInv: Long)
            (accumulate: (ExactAcc, Array[Double], R) => Unit): Option[Fit] = {
    val cached = rows.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cached.count()
      if (n == 0L) None
      else if (n <= localMaxRows) {
        val local = cached.collect()
        Some(fitted(n, dim, iters, lr, stopInv) { w =>
          val acc = new ExactAcc(dim + 1)
          local.foreach(accumulate(acc, w, _))
          acc.sums
        })
      } else {
        val parts = math.min(cached.getNumPartitions.toLong,
          (n - 1) / rowsPerPartition + 1).toInt
        val rdd =
          if (parts < cached.getNumPartitions) {
            val r = cached.coalesce(parts).persist(StorageLevel.MEMORY_AND_DISK)
            r.count() // materialize from the input's cache, then drop it
            cached.unpersist(blocking = false)
            r
          } else cached
        try Some(fitted(n, dim, iters, lr, stopInv) { w =>
          val wSnap = w.clone() // the closure must ship THIS iteration's w
          val partials = rdd.mapPartitions { it =>
            val acc = new ExactAcc(dim + 1)
            it.foreach(accumulate(acc, wSnap, _))
            Iterator.single(acc.sums)
          }.collect() // ≤ #partitions rows × (dim + 1) BigInts
          val tot = Array.fill(dim + 1)(BigInt(0))
          partials.foreach { p =>
            var j = 0
            while (j < tot.length) { tot(j) += p(j); j += 1 }
          }
          tot
        })
        finally if (!(rdd eq cached)) rdd.unpersist(blocking = false)
      }
    } finally cached.unpersist(blocking = false)
  }

  private def fitted(n: Long, dim: Int, iters: Int, lr: Double, stopInv: Long)
                    (step: Array[Double] => Array[BigInt]): Fit = {
    val (w, losses) = loop(n, dim, iters, lr, stopInv, step)
    Fit(n, w, losses)
  }
}
