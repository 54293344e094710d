package graft.text

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Learned quality filter (m83) — a logistic-regression classifier over
  * the cheap per-document text features, distilling the rule-based
  * [[TextOps.langQualityGate]] into a linear scorer. This is the missing
  * tier of the filtering stack: m02 is the hand-tuned heuristic gate,
  * m68 calibrates it, and this operator is the CCNet/GPT-3-style LEARNED
  * gate — train a linear model on labeled examples, then score the whole
  * corpus with it (in production the labels come from a curated reference
  * corpus; here the heuristic gate supplies them, which also makes the
  * pipeline self-contained and the distillation gap measurable).
  *
  * Scale shape (100 TB):
  *  - TRAINING (production, [[trainDistributed]]) reads the WHOLE
  *    corpus: features are projected once in one compiled
  *    [[TextOps.profile]] pass and cached as a 6-doubles-per-doc frame
  *    (≈50 B/doc — 3 orders of magnitude smaller than the corpus);
  *    each GD iteration is one distributed aggregate over it whose
  *    exchange is #partitions × 7 integers. Dev mode ([[train]]) reads
  *    a deterministic bounded sample instead — the first `trainCap`
  *    rows in md5(doc_id) order, a TakeOrderedAndProject (per-partition
  *    top-cap, then a cap-sized merge on the driver), never a global
  *    sort — and runs the identical loop driver-side: the
  *    [[Bpe]]/`Ivf.trainCap` bounded-sample contract.
  *  - SCORING is one codegen'd projection pass: the trained weights ride
  *    into the plan as literals (the broadcast-model-in-closure shape),
  *    so the corpus is scanned once, no shuffle, no per-row join.
  *  - Determinism: per-iteration sums are exact fixed-point integers
  *    (order-independent), and the dev sample is chosen by content-
  *    independent hash order, so the trained weights are bit-identical
  *    under any input partitioning in BOTH modes — which is what lets
  *    the oracle replay scoring from captured weights
  *    ([[graft.OracleModelSql.qualityClassifier]]) and the spec pin
  *    partition invariance exactly.
  *
  * Features (all from the one profile struct, each in [0, 1]): the
  * gate's own saturating transforms — length score min(n_words/200, 1),
  * stopword score min(4·stopRatio, 1), digit penalty min(10·digitRatio,
  * 1), punct penalty min(10·punctRatio, 1) — plus the raw stopword
  * ratio (the language signal). In this basis the gate's quality
  * threshold is EXACTLY linear (0.4·f1 + 0.4·f2 − 0.1·f3 − 0.1·f4 ≥
  * 0.1), so the only structure left to learn is the AND with the
  * language cut — the distillation gap the spec measures. Label: the
  * m02 gate (lang_pred = 'en' AND quality ≥ 0.3). Training is
  * full-batch gradient descent on the regularization-free logistic loss
  * — the simplest convex recipe that is exactly replayable; iters = 500
  * (the default) at lr = 8 carries the same lr·iters mass as the r14
  * 2000 × 2.0 recipe (measured same final loss and distillation
  * agreement at sf0.1) while keeping per-iteration loss monotone — the
  * spec's convergence certificate; fewer, larger steps matter once each
  * iteration is a distributed barrier.
  *
  * Full-corpus trainer ([[trainDistributed]], the production path since
  * round 15): the same GD loop with the per-iteration (loss, gradient)
  * computed as ONE distributed aggregate over the full feature frame —
  * each partition folds its rows into 7 exact fixed-point accumulators
  * (quantize each per-row contribution to rint(x·2^53), sum the integers
  * exactly), so what crosses the wire per iteration is #partitions × 7
  * integers and the total is bit-identical under ANY partitioning
  * (integer addition is associative; double addition is not — the same
  * trick that makes the m98 calibration bins re-association-proof).
  * [[train]] (dev mode, bounded md5-ordered sample) folds its sample
  * through the IDENTICAL quantized accumulator, so when the sample
  * covers the corpus the two trainers are BIT-IDENTICAL — the
  * [[Bpe.trainDistributed]] ≡ [[Bpe.train]] contract, spec-pinned. The
  * quantization loses nothing that matters: each contribution is exact
  * to 2^-53 absolute (≤ one ulp of the largest gradient term), and both
  * paths apply the same rounding, which is the property the bit-exact
  * replay (captured-weights oracle + partition-invariance pin) actually
  * needs. Cross-node caveat: exp/log bit-identity across heterogeneous
  * JVMs rides the same ln() contract as the LM tier (m43/m95).
  */
object QualityClassifier {

  /** Trained model: weights (bias +: one per feature) and the per-iteration
    * mean training losses (the convergence certificate the spec pins). */
  final case class Model(w: Array[Double], nTrain: Long, losses: Array[Double])

  val NumFeatures = 5

  /** Fixed-point scale (2^53) for the exact gradient accumulation
    * ([[FixedPointGd.QScale]] — shared with the m137 language-ID
    * trainer): every per-row (loss, gradient) contribution is quantized
    * to rint(x · 2^53) and summed as integers, so the per-iteration
    * totals are independent of summation order — the property that makes
    * [[train]] (driver fold) and [[trainDistributed]] (per-partition
    * partials) bit-identical, and the distributed trainer partition-
    * invariant. |loss| ≤ −ln(1e-15) ≈ 34.6 → |q| < 2^59; |e·f| ≤ 1 →
    * |q| ≤ 2^53. */
  private val QScale = FixedPointGd.QScale

  /** The GD step size of both trainers (the object doc's lr = 8). */
  private val Lr = 8.0

  private type ExactAcc = FixedPointGd.ExactAcc

  /** One row's quantized (loss, gradient) contribution under weights `w`,
    * folded into `acc` — slot 0 is the clamped log-loss, slots 1..6 the
    * gradient (bias first). The SINGLE arithmetic path both trainers
    * share: z left-associated exactly as [[score]]'s literal plan and
    * the oracle SQL write it. A row is (label y, features f1..f5). */
  private[text] def accumulate(acc: ExactAcc, w: Array[Double],
                               row: (Double, Array[Double])): Unit = {
    val (y, f) = row
    var z = w(0)
    var j = 0
    while (j < NumFeatures) { z += w(j + 1) * f(j); j += 1 }
    val p = 1.0 / (1.0 + math.exp(-z))
    // clamped log-loss (p can round to exactly 0/1 late in training)
    val loss = -(y * math.log(math.max(p, 1e-15)) +
      (1.0 - y) * math.log(math.max(1.0 - p, 1e-15)))
    val e = p - y
    acc.add(0, math.rint(loss * QScale).toLong)
    acc.add(1, math.rint(e * QScale).toLong)
    j = 0
    while (j < NumFeatures) {
      acc.add(j + 2, math.rint(e * f(j) * QScale).toLong); j += 1
    }
  }

  /** The zero model an empty corpus trains to (it scores nothing
    * anyway): the operator tier's degrade-to-empty contract
    * (EmptyCorpusSpec), not an error. */
  private def emptyModel: Model =
    Model(Array.fill(NumFeatures + 1)(0.0), 0L, Array.empty)

  /** Feature + label projection: (doc_id[, keep…], y, f1..f5), one
    * compiled profile pass, null text excluded (no features to score).
    * `keep` columns pass through untouched — the streaming front door
    * carries `arrival_ts` this way. */
  def featuresOf(docs: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val t = col("text")
    val nw = col("p.n_words").cast("double")
    val stopRatio = col("p.n_stopwords").cast("double") / greatest(nw, lit(1.0))
    docs.filter(t.isNotNull)
      .select(col("doc_id") +: keep.map(col) :+ length(t).cast("double").as("nc")
        :+ TextOps.profile(t).as("p"): _*)
      .select(col("doc_id") +: keep.map(col) :+
        when(TextOps.passesGate(col("p.lang_pred"), col("p.quality")), 1.0)
          .otherwise(0.0).as("y") :+
        least(nw / lit(200.0), lit(1.0)).as("f1") :+
        least(stopRatio * lit(4.0), lit(1.0)).as("f2") :+
        least(col("p.n_digits").cast("double") / greatest(col("nc"), lit(1.0))
          * lit(10.0), lit(1.0)).as("f3") :+
        least(col("p.n_punct").cast("double") / greatest(col("nc"), lit(1.0))
          * lit(10.0), lit(1.0)).as("f4") :+
        stopRatio.as("f5"): _*)
  }

  /** DEV trainer: bounded sample (first `trainCap` docs in md5(doc_id)
    * order — content-independent, partition-invariant), full-batch GD,
    * w init 0, the exact-accumulator fold. With `trainCap` covering the
    * corpus this is bit-identical to [[trainDistributed]] at the same
    * iters — spec-pinned. */
  def train(docs: DataFrame, trainCap: Int = 4096, iters: Int = 500,
            stopInv: Long = FixedPointGd.DefaultStopInv): Model = {
    val sample = featuresOf(docs)
      .withColumn("h", md5(concat(lit("qc:"), col("doc_id").cast("string"))))
      .orderBy(col("h"), col("doc_id"))
      .limit(trainCap)
      .select("doc_id", "y", "f1", "f2", "f3", "f4", "f5")
      .collect() // bounded: ≤ trainCap rows × 7 doubles
      .map(r => (r.getDouble(1),
        Array(r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6))))
    if (sample.isEmpty) return emptyModel
    val (w, losses) = FixedPointGd.loop(sample.length.toLong, NumFeatures + 1,
      iters, Lr, stopInv, { w =>
        val acc = new ExactAcc(NumFeatures + 2)
        sample.foreach(accumulate(acc, w, _))
        acc.sums
      })
    Model(w, sample.length.toLong, losses)
  }

  /** PRODUCTION trainer: the same GD loop over the FULL feature frame,
    * through the shared fold ([[FixedPointGd.fit]]). The frame (5
    * doubles + label per doc) is projected once and cached; above the
    * driver-local gate each iteration is one distributed aggregate in
    * which each partition folds its rows into the 7-slot exact
    * accumulator and ships the integer sums — #partitions × 7 numbers
    * cross the wire, nothing corpus-sized moves, and the total is
    * bit-identical under any partitioning. At 100 TB this is the
    * trainer that sees every document instead of a 4096-doc sample; on
    * a 5k-doc fixture it is spec-pinned bit-identical to [[train]] with
    * `trainCap` ≥ corpus. */
  def trainDistributed(docs: DataFrame, iters: Int = 500): Model =
    FixedPointGd.fit(trainRows(docs), NumFeatures + 1, LocalTrainMaxRows,
        TrainRowsPerPartition, iters, Lr, FixedPointGd.DefaultStopInv)(accumulate)
      .fold(emptyModel)(f => Model(f.w, f.n, f.losses))

  /** The training rows (y, f1..f5) of every doc with text. */
  private[text] def trainRows(docs: DataFrame): RDD[(Double, Array[Double])] =
    featuresOf(docs)
      .select("y", "f1", "f2", "f3", "f4", "f5")
      .rdd
      .map(r => (r.getDouble(0),
        Array(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))))

  /** Driver-local train gate ([[FixedPointGd.fit]]): 2^17 rows of ~48 B
    * cap the collected set at ~100 MB worst case (well inside the bench
    * driver's 8 GB). Measured: asset:qcmodel took 6.0 s, ~5 s of it the
    * 500 single-partition job barriers, before the gate. */
  private[text] val LocalTrainMaxRows = 1L << 17

  /** Feature rows per cached partition above the gate (2M rows ≈ 100 MB
    * at ~48 B/row): a 10^10-doc corpus still gets ~5,000 partitions. */
  private[text] val TrainRowsPerPartition = 1L << 21

  /** Score every doc with the trained weights as plan literals: one
    * codegen'd pass, (doc_id, label, logit, pred). `label` is the gate's
    * verdict, `pred` the classifier's (logit ≥ 0) — diffing them is the
    * distillation-error report. */
  def score(docs: DataFrame, model: Model, keep: Seq[String] = Nil): DataFrame = {
    require(model.w.length == NumFeatures + 1, "weight/feature arity mismatch")
    val f = featuresOf(docs, keep = keep)
    // left-associated w0 + w1·f1 + … exactly as the oracle SQL writes it
    val z = lit(model.w(0)) + lit(model.w(1)) * col("f1") +
      lit(model.w(2)) * col("f2") + lit(model.w(3)) * col("f3") +
      lit(model.w(4)) * col("f4") + lit(model.w(5)) * col("f5")
    f.select(col("doc_id") +: keep.map(col) :+
      col("y").cast("long").as("label") :+ z.as("logit") :+
      (z >= 0.0).cast("long").as("pred"): _*)
  }

  /** Train ([[train]]) then score the same docs. */
  def trainScore(docs: DataFrame): DataFrame = score(docs, train(docs))

  /** Decision-threshold grid for [[rocReport]] — data-independent logit
    * cuts (every value exactly representable, so the grid is identical
    * in the engine and the SQL replay). */
  val RocThresholds: Seq[Double] =
    Seq(-2.0, -1.5, -1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0)

  /** Calibration / reliability report (m98): per probability decile, how
    * the classifier's predicted probability compares to the observed
    * positive rate — the reliability-diagram table (DeGroot & Fienberg
    * 1983, public) that decides whether m83's scores can be used as
    * SAMPLING WEIGHTS (quality-weighted mixing needs calibrated p, not
    * just a ranking; the m86 ROC only certifies the ranking).
    *
    * Determinism contract: p = σ(logit) is quantized ONCE per doc to
    * q = floor(p·1e9) (bigint); the bin (q div 1e8, clamped to 9) and the
    * per-bin Σq are integer arithmetic from there, so partial aggregation
    * can never re-associate a double sum. mean_p = (Σq/1e9)/n is derived
    * from the hashed integers. Cross-engine, exp() shares the ln()
    * bit-identity contract the LM tier (m43/m95) already relies on; a
    * last-ulp flip would need p·1e9 within one ulp of an integer.
    *
    * Scale shape: one literal-weights scoring projection → a 10-row hash
    * aggregate (map-side partials) → one broadcast scalar join for the
    * ECE weight. Nothing corpus-sized crosses the wire after the scan. */
  def calibrationReport(docs: DataFrame, model: Model): DataFrame = {
    require(model.w.length == NumFeatures + 1, "weight/feature arity mismatch")
    val scored = score(docs, model)
    val q = floor(lit(1e9) / (lit(1.0) + exp(-col("logit")))).cast("long")
    val binned = scored
      .select(col("label"), q.as("q"))
      .select(least(floor(col("q") / lit(100000000L)).cast("long"), lit(9L)).as("bin"),
        col("label"), col("q"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum("label").as("n_pos"), sum("q").as("sum_q"))
    val total = binned.agg(sum("n").as("n_total"))
    binned.crossJoin(broadcast(total))
      .select(col("bin"), col("n"), col("n_pos"), col("sum_q"),
        (col("sum_q").cast("double") / lit(1e9) / col("n")).as("mean_p"),
        (col("n_pos").cast("double") / col("n")).as("frac_pos"), col("n_total"))
      .withColumn("gap", abs(col("mean_p") - col("frac_pos")))
      // this bin's contribution to expected calibration error — ECE is
      // the column's sum, kept per-bin so the report stays one row per bin
      .withColumn("ece_term",
        col("gap") * col("n").cast("double") / col("n_total"))
      .drop("n_total")
  }

  /** Operating-characteristic report (m86): confusion counts + TPR / FPR /
    * precision of `logit ≥ t` against the gate label, per threshold of
    * [[RocThresholds]] — the curve a rollout reads to PICK the threshold
    * (the m85-style QA dial for the learned gate; `pred` in [[score]] is
    * just the t = 0 point).
    *
    * Scale shape: one scoring pass; each row fans out to the |grid| = 9
    * threshold rows inside its partition (codegen explode) and the
    * partial aggregation collapses them before the exchange — 9 rows per
    * partition cross the wire, 9 rows come out. No driver-side loop, no
    * second corpus scan per threshold. */
  def rocReport(docs: DataFrame, model: Model): DataFrame = {
    require(model.w.length == NumFeatures + 1, "weight/feature arity mismatch")
    val scored = score(docs, model)
    scored
      .select(explode(array(RocThresholds.map(lit): _*)).as("threshold"),
        col("label"), col("logit"))
      .select(col("threshold"), col("label"), (col("logit") >= col("threshold")).as("p"))
      .groupBy("threshold")
      .agg(
        sum(when(col("p") && col("label") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") && col("label") === 0L, 1L).otherwise(0L)).as("fp"),
        sum(when(!col("p") && col("label") === 1L, 1L).otherwise(0L)).as("fn"),
        sum(when(!col("p") && col("label") === 0L, 1L).otherwise(0L)).as("tn"))
      .select(col("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        (col("tp").cast("double") / greatest(col("tp") + col("fn"), lit(1L))).as("tpr"),
        (col("fp").cast("double") / greatest(col("fp") + col("tn"), lit(1L))).as("fpr"),
        (col("tp").cast("double") / greatest(col("tp") + col("fp"), lit(1L))).as("precision"))
  }
}
