package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model tokenizer (Kudo 2018, "Subword Regularization";
  * the SentencePiece unigram trainer, public) — the OTHER standard
  * subword tokenizer beside BPE ([[Bpe]]): instead of a ranked merge
  * list, the model is a piece vocabulary with probabilities, trained by
  * EM over the segmentation lattice, and encoding is the Viterbi best
  * segmentation. T5/Llama-family pipelines budget in unigram tokens the
  * way GPT-family pipelines budget in BPE tokens, so a mix builder that
  * can only count one of them can't serve both.
  *
  * Scale shape — the [[Bpe.trainDistributed]] contract:
  *  - TRAIN touches the corpus ONCE: a distributed (word, count)
  *    aggregate whose exchange is vocabulary-bounded (top-2^16 words by
  *    count — a count bound, not a corpus fraction); seeding, EM and
  *    pruning then run on that sufficient statistic (unigram EM's
  *    expected counts are freq-weighted sums over DISTINCT words — the
  *    word table is exact, not an approximation);
  *  - the fitted model is a few hundred (piece, cost) pairs shipped in
  *    the encode closure like any fitted quantizer;
  *  - ENCODE is embarrassingly parallel: one map over documents, no
  *    shuffle, per-partition word→count memo (Zipf amortization).
  *
  * Fidelity to the paper, stated plainly: seeding uses the frequent
  * substrings of the word table (score = Σ freq × in-word occurrences)
  * rather than the ESA suffix-array enumeration; EM runs a fixed
  * iteration count. Pruning is the paper's LIKELIHOOD-LOSS ranking
  * (round 16; previously a documented prune-by-probability
  * simplification): each multi-char piece is scored by how much the
  * corpus Viterbi likelihood degrades if it is removed —
  * freq(piece) × (altCost(piece) − cost(piece)), where freq comes from
  * Viterbi-segmenting the word table under the current model and
  * altCost is the best segmentation of the piece's own string WITHOUT
  * its full-span candidate (the SentencePiece prune statistic; both are
  * computable on the driver from the same vocab-bounded sufficient
  * statistic) — so a piece that merely HAS high probability but is
  * always re-derivable from cheap sub-pieces no longer crowds out a
  * piece that is load-bearing. Required single chars are always kept.
  *
  * Determinism: the word table is collected in (count desc, word asc)
  * order, EM folds words in sorted order with log-sum-exp in fixed
  * j-ascending order, and Viterbi tie-breaks on the exact
  * (cost, n_tokens, split-point) tuple — the model is a pure function
  * of the corpus, and encode is a pure function of (model, word). The
  * DuckDB oracle replays ENCODE from the captured (piece, cost) table
  * (a recursive-CTE Viterbi DP with the identical left-to-right
  * additions and tie-break); EM training stays spec-pinned, the m40
  * convention ("only merge TRAINING stays spec-pinned").
  */
object UnigramLm {

  /** Per-char cost for characters outside the vocabulary (the
    * SentencePiece `unk` convention). Unreachable by construction on
    * the training corpus — required chars are derived from the UNCAPPED
    * word table — but a NEW corpus encoded under a stored model can
    * contain novel characters; both engines apply the identical
    * fallback, so the replay agrees even when it fires. */
  val UnkCost = 1e6

  /** Fitted model: (piece, cost) with cost = −ln p; `maxLen` bounds the
    * Viterbi window. */
  final case class Model(pieces: Seq[(String, Double)]) {
    @transient lazy val cost: Map[String, Double] = pieces.toMap
    @transient lazy val maxLen: Int =
      if (pieces.isEmpty) 1 else pieces.iterator.map(_._1.length).max
  }

  /** Train on the full corpus: one vocabulary-bounded distributed word
    * count, then seed (the top 5000 substrings of up to 8 chars) → EM →
    * prune → EM on the word table. */
  def train(docs: DataFrame, vocabSize: Int = 200, emIters: Int = 4): Model = {
    require(vocabSize > 0 && emIters >= 0)
    // Word table + cap + drop-mass report shared with the BPE trainer
    // ([[WordTables.withCapped]] — one implementation of the corpus
    // tokenization contract and the no-silent-caps rule).
    WordTables.withCapped(docs, WordTables.MaxWords, "unigram") { (wf, rows) =>
      // Required chars from the UNCAPPED (persisted) table: encode
      // coverage for every corpus word, even ones the count cap drops
      // from the EM statistics.
      val requiredChars = wf
        .select(explode(split(col("w"), "")).as("c")).distinct()
        .collect().map(_.getString(0)).filter(_.nonEmpty).sorted
      trainOnWordTable(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(
          rows.sortBy(_._1)), // fixed EM fold order
        scala.collection.immutable.ArraySeq.unsafeWrapArray(requiredChars),
        vocabSize, 8, emIters, 5000)
    }
  }

  /** The driver-side trainer over the word-frequency sufficient
    * statistic (exposed for spec fixtures). */
  private[text] def trainOnWordTable(table: Seq[(String, Long)],
                                     requiredChars: Seq[String],
                                     vocabSize: Int, maxPieceLen: Int,
                                     emIters: Int, seedCap: Int,
                                     pruneByLoss: Boolean = true): Model = {
    if (table.isEmpty) return Model(Seq.empty)
    // -- seed: frequent substrings (len 2..maxPieceLen), integer scores
    val seedScore = scala.collection.mutable.HashMap.empty[String, Long]
    table.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var l = 2
        while (l <= maxPieceLen && i + l <= w.length) {
          val s = w.substring(i, i + l)
          seedScore.update(s, seedScore.getOrElse(s, 0L) + f)
          l += 1
        }
        i += 1
      }
    }
    val charScore = scala.collection.mutable.HashMap.empty[String, Long]
    table.foreach { case (w, f) =>
      w.foreach { ch =>
        val s = ch.toString
        charScore.update(s, charScore.getOrElse(s, 0L) + f)
      }
    }
    requiredChars.foreach(c => charScore.getOrElseUpdate(c, 1L))
    val seeds = seedScore.toSeq.sortBy { case (s, n) => (-n, s) }.take(seedCap)
    // initial probabilities ∝ integer scores
    var probs: Map[String, Double] = {
      val all = charScore.toSeq ++ seeds
      val tot = all.iterator.map(_._2).sum.toDouble
      all.iterator.map { case (s, n) => s -> n / tot }.toMap
    }
    val required = requiredChars.toSet

    def emPass(ps: Map[String, Double]): Map[String, Double] = {
      val expected = scala.collection.mutable.HashMap.empty[String, Double]
      val maxL = math.min(maxPieceLen, ps.keysIterator.map(_.length).max)
      table.foreach { case (w, f) =>
        val n = w.length
        // log-forward / log-backward over the segmentation lattice,
        // fixed j-ascending fold (log-sum-exp with max subtraction)
        val la = Array.fill(n + 1)(Double.NegativeInfinity); la(0) = 0.0
        val lb = Array.fill(n + 1)(Double.NegativeInfinity); lb(n) = 0.0
        def lse(xs: Array[Double], k: Int): Double = {
          var m = Double.NegativeInfinity
          var j = 0
          while (j < k) { if (xs(j) > m) m = xs(j); j += 1 }
          if (m == Double.NegativeInfinity) m
          else {
            var s = 0.0; j = 0
            while (j < k) { s += math.exp(xs(j) - m); j += 1 }
            m + math.log(s)
          }
        }
        val buf = new Array[Double](maxL)
        var i = 1
        while (i <= n) {
          var k = 0
          var j = math.max(0, i - maxL)
          while (j < i) {
            ps.get(w.substring(j, i)).foreach { p =>
              buf(k) = la(j) + math.log(p); k += 1
            }
            j += 1
          }
          la(i) = lse(buf, k)
          i += 1
        }
        var jj = n - 1
        while (jj >= 0) {
          var k = 0
          var i2 = jj + 1
          while (i2 <= math.min(n, jj + maxL)) {
            ps.get(w.substring(jj, i2)).foreach { p =>
              buf(k) = math.log(p) + lb(i2); k += 1
            }
            i2 += 1
          }
          lb(jj) = lse(buf, k)
          jj -= 1
        }
        val z = la(n)
        if (z != Double.NegativeInfinity) {
          var j2 = 0
          while (j2 < n) {
            var i3 = j2 + 1
            while (i3 <= math.min(n, j2 + maxL)) {
              val s = w.substring(j2, i3)
              ps.get(s).foreach { p =>
                val post = math.exp(la(j2) + math.log(p) + lb(i3) - z)
                expected.update(s, expected.getOrElse(s, 0.0) + post * f)
              }
              i3 += 1
            }
            j2 += 1
          }
        }
      }
      // M-step: normalize; required chars floored so coverage survives
      required.foreach(c =>
        expected.update(c, math.max(expected.getOrElse(c, 0.0), 1e-9)))
      val kept = expected.toSeq.filter(_._2 > 0.0)
      val tot = kept.sortBy(_._1).iterator.map(_._2).sum // fixed sum order
      kept.iterator.map { case (s, e) => s -> e / tot }.toMap
    }

    var it = 0
    while (it < emIters) { probs = emPass(probs); it += 1 }
    // -- prune to vocabSize (Kudo's likelihood-loss prune; class
    // scaladoc): ITERATIVELY drop the ≤25% of multi-char pieces whose
    // removal costs the corpus Viterbi likelihood least, re-settling
    // probabilities between rounds. Iterative (SentencePiece's shrink
    // loop), not single-shot, because the single-removal statistic
    // assumes the REST of the vocab survives: on ("abab"×50, "cd"×30)
    // with one multi slot, a single-shot prune keeps "cd" believing
    // "abab" re-derives from "ab"+"ab" — and then drops "ab" in the
    // same stroke (measured 2× worse corpus cost than prune-by-prob);
    // shrinking 25% per round lets the statistic see each round's
    // actual survivors. All driver-side over the word table: freqs from
    // one Viterbi pass over the (sorted) table per round, alt-costs
    // from a per-piece Viterbi over the piece's own ≤ maxPieceLen chars.
    val targetMulti = math.max(0, vocabSize - required.size)
    def rebuild(multi: Seq[(String, Double)]): Map[String, Double] =
      (required.toSeq.sorted.map(c => c -> probs.getOrElse(c, 1e-9)) ++
        multi).toMap
    if (!pruneByLoss) {
      // the pre-round-16 reference ranking (prune once by probability) —
      // kept for the spec's divergence pin
      probs = rebuild(probs.toSeq.filter { case (s, _) => !required.contains(s) }
        .sortBy { case (s, p) => (-p, s) }.take(targetMulti))
    } else {
      var multiCount = probs.keysIterator.count(s => !required.contains(s))
      while (multiCount > targetMulti) {
        val keepN = math.max(targetMulti, (multiCount * 3) / 4)
        val costNow: Map[String, Double] =
          probs.iterator.map { case (s, p) => s -> -math.log(p) }.toMap
        val maxLNow = math.min(maxPieceLen, probs.keysIterator.map(_.length).max)
        val freq = scala.collection.mutable.HashMap.empty[String, Long]
        table.foreach { case (w, f) =>
          viterbiPieces(w, costNow, maxLNow).foreach { s =>
            freq.update(s, freq.getOrElse(s, 0L) + f)
          }
        }
        val kept = probs.keysIterator.filter(s => !required.contains(s))
          .map { s =>
            val fr = freq.getOrElse(s, 0L)
            val loss =
              if (fr == 0L) 0.0 // never on any Viterbi path: free to drop
              else {
                // best segmentation of s itself WITHOUT its full-span
                // candidate; unk single-char fallback keeps it finite
                val alt = viterbiCost(s, costNow, maxLNow, excludeFullSpan = true)
                fr.toDouble * (alt - costNow(s))
              }
            (s, loss)
          }
          .toSeq
          .sortBy { case (s, l) => (-l, s) }
          .take(keepN)
          .map { case (s, _) => s -> probs(s) }
        probs = emPass(rebuild(kept)) // re-settle before the next round
        multiCount = keepN
      }
    }
    // settle probabilities on the final vocabulary
    probs = emPass(probs)
    probs = emPass(probs)
    Model(probs.toSeq.sortBy(_._1)
      .map { case (s, p) => s -> -math.log(p) })
  }

  /** Shared Viterbi DP core — the exact candidate set and
    * (cost, n_tokens, j) tie rules of [[viterbiTokens]], with
    * back-pointers, plus `excludeFullSpan`: drop the single candidate
    * covering the whole string, which is the "segment the piece without
    * itself" form the loss-based prune scores alternatives with.
    * Returns (cost array, back-pointer array); an unreachable end state
    * (only possible under exclusion on a 1-char string) carries
    * +∞ cost and back-pointer −1. */
  private def viterbiDp(word: String, cost: Map[String, Double], maxLen: Int,
                        excludeFullSpan: Boolean): (Array[Double], Array[Int]) = {
    val n = word.length
    val maxL = math.max(1, math.min(maxLen, n))
    val c = new Array[Double](n + 1)
    val ntok = new Array[Int](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var bc = Double.PositiveInfinity
      var bn = Int.MaxValue
      var bj = -1
      var j = math.max(0, i - maxL)
      while (j < i) {
        if (!(excludeFullSpan && j == 0 && i == n)) {
          val pc = cost.get(word.substring(j, i)) match {
            case Some(x) => x
            case None => if (i - j == 1) UnkCost else Double.NaN
          }
          if (!pc.isNaN) {
            val cc = c(j) + pc
            val nt = ntok(j) + 1
            if (cc < bc || (cc == bc && nt < bn)) { bc = cc; bn = nt; bj = j }
          }
        }
        j += 1
      }
      c(i) = bc; ntok(i) = bn; back(i) = bj
      i += 1
    }
    (c, back)
  }

  /** Viterbi best segmentation as the piece list (for the prune's freq
    * statistic); Nil for an empty or unreachable string. */
  private def viterbiPieces(word: String, cost: Map[String, Double],
                            maxLen: Int): Seq[String] = {
    if (word.isEmpty) return Nil
    val (_, back) = viterbiDp(word, cost, maxLen, excludeFullSpan = false)
    if (back(word.length) < 0) return Nil
    val buf = scala.collection.mutable.ListBuffer.empty[String]
    var i = word.length
    while (i > 0) {
      val j = back(i)
      buf.prepend(word.substring(j, i))
      i = j
    }
    buf.toList
  }

  /** Viterbi best segmentation cost (+∞ when unreachable under
    * exclusion — such a piece is irreplaceable and never pruned).
    * private[text] so the prune spec can score vocabularies with it. */
  private[text] def viterbiCost(word: String, cost: Map[String, Double],
                                maxLen: Int, excludeFullSpan: Boolean): Double =
    if (word.isEmpty) 0.0
    else viterbiDp(word, cost, maxLen, excludeFullSpan)._1(word.length)

  /** Viterbi best segmentation's token count for one word — the exact
    * contract the DuckDB replay mirrors: left-to-right DP, candidate
    * cost best(j) + cost(piece(j, i)) (UnkCost for an out-of-vocab
    * single char), ties broken on the (cost, n_tokens, j) tuple with
    * strict improvement while scanning j ascending. */
  def viterbiTokens(word: String, model: Model): Int = {
    val n = word.length
    if (n == 0) return 0
    val maxL = math.max(1, math.min(model.maxLen, n))
    val cost = new Array[Double](n + 1)
    val ntok = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var bc = Double.PositiveInfinity
      var bn = Int.MaxValue
      var j = math.max(0, i - maxL)
      while (j < i) {
        val pc = model.cost.get(word.substring(j, i)) match {
          case Some(c) => c
          case None => if (i - j == 1) UnkCost else Double.NaN
        }
        if (!pc.isNaN) {
          val c = cost(j) + pc
          val nt = ntok(j) + 1
          if (c < bc || (c == bc && nt < bn)) { bc = c; bn = nt }
        }
        j += 1
      }
      cost(i) = bc; ntok(i) = bn
      i += 1
    }
    ntok(n)
  }

  /** Per-document tokenizer accounting under the unigram model:
    * (doc_id, n_words, n_chars, n_uni_tokens, uni_per_word) — the m40
    * report shape, so BPE and unigram budgets diff column-for-column.
    * One shuffle-free pass; model rides the closure; per-partition word
    * memo. */
  def tokenStats(docs: DataFrame, model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val narrowed = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), lower(trim(col("text"))))
      .as[(Long, String)]
    narrowed.mapPartitions { it =>
      val memo = scala.collection.mutable.HashMap.empty[String, Int]
      it.map { case (id, text) =>
        val ws = text.split(" +").filter(_.nonEmpty)
        var uni = 0L
        ws.foreach { w =>
          uni += memo.getOrElseUpdate(w, viterbiTokens(w, model))
        }
        val nWords = ws.length.toLong
        (id, nWords, text.length.toLong, uni,
          if (nWords == 0) 0.0 else uni.toDouble / nWords)
      }
    }.toDF("doc_id", "n_words", "n_chars", "n_uni_tokens", "uni_per_word")
  }
}
