package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WordPiece — the third canonical subword family (Schuster & Nakajima
  * 2012; the BERT tokenizer; trainer + MaxMatch encode as documented in
  * the public HuggingFace tokenizers course). Complements BPE (m40,
  * frequency-greedy merges, open vocabulary) and unigram-LM (m135,
  * probabilistic prune): WordPiece merges by the LIKELIHOOD ratio
  * score(x,y) = freq(xy) / (freq(x)·freq(y)) — a pair merges when its
  * parts co-occur more than independence predicts, not merely often —
  * and its encoder is greedy LONGEST-MATCH-FIRST with an explicit [UNK]
  * fallback for unmatchable words (the closed-vocabulary accounting BPE
  * doesn't have).
  *
  * Conventions (the BERT ones): a word's first character is a bare
  * piece, every continuation character is a ##-prefixed piece; a merge
  * inherits the LEFT symbol's class; encode fails the WHOLE word to
  * [UNK] if any position has no matching piece.
  *
  * A piece's class (bare vs continuation) is STRUCTURAL — `(isCont,
  * net)` pairs, never a "##" string prefix (review r16): a corpus whose
  * words themselves contain '#' would otherwise let a bare piece
  * collide textually with a continuation piece (word "##a" vs the
  * continuation of 'a'), silently diverging encode from the oracle
  * replay — and a mis-classified bare "##" would hand the replay an
  * empty net whose zero-length cursor advance never terminates. Under
  * the typed form a continuation net is ≥ 1 char by construction
  * (initial nets are single chars; merges concatenate nets), so the
  * recursive-CTE cursor always advances. Display strings ("x" / "##x")
  * exist only at the API edge (encode output, displayPieces).
  *
  * Scale shape — identical to [[Bpe]] by construction: TRAIN's pair and
  * piece frequencies are pure functions of the word-frequency table
  * ([[WordTables.withCapped]] — the corpus is touched ONCE, by a
  * vocabulary-bounded count exchange), the fitted model is a few
  * thousand strings riding the encode closure, and ENCODE is one
  * shuffle-free map with a per-partition word→count memo (Zipf
  * amortization). Determinism: merge selection breaks score ties on the
  * lexicographically smallest pair OF DISPLAY STRINGS (the committed
  * textbook order), and scores compare as exact BigInt cross products
  * of the integer frequencies (never as floating ratios), so the model
  * is a pure function of the table.
  */
object WordPiece {

  val Unk = "[UNK]"
  val Cont = "##"

  /** `pieces` in deterministic vocabulary order: the display-sorted
    * initial alphabet first, then merged tokens in rank order — the
    * captured form the oracle replays encode from. Each piece is
    * (isCont, net) with net ≥ 1 char. */
  final case class Model(pieces: Vector[(Boolean, String)]) {
    @transient lazy val bare: Set[String] =
      pieces.collect { case (false, n) => n }.toSet
    @transient lazy val contNets: Set[String] =
      pieces.collect { case (true, n) => n }.toSet
    /** Longest net — the MaxMatch probe bound. */
    @transient lazy val maxNetLen: Int =
      if (pieces.isEmpty) 0 else pieces.iterator.map(_._2.length).max
    /** BERT-convention display forms ("x" / "##x"). */
    def displayPieces: Vector[String] =
      pieces.map { case (c, n) => if (c) Cont + n else n }
  }

  private def display(p: (Boolean, String)): String =
    if (p._1) Cont + p._2 else p._2

  private def toSymbols(word: String): Vector[(Boolean, String)] =
    (false, word.head.toString) +: word.tail.map(c => (true, c.toString)).toVector

  /** Greedy longest-match-first encode of one word: at the word start
    * only BARE pieces match, elsewhere only continuation nets; any
    * position with no match fails the whole word to a single [UNK]
    * (the BERT contract). Returns display forms. */
  def encodeWord(word: String, model: Model): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < word.length) {
      var j = math.min(word.length, i + model.maxNetLen)
      var hit: String = null
      while (hit == null && j > i) {
        val net = word.substring(i, j)
        val ok = if (i == 0) model.bare.contains(net) else model.contNets.contains(net)
        if (ok) hit = (if (i == 0) net else Cont + net) else j -= 1
      }
      if (hit == null) return Vector(Unk)
      out += hit
      i = j
    }
    out.result()
  }

  /** Learn `nMerges` likelihood-scored merges from the FULL corpus — the
    * production trainer, sharing [[WordTables.withCapped]]'s corpus
    * contract (one word-count exchange, count-bounded table, loud drop
    * report) with the BPE and unigram trainers. */
  def trainDistributed(docs: DataFrame, nMerges: Int,
                       maxWords: Int = WordTables.MaxWords): Model = {
    require(nMerges >= 0, "nMerges must be non-negative")
    WordTables.withCapped(docs, maxWords, "wordpiece") { (_, table) =>
      mergeLoop(table.toMap, nMerges)
    }
  }

  /** The merge loop over a word-frequency table. Each step counts piece
    * and adjacent-pair frequencies (Σ over words of f × occurrences),
    * picks the pair maximizing freq(xy)/(freq(x)·freq(y)) — compared as
    * exact Long/BigInt cross products, ties to the lexicographically
    * smallest pair of display strings — merges every occurrence, and
    * records the merged piece. Stops when the budget is spent or no
    * pair remains. */
  private def mergeLoop(wordFreq: scala.collection.Map[String, Long],
                        nMerges: Int): Model = {
    var words = wordFreq.iterator
      .filter(_._1.nonEmpty)
      .map { case (w, f) => (toSymbols(w), f) }.toVector
    // Initial alphabet in display-sorted order.
    val alphabet = words.iterator.flatMap(_._1).toVector.distinct.sortBy(display)
    val merged = Vector.newBuilder[(Boolean, String)]
    var step = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      val pieceFreq = scala.collection.mutable.HashMap.empty[(Boolean, String), Long]
      val pairFreq = scala.collection.mutable
        .HashMap.empty[((Boolean, String), (Boolean, String)), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length) {
          pieceFreq.update(syms(i), pieceFreq.getOrElse(syms(i), 0L) + f)
          if (i < syms.length - 1) {
            val p = (syms(i), syms(i + 1))
            pairFreq.update(p, pairFreq.getOrElse(p, 0L) + f)
          }
          i += 1
        }
      }
      if (pairFreq.isEmpty) exhausted = true
      else {
        // argmax of n/(fx·fy) without floating point: a/b > c/d ⇔
        // a·d > c·b over BigInt (frequencies can reach corpus scale,
        // so the cross product needs 128 bits).
        var best: ((Boolean, String), (Boolean, String)) = null
        var bn = BigInt(0); var bd = BigInt(1)
        pairFreq.iterator.toSeq
          .sortBy { case ((x, y), _) => (display(x), display(y)) }
          .foreach { case ((x, y), n) =>
            val den = BigInt(pieceFreq(x)) * BigInt(pieceFreq(y))
            val cmp = (BigInt(n) * bd).compare(bn * den)
            if (best == null || cmp > 0) { best = (x, y); bn = BigInt(n); bd = den }
          }
        val (a, b) = best
        val mergedSym = (a._1, a._2 + b._2) // merge inherits the LEFT class
        merged += mergedSym
        words = words.map { case (syms, f) =>
          if (!syms.indices.init.exists(i => syms(i) == a && syms(i + 1) == b)) (syms, f)
          else {
            val out = Vector.newBuilder[(Boolean, String)]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                out += mergedSym; j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.result(), f)
          }
        }
        step += 1
      }
    }
    Model(alphabet ++ merged.result())
  }

  /** Per-document WordPiece accounting: (doc_id, n_words, n_wp_tokens,
    * n_unk_words, wp_per_word) — the m40 token-budget card for the
    * closed-vocabulary tokenizer, plus the UNK count that vocabulary's
    * coverage gaps show up as. One shuffle-free map; per-partition word
    * memo. */
  def tokenStats(docs: DataFrame, model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val narrowed = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), lower(trim(col("text"))))
      .as[(Long, String)]
    narrowed.mapPartitions { it =>
      val memo = scala.collection.mutable.HashMap.empty[String, (Int, Int)]
      it.map { case (id, text) =>
        val ws = text.split(" +").filter(_.nonEmpty)
        var tok = 0L; var unk = 0L
        ws.foreach { w =>
          val (n, u) = memo.getOrElseUpdate(w, {
            val enc = encodeWord(w, model)
            (enc.length, if (enc.headOption.contains(Unk)) 1 else 0)
          })
          tok += n; unk += u
        }
        val nWords = ws.length.toLong
        (id, nWords, tok, unk,
          if (nWords == 0) 0.0 else tok.toDouble / nWords)
      }
    }.toDF("doc_id", "n_words", "n_wp_tokens", "n_unk_words", "wp_per_word")
  }
}
