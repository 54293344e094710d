package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair encoding — the real tokenizer behind every LLM data budget.
  * The whitespace and regex token counts (m01/m27) are estimates; training
  * mixes are specified in TOKENIZER tokens, so a budget operator that
  * can't count them can't hit its targets. This is the standard
  * subword-merge algorithm (Sennrich et al. 2016, public): train learns a
  * ranked merge list from word frequencies; encode greedily applies the
  * lowest-rank merge until none applies.
  *
  * Scale shape:
  *  - TRAIN comes in two modes sharing one merge loop. [[trainDistributed]]
  *    (production, used by the m40/m79/m88 shared model) touches the
  *    corpus ONCE — a distributed word-count whose exchange is
  *    vocabulary-bounded — and merges over the top-`maxWords` word table
  *    (a count bound, not a corpus fraction: the statistics follow the
  *    corpus as it grows). [[train]] (dev/prototype) samples a BOUNDED
  *    deterministic document set (smallest xxhash64(doc_id) — the
  *    [[graft.similarity.Ivf.train]] recipe); with the sample covering
  *    the corpus the two are spec-pinned bit-identical;
  *  - the fitted model is the ranked merge list — a few thousand string
  *    pairs shipped in the encode closure like any fitted quantizer;
  *  - ENCODE is embarrassingly parallel: one map over documents, no
  *    shuffle, with a per-partition word→tokens memo (Zipf's law makes the
  *    hit rate enormous — the amortization that keeps encode CPU-bound on
  *    rare words only).
  *
  * Determinism: merge selection breaks frequency ties on the
  * lexicographically smallest pair, so the model is a pure function of the
  * sample; encode is a pure function of (model, word).
  */
object Bpe {

  /** End-of-word marker — a separate symbol, so merges can distinguish
    * "er" mid-word from "er" at word end (standard BPE). */
  val Eow = "</w>"

  final case class Model(merges: Seq[(String, String)]) {
    @transient lazy val ranks: Map[(String, String), Int] =
      merges.zipWithIndex.toMap
  }

  private def toSymbols(word: String): Vector[String] =
    word.map(_.toString).toVector :+ Eow

  /** Greedy encode of one word: repeatedly merge the lowest-rank adjacent
    * pair. O(len²·merges-applied) worst case, cached per word by callers. */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = toSymbols(word)
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue; var bestAt = -1
      var i = 0
      while (i < syms.length - 1) {
        ranks.get((syms(i), syms(i + 1))).foreach { r =>
          if (r < bestRank) { bestRank = r; bestAt = i }
        }
        i += 1
      }
      if (bestAt < 0) done = true
      else {
        // Merge EVERY occurrence of the chosen pair, left to right.
        val (a, b) = (syms(bestAt), syms(bestAt + 1))
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
            out += (a + b); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Learn `nMerges` ranked merges from a deterministic 4096-doc sample
    * of `docs`. Words are lowercase whitespace tokens (the corpus contract
    * shared by every text operator here). Dev/prototype trainer — the
    * production path is [[trainDistributed]], whose pair statistics see
    * the WHOLE corpus through one distributed word-count instead of a
    * fixed-size document sample. */
  def train(docs: DataFrame, nMerges: Int): Model = {
    require(nMerges >= 0, "nMerges must be non-negative") // before any work
    val texts = docs.filter(col("text").isNotNull)
      .orderBy(xxhash64(col("doc_id")).asc, col("doc_id").asc)
      .limit(4096)
      .select(lower(trim(col("text")))).collect().map(_.getString(0))
    val wordFreq = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach(_.split(" +").foreach { w =>
      if (w.nonEmpty) wordFreq.update(w, wordFreq.getOrElse(w, 0L) + 1L)
    })
    mergeLoop(wordFreq, nMerges)
  }

  /** Learn `nMerges` ranked merges from the FULL corpus — the production
    * trainer. The key fact making this cheap: BPE's per-step pair counts
    * are a pure function of the WORD-FREQUENCY TABLE (Σ over words of
    * freq × in-word pair occurrences), so the corpus is touched exactly
    * ONCE — a distributed (word, count) aggregate whose exchange is
    * vocabulary-bounded after map-side partials — and the merge loop then
    * runs on that sufficient statistic, never re-scanning documents.
    * (This is how production tokenizer trainers work: count words
    * distributed, merge in memory — e.g. the public HuggingFace
    * tokenizers pipeline.)
    *
    * The in-memory table is bounded by `maxWords`: the top-V words by
    * (count desc, word asc) — a COUNT bound, not a corpus fraction, so
    * growing the corpus 1000× changes which words qualify, never the
    * driver footprint. The Zipf tail this drops contributes hapax-scale
    * pair mass that cannot alter early merge ranks in practice; pass
    * maxWords = 0 for the uncapped table (test parity, small corpora).
    * Merge selection is deterministic given the table (max count, ties
    * to the lexicographically smallest pair), so with maxWords covering
    * the vocabulary this is BIT-IDENTICAL to [[train]] over the same
    * documents (spec-pinned). */
  def trainDistributed(docs: DataFrame, nMerges: Int,
                       maxWords: Int = WordTables.MaxWords): Model = {
    // fail BEFORE the corpus word-count runs, not after (mergeLoop's own
    // require would only fire once the distributed pass has been paid)
    require(nMerges >= 0, "nMerges must be non-negative")
    // Word table + cap + drop-mass report shared with the unigram
    // trainer — [[WordTables.withCapped]] owns the "corpus touched
    // ONCE" contract and the no-silent-caps rule (ADVICE r14).
    WordTables.withCapped(docs, maxWords, "bpe") { (_, table) =>
      mergeLoop(table.toMap, nMerges)
    }
  }

  /** The shared merge loop over a word-frequency table (the sufficient
    * statistic for BPE training): repeatedly count adjacent symbol pairs
    * weighted by word frequency, merge the most frequent (ties to the
    * lexicographically smallest pair), stop when no pair remains or the
    * budget is spent. Pure function of the MAP — input iteration order
    * cannot matter because pair counts aggregate over all words before
    * any selection. */
  private def mergeLoop(wordFreq: scala.collection.Map[String, Long],
                        nMerges: Int): Model = {
    require(nMerges >= 0, "nMerges must be non-negative")
    var words = wordFreq.iterator.map { case (w, f) => (toSymbols(w), f) }.toVector
    val merges = Vector.newBuilder[(String, String)]
    var step = 0
    var exhausted = false
    while (step < nMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        // Max count, ties on the lexicographically smallest pair.
        val best = pairCounts.iterator.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        val (a, b) = best
        words = words.map { case (syms, f) =>
          if (!syms.indices.init.exists(i => syms(i) == a && syms(i + 1) == b)) (syms, f)
          else {
            val out = Vector.newBuilder[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 && syms(j) == a && syms(j + 1) == b) {
                out += (a + b); j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.result(), f)
          }
        }
        step += 1
      }
    }
    Model(merges.result())
  }

  /** Per-document tokenizer-token accounting: (doc_id, n_words, n_chars,
    * n_bpe_tokens, bpe_per_word) — what a token-budget mix builder reads.
    * One shuffle-free map; the merge table rides the closure; a
    * per-partition word memo amortizes repeated words. */
  def tokenStats(docs: DataFrame, model: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = model.ranks
    val narrowed = docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), lower(trim(col("text"))))
      .as[(Long, String)]
    narrowed.mapPartitions { it =>
      val memo = scala.collection.mutable.HashMap.empty[String, Int]
      it.map { case (id, text) =>
        val ws = text.split(" +").filter(_.nonEmpty)
        var bpe = 0L
        ws.foreach { w =>
          bpe += memo.getOrElseUpdate(w, encodeWord(w, ranks).length)
        }
        val nWords = ws.length.toLong
        (id, nWords, text.length.toLong, bpe,
          if (nWords == 0) 0.0 else bpe.toDouble / nWords)
      }
    }.toDF("doc_id", "n_words", "n_chars", "n_bpe_tokens", "bpe_per_word")
  }

  /** Corpus-level vocabulary-usage report (m88): for every realized BPE
    * token, its corpus occurrence count, frequency rank, share and
    * cumulative share — the coverage curve a tokenizer QA reads ("how
    * many tokens cover 90% of the corpus", "which merges never fire").
    *
    * Scale shape: the corpus is touched ONCE, for the word-frequency
    * aggregate (partial-agg collapses each partition's word stream, so
    * the exchange is vocabulary-bounded). Everything after runs on the
    * WORD-VOCABULARY table: encode per distinct word (not per
    * occurrence), token explode bounded by vocab × tokens-per-word, and
    * the final rank/cumulative windows run over the TOKEN-vocabulary
    * table — bounded by base-chars + merges (≤ a few thousand at any
    * corpus size), which is why a driver-bounded global window is
    * correct here where it would be a scale bug on corpus-sized data
    * (the PrefixSum rule). */
  def tokenCoverage(docs: DataFrame, model: Model): DataFrame = {
    val ranks = model.ranks
    val enc = udf { w: String => encodeWord(w, ranks).toArray }
    val words = docs.filter(col("text").isNotNull)
      .select(explode(split(lower(trim(col("text"))), " +")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val tokens = words
      .select(explode(enc(col("w"))).as("token"), col("n_w"))
      .groupBy("token").agg(sum(col("n_w")).as("n"))
    val byFreq = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token").asc)
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    tokens
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .withColumn("cum_n", sum(col("n")).over(
        byFreq.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("total", sum(col("n")).over(all))
      .select(col("token"), col("n"), col("rank"),
        (col("n").cast("double") / col("total")).as("share"),
        (col("cum_n").cast("double") / col("total")).as("cum_share"))
  }
}
