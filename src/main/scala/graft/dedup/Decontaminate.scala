package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — flag corpus documents whose word-shingle
  * sets overlap an evaluation/benchmark set, the standard train/test
  * contamination check before a corpus ships.
  *
  * Scale shape: the benchmark side is small by nature (eval suites are
  * MBs; the corpus is the 100 TB side), so its distinct gram set is
  * BROADCAST and the corpus is marked by one broadcast left join — the
  * corpus token stream never shuffles for the lookup, and the per-doc
  * aggregation collapses map-side (a document's grams stay inside its
  * input partition), leaving one row per doc on the doc_id exchange.
  *
  * Grams are [[NgramJaccard]]'s word w-shingles (ONE shared walk, so the
  * m25 oracle's string replay and the engine's 64-bit FNV hashes cannot
  * drift apart; identical up to 2^-64 collisions, the m14 argument).
  */
object Decontaminate {

  /** Word-shingle width of the gram sets both sides are compared on —
    * the contamination checks here and [[BloomDecontaminate]]'s. */
  private[dedup] val GramWords = 3

  /** Span-level decontamination (m90): instead of DROPPING a
    * contaminated document ([[contaminated]]'s verdict), cut the
    * contaminated span out and keep the rest — the surgical policy a
    * pipeline applies when a good document merely QUOTES an eval item.
    * A corpus 8-token window is contaminated iff its fingerprint appears
    * among the benchmark's windows (same stride-1 window walk on both
    * sides, [[graft.text.RepeatedWindows]]'s); the cut is
    * [[graft.text.SpanScrub]]'s coverage-union rewrite, so overlapping
    * quoted runs excise end-to-end.
    *
    * Scale shape: the benchmark window-fingerprint set is eval-suite
    * sized and BROADCAST into a semi join against the corpus windows
    * (whose text never leaves its document — only 16-byte fps move);
    * the rewrite is the m82 join + O(L) sweep. */
  def exciseSpans(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val w = 8
    val corpusWindows = graft.text.RepeatedWindows
      .windowFingerprintsRaw(corpus, w)
    val benchFps = graft.text.RepeatedWindows
      .windowFingerprintsRaw(benchmark, w)
      .select("fp").distinct()
    val flagged = corpusWindows
      .join(broadcast(benchFps), Seq("fp"), "left_semi")
      .select("doc_id", "window_idx")
    graft.text.SpanScrub.scrubWith(corpus, flagged, w)
  }

  /** The benchmark-side leakage report (m126) — the INVERSE view of
    * [[contaminated]]: for each EVAL item, how much of it leaked and how
    * widely. [[contaminated]] answers "which corpus docs to drop"; this
    * answers "which benchmark items are compromised" — the report an
    * eval owner reads to retire or re-split contaminated items (the
    * per-item accounting GPT-3's appendix-C style contamination studies
    * publish; public practice). One row per benchmark doc:
    * (bench_id, n_grams, n_hit_grams, leaked_frac, n_corpus_docs) —
    * distinct grams of the item, how many of them occur anywhere in the
    * corpus, that fraction, and how many distinct corpus docs hit it.
    *
    * Scale shape: the benchmark (gram, bench_id) map is eval-suite-sized
    * and BROADCAST; the corpus gram stream joins it without shuffling
    * (hits inherit the corpus partitioning and are benchmark-bounded
    * after the per-partition semi-prune); the final aggregate is
    * benchmark-doc-sized. Unleaked items are kept via the left join
    * with zero counts — absence of evidence is the report's good news. */
  def benchmarkLeakage(corpus: DataFrame, benchmark: DataFrame): DataFrame = {
    val bg = benchmark.select(col("doc_id").as("bench_id"),
        explode(NgramJaccard.wordShingleHashSet(col("text"), lit(GramWords))).as("gram"))
      .distinct()
    val totals = bg.groupBy("bench_id").agg(count(lit(1)).as("n_grams"))
    // No distinct on the corpus side: the broadcast join prunes to
    // benchmark grams FIRST (the corpus stream never shuffles), and the
    // count_distinct aggregates dedupe what survives. An eager distinct
    // here shuffled every corpus gram hash — 118 MB at gen-30 vs the
    // pruned hits' aggregate — for nothing.
    val cg = corpus.select(col("doc_id"),
      explode(NgramJaccard.wordShingleHashSet(col("text"), lit(GramWords))).as("gram"))
    val hits = cg.join(broadcast(bg), Seq("gram"))
      .groupBy("bench_id")
      .agg(count_distinct(col("gram")).as("n_hit_grams"),
        count_distinct(col("doc_id")).as("n_corpus_docs"))
    totals.join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        (coalesce(col("n_hit_grams"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("leaked_frac"),
        coalesce(col("n_corpus_docs"), lit(0L)).as("n_corpus_docs"))
  }

  /** Corpus docs whose distinct-gram hit ratio against the benchmark gram
    * set reaches `ratioThreshold`: (doc_id, n_hits, n_grams, hit_ratio). */
  def contaminated(corpus: DataFrame, benchmark: DataFrame,
                   ratioThreshold: Double = 0.5): DataFrame = {
    val benchGrams = benchmark
      .select(explode(NgramJaccard.wordShingleHashSet(col("text"), lit(GramWords))).as("gram"))
      .distinct()
      .withColumn("hit", lit(1L))
    val corpusGrams = corpus
      .select(col("doc_id"),
        explode(NgramJaccard.wordShingleHashSet(col("text"), lit(GramWords))).as("gram"))
    corpusGrams
      .join(broadcast(benchGrams), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0L)).as("n_hits"))
      .withColumn("hit_ratio", col("n_hits").cast("double") / col("n_grams"))
      .filter(col("hit_ratio") >= ratioThreshold)
      .select("doc_id", "n_hits", "n_grams", "hit_ratio")
  }
}
