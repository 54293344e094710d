package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** Length-UNBOUNDED repeated-substring extraction (m133) — the
  * suffix-array exact-substring dedup tier (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better", public):
  * report every maximal cross-document repeated token span, however
  * long, as ONE (doc_id, span_start, span_len) row.
  *
  * What this adds over the fixed-window tier (m42 flag / m82 scrub /
  * m97 keep-first, all at w = 30): those operators answer "is token j
  * inside some repeated 30-token window" — a 60-token verbatim repeat
  * surfaces only as 31 overlapping window rows, its full extent never
  * attributed, and boilerplate SHORTER than the window (the 10–29-token
  * licence headers and navigation chrome real corpora are full of) is
  * invisible to them entirely. This operator reports the repeat as one
  * span of exactly its length, down to `w` (default 10) tokens.
  *
  * Method — sorted-suffix-group seeding + per-document run coalescing,
  * the distributed equivalent of the suffix-array scan:
  *  1. every token position contributes the fingerprint of the `w`-token
  *     prefix of its suffix ([[RepeatedWindows.windowFingerprintsRaw]] —
  *     ONE compiled pass, md5 so the oracle replays bit-identically);
  *  2. grouping positions by that fingerprint IS the suffix-array bucket
  *     at depth w: a group holding ≥ `minDocs` distinct documents marks
  *     every member position as starting a repeated suffix-prefix;
  *  3. a repeated substring of length L ≥ w produces L − w + 1
  *     CONSECUTIVE repeated positions in each holding document, so
  *     coalescing per-document runs of repeated positions (gaps-and-
  *     islands over window_idx) recovers each maximal repeated region as
  *     one span of exactly L tokens — the quantity Lee et al.'s suffix
  *     array emits, without ever materializing suffixes.
  *
  * Semantics note, stated honestly: a coalesced span certifies that
  * EVERY w-token window inside it repeats somewhere (minDocs distinct
  * docs) — adjacent windows may repeat against different partners, so
  * the span is the UNION of repeats ≥ w, exactly the removal mass the
  * suffix-array pipeline cuts (Lee et al. remove the union too; a
  * 60-token repeat across two docs yields one 60-token span in each).
  * Documents shorter than `w` tokens contribute their whole text as one
  * window (the n-gram tier's policy), so a short exact duplicate spans
  * its full n_tokens.
  *
  * Scale shape (100 TB):
  *  - window text never leaves its document: the only exchange carries
  *    (16-byte fp, doc_id, position, n_tokens) — the [[RepeatedWindows]]
  *    topology;
  *  - the fingerprint relation is snapshot-pinned (it feeds the group
  *    pass and the join-back; recomputing the window pass twice was the
  *    dominant cost of the lazy form);
  *  - ONE corpus scan total: the short-span cap reads `n_tokens` off the
  *    pinned window pass (toks.length is in hand there anyway) instead
  *    of re-tokenizing every document into a second corpus-sized join
  *    input — a whole scan per run saved at 100 TB (round-15 verdict);
  *  - run coalescing is a window function PARTITIONED BY doc_id over the
  *    flagged positions only — bounded by the true repetition mass, and
  *    never a global window;
  *  - output rows ≤ flagged positions / 1, in practice a few per
  *    affected document — proportional to what a scrub would cut.
  */
object MaximalRepeats {

  /** Maximal repeated spans: (doc_id, span_start, span_len, n_windows).
    * `span_start` is the 0-based token index; `span_len` the span's
    * length in tokens (≥ w, capped at the document's token count for
    * whole-short-doc windows); `n_windows` the repeated suffix-prefix
    * groups the span coalesced (= span_len − w + 1 except for short
    * docs). */
  def spans(docs: DataFrame, w: Int = 10, minDocs: Int = 2): DataFrame = {
    require(w > 0, "w must be positive")
    require(minDocs > 1, "minDocs must be > 1 (1 flags every position)")
    val windows = RepeatedWindows.windowFingerprintsRawWithLen(docs, w)
      .pinned(true)
    val repeated = windows
      .select("fp", "doc_id").distinct()
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select("fp")
    // Join strategy left to AQE deliberately, with the trade measured
    // both ways at gen-100 (BENCH_sf1.md round-16 section): once the
    // repeated-fp set outgrows broadcast, AQE plans a sort-merge join
    // whose sort side is the FULL window relation; a SHUFFLE_HASH hint
    // on the fp side removes that sort (12.7 → 10.6 s, −25% disk spill
    // at gen-100) — but a HINTED side is never broadcast-converted, so
    // the same hint costs +20% at fixture scale where broadcast wins.
    // The escalation is therefore CONDITIONAL by nature (flip when the
    // fp set's size stats cross broadcast range) and stays documented
    // rather than hard-coded until a corpus with genuine corpus-scale
    // repetition mass needs it.
    val flagged = windows.join(repeated, Seq("fp"))
      .select(col("doc_id"), col("window_idx"), col("n_tokens"))
    // Gaps-and-islands: consecutive repeated positions share
    // (window_idx − row_number) — each island is one maximal span.
    val byDoc = Window.partitionBy("doc_id").orderBy("window_idx")
    val runs = flagged
      .withColumn("grp", col("window_idx") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("window_idx")).as("span_start"),
        (max(col("window_idx")) - min(col("window_idx")) + lit(w.toLong))
          .as("raw_len"),
        count(lit(1)).as("n_windows"),
        // Whole-short-doc windows (n_tokens ≤ w) report their true
        // length, not w: cap by the document's token count, constant per
        // doc and carried on every window row by the pinned pass (max =
        // that constant) — a no-op for every regular span since max
        // window_idx ≤ n_tokens − w. No second corpus scan, no join.
        max(col("n_tokens")).as("n_tokens"))
      .select(col("doc_id"), col("span_start"),
        least(col("raw_len"), col("n_tokens")).as("span_len"),
        col("n_windows"))
    runs
  }
}
