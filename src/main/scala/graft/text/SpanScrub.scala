package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-document repeated-span REMOVAL (m82) — the rewrite step of
  * exact-substring dedup (Lee et al. 2022, public): [[RepeatedWindows]]
  * flags W-token windows whose fingerprint recurs across documents; this
  * operator actually cuts the covered tokens out of every document and
  * re-emits the scrubbed text plus removal accounting. Flagging is the
  * audit view; removal is what a training-data pipeline ships — repeated
  * boilerplate (licenses, headers, templated passages) otherwise trains
  * the model to memorize it.
  *
  * Semantics (a pure function of the corpus):
  *  - tokens are the corpus-wide contract: `split(lower(trim(text)), " +")`;
  *  - a token is covered iff it lies inside ANY flagged window of its
  *    document (stride-1 windows overlap; coverage is their union, so a
  *    repeated run of R ≥ W tokens is removed end-to-end, not per-window);
  *  - scrubbed_text = the uncovered tokens re-joined by single spaces
  *    (normalized casing/spacing, like every rewrite operator here);
  *    a short doc (≤ W tokens) duplicated elsewhere scrubs to ''.
  *  - removal applies to EVERY copy (the conservative "cut all" policy;
  *    keep-one-canonical is [[graft.dedup.DedupClusters]]' keep-best job —
  *    span removal guards against partial/embedded repeats those
  *    doc-level operators can't see).
  *
  * Scale shape (100 TB):
  *  - the window pass and frequency exchange are [[RepeatedWindows.flag]]'s
  *    — (fp, doc) pairs shuffle, window text never leaves its document;
  *  - the cut lists aggregate (doc_id, window_idx) pairs — bounded by the
  *    true repetition mass, not the corpus;
  *  - the rewrite is ONE doc-keyed join of the corpus against those cut
  *    lists (broadcast when the repetition mass is small — the usual case;
  *    at worst one doc-keyed exchange, the same cost as any per-doc
  *    enrichment) followed by a shuffle-free mapPartitions rewrite using
  *    an O(L) difference-array coverage sweep per document.
  *
  * Fully DuckDB-replayable (md5 window fingerprints, relational coverage
  * test) — the m82 oracle recomputes flagged windows, token coverage and
  * the rebuilt string verbatim.
  */
object SpanScrub {

  /** (doc_id, n_tokens, n_removed, scrubbed_text) for every non-null-text
    * document: tokens covered by any cross-document repeated W-window
    * (fingerprint in ≥ 2 distinct docs) are removed. */
  def scrub(docs: DataFrame, w: Int): DataFrame =
    scrubWith(docs,
      RepeatedWindows.flag(docs, w).select("doc_id", "window_idx"), w)

  /** Keep-FIRST exact-substring dedup (m97) — the keep-one-copy policy of
    * Lee et al. 2022 (public) that [[scrub]]'s cut-all policy deliberately
    * is not: for every cross-document repeated window fingerprint, the
    * occurrence that is first in (doc_id, window_idx) order SURVIVES and
    * every later occurrence — in other documents AND later repeats inside
    * the winning document — is cut. Exactly one copy of each repeated
    * span remains corpus-wide (quotes, licenses, shared passages keep a
    * canonical copy where [[scrub]] erases them everywhere), the same
    * complement relationship [[LineDedup.keepFirstLines]] has to
    * [[LineDedup.dedupLines]] at line granularity.
    *
    * Scale shape adds ONE stage to [[scrub]]'s: the winner table is
    * min(struct(doc_id, window_idx)) per fingerprint — partial-aggregated
    * map-side over the already-bounded flagged set (never the corpus),
    * then equi-joined back by fingerprint to subtract winners from the
    * cut list. Determinism is the min(struct) total order — task
    * scheduling can never decide which copy survives (pinned in
    * PartitionInvarianceSpec). */
  def keepFirstSpans(docs: DataFrame, w: Int): DataFrame = {
    // flagged feeds TWO consumers (the winner aggregate and the cut
    // join); without the pin each reference re-expands the windows ⋈
    // repeated join as its own subtree (round 21 — the Dsir duplicated-
    // subtree finding). flagged is bounded by the repetition mass, so
    // the lazy pin stores a small table and halves the join work.
    val flagged = graft.Snapshot.pin(
      RepeatedWindows.flag(docs, w), eager = false)
    val winners = flagged
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("window_idx"))).as("f"))
      .select(col("fp"), col("f.doc_id").as("f_doc"),
        col("f.window_idx").as("f_no"))
    val cuts = flagged.join(winners, Seq("fp"))
      .filter(!(col("doc_id") === col("f_doc") &&
        col("window_idx") === col("f_no")))
      .select("doc_id", "window_idx")
    scrubWith(docs, cuts, w)
  }

  /** The rewrite stage alone, over an externally supplied flagged-window
    * table (doc_id, window_idx) — same coverage-union cut and string
    * rebuild whatever flagged the windows (cross-doc repetition in
    * [[scrub]], benchmark overlap in
    * [[graft.dedup.Decontaminate.exciseSpans]]). */
  def scrubWith(docs: DataFrame, flagged: DataFrame, w: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cuts = flagged
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("window_idx"))).as("cut_idx"))
    val wB = w
    docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text"))
      .join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("text"),
        coalesce(col("cut_idx"), array().cast("array<long>")).as("cut_idx"))
      .as[(Long, String, Seq[Long])]
      .mapPartitions { it =>
        it.map { case (docId, text, cutIdx) =>
          val toks = RepeatedWindows.sparkTrim(text)
            .toLowerCase(java.util.Locale.ROOT).split(" +")
          val L = toks.length
          // Difference-array union of [i, i+w) cover intervals — O(L),
          // overlap-safe. A short doc's single window (idx 0) covers all
          // L tokens via the min(L, ·) clamp.
          val diff = new Array[Int](L + 1)
          cutIdx.foreach { i =>
            val s = i.toInt
            diff(s) += 1
            diff(math.min(L, s + wB)) -= 1
          }
          val kept = new StringBuilder
          var removed = 0L
          var cover = 0
          var j = 0
          while (j < L) {
            cover += diff(j)
            if (cover > 0) removed += 1
            else {
              if (kept.nonEmpty) kept.append(' ')
              kept.append(toks(j))
            }
            j += 1
          }
          (docId, L.toLong, removed, kept.toString)
        }
      }
      .toDF("doc_id", "n_tokens", "n_removed", "scrubbed_text")
  }
}
