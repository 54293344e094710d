package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Line-level boilerplate removal — the C4/RefinedWeb-style cleanup that
  * drops lines repeated across many documents (cookie banners, navigation
  * menus, "all rights reserved" footers) while keeping each document's
  * unique content in its original line order. Line granularity is the
  * sweet spot between exact-document dedup (misses shared fragments) and
  * n-gram dedup (destroys sentence boundaries): a line either is
  * boilerplate everywhere or content somewhere.
  *
  * Scale shape (100 TB):
  *  - the frequency pass exchanges (line-hash, doc-count partials) only —
  *    8-byte xxhash64 keys, never line text — after per-doc distinct (a
  *    document repeating its own line must not promote it to boilerplate);
  *  - the boilerplate set is bounded (every surviving hash has ≥ `minDocs`
  *    occurrences, so |heavy| ≤ total_lines / minDocs) but NOT small by
  *    construction — a boilerplate-heavy crawl at 100 TB can leave
  *    billions of distinct heavy hashes, so the anti-join hint is left to
  *    AQE's runtime size statistics: broadcast when the set is actually
  *    small, shuffled left_anti otherwise (a forced broadcast here is a
  *    driver OOM waiting for the wrong corpus);
  *  - reassembly groups surviving lines by doc_id — the one text-carrying
  *    exchange, bounded by the already-cleaned output size.
  *
  * Membership is by 64-bit hash: a collision with a boilerplate line drops
  * an innocent line with probability ~2⁻⁶⁴ per distinct line — the same
  * fingerprint contract as ExactDedup's md5 (documented, engine-stable).
  * A document whose every line is boilerplate disappears from the output
  * entirely (the C4 policy: nothing left worth training on).
  */
object LineDedup {

  /** Remove lines appearing in ≥ `minDocs` distinct documents. Output:
    * (doc_id, text_clean, n_lines, n_dropped) — cleaned text joins the
    * kept lines with '\n' in original order; docs with zero kept lines
    * are absent. Null-text docs are excluded up front (corpus contract,
    * same policy as Repetition/Sessionize). */
  /** Global KEEP-FIRST line dedup — the other line-granularity policy
    * (Lee et al. 2021, "Deduplicating Training Data Makes Language
    * Models Better", public, applied at line rather than 50-token-span
    * granularity): every distinct line survives exactly ONCE in the
    * corpus, at its first occurrence in (doc_id, line_no) order; all
    * later occurrences — in other docs AND repeats inside the same doc —
    * are struck. Complements [[dedupLines]], which strikes frequent
    * lines from EVERY doc including the first: keep-first preserves one
    * copy of shared content (quotes, licenses) where the frequency
    * policy erases it corpus-wide.
    *
    * Scale shape: the first-occurrence table groups (line-hash, doc_id,
    * line_no) triples — 24-byte rows, never line text — with min(struct)
    * partial-aggregating map-side (no window over the corpus). The
    * winner join keys line text by hash once (same bounded text exchange
    * as [[dedupLines]]'s anti-join; broadcast-vs-shuffle left to AQE),
    * and reassembly is the one other text-carrying exchange, bounded by
    * the output. Hash-collision contract identical to [[dedupLines]].
    *
    * Output: (doc_id, text_clean, n_lines, n_struck); docs whose every
    * line lost its race are absent. */
  def keepFirstLines(docs: DataFrame): DataFrame = {
    val lines = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .select(col("doc_id"), size(col("ls")).cast("long").as("n_lines"),
        posexplode(col("ls")).as(Seq("line_no", "line")))
      .withColumn("h", xxhash64(col("line")))
    val firsts = lines
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("line_no"))).as("f"))
      .select(col("h"), col("f.doc_id").as("f_doc"), col("f.line_no").as("f_no"))
    lines
      .join(firsts, Seq("h"))
      .filter(col("doc_id") === col("f_doc") && col("line_no") === col("f_no"))
      .groupBy("doc_id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s("line")), "\n").as("text_clean"),
        max(col("n_lines")).as("n_lines"),
        (max(col("n_lines")) - count(lit(1))).cast("long").as("n_struck"))
  }

  def dedupLines(docs: DataFrame, minDocs: Int): DataFrame = {
    require(minDocs > 1, "minDocs must be > 1 (1 would drop every line)")
    val lines = docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .select(col("doc_id"), size(col("ls")).cast("long").as("n_lines"),
        posexplode(col("ls")).as(Seq("line_no", "line")))
    val heavy = lines
      .select(xxhash64(col("line")).as("h"), col("doc_id"))
      .distinct() // once per (line, doc): partial-aggregates before the exchange
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select("h")
    lines
      .withColumn("h", xxhash64(col("line")))
      .join(heavy, Seq("h"), "left_anti")
      .groupBy("doc_id")
      .agg(
        // Order-preserving reassembly without a window: sort the (line_no,
        // line) structs after the hash agg — struct ordering is by field
        // order, line_no first.
        array_join(
          transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
            s => s("line")), "\n").as("text_clean"),
        max(col("n_lines")).as("n_lines"),
        (max(col("n_lines")) - count(lit(1))).cast("long").as("n_dropped"))
  }
}
