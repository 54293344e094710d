package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of
  * Transfer Learning…", §2.2 — public) — the fourth rule family next to
  * the MassiveText battery ([[TextOps.gopherRules]] word rules,
  * [[TextOps.lineRules]] line rules, [[TextOps.repetitionRules]]
  * repetition rules). C4 is line-REWRITING where Gopher is
  * page-SCORING: it first strikes low-value lines, then rejects the
  * page on what survives plus page-level content flags.
  *
  * Line rules (a line survives iff ALL hold):
  *   - ends in terminal punctuation (`.` `!` `?` `"`);
  *   - has ≥ 3 whitespace words (the paper's floor);
  *   - does not contain the word "javascript" (the enable-JS banner).
  * Page rules (the doc passes iff ALL hold):
  *   - ≥ 5 sentences in the KEPT text (the paper's floor; sentences
  *     counted as terminal-punctuation marks `[.!?]` — the cheap proxy
  *     the public C4 reimplementations use in place of a sentence
  *     splitter, which isn't on the cluster);
  *   - no "lorem ipsum", no curly brace, no blocklist word anywhere in
  *     the RAW text (page flags look at the page, not the kept lines);
  *   - at least one kept line.
  * The paper's blocklist is the "List of Dirty, Naughty …" (not
  * shipped); the rules use the two-word sample the synthetic fixture
  * plants.
  *
  * Scale shape: one codegen'd projection per document — split, filter,
  * rejoin and count entirely inside whole-stage codegen; ZERO exchanges
  * (pinned in PlanSpec). All fractions divide integer counts once, so
  * the DuckDB oracle reproduces identical doubles bit-for-bit.
  */
object C4Rules {

  /** Blocklist sample for the synthetic corpus (it broadcasts as a
    * literal array). */
  val BlocklistSample: Seq[String] = Seq("casino", "jackpot")

  /** Per-doc C4 rule card + the rewritten page. Output: (doc_id,
    * n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
    * has_badword, r_min_sentences, pass, text_clean). Docs that fail
    * still appear (card semantics — the gate is the caller's filter on
    * `pass`); null-text docs are excluded up front (corpus contract). */
  def c4Rules(docs: DataFrame): DataFrame = {
    val t = col("text")
    val lines = split(t, "\n")
    val keepLine = (l: Column) =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") ||
        l.endsWith("\"")) &&
        size(split(trim(l), " +")) >= 3 &&
        !l.contains("javascript")
    val kept = filter(lines, keepLine)
    val textClean = array_join(kept, "\n")
    val nLines = size(lines).cast("long")
    val nKept = size(kept).cast("long")
    // Terminal marks in the kept text only — a struck JS banner's period
    // must not count toward the sentence floor.
    val nSent = length(regexp_replace(textClean, "[^.!?]", "")).cast("long")
    val words = regexp_extract_all(lower(t), lit("[a-z0-9]+"), lit(0))
    val bad = array(BlocklistSample.map(lit): _*)
    val hasLorem = t.contains("lorem ipsum").cast("long")
    val hasBrace = (t.contains("{") || t.contains("}")).cast("long")
    val hasBadword = arrays_overlap(words, bad).cast("long")
    val rSent = (nSent >= 5).cast("long")
    docs.filter(t.isNotNull)
      .select(col("doc_id"), nLines.as("n_lines"), nKept.as("n_kept_lines"),
        nSent.as("n_sentences"), hasLorem.as("has_lorem"),
        hasBrace.as("has_brace"), hasBadword.as("has_badword"),
        rSent.as("r_min_sentences"), textClean.as("text_clean"))
      .withColumn("pass",
        (col("n_kept_lines") >= 1L && col("r_min_sentences") === 1L &&
          col("has_lorem") === 0L && col("has_brace") === 0L &&
          col("has_badword") === 0L).cast("long"))
  }
}
