package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Credit-card-number detection with Luhn verification — the PII tier
  * the public corpus pipelines (Dolma's PII tagger, BigScience ROOTS —
  * both public) run beyond m20's regex scrub: a digit run is only PII
  * when a card-shaped window of it passes the Luhn checksum (ISO/IEC
  * 7812, public), which cuts the false-positive mass of order ids,
  * timestamps and serial numbers a bare digit-run regex would scrub.
  *
  * Detection is run-based with SEPARATOR-BLOCK-ALIGNED windows
  * (review r16): a candidate is a maximal digit run with optional
  * single-space/hyphen separators (`[0-9][0-9 -]{11,38}[0-9]`, no
  * lookarounds — the regex must mean the same thing in Java regex and
  * RE2/DuckDB), and it counts as a card hit when ANY contiguous span of
  * its separator-delimited digit blocks totals 13–19 digits and passes
  * Luhn. Whole-run-only checking would let any adjacent digit context
  * ("pay 4111 1111 1111 1111 123 dollars") mask a real PAN; scanning
  * every character window would invert the problem (a random 25-digit
  * run has ~90 windows — near-certain false positives). Block alignment
  * is the middle ground the data supports: formatted PANs end at a
  * separator, while an unbroken 26-digit serial offers no 13–19-digit
  * aligned span and stays rejected. Two cards inside one run count the
  * RUN once (n_cc_valid counts runs with card evidence, not cards).
  *
  * Luhn: from the RIGHT, double every second digit, subtract 9 above 9,
  * valid iff the sum ≡ 0 (mod 10) — implemented as codegen'd collection
  * expressions (transform/aggregate over the reversed digit string), no
  * UDF, and replayed digit-for-digit in SQL.
  *
  * Scale shape: pure per-document projection — zero exchanges, the m20
  * contract; runs are ≤ 40 chars (≤ 20 blocks), so the span scan is a
  * bounded nested loop inside the same codegen'd pass.
  */
object Luhn {

  /** Maximal-ish digit runs with space/hyphen separators (separator RUNS
    * are tolerated — the block split collapses them, so '4111  -  1111…'
    * detects like the single-separator form), 13–40 chars; real gating
    * happens on the block-aligned digit windows. */
  val CandidateRe = "[0-9][0-9 -]{11,38}[0-9]"

  private def digitsOnly(s: Column): Column = regexp_replace(s, "[ -]", "")

  /** Luhn validity of a pure digit string (codegen'd, no UDF): 1-based
    * positions over the REVERSED string, odd positions plain (the check
    * digit is position 1), even positions doubled with the −9 fold. */
  def isLuhnValid(ds: Column): Column = {
    val rev = reverse(ds)
    val terms = transform(sequence(lit(1), length(ds)), i => {
      val d = ascii(rev.substr(i, lit(1))) - lit(48)
      when(i % 2 === 1, d)
        .otherwise(when(d * 2 > 9, d * 2 - 9).otherwise(d * 2))
    })
    aggregate(terms, lit(0), (acc, x) => acc + x) % 10 === 0
  }

  /** True when any contiguous separator-block span of the run totals
    * 13–19 digits and passes Luhn. */
  private def hasCardWindow(run: Column): Column = {
    val blocks = filter(split(run, "[ -]+"), b => length(b) > 0)
    val k = size(blocks)
    exists(sequence(lit(1), k), i =>
      exists(sequence(i, k), j => {
        val ds = array_join(slice(blocks, i, j - i + 1), "")
        length(ds).between(13, 19) && isLuhnValid(ds)
      }))
  }

  /** Per-document card-detection counts: (doc_id, n_candidates,
    * n_cc_valid) over docs with non-null text — n_candidates counts
    * digit runs with ≥ 13 digits, n_cc_valid the subset holding a
    * Luhn-verified block-aligned 13–19-digit window (the runs a scrub
    * would actually redact). */
  def cardCounts(docs: DataFrame): DataFrame = {
    val cands = filter(
      regexp_extract_all(col("text"), lit(CandidateRe), lit(0)),
      s => length(digitsOnly(s)) >= 13)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(cands).cast("long").as("n_candidates"),
        size(filter(cands, s => hasCardWindow(s)))
          .cast("long").as("n_cc_valid"))
  }
}
