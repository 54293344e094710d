package graft.pipeline

import graft.dedup.{DedupClusters, ExactDedup, NgramJaccard}
import graft.text.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** The end-to-end training-data preparation flow, composed from the
  * engine's corpus operators — what a 100 TB pretraining pipeline actually
  * runs, as ONE dataflow:
  *
  *   quality/language gate → exact dedup → near-dup pair mining →
  *   dedup clustering → canonical-doc selection → sliding-window chunking
  *
  * Every stage is relational, so the whole composite is hash-checked
  * end-to-end against a single DuckDB oracle (m18) — the strongest
  * correctness statement the engine makes: not just each operator alone,
  * but their composition, down to chunk text.
  *
  * Scale notes per stage are on the operators themselves; composing them
  * adds no new shuffles beyond their own (the gate and chunker are pure
  * projections/generates; dedup stages exchange fingerprints, posting
  * hashes, posting id lists and id pairs — never document text).
  */
object CorpusPipeline {

  /** The pins split the dataflow into several physical plans (the eager
    * gate pin, the lazy deduped pin, the clustering rounds' pins, the
    * final read); PlanSpec asserts on every plan a
    * `QueryExecutionListener` captures from this production call.
    *
    * The near-dup tier's posting pin
    * ([[graft.dedup.NgramJaccard.invertedIndexPairs]]) is sized HERE,
    * from `docs`' own source rows, because the frame it pins is a
    * checkpoint that reads no files. Every caller runs the same plan:
    * pinned below the corpus scan-spread gate, unpinned above it. */
  def prepare(docs: DataFrame): DataFrame = {
    val pin = NgramJaccard.postingPin(docs)
    val gated = docs
      .select(col("doc_id"), col("text"), TextOps.profile(col("text")).as("p"))
      .filter(TextOps.passesGate(col("p.lang_pred"), col("p.quality")))
      .select("doc_id", "text")
    dedupAndChunk(gated, pin)
  }

  /** The shared tail of [[prepare]] and [[prepareV2]]: pin the gated set,
    * exact dedup, near-dup pairs (Jaccard ≥ 0.6 over word 3-shingles,
    * stop-gram cap 50), clusters, canonical docs, chunks (50 tokens,
    * stride 40). The m18/m28 oracles replay these values. The
    * clustering takes no round cap: [[DedupClusters.components]] bounds
    * its rounds by the pair graph's node count. */
  private def dedupAndChunk(gated: DataFrame, pin: Option[Int]): DataFrame = {
    // EAGER pin of the gated set (round 21, guide §1.2 "per-task work" +
    // §3.3 plan-size note): ExactDedup's semi-join references the gate on
    // BOTH sides (winners subtree + probe side), so without this pin one
    // materialization runs the CPU-dense profile walk twice AND carries
    // the giant gate expression tree through every AQE re-optimization of
    // the downstream dataflow (measured: two ~0.42 s driver gaps per run
    // at sf0.1 — the re-optimizer walking the duplicated gate subtrees).
    // Pinning truncates the logical plan right after the one gate pass;
    // everything downstream (dedup, pair mining, clustering, chunking)
    // plans over a scan-of-snapshot. Same no-text-exchange story as the
    // deduped pin below: a localCheckpoint is storage, not an exchange.
    // v2's gate+scrub tree is bigger still (profile + PII regexes +
    // collapse), so the duplicated-subtree cost is larger there.
    val gatePin = gated.pinned(true)
    // The deduped set feeds three consumers (pair mining, the canonical
    // anti-join, and chunking) — checkpoint it once instead of re-running
    // the fingerprint semi-join per consumer. Lazy: it materializes with
    // the first downstream action. Lifetime contract: the snapshot's
    // blocks live as long as the returned frame is in use; long-lived
    // sessions must release them once the result is consumed
    // (Bench/Verify unpersist all snapshots between queries — queries
    // share no state, so anything still pinned is dead weight).
    val exact = ExactDedup.dedup(gatePin).pinned(false)
    val pairs = NgramJaccard.jaccardPairs(exact, 0.6, 50, pin)
      .select("doc_a", "doc_b")
    val nonCanonical = DedupClusters.components(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    val canon = exact.join(nonCanonical, Seq("doc_id"), "left_anti")
    TextOps.chunk(canon)
  }

  /** [[prepare]] extended with the scrub tier:
    *
    *   gate → PII redaction → repetition collapse → exact dedup →
    *   near-dup cluster → canonical → chunk
    *
    * Stage order is load-bearing: scrubbing runs BEFORE exact dedup
    * because per-document PII (emails, IPs, phone numbers embedded in
    * otherwise-identical boilerplate) differs doc to doc, so unscrubbed
    * exact dedup would miss true content duplicates — after redaction the
    * variance collapses to identical `<EMAIL>`/`<IP>`/`<PHONE>`
    * placeholders and the copies fingerprint identically (spec-pinned).
    * Both scrub stages are pure projections, so v2 adds ZERO shuffles
    * over [[prepare]], and sizes its posting pin the same way.
    * Hash-checked end-to-end as m28.
    */
  def prepareV2(docs: DataFrame): DataFrame = {
    val pin = NgramJaccard.postingPin(docs)
    // Each scrub stage lands in its own projection so the collapse lambda
    // references an ATTRIBUTE, not the upstream expression tree — see
    // Repetition.collapseTokens' contract (inlining the chain re-runs the
    // triple-regex scrub once per token).
    val gated = docs
      .select(col("doc_id"), col("text"), TextOps.profile(col("text")).as("p"))
      .filter(TextOps.passesGate(col("p.lang_pred"), col("p.quality")))
      .select(col("doc_id"),
        graft.text.PiiRedact.redactedText(col("text")).as("text"))
      .select(col("doc_id"), split(lower(trim(col("text"))), " +").as("t"))
      .select(col("doc_id"),
        graft.text.Repetition.collapseTokens(col("t")).as("text"))
    dedupAndChunk(gated, pin)
  }
}
