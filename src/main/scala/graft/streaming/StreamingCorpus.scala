package graft.streaming

import graft.text.{PiiRedact, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming front door for the corpus pipeline: the ingest-time subset of
  * the batch corpus prep (gate → scrub → exact dedup), applied as
  * documents arrive instead of in a nightly sweep.
  *
  * The quality gate and PII scrub are pure projections, so the BATCH
  * operators run unchanged on a streaming frame — no reimplementation, no
  * semantic fork (the spec pins streaming output ≡ batch output on the
  * same rows). Exact dedup is the only stateful stage:
  * dropDuplicatesWithinWatermark on the content fingerprint keeps state
  * bounded by the watermark horizon. Near-dup/cluster passes stay batch —
  * they need corpus-wide joins, the streaming tier only promises that no
  * EXACT copy lands twice within the horizon.
  */
object StreamingCorpus {

  /** Gate ([[TextOps.passesGate]]) then redact PII — stateless
    * (no join, no state store), identical semantics to the batch
    * operators it delegates to. Emits (doc_id, arrival_ts, lang_pred,
    * quality, n_emails, n_ips, n_phones, text_redacted). */
  def gateAndScrub(docs: DataFrame): DataFrame = {
    val gated = docs
      .select(col("doc_id"), col("arrival_ts"), col("text"),
        TextOps.profile(col("text")).as("p"))
      .select(col("doc_id"), col("arrival_ts"), col("text"),
        col("p.lang_pred").as("lang_pred"), col("p.quality").as("quality"))
      .filter(TextOps.passesGate(col("lang_pred"), col("quality")))
    PiiRedact.withRedaction(gated).drop("text")
  }

  /** Ingest-time exact dedup: drop any document whose content fingerprint
    * was already seen within the one-hour watermark horizon. `textCol` names the
    * content column to fingerprint — [[prepareStream]] passes the
    * SCRUBBED text, mirroring batch v2's scrub-before-dedup order. */
  def dedupByContent(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("fingerprint", TextOps.fingerprint(col(textCol)))
      .withWatermark("arrival_ts", "1 hour")
      .dropDuplicatesWithinWatermark("fingerprint")

  /** The composed streaming front door: gate → scrub → content dedup on
    * the REDACTED text, so per-document PII variance collapses before
    * fingerprinting (the batch prepareV2 ordering, at ingest time). */
  def prepareStream(docs: DataFrame): DataFrame =
    dedupByContent(gateAndScrub(docs), textCol = "text_redacted")

  /** Ingest-time LEARNED gate — the m83 classifier applied to arriving
    * documents. Scoring is a pure literal-weights projection, so the
    * batch scorer runs UNCHANGED on the streaming frame (no state store,
    * no reimplementation; the spec pins stream ≡ batch row-for-row).
    * This is the production split of the learned-filter lifecycle: the
    * model trains in the batch tier (bounded sample, captured weights)
    * and serves at the stream front door. Emits (doc_id, arrival_ts,
    * label, logit, pred) for every arriving non-null doc; `admittedOnly`
    * keeps just the docs the classifier passes. */
  def scoreStream(docs: DataFrame, model: graft.text.QualityClassifier.Model,
                  admittedOnly: Boolean = false): DataFrame = {
    val scored = graft.text.QualityClassifier.score(
      docs, model, keep = Seq("arrival_ts"))
    if (admittedOnly) scored.filter(col("pred") === 1L) else scored
  }

  /** Streaming near-dup admission — [[graft.dedup.IncrementalNearDup]]
    * at ingest time: every micro-batch probes the standing inverted
    * shingle index of the already-admitted corpus, and the flagged
    * (batch_id, index_id, jaccard) pairs go to `sink`. All near-dup
    * state lives in the STATIC index (rebuilt by the batch tier per
    * ingest round) — the stream holds no state store, so cost scales
    * with micro-batch size, not corpus size; identical semantics to the
    * batch operator by construction (foreachBatch delegates to it). */
  def nearDupAdmission(docs: DataFrame, indexed: DataFrame)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        sink(graft.dedup.IncrementalNearDup.probeIndex(
          batch, indexed, threshold = 0.5), id)
      }
      .start()

  /** Streaming distinct-cardinality at the front door: every
    * micro-batch's HLL registers fold into a STANDING register store by
    * pointwise max (foreachBatch) — state bounded at groups × 4096
    * integer rows however long the stream runs, where an exact
    * streaming `approx/count_distinct` would either grow state with
    * every new value or lose mergeability across restarts.
    *
    * Why this is exactly-once-CORRECT without exactly-once plumbing:
    * register max is associative, commutative and IDEMPOTENT, so an
    * at-least-once foreachBatch replay of the same micro-batch folds to
    * the identical store, and the standing registers after ANY batch
    * split are bit-identical to one batch build over every row seen
    * (spec-pinned: stream ≡ batch registers exactly, across a restart).
    *
    * Store layout: versioned dirs `v<n>` under `storeDir`, where n is
    * STORE-monotone (max existing version + 1 — NOT the micro-batch id,
    * which resets to 0 on a restarted query and would shadow the
    * standing store behind a lexicographically larger old version). The
    * new version is fully written BEFORE older versions are retired; a
    * batch replay writes a fresh version whose content is IDENTICAL
    * (idempotent fold), and [[latestRegisters]] reads the newest
    * COMPLETE version (parquet `_SUCCESS` marker) — a crash mid-write
    * leaves the previous version in place. Single-writer contract: one
    * streaming query owns a store at a time (foreachBatch is already
    * serialized within a query). */
  def hllRegisterStream(docs: DataFrame,
                        hashCol: org.apache.spark.sql.Column,
                        storeDir: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        import graft.operators.HyperLogLog
        val fresh = HyperLogLog.registers(batch, Seq("source"), hashCol)
        val versions = completeVersions(storeDir)
        val merged = versions.lastOption.map(p => s.read.parquet(p.toString)) match {
          case Some(standing) =>
            HyperLogLog.merge(standing.unionByName(fresh),
              keepCols = Seq("source"))
          case None => fresh
        }
        val next = versions.lastOption
          .map(_.getFileName.toString.stripPrefix("v").toLong + 1L)
          .getOrElse(0L)
        merged.write.mode("overwrite").parquet(f"$storeDir/v$next%012d")
        retireOlderVersions(storeDir, next)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Streaming KMV standing store (verdict r18 #5): the HLL pattern
    * extended to the set-OPERATION sketch — every micro-batch's hashes
    * fold into a standing per-group k-minimum-values sketch, giving the
    * stream what HLL registers cannot: live set operations (today's
    * stream vs the standing corpus — union, intersection, Jaccard via
    * [[graft.operators.KmvSketch.jaccardEstimate]]) at ≤ groups × k
    * longs of state however long the stream runs.
    *
    * Same exactly-once-correct-without-exactly-once-plumbing argument
    * as [[hllRegisterStream]]: KMV state is the k smallest DISTINCT
    * hashes — a pure function of the item SET — so the fold (re-
    * aggregating standing sketch entries with the batch's fresh hashes
    * through the same k-min buffer) is associative, commutative and
    * IDEMPOTENT; an at-least-once foreachBatch replay folds to the
    * identical store, and the standing sketch after ANY batch split is
    * bit-identical to one batch build over every row seen (spec-pinned
    * across chunks and a restart). Versioned-store mechanics (store-
    * monotone `v<n>`, `_SUCCESS`-complete reads, keep-latest-two
    * retirement, single-writer) are shared with the HLL store. */
  def kmvSketchStream(docs: DataFrame,
                      hashCol: org.apache.spark.sql.Column,
                      storeDir: String, checkpoint: String,
                      k: Int = graft.operators.KmvSketch.DefaultK)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // The writer-side k guard runs on the FIRST standing-store read
    // only (ADVICE r19): a store's k is fixed at creation and this
    // query is the store's single writer, so once one batch has
    // verified the stamp, re-collecting it every micro-batch is a
    // driver job spent re-proving an invariant nothing can change.
    // foreachBatch is serialized within a query, so a plain var in the
    // closure is safe.
    var kVerified = false
    docs.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        import graft.operators.KmvSketch
        val fresh = batch.select(col("source"), hashCol.as("h"))
        val versions = completeVersions(storeDir)
        val all = versions.lastOption.map(p => s.read.parquet(p.toString)) match {
          case Some(standing) =>
            // The WRITER guards k too (review r19d): restarting the
            // stream with a larger k would fold 64-truncated sketches
            // and re-stamp them sk_k=256 — content that is only the 64
            // smallest hashes of history, which the reader would then
            // trust as exact. A store's k is fixed at creation.
            if (!kVerified) {
              standing.select("sk_k").limit(1).collect().headOption.foreach { r =>
                require(r.getInt(0) == k,
                  s"kmvSketchStream: store at $storeDir was created with " +
                    s"k=${r.getInt(0)}, stream restarted with k=$k — " +
                    "a KMV store's k is fixed at creation")
              }
              kVerified = true
            }
            // standing sketch entries re-enter the same k-min fold —
            // the k smallest of a union are always inside the union of
            // the per-side k smallest, so this IS the sketch merge
            fresh.unionByName(
              standing.select(col("source"), explode(col("sk")).as("h")))
          case None => fresh
        }
        // sk_k rides in the store so a consumer built with a DIFFERENT
        // k fails loudly instead of silently mis-estimating (a saturated
        // k=64 sketch read as k=256 reports its size as the EXACT
        // distinct count — review r19c)
        val merged = all.groupBy("source")
          .agg(KmvSketch.kMin(k)(col("h")).as("sk"))
          .withColumn("sk_k", lit(k))
        val next = versions.lastOption
          .map(_.getFileName.toString.stripPrefix("v").toLong + 1L)
          .getOrElse(0L)
        merged.write.mode("overwrite").parquet(f"$storeDir/v$next%012d")
        retireOlderVersions(storeDir, next)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The decision the standing KMV store serves: overlap of an
    * INCOMING batch (today's candidate shipment, a new crawl slice)
    * against every group already in the corpus — the admission-planning
    * card ("is src7's delivery mostly content we already hold?") that
    * HLL registers cannot answer. One bounded sketch is built over the
    * fresh batch (one exchange of ≤ k longs), then every standing group
    * sketch joins it broadcast-style: per group, the standing distinct
    * estimate, the batch-vs-group Jaccard estimate, and the estimated
    * count of the batch's items already present (jaccard × union — the
    * KMV identity, all from ≤ 2k longs per pair). Cost at 100 TB:
    * reading |groups| × k longs; the corpora themselves never move.
    * Estimates are exact whenever both sets fit inside their sketches
    * (spec-pinned, with a streamed-store ≡ batch-sketch parity pin). */
  def kmvOverlapCard(s: org.apache.spark.sql.SparkSession, storeDir: String,
                     fresh: DataFrame, hashCol: org.apache.spark.sql.Column,
                     k: Int = graft.operators.KmvSketch.DefaultK): DataFrame = {
    import graft.operators.KmvSketch
    // A missing/unready store FAILS, never degrades: an admission
    // planner reading a typo'd dir as "zero overlap, admit everything"
    // is a correctness hazard, and the zero-column emptyDataFrame the
    // first cut returned broke any column-referencing consumer anyway
    // (review r19c). Callers that expect a cold start probe
    // latestRegisters themselves.
    val standing = latestRegisters(s, storeDir).getOrElse(
      throw new IllegalStateException(
        s"kmvOverlapCard: no complete KMV store version under $storeDir " +
          "— wrong dir, or the stream has not committed its first batch"))
    // k mismatch fails loudly off the store's own sk_k stamp: a
    // saturated smaller-k sketch read at a larger k would report its
    // SIZE as the exact distinct count (review r19c). headOption: a
    // store whose only version has ZERO groups (an empty first
    // micro-batch) must hit the same loud path, not a bare
    // NoSuchElementException (review r19d).
    val storeK = standing.select("sk_k").limit(1).collect().headOption
      .getOrElse(throw new IllegalStateException(
        s"kmvOverlapCard: KMV store at $storeDir has no groups yet " +
          "(its only committed version is empty)"))
      .getInt(0)
    require(storeK == k,
      s"kmvOverlapCard: store at $storeDir was built with k=$storeK, " +
        s"read with k=$k — estimates would be silently wrong")
    val freshSk = fresh.select(hashCol.as("h"))
      .agg(KmvSketch.kMin(k)(col("h")).as("skf"))
    // union/jaccard each constructed ONCE; est_common derives from the
    // projected est_jaccard column, not a re-evaluated expression
    standing.crossJoin(broadcast(freshSk))
      .filter(size(col("skf")) > 0) // empty batch → empty card
      .withColumn("standing_distinct", KmvSketch.distinctEstimate(col("sk"), k))
      .withColumn("batch_distinct", KmvSketch.distinctEstimate(col("skf"), k))
      .withColumn("est_jaccard", KmvSketch.jaccardEstimate(col("sk"), col("skf"), k))
      .withColumn("est_common", col("est_jaccard") *
        KmvSketch.distinctEstimate(KmvSketch.unionSketch(col("sk"), col("skf"), k), k))
      .drop("sk", "skf", "sk_k")
  }

  /** The newest COMPLETE register version under `storeDir` (None before
    * the first batch commits). */
  def latestRegisters(s: org.apache.spark.sql.SparkSession,
                      storeDir: String): Option[DataFrame] =
    completeVersions(storeDir).lastOption
      .map(p => s.read.parquet(p.toString))

  private def completeVersions(storeDir: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(storeDir)
    if (!java.nio.file.Files.isDirectory(root)) Seq.empty
    else {
      val l = java.nio.file.Files.list(root)
      try {
        val b = Vector.newBuilder[java.nio.file.Path]
        l.forEach { p =>
          if (p.getFileName.toString.startsWith("v") &&
              java.nio.file.Files.exists(p.resolve("_SUCCESS"))) b += p
        }
        b.result().sortBy(_.getFileName.toString)
      } finally l.close()
    }
  }

  /** Retire superseded versions, KEEPING the latest two: a concurrent
    * reader holding a lazy [[latestRegisters]] frame over version n−1
    * must not have its files deleted mid-scan when the stream commits
    * version n (review r18) — one full version of grace is the read
    * window; versions are groups × 4096 integer rows, so the cost of
    * keeping one extra is nil. */
  private def retireOlderVersions(storeDir: String, id: Long): Unit =
    completeVersions(storeDir)
      .filter(_.getFileName.toString < f"v${id - 1}%012d")
      .foreach(graft.pipeline.DedupAssets.deleteRecursively)
}
