package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** Cross-document repeated-sequence detection — the "dedup long repeated
  * substrings" signal (Lee et al. 2022, public) at token-window
  * granularity: a W-token window whose fingerprint appears in ≥ `minDocs`
  * DISTINCT documents marks a span that should be cut or down-weighted
  * before training. Window granularity (stride 1) is what exact-substring
  * dedup needs that document dedup (m03), line dedup (m31) and winnowing
  * (m23, sampled fingerprints) don't give: every repeated run ≥ W tokens
  * is covered by at least one flagged window, wherever it starts.
  *
  * Scale shape (100 TB):
  *  - window texts exist only inside a per-document pass; what leaves the
  *    document is the md5 fingerprint — the frequency exchange carries
  *    (fp, doc) pairs, never window text;
  *  - per-doc DISTINCT before the count (a document repeating its own
  *    boilerplate must not self-promote it to "repeated");
  *  - the flagged-fp set joins back by fp — an equi-join AQE broadcasts
  *    when small and shuffles when not (same policy as [[LineDedup]]);
  *  - output is (doc_id, window_idx, fp) spans, bounded by the true
  *    repetition mass, so downstream span-merging stays proportional to
  *    what will actually be cut.
  *
  * Two implementations of the window pass, same contract as
  * [[graft.dedup.Winnowing]]:
  *  - [[windowFingerprintsColumns]] — the readable Column reference.
  *    `transform`/`slice`/`array_join` are eval-only higher-order
  *    functions (no codegen), and each window re-materializes its slice:
  *    measured ~2.5× slower end-to-end at sf0.1.
  *  - [[windowFingerprintsRaw]] — ONE compiled pass per document
  *    (tokenize once, windows from index arithmetic, MD5 via a reused
  *    digest), emitting the raw 16-byte digest; [[flag]] builds on it
  *    and hexes only the flagged output. [[windowFingerprints]] is its
  *    hex view, differential-spec-pinned row-identical to the Column
  *    form.
  *
  * md5 (not xxhash64) so the DuckDB oracle replays the identical
  * fingerprints — the engine-portability contract every dedup operator
  * here follows.
  */
object RepeatedWindows {

  /** Spark's `trim` strips ASCII SPACE only — String.trim would also
    * strip tabs/controls and diverge from the Column form. Shared with
    * [[SpanScrub]] so the rewrite tokenizes exactly like the window pass. */
  private[text] def sparkTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** Compiled per-document window fingerprints as RAW 16-byte MD5:
    * (doc_id, window_idx, fp BINARY). Tokenization is ASCII
    * trim/lower/split-on-spaces — the exact semantics of
    * `split(lower(trim(text)), " +")` on this corpus. Binary (not hex)
    * because this relation is what [[flag]] checkpoints and shuffles
    * twice — half the fingerprint bytes in the pinned snapshot and in
    * both exchanges; `lower(hex(fp))` restores the oracle's hex form on
    * the (repetition-mass-bounded) output. */
  def windowFingerprintsRaw(docs: DataFrame, w: Int): DataFrame =
    // narrow projection of the WithLen pass; the drop happens BEFORE any
    // consumer pins/shuffles, so [[flag]]'s snapshot stays 3 columns
    windowFingerprintsRawWithLen(docs, w)
      .select("doc_id", "window_idx", "fp")

  /** [[windowFingerprintsRaw]] plus the document's token count on every
    * row: (doc_id, window_idx, fp BINARY, n_tokens). `toks.length` is in
    * hand inside the compiled pass anyway, and a consumer that needs
    * per-doc lengths (the m133 short-span cap) would otherwise pay a
    * SECOND full-corpus tokenize + a corpus-sized join — a whole scan
    * per run at 100 TB (round-15 verdict). Cost: +8 bytes per window row
    * in the consumer's snapshot; [[flag]]'s hot path keeps the narrower
    * relation. n_tokens equals `size(split(lower(trim(text)), " +"))`
    * exactly (same tokenizer, differential-spec pinned). */
  def windowFingerprintsRawWithLen(docs: DataFrame, w: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("text").isNotNull)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def fpOf(s: String): Array[Byte] = {
          md.reset()
          md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        it.flatMap { case (docId, text) =>
          val toks = sparkTrim(text).toLowerCase(java.util.Locale.ROOT).split(" +")
          val n = toks.length.toLong
          if (toks.length <= w) {
            Iterator((docId, 0L, fpOf(toks.mkString(" ")), n))
          } else {
            Iterator.range(0, toks.length - w + 1).map { i =>
              val sb = new java.lang.StringBuilder(w * 8)
              var j = i
              while (j < i + w) {
                if (j > i) sb.append(' ')
                sb.append(toks(j))
                j += 1
              }
              (docId, i.toLong, fpOf(sb.toString), n)
            }
          }
        }
      }
      .toDF("doc_id", "window_idx", "fp", "n_tokens")
  }

  /** Hex-fingerprint view of [[windowFingerprintsRaw]] — the public
    * (doc_id, window_idx, fp STRING) contract, row-identical to
    * [[windowFingerprintsColumns]] (differential-spec pinned). */
  def windowFingerprints(docs: DataFrame, w: Int): DataFrame =
    windowFingerprintsRaw(docs, w)
      .withColumn("fp", lower(hex(col("fp"))))

  /** The readable Column-expression reference for the window pass —
    * semantics documentation and the differential-spec baseline. */
  def windowFingerprintsColumns(docs: DataFrame, w: Int): DataFrame = {
    val toks = split(lower(trim(col("text"))), " +")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("t"))
      .select(col("doc_id"),
        when(size(col("t")) <= w, array(array_join(col("t"), " ")))
          .otherwise(transform(
            sequence(lit(0), size(col("t")) - w),
            i => array_join(slice(col("t"), i + 1, lit(w)), " "))).as("ws"))
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("window_idx", "wtext")))
      .select(col("doc_id"), col("window_idx").cast("long").as("window_idx"),
        md5(col("wtext").cast("binary")).as("fp"))
  }

  /** Windows of `w` tokens (stride 1) whose fingerprint occurs in ≥
    * `minDocs` distinct documents: (doc_id, window_idx, fp). Documents
    * shorter than `w` tokens contribute their whole text as one window —
    * short exact duplicates still flag (same policy as the n-gram ops).
    *
    * The fingerprint set is localCheckpoint-pinned: it feeds both the
    * frequency pass and the join-back, and recomputing the window pass
    * twice was the dominant cost of the lazy form. Snapshot release
    * follows the [[graft.operators.PrefixSum]] policy (Bench/Verify
    * unpersist between queries). */
  def flag(docs: DataFrame, w: Int, minDocs: Int = 2): DataFrame = {
    require(w > 0, "w must be positive")
    require(minDocs > 1, "minDocs must be > 1 (1 flags every window)")
    val windows = windowFingerprintsRaw(docs, w).pinned(true)
    val repeated = windows
      .select("fp", "doc_id").distinct()
      .groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select("fp")
    windows.join(repeated, Seq("fp"))
      .select(col("doc_id"), col("window_idx"), lower(hex(col("fp"))).as("fp"))
  }
}
