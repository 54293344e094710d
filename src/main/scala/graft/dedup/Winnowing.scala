package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (the MOSS scheme): hash every k-gram,
  * slide a window of `w` = 4 consecutive hashes, keep each window's
  * minimum.
  * Any shared substring of at least w + k - 1 tokens between two documents
  * is guaranteed to surface as a shared fingerprint — position-robust
  * near-dup / clone detection, complementary to MinHash (which estimates
  * whole-document similarity and has no locality guarantee).
  *
  * Scale shape: a pure per-row projection — grams, hashes, window minima
  * and the per-document fingerprint dedup all happen inside array
  * higher-order functions, so there is NO shuffle and document text never
  * leaves its input partition. Output is (doc_id, fp) candidate keys; the
  * downstream candidate join is a bucket equi-join on fp, the same shape
  * as the LSH band join (and should be capped the same way — see
  * MinHashLSH.bucketCap — if an n-gram is corpus-viral).
  *
  * Gram construction mirrors NgramJaccard (3-token shingles of the
  * space-split lowercased text; shorter docs collapse to one whole-text
  * gram) and hashes are md5 hex — engine-portable, so the DuckDB oracle
  * replays the selection exactly.
  */
object Winnowing {

  /** The window: hashes per window-minimum (the m23 oracle replays it). */
  private val W = 4

  private def shingles(t: Column): Column =
    when(size(t) < 3, array(array_join(t, " ")))
      .otherwise(transform(sequence(lit(1), size(t) - 2),
        i => concat_ws(" ",
          element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))

  /** Column-expression reference form — readable, and the semantics the
    * differential spec pins [[fingerprints]] against. NOT the production
    * path: the window-min stage references the hash array from every
    * window slice, and array HOF chains re-evaluate the md5 transform per
    * reference — measured O(n·w) md5 work per doc (~10 s for the corpus
    * at sf0.1 vs ~0.5 s compiled). */
  def fingerprintsColumnForm(docs: DataFrame): DataFrame = {
    val toks = split(lower(trim(col("text"))), " +")
    docs
      // empty/whitespace-only docs yield no fingerprints (shared policy
      // with NgramJaccard — exact dedup owns the empty-content case).
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .select(col("doc_id"), shingles(toks).as("gs"))
      .select(col("doc_id"),
        transform(col("gs"), s => md5(s.cast("binary"))).as("hs"))
      .select(col("doc_id"),
        when(size(col("hs")) <= W, array(array_min(col("hs"))))
          .otherwise(transform(sequence(lit(1), size(col("hs")) - (W - 1)),
            i => array_min(slice(col("hs"), i, lit(W))))).as("sel"))
      // fingerprint dedup is per-document, so array_distinct does it
      // inside the projection — no DISTINCT exchange.
      .select(col("doc_id"), explode(array_distinct(col("sel"))).as("fp"))
  }

  /** One compiled pass per document: shingle via NgramJaccard's ONE shared
    * tokenize/shingle walk (so tokenization and the empty-doc policy
    * cannot drift — empty/whitespace-only docs yield NO fingerprints,
    * same as every other gram operator: a shared md5("") fingerprint
    * would pair every blank doc with every other), md5, then
    * sliding-window minimum via a monotonic deque — O(n) per doc instead
    * of the Column form's O(n·w) re-hashing. Hex compare == SQL binary
    * collation (ASCII). */
  private def winnowDoc(text: String, w: Int): Array[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hsBuf = scala.collection.mutable.ArrayBuffer.empty[String]
    NgramJaccard.forEachWordShingle(text, 3) { g =>
      md.reset()
      val d = md.digest(g.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val sb = new java.lang.StringBuilder(32)
      d.foreach { b =>
        sb.append(Character.forDigit((b >> 4) & 0xf, 16))
        sb.append(Character.forDigit(b & 0xf, 16))
      }
      hsBuf += sb.toString
    }
    val hs = hsBuf.toArray
    val out = new java.util.LinkedHashSet[String]()
    if (hs.isEmpty) ()
    else if (hs.length <= w) out.add(hs.min)
    else {
      // monotonic deque of candidate minima (indices, increasing values)
      val dq = new java.util.ArrayDeque[Int]()
      var i = 0
      while (i < hs.length) {
        while (!dq.isEmpty && hs(dq.peekLast) >= hs(i)) dq.pollLast()
        dq.addLast(i)
        if (dq.peekFirst <= i - w) dq.pollFirst()
        if (i >= w - 1) out.add(hs(dq.peekFirst))
        i += 1
      }
    }
    out.toArray(new Array[String](out.size))
  }

  private lazy val winnowUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, w: Int) => winnowDoc(text, w) }

  /** Distinct winnowing fingerprints per document — production path
    * (compiled single pass; differential spec pins it to
    * [[fingerprintsColumnForm]]). Still a pure projection: no shuffle. */
  def fingerprints(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(winnowUdf(col("text"), lit(W))).as("fp"))

  /** Candidate pairs sharing at least 2 fingerprints — the bucket join
    * over [[fingerprints]], with a per-fingerprint cap of 50 docs so a
    * corpus-viral passage cannot quadratically explode one bucket. */
  def candidatePairs(docs: DataFrame): DataFrame = {
    val fps = fingerprints(docs)
    val kept = fps
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("df") <= 50)
      .drop("df")
    kept.as("a").join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
  }
}
