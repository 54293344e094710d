package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + LSH near-duplicate detection:
  * shingle → minhash signature → band → bucket-join → verified Jaccard.
  *
  * Signatures are ONE compiled pass per document (shingle hashes folded
  * straight into the k running minima — zero shuffle, plan-tested); the
  * only exchange in the whole pipeline is the band-bucket one, whose keys
  * are 64-bit hashes (uniform, skew-free up to genuinely viral
  * duplicates, which `bucketCap` bounds in both result AND aggregation
  * memory). This is the standard web-scale dedup shape: cost is
  * O(docs × bands) rows shuffled, each a few dozen bytes — document text
  * never moves. No crossJoin anywhere.
  *
  * Signature math: h_i(x) = (a_i·x + b_i) mod p over shingle hashes reduced
  * into [0, p), with p = 2^31-1. The modulus must be ≤ the hash range:
  * a larger p makes a·x+b effectively monotone (no wraparound), collapsing
  * every coordinate onto the same argmin shingle — zero permutation
  * diversity. With p = 2^31-1 the product a·x < 2^62 wraps ~2^31 times
  * (and stays under Long overflow, which ANSI mode would throw on).
  */
object MinHashLSH {

  private val P = 2147483647L // 2^31 - 1 (Mersenne prime)

  /** Seed of the (a,b) parameter RNG: every signature path and the
    * oracle's inlined literals must draw the same permutations. */
  private val Seed = 42L

  /** Hash functions per production signature. */
  private val NumHashes = 64

  /** The (a,b) pairs exposed for the SQL-replay oracle: SparkEntry inlines
    * them as literals so DuckDB replays the exact signature permutations
    * without replicating the seeded RNG. */
  private[graft] def hashParams(): Seq[(Long, Long)] = params(NumHashes)

  /** Deterministic (a,b) parameter pairs for the k hash functions,
    * a ∈ [1, p), b ∈ [0, p). */
  private def params(k: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(Seed)
    Seq.fill(k)((rng.nextInt((P - 1).toInt).toLong + 1L, rng.nextInt(P.toInt).toLong))
  }

  /** Word w-shingles of the lowercased text; a doc shorter than w words
    * contributes its whole text as a single shingle. (Column-expression
    * form — readable and used by the property tests; the production path
    * is [[shingleHashes]], because interpreted higher-order lambdas
    * measured ~13µs per shingle.) */
  def shingles(text: Column): Column = {
    val w = 3
    val toks = split(lower(trim(text)), " +")
    val n = size(toks)
    when(n < w, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(0), n - w),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(w)))))
  }

  /** w-shingle hashes in [0, p): split, rolling join, FNV — no shingle
    * strings ever materialize in Tungsten rows, and no per-element lambda
    * dispatch. Whitespace-only docs yield no shingles (exact dedup owns
    * the empty-content case). */
  private def shingleHashArray(text: String, w: Int): Array[Long] = {
    if (text == null) return Array.empty[Long]
    val toks = text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) Array.empty[Long]
    else if (toks.length < w) {
      Array(pmodP(graft.functions.Fnv.chars(toks.mkString(" "))))
    } else {
      val out = new Array[Long](toks.length - w + 1)
      var i = 0
      while (i + w <= toks.length) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < w) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        out(i) = pmodP(graft.functions.Fnv.chars(sb))
        i += 1
      }
      out
    }
  }

  /** Column form of [[shingleHashArray]] (used by the verify stage). */
  val shingleHashes: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, w: Int) => shingleHashArray(text, w) }

  private def pmodP(h: Long): Long = ((h % P) + P) % P

  /** 128-wide minhash signature (array<bigint>) of a shingle array, as a
    * single Column. Test-only (`private[dedup]`): it hashes shingles with
    * xxhash64 while the production path ([[signatures]] /
    * [[bandedSignatures]]) uses FNV-1a, so the two produce intentionally
    * incompatible signatures and must never be mixed. Also 128
    * re-evaluations of the shingle pipeline per row (Catalyst inlines the
    * shared subtree into every coordinate). */
  private[dedup] def signature(shingleCol: Column): Column = {
    // Shingle hashes reduced into [0, p) keep a·x + b within 62 bits.
    val hashes = transform(shingleCol, s => pmod(xxhash64(s), lit(P)))
    val sigs: Seq[Column] = params(128).map { case (a, b) =>
      array_min(transform(hashes, h => pmod(h * lit(a) + lit(b), lit(P))))
    }
    array(sigs: _*)
  }

  /** (doc_id, sig) signatures for a whole corpus — the production path:
    * ONE compiled pass per document computes the shingle hashes and folds
    * them straight into the 64 running minima. The signature is a pure
    * per-row function of the text, so this needs NO shuffle at all —
    * round 2 shipped explode + k min-aggregates (one exchange of k longs
    * per doc even after map-side partials, plus a 64-expression hash-agg
    * over every shingle row); folding in-row deletes that exchange and the
    * aggregate hash table, and at 100 TB makes signature generation
    * scan-bound. Values are bit-identical (same (a,b) params, same
    * shingle hashes, min is order-free); docs with no shingles are
    * dropped, as the explode formulation did implicitly. */
  def signatures(docs: DataFrame): DataFrame = {
    val ps = params(NumHashes)
    val as = ps.map(_._1).toArray
    val bs = ps.map(_._2).toArray
    val sigUdf = udf { text: String =>
      val hs = shingleHashArray(text, 3)
      if (hs.isEmpty) null
      else {
        val sig = Array.fill(NumHashes)(Long.MaxValue)
        var i = 0
        while (i < hs.length) {
          val x = hs(i)
          var j = 0
          while (j < NumHashes) {
            // a·x + b stays under 2^62 (x < 2^31, a < 2^31) and is
            // non-negative, so % is already pmod.
            val v = (as(j) * x + bs(j)) % P
            if (v < sig(j)) sig(j) = v
            j += 1
          }
          i += 1
        }
        sig
      }
    }
    // asNondeterministic is PURELY an optimizer barrier (the UDF is
    // pure): a deterministic alias gets substituted into the isNotNull
    // filter below by predicate pushdown and the 64-hash pass runs twice
    // per document — the same double-eval trap TextOps.profile guards
    // against.
    docs.select(col("doc_id"),
        sigUdf.asNondeterministic()(col("text")).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** (doc_id, band, band_hash) — one row per band per doc. */
  def bandedSignatures(docs: DataFrame, bands: Int): DataFrame = {
    require(NumHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($NumHashes) — otherwise " +
        "trailing signature coordinates are silently dropped")
    val rows = NumHashes / bands
    signatures(docs)
      .select(col("doc_id"), posexplode(
        array((0 until bands).map(b =>
          xxhash64(concat_ws(",", lit(b) +: (0 until rows).map(r =>
            col("sig").getItem(b * rows + r)): _*))): _*)).as(Seq("band", "band_hash")))
  }

  /** Candidate near-duplicate pairs (doc_a < doc_b) from LSH buckets.
    *
    * `bucketCap` drops pathological buckets (boilerplate that hashes
    * together) before the self-join — at web scale a single hot bucket of
    * 10^6 docs would otherwise produce 10^12 candidate pairs. Dropped
    * buckets are a recall trade the caller opts into, as in production
    * dedup systems.
    */
  def candidatePairs(docs: DataFrame, bands: Int = 16,
                     bucketCap: Int = 1000): DataFrame = {
    val banded = bandedSignatures(docs, bands)
    // cappedIds also bounds the aggregation buffer at bucketCap+1 ids, so
    // a viral bucket is dropped without ever materializing its full list.
    val capped = banded
      .groupBy("band", "band_hash")
      .agg(graft.functions.CappedCollect.cappedIds(bucketCap)(col("doc_id")).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
    // Pairs within a bucket, without re-shuffling: explode the (small,
    // capped) id list twice and keep the upper triangle.
    capped
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
  }

  /** Per-band bucketCap drop profile — the "no silent caps" companion to
    * [[candidatePairs]]: that operator drops viral buckets (size >
    * bucketCap) by design, which is the right memory bound at web scale
    * but must be OBSERVABLE, not silent. One row per (bucket_cap, band):
    * total banded rows, bucket count, dropped buckets, dropped row mass
    * and its fraction — the number an operator reads next to the m128
    * banding plan and the m85 recall audit to see how much recall the cap
    * is currently costing (dropped mass ≈ the only recall the cap can
    * lose, since a dropped bucket's pairs may still surface via another
    * band). `bucketCaps` sweeps candidate caps in one pass so a
    * production card can show the configured cap beside a tighter
    * what-if.
    *
    * Scale shape: the same band-bucket exchange as candidatePairs but
    * carrying only (band, band_hash) partial COUNTS — no id lists, no
    * CappedCollect buffer — then a (caps × bands)-bounded aggregate.
    * Counts are exact longs; dropped_frac is the one double, in fixed
    * operand order. */
  def bucketDropReport(docs: DataFrame,
                       bucketCaps: Seq[Int] = Seq(1000)): DataFrame = {
    require(bucketCaps.nonEmpty, "bucketCaps must list at least one cap")
    val sizes = bandedSignatures(docs, 16)
      .groupBy("band", "band_hash").agg(count(lit(1)).as("c"))
    sizes
      .select(col("band"), col("c"),
        explode(array(bucketCaps.map(lit(_)): _*)).as("bucket_cap"))
      .groupBy("bucket_cap", "band")
      .agg(sum("c").as("n_rows"),
        count(lit(1)).as("n_buckets"),
        sum(when(col("c") > col("bucket_cap"), 1L).otherwise(0L))
          .as("dropped_buckets"),
        sum(when(col("c") > col("bucket_cap"), col("c")).otherwise(0L))
          .as("dropped_rows"))
      .withColumn("dropped_frac",
        col("dropped_rows").cast("double") / col("n_rows").cast("double"))
  }

  /** Exact Jaccard over shingle-hash sets for the candidate pairs — the
    * verify stage, through the shared verifier ([[PairVerify]]: the
    * shingle sets are computed for candidate docs only, pinned once, and
    * joined onto both sides). Sets are 31-bit hashes (set-identical to
    * string shingles up to 2^-31 collisions).
    *
    * EAGER ([[PairVerify.withFeature]]): candidate generation and the
    * shingle walk run AT CALL TIME — call when the result will be
    * consumed, and release snapshots afterwards in long-lived sessions. */
  def verifiedPairs(docs: DataFrame): DataFrame =
    verifiedPairsOver(docs, candidatePairs(docs), 0.5)

  /** Verify stage over an externally supplied candidate table — the
    * production split: candidate GENERATION is the expensive banded
    * shuffle and a storable per-corpus artifact
    * ([[graft.pipeline.DedupAssets.minhashCandidates]]); each verify
    * style (shingle-hash here, char-gram [[NgramJaccard.scorePairs]],
    * edit [[EditSimilarity.scorePairs]]) probes it through
    * [[PairVerify]]. Same eager contract as [[verifiedPairs]]. */
  def verifiedPairsOver(docs: DataFrame, candidates: DataFrame,
                        threshold: Double = 0.7): DataFrame =
    PairVerify.withFeature(docs, candidates, "sh",
        array_distinct(shingleHashes(col("text"), lit(3))))
      .withColumn("jaccard", PairVerify.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
}
