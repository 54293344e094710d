package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** N-gram Jaccard similarity — the classic fuzzy-dedup verifier.
  *
  * Two pair-generation modes, both shuffle-bounded (never all-pairs):
  *  - delegated: score MinHashLSH/SimHash candidate pairs with exact
  *    char-n-gram Jaccard ([[scorePairs]]) — probabilistic recall;
  *  - inverted index: [[invertedIndexPairs]] finds ALL pairs sharing a
  *    sub-dfCap word shingle — deterministic recall, SQL-replayable
  *    (the m14 oracle), with the posting-list join bounded by the
  *    stop-gram cap.
  */
object NgramJaccard {

  /** Distinct n-gram hashes in one compiled pass per document — grams never
    * materialize as strings; Jaccard over hash sets is identical up to
    * 2^-64 collisions. */
  val charNgramHashes: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, n: Int) =>
      if (text == null) Array.empty[Long]
      else {
        val t = text.toLowerCase(java.util.Locale.ROOT)
        val set = new java.util.HashSet[java.lang.Long]()
        if (t.length <= n) set.add(graft.functions.Fnv.chars(t))
        else {
          var i = 0
          while (i + n <= t.length) {
            set.add(graft.functions.Fnv.chars(t.subSequence(i, i + n)))
            i += 1
          }
        }
        val out = new Array[Long](set.size)
        val it = set.iterator()
        var i = 0
        while (it.hasNext) { out(i) = it.next(); i += 1 }
        out
      }
    }

  /** Score (doc_a, doc_b) pairs with exact n-gram Jaccard by joining the
    * n-gram sets back on. The pair table is small, so AQE broadcasts it
    * into each join — a bare full-corpus gram projection would then
    * STREAM through both joins, paying the gram UDF over every document
    * twice. The candidate id set (from the pinned pairs) semi-joins the
    * corpus first, gram sets are computed for candidate docs only and
    * pinned once, and both joins probe that snapshot (the
    * [[graft.dedup.MinHashLSH.verifiedPairs]] shape).
    *
    * EAGER, like [[graft.operators.PrefixSum]]: the localCheckpoint pins
    * run jobs over `pairs` and the candidate docs AT CALL TIME — this is
    * not a lazy plan. Don't build it speculatively; call when the result
    * will be consumed, and release snapshots afterwards in long-lived
    * sessions. */
  def scorePairs(docs: DataFrame, pairs: DataFrame, textCol: String = "text",
                 n: Int = 3): DataFrame = {
    val p = pairs.pinned(true)
    val ids = p.select(col("doc_a").as("doc_id"))
      .unionByName(p.select(col("doc_b").as("doc_id"))).distinct()
    val grams = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), charNgramHashes(col(textCol), lit(n)).as("g"))
      .pinned(true)
    p
      .join(grams.withColumnsRenamed(Map("doc_id" -> "doc_a", "g" -> "g_a")), Seq("doc_a"))
      .join(grams.withColumnsRenamed(Map("doc_id" -> "doc_b", "g" -> "g_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("g_a"), col("g_b"))).cast("double") /
          size(array_union(col("g_a"), col("g_b"))).cast("double")).as("jaccard"))
  }

  /** End-to-end: LSH candidates → n-gram Jaccard ≥ threshold. */
  def nearDuplicates(docs: DataFrame, textCol: String = "text", n: Int = 3,
                     threshold: Double = 0.6): DataFrame =
    scorePairs(docs, MinHashLSH.candidatePairs(docs, textCol), textCol, n)
      .filter(col("jaccard") >= threshold)

  /** Distinct word w-shingle STRINGS per document (space-joined, over
    * space-split tokens of trim(lower(text))); a doc shorter than w words
    * contributes its whole normalized text as one shingle. The readable
    * reference form (what the DuckDB oracle computes); the production
    * posting path uses [[wordShingleHashSet]]. Empty/whitespace-only docs
    * yield NO shingles — same policy as [[MinHashLSH]]: exact dedup owns
    * the empty-content case (otherwise every blank doc would pair with
    * every other blank doc at jaccard 1.0 through the shared "" gram). */
  /** ONE definition of the SQL-parity shingle walk (trim 0x20 only, split
    * on space runs, w-token windows joined by single spaces, short doc →
    * whole text, empty doc → nothing): both gram forms below feed from it,
    * so their tokenization cannot drift apart (or from the m14/m18 oracle
    * SQL that replays it). */
  private[dedup] def forEachWordShingle(text: String, w: Int)(f: CharSequence => Unit): Unit = {
    if (text == null) return
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    var s = 0; var e = lower.length
    while (s < e && lower.charAt(s) == ' ') s += 1
    while (e > s && lower.charAt(e - 1) == ' ') e -= 1
    val toks = lower.substring(s, e).split(" +", -1)
    if (toks.length < w) {
      if (!(toks.length == 1 && toks(0).isEmpty)) f(toks.mkString(" "))
    } else {
      var i = 0
      while (i + w <= toks.length) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < w) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        f(sb)
        i += 1
      }
    }
  }

  val wordShingleSet: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, w: Int) =>
      val set = new java.util.LinkedHashSet[String]()
      forEachWordShingle(text, w)(sh => set.add(sh.toString))
      set.toArray(new Array[String](set.size))
    }

  /** Distinct 64-bit FNV hashes of the word w-shingles — the production
    * key for [[invertedIndexPairs]]: the posting shuffle then carries
    * (8-byte hash, 8-byte id) rows instead of gram strings. Set-identical
    * to [[wordShingleSet]] up to 2^-64 collisions (full 64-bit FNV, NOT
    * the 31-bit-reduced minhash variant — at web-scale gram counts a
    * 31-bit key space WOULD collide and perturb Jaccard counts). */
  val wordShingleHashSet: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (text: String, w: Int) =>
      val set = new java.util.HashSet[java.lang.Long]()
      forEachWordShingle(text, w)(sh => set.add(graft.functions.Fnv.chars(sh)))
      val out = new Array[Long](set.size)
      val it = set.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out
    }

  /** Inverted-index (posting-list) near-duplicate join — the SQL-exact
    * alternative to LSH candidates: explode each doc's distinct word
    * w-shingles, drop grams with document frequency > `dfCap` (stop-gram
    * pruning — boilerplate grams would otherwise join quadratically; with
    * the cap, one gram yields ≤ dfCap² pairs), self-join the remaining
    * postings on the gram, and compute exact Jaccard from shared-gram
    * counts: |A∩B| / (|A| + |B| − |A∩B|) over the pruned gram sets.
    *
    * Scale shape: one shuffle on gram (posting-list build + join) and one
    * on the (doc_a, doc_b) pair for the intersection count. Unlike
    * MinHash/LSH there is no probabilistic recall loss below the cap — and
    * every step is relational over the gram SETS, so the DuckDB oracle
    * (m14) replays it verbatim on the gram strings; the engine shuffles
    * their 64-bit hashes ([[wordShingleHashSet]]), identical up to 2^-64
    * collisions. */
  /** `postingParts` (round 21, guide §2.5 "AQE coalescing vs CPU-dense
    * reduce stages"): when Some(p), the gram exchange is pinned at p
    * partitions via an explicit `repartition(p, gram)` — the aggregate
    * reuses it (same key ⇒ no second exchange), and REPARTITION_BY_NUM is
    * exempt from AQE coalescing, so the posting build AND the pair
    * expansion reading it keep p tasks instead of being crammed into 1–4
    * tasks by byte-count (measured at sf0.1: the pair stage ran 0.5–0.9 s
    * single-task — AQE sizes partitions by bytes, but these stages are
    * CPU-bound at ~KB/ms). Callers gate p through
    * [[graft.Tables.spreadParts]]: above the corpus row gate it is None
    * and the plan is byte-identical — at real scale the gram exchange is
    * big enough that AQE never coalesces it anyway, so the pin is purely
    * the small-corpus idle-core fix, same story as the scan spread. */
  def invertedIndexPairs(docs: DataFrame, textCol: String = "text", w: Int = 3,
                         threshold: Double = 0.6, dfCap: Int = 50,
                         postingParts: Option[Int] = None): DataFrame =
    sharedGramCounts(docs, textCol, w, dfCap, postingParts)
      .withColumn("jaccard", col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** Asymmetric CONTAINMENT pairs (m113, Broder 1997's "roughly
    * contained" resemblance variant — public): containment_a =
    * |A∩B| / |A| is the fraction of A's kept shingles that also appear
    * in B, so a short document quoted inside a long one scores ~1.0 in
    * the A→B direction while its symmetric Jaccard (what
    * [[invertedIndexPairs]] thresholds) stays low — exactly the
    * subset-duplication case (quotes, excerpts, wrapper pages) the
    * symmetric tier is blind to. Pairs are emitted when EITHER direction
    * reaches `threshold`, with both directions and the raw counts
    * reported so the consumer can tell "A inside B" from "B inside A".
    *
    * Scale shape: identical to [[invertedIndexPairs]] (one capped
    * posting exchange, pair expansion inside it, df > dfCap stop-grams
    * dropped before any pair exists); only the final scoring projection
    * differs. Sizes are over KEPT grams — the same pruned-shingle
    * convention the Jaccard tier and its oracle use. */
  def containmentPairs(docs: DataFrame, textCol: String = "text", w: Int = 3,
                       threshold: Double = 0.8, dfCap: Int = 50,
                       postingParts: Option[Int] = None): DataFrame =
    sharedGramCounts(docs, textCol, w, dfCap, postingParts)
      .withColumn("containment_a", col("shared").cast("double") / col("n_a"))
      .withColumn("containment_b", col("shared").cast("double") / col("n_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select("doc_a", "doc_b", "n_a", "n_b", "shared",
        "containment_a", "containment_b")

  /** The posting-list core both pair tiers score: one row per doc pair
    * (doc_a < doc_b) sharing at least one kept gram, with the shared-gram
    * count and each doc's kept-gram count (doc_a, doc_b, shared, n_a, n_b).
    * `postingParts` pins the gram exchange (see [[invertedIndexPairs]]). */
  private def sharedGramCounts(docs: DataFrame, textCol: String, w: Int,
                               dfCap: Int,
                               postingParts: Option[Int]): DataFrame = {
    val grams0 = docs.select(col("doc_id"),
      explode(wordShingleHashSet(col(textCol), lit(w))).as("gram"))
    val grams = postingParts.map(p => grams0.repartition(p, col("gram")))
      .getOrElse(grams0)
    // Build the posting list per gram in ONE exchange and cap it there —
    // stop-gram pruning (df > dfCap → dropped) happens before any pair is
    // produced, and the pair expansion is a double explode of the capped
    // id list, never a second shuffle (the [[MinHashLSH.candidatePairs]]
    // shape). cappedIds bounds the aggregation BUFFER at dfCap+1 ids too:
    // a viral gram never materializes its full posting list before being
    // dropped. Both the per-doc sizes and the intersection counts derive
    // from the same exchange, which ReuseExchange runs once.
    val postings = grams.groupBy("gram")
      .agg(graft.functions.CappedCollect.cappedIds(dfCap)(col("doc_id")).as("ids"))
      .filter(col("ids").isNotNull)
    val posts = postings.select(explode(col("ids")).as("doc_id"), col("ids"))
    val sizes = posts.groupBy("doc_id").agg(count(lit(1)).as("n"))
    posts
      .select(col("doc_id").as("doc_a"), explode(col("ids")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "n" -> "n_a")), Seq("doc_a"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "n" -> "n_b")), Seq("doc_b"))
  }
}
