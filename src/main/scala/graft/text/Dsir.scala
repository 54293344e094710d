package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * public) — the standard recipe for steering a raw crawl toward a
  * target domain without training a classifier: model both corpora as
  * bags of HASHED n-gram features, score every raw document by the
  * log importance weight log p_target(x) − log p_raw(x), and keep the
  * top mass.
  *
  * Features are whitespace bigrams hashed into `buckets` buckets via a
  * PORTABLE hash — the last three hex chars of md5(gram) parsed base-16
  * (identical in Spark and the DuckDB oracle, unlike xxhash64/built-in
  * hash()). Bucket distributions use add-0.5 smoothing, so a bucket the
  * target never saw still gets finite mass and unseen-feature docs score
  * low rather than −∞.
  *
  * Determinism: the per-doc weight Σ n_db·λ_b folds in BUCKET-SORTED
  * order inside one aggregate (the m55 discipline) — a plain double-sum
  * would re-associate with partitioning. The selection threshold is the
  * exact interpolated `1 − selectFrac` percentile of the weights.
  *
  * Scale shape (100 TB):
  *  - the feature pass exchanges (doc_id, bucket, count) partials only —
  *    grams are hashed in the same projection that creates them, so no
  *    exchange ever carries gram text;
  *  - the two distribution tables are bucket-sized (≤ `buckets` rows);
  *    the λ table is built from them and BROADCAST back — at any corpus
  *    size the join side is bounded by the bucket count, not the data;
  *  - the threshold is a one-row aggregate broadcast (exact percentile
  *    over one double per doc; swap to percentile_approx via the m35
  *    flag pattern if even that reduction is too hot).
  */
object Dsir {

  /** Portable bucket hash: base-16 parse of md5's last 3 hex chars,
    * mod `buckets` (buckets ≤ 4096 — 12 bits is what three hex chars
    * carry). */
  def bucketOf(gram: Column, buckets: Int): Column = {
    require(buckets > 0 && buckets <= 4096,
      "buckets must be in (0, 4096] — the portable hash carries 12 bits")
    conv(substring(md5(gram), 30, 3), 16, 10).cast("long") % buckets
  }

  /** Measured per-document exchange footprint of the feature pass —
    * the [[graft.operators.ScalePartitions]] calibration constant: the
    * gen-300 probe recorded 6.1 GB of (doc_id, is_target, bucket,
    * partial-count) shuffle for 1.5 M documents ≈ 4.3 KB/doc (~150
    * gram rows × ~28 B); 4 KiB is the rounded rule input. */
  val ShuffleBytesPerDoc: Long = 4096L

  /** Score every document against the target distribution and mark the
    * top `selectFrac` by log importance weight. `isTarget` is a boolean
    * Column over the input rows defining the target set (a curated
    * subset, a trusted source, …). Output: (doc_id, n_grams, logw,
    * selected); docs with fewer than two tokens carry no features and
    * are absent (a featureless doc has no evidence either way).
    *
    * `shufflePartitions` (the ScalePartitions rule output): when set,
    * BOTH corpus-sized exchanges — the (doc, target, bucket) count
    * aggregate and the per-doc weight fold — are keyed repartitions to
    * that width, so their reducer state scales with the corpus instead
    * of spilling at a fixed session cap (the gen-300 finding), AND the
    * weight fold switches to the streaming sort-within-partitions form
    * (no per-doc buffer — the gen-1000 escalation; see the fold note
    * below). The keyed repartition satisfies each distribution, so no
    * second exchange appears; map-side combine on these keys is
    * negligible by construction (a doc's ~150 grams hit ~130 distinct
    * buckets), so the exchange carries the same rows either way.
    * Results are BIT-identical to the default plan (spec-pinned). */
  def importanceWeights(docs: DataFrame, isTarget: Column,
                        buckets: Int = 1024, selectFrac: Double = 0.2,
                        shufflePartitions: Option[Int] = None): DataFrame = {
    require(selectFrac > 0.0 && selectFrac < 1.0, "selectFrac must be in (0,1)")
    require(shufflePartitions.forall(_ > 0), "shufflePartitions must be > 0")
    val t = col("t")
    val grams = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), isTarget.as("is_target"),
        split(lower(trim(col("text"))), " +").as("t"))
      .filter(size(t) >= 2)
      .select(col("doc_id"), col("is_target"),
        explode(zip_with(
          slice(t, lit(1), size(t) - 1),
          slice(t, lit(2), size(t) - 1),
          (a, b) => concat(a, lit(" "), b))).as("gram"))
      // hash in the same projection — gram text never reaches an exchange
      .select(col("doc_id"), col("is_target"),
        bucketOf(col("gram"), buckets).as("bucket"))
    val gramsP = shufflePartitions.fold(grams)(n =>
      grams.repartition(n, col("doc_id"), col("is_target"), col("bucket")))
    // PIN the feature table (round 21, guide §2.4 / §5 caching note):
    // docBuckets feeds TWO consumers (the λ bucket table and the per-doc
    // weight fold) and `scored` below feeds two more (the threshold and
    // the final selection) — as a bare plan, each reference expands its
    // own copy of the whole gram subtree, and column pruning pushes
    // DIFFERENT projections below the copies so exchange reuse cannot
    // dedupe them: the plan dump showed FOUR full scan→explode→hash
    // walks, and JobProfile showed two of them actually executing as
    // twin 0.4–0.5 s stages. One lazy localCheckpoint each makes the
    // feature pass and the weight fold run exactly once; at 100 TB
    // storing the (doc_id, is_target, bucket, n_db) partials once beats
    // recomputing the corpus gram walk per consumer outright. Values
    // are unchanged (a pin moves bytes, not math — Snapshot contract).
    // PlanSpec/ScalePartitionsSpec pin the exchange shape on the plans a
    // `QueryExecutionListener` captures, the pinned frames' own included.
    // The docBuckets pin is additionally gated on the UN-escalated path:
    // docBuckets is gram-granular (~4 KB/doc of partials — the
    // ShuffleBytesPerDoc calibration), the storage class whose pin
    // measurably squeezed execution memory to task failure at gen-1000
    // in the CMS tier (see cmsPrunePlan's deliberately-unpinned note).
    // Whenever the ScalePartitions rule fires (shufflePartitions set —
    // the corpus outgrew the session floor), the pin is OFF and the
    // dataflow is exactly the gen-300/gen-1000-proven widened-exchange
    // shape; below it the pinned bytes are bounded by the same estimate
    // that kept the rule off. Probed at the gate's top (gen-100, 500 k
    // docs, the largest un-escalated corpus): pinned 12.2 s with 1.9 GB
    // of GRACEFUL MEMORY_AND_DISK pressure vs unpinned 15.0 s with
    // 5.2 GB spill and 2.6× the shuffle read — the pin wins the whole
    // un-escalated range, and the escalation floor retires it before
    // the CMS failure scale. Snapshot state stays bounded — the
    // store-tier rule.
    val docBuckets0 = gramsP
      .groupBy("doc_id", "is_target", "bucket")
      .agg(count(lit(1)).as("n_db"))
    val docBuckets =
      if (shufflePartitions.isEmpty) graft.Snapshot.pin(docBuckets0, eager = false)
      else docBuckets0
    // ONE bucket table for raw and target counts (round 21, guide §2.3
    // "aggregate before you shuffle" / fewer passes): the previous shape
    // derived rawC, tgtC and the totals as three separate reduce stages
    // over the (reused) docBuckets exchange plus a bucket join — five
    // scheduled stages at sf0.1 where two suffice. The conditional sum
    // produces the SAME longs as the filter+sum (and a target-less
    // bucket's 0 matches the old left-join fill), and the corpus totals
    // now fold over the ≤`buckets`-row table instead of a corpus-sized
    // exchange read — λ inputs are bit-identical, so λ is too.
    val bucketC = docBuckets.groupBy("bucket").agg(
      sum("n_db").as("n_r"),
      sum(when(col("is_target"), col("n_db")).otherwise(lit(0L))).as("n_t"))
    val totals = bucketC.agg(sum("n_r").as("tr"), sum("n_t").as("tt"))
    val half = lit(0.5)
    val bHalf = lit(0.5 * buckets)
    val lam = bucketC
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("n_t") + half) / (col("tt") + bHalf)) -
          log((col("n_r") + half) / (col("tr") + bHalf))).as("lam"))
    val joined = docBuckets.join(broadcast(lam), Seq("bucket"))
    // Two BIT-IDENTICAL shapes of the per-doc weight fold (both add
    // the c = n_db·λ_b terms in ascending-bucket order — bucket is
    // unique per doc, so the order is total and the double sum is
    // associative-free either way; spec-pinned byte-equal):
    //  - default: collect_list + array_sort + aggregate — one hash
    //    aggregate, right up to the scale where its per-doc struct
    //    buffers inflate ~8× over their exchange bytes in HEAP (the
    //    gen-1000 residual spiller, round-17 probe);
    //  - escalated (whenever the ScalePartitions rule fires): keyed
    //    repartition + sortWithinPartitions + a STREAMING per-doc fold
    //    in mapPartitions — no per-doc buffer anywhere; ordering spills
    //    through Tungsten's external sorter (bounded, off-heap-ish)
    //    instead of object arrays. This is the memory-lean exact fold
    //    the gen-1000 probe named.
    val scored0 = shufflePartitions match {
      case None =>
        joined
          .groupBy("doc_id")
          .agg(
            sum("n_db").cast("long").as("n_grams"),
            aggregate(
              array_sort(collect_list(struct(col("bucket"),
                (col("n_db") * col("lam")).as("c")))),
              lit(0.0), (acc, x) => acc + x("c")).as("logw"))
      case Some(n) =>
        val s = docs.sparkSession
        import s.implicits._
        joined
          .select(col("doc_id"), col("bucket"), col("n_db"),
            (col("n_db") * col("lam")).as("c"))
          .repartition(n, col("doc_id"))
          .sortWithinPartitions("doc_id", "bucket")
          .as[(Long, Long, Long, Double)]
          .mapPartitions { (it: Iterator[(Long, Long, Long, Double)]) =>
            // named `in`, NOT `buffered`: inside the anonymous Iterator
            // the bare name would resolve to ITS OWN .buffered member
            val in = it.buffered
            new Iterator[(Long, Long, Double)] {
              def hasNext: Boolean = in.hasNext
              def next(): (Long, Long, Double) = {
                val (docId, _, n0, c0) = in.next()
                var nGrams = n0
                var logw = 0.0 + c0 // the fold's lit(0.0) seed, kept
                while (in.hasNext && in.head._1 == docId) {
                  val (_, _, nDb, c) = in.next()
                  nGrams += nDb
                  logw += c
                }
                (docId, nGrams, logw)
              }
            }
          }
          .toDF("doc_id", "n_grams", "logw")
    }
    // scored is doc-sized (three scalars per doc) and read twice — pin
    // (same rationale as docBuckets; the fold then runs exactly once)
    val scored = graft.Snapshot.pin(scored0, eager = false)
    val thr = scored.agg(
      percentile(col("logw"), lit(1.0 - selectFrac)).as("thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_grams"), col("logw"),
        (col("logw") > col("thr")).cast("long").as("selected"))
  }
}
