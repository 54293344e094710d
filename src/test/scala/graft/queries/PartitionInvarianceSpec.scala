package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** DESIGN.md §5's contract made executable: results must not depend on
  * partition count or scheduling order. The oracle gate only ever runs
  * one partitioning, so without this spec a partition-sensitive
  * accumulation (double sums re-associating, a tie-break missing from a
  * top-k, keep-first depending on task order, a prefix-sum offset keyed
  * by task id) would pass every hash check and still return different
  * bytes on a 1000-executor cluster. Each query here runs under two
  * deliberately different parallelism regimes and must produce
  * BIT-IDENTICAL rows — doubles compared exactly, no tolerance.
  *
  * The queries chosen are the ones whose determinism is engineered, not
  * free: decimal-sum statistics (q32), two-phase exact distinct (q07),
  * keep-first dedup (q10), tie-broken top-k (q11), the range-partitioned
  * prefix sum (m77's core via m52's ordering), and the md5-ranked
  * interleave (m73).
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  /** Collect rows as comparable seqs, sorted by their full string form —
    * exact values (Double bits included via toString round-trip), stable
    * total order. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  /** Run `q` under (shuffle partitions = 2, default input splits) and
    * (= 13, 64 KB input splits — many more scan tasks, different file-
    * split boundaries) and demand identical output. 13 is coprime to
    * every natural key cardinality in the testdata; 2 forces multi-row
    * partitions and heavy partial aggregation. */
  private def assertInvariant(q: (org.apache.spark.sql.SparkSession, String) => DataFrame): Unit = {
    val conf = spark.conf
    val origShuffle = conf.get("spark.sql.shuffle.partitions")
    val origSplit = conf.get("spark.sql.files.maxPartitionBytes")
    try {
      conf.set("spark.sql.shuffle.partitions", "2")
      val a = rows(q(spark, dir))
      conf.set("spark.sql.shuffle.partitions", "13")
      conf.set("spark.sql.files.maxPartitionBytes", "65536")
      val b = rows(q(spark, dir))
      a shouldBe b
    } finally {
      conf.set("spark.sql.shuffle.partitions", origShuffle)
      conf.set("spark.sql.files.maxPartitionBytes", origSplit)
    }
  }

  test("q32 statsAgg: decimal-sum variance/stddev identical across partitionings") {
    assertInvariant(RetailQueries.statsAgg)
  }

  test("q07 dailyRevenue: two-phase exact distinct identical across partitionings") {
    assertInvariant(RetailQueries.dailyRevenue)
  }

  test("q10 keep-first dedup: kept rows identical across partitionings") {
    assertInvariant(RetailQueries.dedupFirstPerPart)
  }

  test("q11 top-k users: tie-broken top-k identical across partitionings") {
    assertInvariant(RetailQueries.topUsersByRevenue)
  }

  test("m73 source interleave: md5-ranked positions identical across partitionings") {
    assertInvariant(CorpusQueries.sourceInterleave)
  }

  test("m52 curriculum shards: prefix-sum shard bounds identical across partitionings") {
    assertInvariant(CorpusQueries.curriculumShards)
  }

  test("m82 span scrub: rewritten text identical across partitionings") {
    // The cut lists pass through collect_list (order partition-dependent)
    // before sort_array normalizes them; the rewrite must not leak that.
    assertInvariant(CorpusQueries.spanScrub)
  }

  // The dedup tier's capped collections (CappedCollect, bucketCap) keep
  // MEMBERSHIP deterministic while their internal order is partition-
  // dependent — these three assert that no consumer ever leaks that
  // internal order into results.
  test("m05 minhash candidate pairs identical across partitionings") {
    // the DIRECT chain — the asset-backed query would reuse the first
    // partitioning's stored build and make the check vacuous
    assertInvariant((s, d) => graft.dedup.MinHashLSH.verifiedPairs(
      CorpusQueries.augmentedDocs(s, d)))
  }

  test("m14 inverted-index jaccard pairs identical across partitionings") {
    assertInvariant((s, d) => graft.dedup.NgramJaccard.invertedIndexPairs(
      CorpusQueries.augmentedDocs(s, d), threshold = 0.6, dfCap = 50))
  }

  test("m113 containment pairs identical across partitionings") {
    // same capped-posting membership discipline as m14, asymmetric scores
    assertInvariant(CorpusQueries.containmentPairs)
  }

  test("m140 HLL card bit-identical across partitionings (exact dyadic register sums)") {
    // the design claim made executable: Σ2^-rho is a sum of dyadics
    // ≥ 2^-37 bounded by 2^12 — EXACT in a double in any order — so the
    // estimate (and even the linear-counting branch choice) cannot move
    // with partitioning; registers are max-merged (commutative)
    assertInvariant(CorpusQueries.hllCardinality)
  }

  test("m139 WordPiece token counts bit-identical across partitionings") {
    assertInvariant(CorpusQueries.wordPieceTokenStats)
  }

  test("m143 WordPiece fertility bit-identical across partitionings") {
    // long sums + one division of exact integers per source
    assertInvariant(CorpusQueries.wordPieceFertility)
  }

  test("m141 Luhn card counts bit-identical across partitionings") {
    assertInvariant(CorpusQueries.ccLuhn)
  }

  test("m17 dedup cluster labels identical across partitionings") {
    assertInvariant((s, d) => graft.dedup.DedupClusters.components(
      graft.dedup.NgramJaccard.invertedIndexPairs(
        CorpusQueries.augmentedDocs(s, d), threshold = 0.6, dfCap = 50)
        .select("doc_a", "doc_b")))
  }

  // Order-sensitive joins and windows: a missing tie-break here would
  // flip WHICH row wins between partitionings, not just row order.
  test("q37 as-of join: latest-order pick identical across partitionings") {
    assertInvariant(RetailQueries.asofLastOrder)
  }

  test("q38 sessionize: session ids and bounds identical across partitionings") {
    assertInvariant(RetailQueries.sessionizeBatch)
  }

  test("q41 range window: frame aggregates identical across partitionings") {
    assertInvariant(RetailQueries.rangeWindow)
  }

  test("q42 range join: band assignment identical across partitionings") {
    assertInvariant(RetailQueries.rangeJoinBands)
  }

  test("m80 salted join: salting invisible across partitionings") {
    assertInvariant(CorpusQueries.saltedEventJoin)
  }

  test("m83 quality classifier: trained weights AND scores identical across partitionings") {
    // The md5-ordered bounded sample + ascending-doc_id driver fold make
    // the weights bit-identical under any input split; the scoring pass
    // is then a pure projection of plan literals. DIRECT un-memoized
    // trainScore (the m05/m85 convention): the query now reads the
    // per-corpus qcModel memo, which would reuse the first
    // partitioning's weights and make this check vacuous.
    assertInvariant((s, d) =>
      graft.text.QualityClassifier.trainScore(graft.Tables.documents(s, d)))
  }

  test("m85 LSH recall audit: banded recall report identical across partitionings") {
    // direct truth + detect chains (the asset-backed query would reuse
    // the first partitioning's stored build)
    assertInvariant((s, d) => CorpusQueries.lshRecallAuditOver(
      CorpusQueries.augmentedDocs(s, d)))
  }

  test("m87 stratified split: exact per-source assignment identical across partitionings") {
    assertInvariant(CorpusQueries.stratifiedSplit)
  }

  test("m88 token coverage: counts, ranks and CDF identical across partitionings") {
    assertInvariant(CorpusQueries.tokenCoverage)
  }

  test("m89 perplexity buckets: tercile assignment identical across partitionings") {
    // the DIRECT chain — the served query reads the stored asset, which
    // would reuse the first partitioning's build and go vacuous
    assertInvariant(CorpusQueries.pplBucketsDirect)
  }

  test("m90 span decontamination: rewritten text identical across partitionings") {
    assertInvariant(CorpusQueries.decontaminateSpans)
  }

  test("m91 Gopher rules: rule bits identical across partitionings") {
    assertInvariant(CorpusQueries.gopherRules)
  }

  test("m92 line-level Gopher rules: fractions and bits identical across partitionings") {
    assertInvariant(CorpusQueries.gopherLineRules)
  }

  test("m93 repetition rules: integer-sum fractions identical across partitionings") {
    assertInvariant(CorpusQueries.repetitionRules)
  }

  test("m94 C4 rules: kept lines and page gate identical across partitionings") {
    assertInvariant(CorpusQueries.c4Rules)
  }

  test("m110 temperature mix: source-sorted denominator fold identical across partitionings") {
    // Σ n^α is a double sum — folded over the source-sorted collected
    // list, so partition order can never re-associate it
    assertInvariant(CorpusQueries.alphaMixWeights)
  }

  test("m114 priority sample: winners, tau and estimates identical across partitionings") {
    // priorities are pure row functions; the top-(k+1) selection has a
    // total (priority DESC, doc_id) order, so the winning SET and the
    // runner-up threshold can't depend on which partition held a row
    assertInvariant(CorpusQueries.prioritySample)
  }

  test("m115 Neyman allocation: exact decimal sums identical across partitionings") {
    // Σx and Σx² are decimal aggregates — integer-exact under any merge
    // order; the double projection then starts from identical sums
    assertInvariant(CorpusQueries.neymanAlloc)
  }

  test("m117 DoReMi weights: quantized domain pools identical across partitionings") {
    // per-doc cross-entropy is map-side deterministic (a doc's grams
    // never leave its partition), quantized to a LONG before the
    // cross-partition domain sum; the MW normalizer folds over the
    // domain-sorted K-row list
    assertInvariant(CorpusQueries.doremiWeights)
  }

  test("m129 clean holdout: exact window counts and verdicts identical across partitionings") {
    assertInvariant(CorpusQueries.cleanHoldout)
  }

  test("m132 source quantiles: nearest-rank selections identical across partitionings") {
    // the (n_tokens, doc_id) order is total, ranks are exact ints, the
    // target-rank arithmetic is a pure function of (q, n)
    assertInvariant(CorpusQueries.sourceTokenQuantiles)
  }

  test("m131 edit similarity: exact integer distances identical across partitionings") {
    // levenshtein and the prefix lengths are exact ints; the one ratio
    // is a fixed-order function of them
    assertInvariant(CorpusQueries.editSimilarityPairs)
  }

  test("m134 ranged stratified split: grouped ranks identical across partitionings") {
    // the rank is a pure function of the (source, md5, doc_id) total
    // order — range bounds and partition count only move WHERE the
    // prefix offsets cut, never what any row's offset+position sums to
    assertInvariant(CorpusQueries.stratifiedSplitRanged)
  }

  test("m135 unigram tokens: Viterbi counts identical across partitionings") {
    // the model memo would mask a sensitivity — train directly per
    // partitioning: word table collected in (count desc, word asc)
    // order, EM folds sorted words, Viterbi is per-word pure
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val m2 = graft.text.UnigramLm.train(docs.repartition(2), vocabSize = 60, emIters = 2)
    val m13 = graft.text.UnigramLm.train(docs.repartition(13), vocabSize = 60, emIters = 2)
    m13.pieces shouldBe m2.pieces
    rows(graft.text.UnigramLm.tokenStats(docs.repartition(13), m2)) shouldBe
      rows(graft.text.UnigramLm.tokenStats(docs.coalesce(1), m2))
  }

  test("m133 maximal repeats: span extents identical across partitionings") {
    // fingerprints are pure per-row functions, distinct-doc counts exact,
    // and the gaps-and-islands grouping is a pure function of each doc's
    // flagged-position SET — task order cannot move a span boundary
    assertInvariant(CorpusQueries.maximalRepeats)
  }

  test("m130 LSH bucket drops: exact bucket counts identical across partitionings") {
    // signatures are pure per-row functions; bucket sizes and the cap
    // comparisons are exact longs — partition layout cannot move them
    assertInvariant(CorpusQueries.lshBucketDrops)
  }

  test("m127 KS drift: integer-rank ECDFs identical across partitionings") {
    // global rank from the range-partitioned prefix sum, per-source rank
    // from a tie-free window — both pure functions of the total order
    assertInvariant(CorpusQueries.ksDrift)
  }

  test("m126 benchmark leakage: exact distinct-gram counts identical across partitionings") {
    assertInvariant(CorpusQueries.benchmarkLeakage)
  }

  test("m125 unseen mass: exact hapax/token counts identical across partitionings") {
    assertInvariant(CorpusQueries.unseenMass)
  }

  test("m123 token burstiness: exact counts and string-tie-broken top-100 identical across partitionings") {
    assertInvariant(CorpusQueries.tokenBurstiness)
  }

  test("m121 quality percentiles: integer-keyed tie-free ranks identical across partitionings") {
    // the window key is (floor(q·1e6) as long, doc_id) — a total integer
    // order no partitioning can perturb
    assertInvariant(CorpusQueries.qualityPercentiles)
  }

  test("m120 image near-dups: decode-derived pair set identical across partitionings") {
    // the dHash is a pure per-row function of the PNG bytes; chunk
    // buckets stay far under the cap at fixture scale, and the verified
    // pair set is distinct()-canonical — a pure function of the corpus
    assertInvariant(CorpusQueries.imageNearDups)
  }

  test("m118 Dawid-Skene fusion: confusion counts exact, posteriors identical across partitionings") {
    // every prior/confusion statistic is an exact long count; the
    // posterior is a fixed-operand-order product per doc
    assertInvariant(CorpusQueries.dawidSkene)
  }

  test("m116 bounded KL drift: rank-sorted fold identical across partitionings") {
    // every count is an exact long; the vocabulary tie-breaks on the
    // token string; the only double sum folds over the rank-sorted
    // bounded bucket array, so merge order can never re-associate it
    assertInvariant(CorpusQueries.boundedKlDrift)
  }

  test("m111 heavy grams: thresholded set identical across partitionings (sketch unobservable)") {
    // per-partition MG summaries differ with the partitioning, but the
    // merged summary's superset guarantee + the exact recount make the
    // OUTPUT a pure function of the corpus
    assertInvariant(CorpusQueries.heavyGrams)
  }

  test("m109 union repetition rules: per-doc interval sweep identical across partitionings") {
    // the whole computation is a pure function of one document's tokens —
    // partitioning can only change which task runs it, never the result
    assertInvariant(CorpusQueries.repetitionRulesUnion)
  }

  test("m95 DSIR weights: bucket-sorted fold and exact percentile identical across partitionings") {
    // the per-doc logw folds (bucket, n·λ) structs in bucket-sorted order —
    // a plain double-sum would re-associate with partitioning; the
    // selection threshold is an exact interpolated percentile, which a
    // partitioning-dependent logw would silently shift
    assertInvariant(CorpusQueries.dsirWeights)
  }

  test("m96 keep-first line dedup: first-occurrence race identical across partitionings") {
    // the winner of each line-hash race is min(struct(doc_id, line_no)) —
    // task scheduling order must never decide which copy survives
    assertInvariant(CorpusQueries.keepFirstLineDedup)
  }

  test("m97 keep-first spans: window-race winners identical across partitionings") {
    // same min(struct) discipline as m96, at repeated-window granularity
    assertInvariant(CorpusQueries.keepFirstSpans)
  }

  test("m98 calibration: quantized-integer bin sums identical across partitionings") {
    // per-doc p is quantized to an integer ONCE; Σq per bin is then a
    // bigint sum that partial aggregation cannot re-associate
    assertInvariant(CorpusQueries.calibration)
  }

  test("m99 LSH precision audit: banded candidate verification identical across partitionings") {
    // direct chain — the asset-backed query would reuse the first
    // partitioning's stored candidate build and make the check vacuous
    assertInvariant((s, d) => CorpusQueries.lshPrecisionAuditOver(
      CorpusQueries.augmentedDocs(s, d)))
  }

  test("m100 UniMax: waterline and allocations identical across partitionings") {
    // the prefix walk runs in the (capacity, source) total order inside
    // one source-count-sized window frame
    assertInvariant(CorpusQueries.unimaxMix)
  }

  test("m101 gate agreement: marginals and kappa identical across partitionings") {
    // all three gates are individually invariant (m83 weights, m89
    // terciles); the pair marginals are then integer sums
    assertInvariant(CorpusQueries.gateAgreement)
  }

  test("m102 JL projection: literal-matrix folds identical across partitionings") {
    assertInvariant(CorpusQueries.jlNormCard)
  }

  test("m103 BM25: quantized per-term partials sum order-free; ranks tie-broken") {
    // each term partial floors to an integer BEFORE the per-(query, doc)
    // sum, so partial aggregation cannot re-associate doubles; the top-k
    // window orders by (score_q6, doc_id) — a total order
    assertInvariant(CorpusQueries.bm25TopK)
  }

  test("m104 RRF fusion: integer contributions and doc_id ties identical across partitionings") {
    assertInvariant(CorpusQueries.rrfHybrid)
  }

  test("m105 novelty curve: prefix-sum buckets and first-doc races identical across partitionings") {
    // the ingestion rank is the range-partitioned prefix sum (task-order
    // free) and the gram's first doc is min(doc_id), not first-seen
    assertInvariant(CorpusQueries.noveltyCurve)
  }

  test("m108 readability: per-doc projection identical across partitionings") {
    assertInvariant(CorpusQueries.readability)
  }

  test("m137 langid: trained scores identical across partitionings (direct train per run)") {
    // train directly per partitioning (the memo would mask a
    // sensitivity — the m135 discipline): exact fixed-point gradients
    // make the weights partition-invariant, scoring is integer-exact
    assertInvariant { (s, d) =>
      val model = graft.text.LangId.train(
        CorpusQueries.syntheticLangDocs(s, CorpusQueries.docOff(s, d)))
      graft.text.LangId.score(
        graft.Tables.documents(s, d).select("doc_id", "lang", "text")
          .unionByName(CorpusQueries.syntheticLangDocs(s, CorpusQueries.docOff(s, d))),
        model)
    }
  }

  test("m146 labeled trainer: weights partition-invariant on the EXTERNAL set (direct train per run)") {
    // the round-16 ask #7 contract: the production-shaped labeled set
    // (JSONL → reader → quarantine shed → 80% split) trains to
    // bit-identical quantized weights under any input partitioning —
    // scoring the holdout is then integer-exact by construction
    assertInvariant { (s, d) =>
      val off = CorpusQueries.labeledOff(s, d)
      val train = CorpusQueries.labeledSet(s, d)
        .filter(CorpusQueries.labeledTrainFilter(off))
      val a = graft.text.LangId.train(train, iters = 40)
      val b = graft.text.LangId.train(train.repartition(7), iters = 40)
      a.quantized.map(_.toSeq).toSeq shouldBe b.quantized.map(_.toSeq).toSeq
      a.classCounts.toSeq shouldBe b.classCounts.toSeq
      graft.text.LangId.score(
        CorpusQueries.labeledSet(s, d)
          .filter(!CorpusQueries.labeledTrainFilter(off)), a)
    }
  }

  test("m106/m107 dup mass: component closure and integer masses identical across partitionings") {
    // direct chain (the m99 discipline) — the asset-backed query would
    // reuse the first partitioning's stored cluster build
    def freshClusters(s: org.apache.spark.sql.SparkSession, d: String) =
      graft.dedup.DedupClusters.components(
        graft.dedup.NgramJaccard.invertedIndexPairs(
          CorpusQueries.augmentedDocs(s, d)).select("doc_a", "doc_b"))
    assertInvariant((s, d) => graft.dedup.DupStats.familyHistogram(
      CorpusQueries.augmentedDocs(s, d), freshClusters(s, d)))
    assertInvariant((s, d) => graft.dedup.DupStats.sourceDupMass(
      CorpusQueries.mirroredAugmentedDocs(s, d), freshClusters(s, d)))
  }

  test("m154 KMV union card: k-way fold identical across partitionings (sketch = pure function of the set)") {
    assertInvariant((s, d) => CorpusQueries.kmvCorpusUnionCard(s, d))
  }
}
