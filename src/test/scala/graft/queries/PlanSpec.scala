package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical-plan assertions — the 100 TB contract. These pin the properties
  * that make the queries survive a 1000-executor cluster: pushdown reaching
  * the scan, pruned read schemas, broadcast dims, true top-k operators,
  * and partial (map-side) aggregation before every exchange. A regression
  * here doesn't fail correctness at sf0.01 — it fails the fleet at scale —
  * so it must be caught by plan shape, not by timing. */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val dir = sf("sf0.001")
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("q01: predicate and projection reach the parquet scan") {
    val p = plan(RetailQueries.scanProject(spark, dir))
    p should include("PushedFilters: [IsNotNull(value), GreaterThan(value,50.0)]")
    p should include("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string,value:double>")
  }

  test("q27: wide agg reads only the 6 needed lineitem columns and pushes the date filter") {
    val p = plan(Analytics.pricingSummary(spark, dir))
    p should include("LessThanOrEqual(l_shipdate")
    p should include("partial_sum") // map-side combine before the exchange
    (p should not).include("l_orderkey") // pruned
  }

  test("q29: lineitem pre-aggregates below the join; exactly two shuffles; dims broadcast") {
    val p = plan(Analytics.regionRevenue(spark, dir))
    // The 100×-scale contract: the ONLY lineitem-derived exchange is the
    // per-orderkey partial aggregate's (orders-cardinality rows move, not
    // lineitem-cardinality), plus the final (r_name, n_name) group-by.
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 2
    "Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size shouldBe 1
    // pre-agg sits BELOW its exchange (partial on the scan side)
    val ex = p.indexOf("Exchange hashpartitioning(l_orderkey")
    p.indexOf("partial_sum(cast((l_extendedprice", ex) should be > ex
    // every dim joins broadcast; nothing degrades to SMJ or cartesian
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
    // lineitem scan reads only the 3 needed columns
    p should include(
      "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>")
  }

  test("q32: stats agg is one exchange with partial object-hash aggregation on a 2-column scan") {
    val p = plan(RetailQueries.statsAgg(spark, dir))
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    // map-side partials for every aggregate, including the percentile
    // buffer — the exchange carries group-count rows, not the table
    p should include("partial_sum")
    p should include("partial_percentile")
    p should include("ReadSchema: struct<o_totalprice:double,o_orderpriority:string>")
  }

  test("q28: dim side broadcasts; top-k plans as TakeOrderedAndProject, not a global sort") {
    val df = Analytics.topOrdersByRevenue(spark, dir)
    df.collect() // materialize so AQE finalizes join strategies
    val p = df.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should include("TakeOrderedAndProject")
    (p should not).include("GlobalLimit") // would imply sort+limit instead
  }

  test("q11: grouped top-k also plans as TakeOrderedAndProject") {
    plan(RetailQueries.topUsersByRevenue(spark, dir)) should
      include("TakeOrderedAndProject")
  }

  test("q08: star join broadcasts the customer dim") {
    val df = RetailQueries.funnelBySegment(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  test("q07: exact count-distinct plans two-phase (no naive single Expand shuffle of all rows)") {
    val p = plan(RetailQueries.dailyRevenue(spark, dir))
    p should include("partial_count(distinct")
    p should include("merge_sum")
  }

  test("whole-stage codegen covers the scan->filter->project hot path") {
    val p = plan(RetailQueries.scanProject(spark, dir))
    p should include("*(1)") // codegen stage marker
  }

  test("minhash/lsh pipeline shuffles signatures, never document text") {
    val pairs = graft.dedup.MinHashLSH.candidatePairs(
      graft.Tables.documents(spark, dir))
    val exchanges = pairs.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m18/m28: end-to-end corpus pipeline exchanges never carry document text") {
    // The production (pinned) call runs as several physical plans — the
    // gate and deduped pins and the clustering rounds' pins
    // (localCheckpoint) plus the final collect — and the assertions cover
    // every one the listener captured. After AQE finalizes, every
    // exchange must carry fingerprints, gram hashes, posting ids or pair
    // ids — document bodies move only inside a stage, never across one.
    // The id-only winner/non-canonical sides must broadcast back
    // (semi/anti), not drag the corpus into a shuffle.
    val docs = graft.Tables.documents(spark, dir)
    for (prep <- Seq[DataFrame => DataFrame](
      graft.pipeline.CorpusPipeline.prepare(_),
      graft.pipeline.CorpusPipeline.prepareV2(_))) {
      val plans = capturedPlans(prep(docs).collect())
      plans.map(_._1) should contain allOf ("localCheckpoint", "collect")
      for ((_, p) <- plans) {
        val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
        (exchanges should not).include("text#")
        (p should not).include("CartesianProduct")
      }
    }
  }

  test("m82: span-scrub rewrite exchanges carry cut lists, never text; no cartesian") {
    // The corpus joins repetition-mass-bounded (doc_id, cut_idx) lists —
    // that side must broadcast (or at worst exchange ids); document text
    // must never appear in a shuffle, and nothing may degrade to a
    // cartesian product.
    val df = CorpusQueries.spanScrub(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (p should not).include("CartesianProduct")
  }

  test("minhash signature generation itself plans with zero exchanges") {
    val sigs = graft.dedup.MinHashLSH.signatures(
      graft.Tables.documents(spark, dir))
    plan(sigs) should not include "Exchange"
  }

  test("q38: sessionization windows and aggregation share ONE user_id exchange") {
    // HashPartitioning(user_id) from the window satisfies the groupBy's
    // (user_id, session_idx) clustering — a second exchange would mean the
    // sessionize pipeline reshuffles every event twice at scale.
    val p = plan(RetailQueries.sessionizeBatch(spark, dir))
    p.linesIterator.count(_.contains("Exchange hashpartitioning")) shouldBe 1
  }

  test("q37: as-of join plans one exchange per side plus the merge sort, no range cross-join") {
    val p = plan(RetailQueries.asofLastOrder(spark, dir))
    (p should not).include("CartesianProduct")
    (p should not).include("BroadcastNestedLoopJoin")
    p should include("Window")
  }

  test("m35: corpus report is ONE partial-aggregated exchange over pruned columns") {
    val p = plan(CorpusQueries.corpusReport(spark, dir))
    "Exchange".r.findAllIn(p).size shouldBe 1
    p.toLowerCase should include("partial") // map-side combine before it
    p should include("ReadSchema: struct<text:string,source:string>")
  }

  test("m34: temperature mix ranks via the ranged pass; the targets join broadcasts") {
    val df = CorpusQueries.temperatureMix(spark, dir)
    df.collect() // let AQE finalize strategies
    val p = df.queryExecution.executedPlan.toString
    // round 16: the per-domain rank window is gone — ranks and group
    // counts both come out of the pinned GroupedRanks pass (the doc_id-
    // only scan now sits inside that pass's snapshot derivation)
    (p should not).include("Window")
    p should include("ExistingRDD")
    p should include("BroadcastHashJoin")
  }

  test("m42: repeated-window frequency pass partial-aggregates and never globally sorts") {
    val p = plan(CorpusQueries.repeatedWindows(spark, dir))
    p.toLowerCase should include("partial")
    (p should not).include("rangepartitioning") // no global sort anywhere
    (p should not).include("CartesianProduct")
  }

  test("m58: PMI marginals broadcast; the only hash exchange carries grams, not text") {
    val df = CorpusQueries.pmiCollocations(spark, dir)
    df.collect() // let AQE finalize strategies
    val p = df.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    // no single-partition window anywhere in the plan
    (p should not).include("Window [")
  }

  test("m59: SQ8 bounds join broadcasts; vectors never shuffle to be encoded") {
    val df = CorpusQueries.sq8Quantize(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    // the only exchange is the 64-row per-dim bounds aggregation
    (p should not).include("SortMergeJoin")
  }

  test("m64/m57: global rank rides the two-pass prefix sum — no empty-partitionBy window") {
    for (df <- Seq(CorpusQueries.systematicSample(spark, dir),
      CorpusQueries.corpusLaws(spark, dir))) {
      val p = df.queryExecution.executedPlan.toString
      // An empty partitionBy window would print "Window [..., [], [...]]" —
      // assert no WindowExec node exists at all.
      (p should not).include("Window [")
    }
  }

  test("m73: interleave ranks partition by source; the index and count joins broadcast") {
    val df = CorpusQueries.sourceInterleave(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("windowspecdefinition(source")
    p should include("BroadcastHashJoin")
  }

  test("m69: outlier stat tables broadcast back; token counting reads only text+source") {
    val df = CorpusQueries.lengthOutliers(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should include("ReadSchema: struct<text:string,source:string>")
  }

  // ---- m74-m80 (round 8) ----------------------------------------------

  test("m74: one-pass sweep — a single corpus scan serves every nprobe setting") {
    // The round-9 rework: probe cells are ranked once to max(nprobes) and
    // broadcast against the corpus, so the whole recall curve comes out of
    // ONE cell-equi-join scan — not one scan per sweep point. Pin that:
    // exactly one parquet read of the embeddings (the exact baseline is a
    // pinned checkpoint → ExistingRDD), the corpus-sized join is a
    // broadcast hash join, no cartesian product anywhere, and the report
    // aggregations combine map-side. The report tail (an exchange over
    // |settings| rows) is sweep-sized, not corpus-sized.
    val df = CorpusQueries.annTuningSweep(spark, dir)
    df.collect() // materialize so AQE finalizes join strategies
    // the executed-plan string appends the pre-AQE "Initial Plan" — count
    // scans in the final section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // two parquet reads total: the corpus ONCE, plus the bounded query-probe
    // scan with its vec_id < 10 filter pushed to the file scan
    "Scan parquet".r.findAllIn(p).size shouldBe 2
    "LessThan\\(vec_id,10\\)".r.findAllIn(p).size shouldBe 1
    p should include("BroadcastHashJoin")
    (p should not).include("CartesianProduct")
    p should include("partial_sum")
  }

  test("m75: yield funnel source-stat joins broadcast; counts partial-aggregate") {
    val df = CorpusQueries.pipelineYield(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should include("partial_count")
    (p should not).include("CartesianProduct")
  }

  test("m76: char entropy is one codegen'd projection — zero exchanges") {
    val p = plan(CorpusQueries.charEntropy(spark, dir))
    (p should not).include("Exchange")
    p should include("graft_char_profile")
    p should include("*(1)") // the custom expression stays inside codegen
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("m77: split-leak audit joins doc-keyed narrow tables — no window, no cartesian") {
    val df = CorpusQueries.packSplitLeaks(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    (p should not).include("CartesianProduct")
    (p should not).include("Window [") // prefix sums, not global windows
    p should include("partial_count")
  }

  test("m78: outlier centroid computes once (reused broadcast); vectors never shuffle") {
    val df = CorpusQueries.embedOutliers(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // All three stat frames ride 1-row broadcast nested loops; the corpus
    // scan itself must never hash-exchange or sort-merge.
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
    p should include("ReusedExchange") // the centroid broadcast, not a rebuild
    p should include("ReadSchema: struct<vec_id:bigint,embedding:array<float>>")
  }

  test("m79: fertility joins the source dim broadcast and partial-aggregates") {
    val df = CorpusQueries.tokenizerFertility(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("BroadcastHashJoin")
    p should include("partial_sum")
    (p should not).include("CartesianProduct")
  }

  test("m83: classifier scoring is one literal-weights projection — zero exchanges") {
    // Training collects its bounded sample at call time; what's left as
    // THE plan — the only pass that touches the corpus at 100 TB — must
    // be a pure projection: no exchange, no join, scan pruned to the two
    // columns the features need.
    val p = plan(CorpusQueries.qualityClassifier(spark, dir))
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("m84: stored-index probe scans the asset, never the raw embeddings") {
    val df = CorpusQueries.annStoredProbe(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the candidate scan reads the cell-clustered asset shards...
    p should include("annenc-")
    p should include("ReadSchema: struct<id:bigint,cell:int,codes:array<int>>")
    // ...and nothing degrades to a vector shuffle join
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
    (p should not).include("embeddings.parquet")
  }

  test("m86: ROC fan-out collapses map-side — one 9-group exchange, one scan") {
    val p = plan(CorpusQueries.classifierRoc(spark, dir))
    // the 9-way threshold explode partial-aggregates inside each
    // partition: the only exchange carries ≤ 9 rows per partition
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    p should include("partial_sum")
    p should include("Generate explode")
    // doc_id is pruned all the way out of the scan — the report reads text only
    p should include("ReadSchema: struct<text:string>")
  }

  test("m85: recall-audit exchanges carry pair ids and gram hashes, never text") {
    val df = CorpusQueries.lshRecallAudit(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (p should not).include("CartesianProduct")
  }

  test("m87: stratified split is ONE source exchange — rank and count share it") {
    // pre-execution plan string: one rendering (the collect()'d AQE form
    // prints Final + Initial subtrees and double-counts the exchange)
    val p = plan(CorpusQueries.stratifiedSplit(spark, dir))
    p should include("Window") // per-source rank window…
    (p should not).include("rangepartitioning") // …but never a global sort
    // the per-source size rides a frame-less window over the SAME
    // partitioning — no second corpus scan, no join at all
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    "FileScan parquet".r.findAllIn(p).size shouldBe 1
    (p should not).include("Join")
  }

  test("m88: token coverage's only corpus-sized exchange is the word partial agg") {
    val df = CorpusQueries.tokenCoverage(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // word-frequency aggregate partial-aggregates before its exchange;
    // every later stage (encode, token agg, CDF windows) is vocab-bounded
    p should include("partial_count")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m80: salted join actually joins on the salt column") {
    val df = CorpusQueries.saltedEventJoin(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    p should include("__salt") // the spreading key is in the join, not cosmetic
    p should include("Generate explode") // dim replicated across salts
    (p should not).include("CartesianProduct")
  }

  test("m89: rank and per-source count share ONE source exchange; no text in any exchange") {
    // the DIRECT build chain — the served query is a stored-asset scan
    // (the m14 convention); this pins the plan the asset BUILD pays
    val p = plan(CorpusQueries.pplBucketsDirect(spark, dir))
    // the tercile stage: rank window + frame-less count window stacked
    // over a single per-source exchange (the m73/m87 pattern) — a second
    // source exchange would mean the LM chain re-derived per window
    "Exchange hashpartitioning\\(source".r.findAllIn(p).size shouldBe 1
    // every exchange in the LM chain carries bigram/doc keys, never text
    val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (ex should not).include("text#")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin")
  }

  test("m90: span decontamination shuffles fingerprints and cut lists, never text") {
    val p = plan(CorpusQueries.decontaminateSpans(spark, dir))
    // benchmark fingerprints reach the corpus side as a broadcast
    // semi-join probe (the bounded set builds, the corpus streams)
    p should include("LeftSemi")
    val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (ex should not).include("text#")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin")
  }

  test("m91: single-line Gopher card is one codegen'd projection — zero exchanges") {
    val p = plan(CorpusQueries.gopherRules(spark, dir))
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("m92: line-level Gopher card is one codegen'd projection — zero exchanges") {
    val p = plan(CorpusQueries.gopherLineRules(spark, dir))
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("m93: compiled repetition card is one shuffle-free per-doc pass — zero exchanges") {
    val p = plan(CorpusQueries.repetitionRules(spark, dir))
    // the production path is the compiled per-doc pass (every count is
    // within one document) — RepetitionDifferentialSpec pins it
    // bit-identical to the distributed reference form below
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("MapPartitions")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("m93 reference form: every exchange sits above a map-side partial aggregate, no string keys") {
    val p = plan(graft.text.TextOps.repetitionRules(
      graft.Tables.documents(spark, dir)))
    // three exchanges by construction — (doc,n,hash,len) counts (partial
    // count collapses a doc's duplicate grams BEFORE the shuffle, since
    // a doc's grams originate in one input row), then doc×n, then doc.
    // This distributed form is the fallback for unbounded documents the
    // per-doc compiled pass can't hold in one task's heap.
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 3
    p should include("partial_count")
    p should include("partial_max")
    (p should not).include("Join")
    (p should not).include("CartesianProduct")
    // the gram string is replaced by (xxhash64, length) in the creating
    // projection — the largest shuffle carries NO string column
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("gram#")
    (exchanges should not).include("text#")
  }

  test("m109: union repetition card is one shuffle-free per-doc pass — zero exchanges, zero joins") {
    val p = plan(CorpusQueries.repetitionRulesUnion(spark, dir))
    // tokenization stays in the Catalyst projection; the interval sweep
    // is per-doc mapPartitions — nothing ever leaves its input partition
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("MapPartitions")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("m111: heavy-gram recount broadcasts the bounded candidate set; count partial-aggregates") {
    val df = CorpusQueries.heavyGrams(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the exact pass: candidates (≤ k rows) broadcast as a semi-join
    // below the single count exchange — the corpus never shuffles whole
    p should include("BroadcastHashJoin")
    p should include("LeftSemi")
    p should include("partial_count")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
  }

  test("m94: C4 rule card is one codegen'd projection — zero exchanges") {
    val p = plan(CorpusQueries.c4Rules(spark, dir))
    // line strike, rejoin, sentence count and page flags all live in one
    // whole-stage-codegen'd projection over the pruned two-column scan
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("m95: DSIR exchanges carry hashed buckets, never gram or document text") {
    // The production call lazily pins docBuckets and scored, so the
    // dataflow runs as the pins' localCheckpoint plans plus the final
    // collect; the assertions cover every plan the listener captured.
    val plans = capturedPlans(graft.text.Dsir.importanceWeights(
      CorpusQueries.withSyntheticDomain(graft.Tables.documents(spark, dir)),
      isTarget = org.apache.spark.sql.functions.col("doc_id") % 10 < 2)
      .collect())
    plans.map(_._1) should contain allOf ("localCheckpoint", "collect")
    // grams are hashed in the projection that creates them, so every
    // exchange in the chain carries (doc_id, bucket, count) partials; the
    // λ table and the percentile threshold come back as broadcasts
    for ((_, p) <- plans) {
      val ex = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
      (ex should not).include("text#")
      (ex should not).include("gram#")
      (p should not).include("CartesianProduct")
      (p should not).include("SortMergeJoin")
    }
    plans.map(_._2).mkString("\n") should include("partial_count")
  }

  test("m96: keep-first race partial-aggregates before its exchange; no corpus window") {
    val p = plan(CorpusQueries.keepFirstLineDedup(spark, dir))
    // the first-occurrence table is min(struct) with a map-side partial —
    // a window over (line-hash) would sort the whole exploded corpus in
    // one pass instead
    p should include("partial_min")
    (p should not).include("Window")
    (p should not).include("CartesianProduct")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("m97: keep-first span race shuffles fingerprints, never text; winner agg partial-aggregates") {
    val df = CorpusQueries.keepFirstSpans(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // m82's exchange discipline (cut lists and fingerprints only) plus
    // the winner min(struct) collapsing map-side before its exchange
    p should include("partial_min")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (p should not).include("CartesianProduct")
  }

  test("m98: calibration is one scoring projection + a 10-row aggregate — no text in exchanges") {
    val p = plan(CorpusQueries.calibration(spark, dir))
    // weights are plan literals; only (bin, label, q) partials shuffle,
    // and the ECE total joins back as a broadcast scalar
    p should include("partial_count")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin")
  }

  test("m99: precision audit exchanges carry pair ids and shingle hashes, never text") {
    val p = plan(CorpusQueries.lshPrecisionAudit(spark, dir))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (p should not).include("CartesianProduct")
  }

  test("m100: UniMax's only corpus-sized stage is the token aggregate; the waterfill is source-bounded") {
    val p = plan(CorpusQueries.unimaxMix(spark, dir))
    // the corpus-sized token aggregate runs ONCE, at the eager pin inside
    // allocateFrac — the returned plan reads the source-count-sized
    // snapshot (four references, zero parquet re-scans) and every later
    // stage is source-bounded
    (p should not).include("FileScan parquet")
    p should include("ExistingRDD")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin")
  }

  test("m115: Neyman allocation partial-aggregates per stratum; the denominator broadcasts") {
    val p = plan(CorpusQueries.neymanAlloc(spark, dir))
    // one corpus-sized exchange (the per-stratum (count, Σx, Σx²) partial
    // aggregate); the 1-row denominator broadcasts back onto strata rows
    p should include("partial_count")
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m116: bounded KL drift tokenizes the corpus once; everything after the pin is vocab-bounded") {
    val p = plan(CorpusQueries.boundedKlDrift(spark, dir))
    // the corpus-sized (source, token) aggregate is eagerly pinned — the
    // returned plan reads snapshots, never re-scans the parquet text
    (p should not).include("FileScan parquet")
    p should include("ExistingRDD")
    // the vocabulary is a true top-V (bounded heaps), broadcast back
    p should include("TakeOrderedAndProject(limit=256")
    p should include("BroadcastHashJoin")
    // 1-row totals ride broadcasts; no corpus-sized join anywhere
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m117: domain pools partial-aggregate exact longs; the MW tail is K-bounded broadcasts") {
    val p = plan(CorpusQueries.doremiWeights(spark, dir))
    // the corpus-sized LM chain runs ONCE, at the eager pin of the
    // K-row domain pool — the returned plan reads the snapshot (four
    // consumers: totals, excess, MW normalizer, final card) and never
    // re-scans parquet text
    (p should not).include("FileScan parquet")
    p should include("ExistingRDD")
    // totals and the MW normalizer ride 1-row broadcasts back
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
    // exchanges carry grams/ids/partials, never document text
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m118: the gate chain runs once at the votes pin; fusion is one 1-row stats broadcast") {
    val p = plan(CorpusQueries.dawidSkene(spark, dir))
    // the returned plan reads the pinned votes snapshot — the LM/
    // classifier chains never re-derive
    (p should not).include("FileScan parquet")
    p should include("ExistingRDD")
    // exactly one exchange: the global confusion-count aggregate (exact
    // longs, map-side partials), broadcast back onto the votes
    p should include("Exchange SinglePartition")
    p should include("partial_count")
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m119: vectors explode once at the summary pin; drift math is dim-bounded folds") {
    val p = plan(CorpusQueries.centroidDrift(spark, dir))
    // the (label, pos) sum/count summary is pinned — group and corpus
    // centroids both derive from the snapshot, never re-exploding vectors
    (p should not).include("FileScan parquet")
    p should include("ExistingRDD")
    // the dim-row corpus centroid broadcasts back onto the group rows
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("embedding#")
  }

  test("m120: media bytes never shuffle — exchanges carry (chunk, id, sig) longs only") {
    val p = plan(CorpusQueries.imageNearDups(spark, dir))
    // the PNG encode + decode + dHash all happen inside mapPartitions on
    // the scan side; the only exchange is the chunk-bucket build whose
    // capped buffers hold (id, sig) pairs — never image bytes or text
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (exchanges should not).include("media#")
  }

  test("m121: percentiles ride the ranged rank pass — no per-source window, no text in exchanges") {
    val p = plan(CorpusQueries.qualityPercentiles(spark, dir))
    // round 16: the per-source percent_rank window (head-task cliff on
    // the zipf fixture) is replaced by the pinned GroupedRanks pass
    (p should not).include("Window")
    p should include("ExistingRDD")
    (p should not).include("SortMergeJoin")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m122: centroids broadcast; the pinned dot table feeds own and best-other without re-explode") {
    val p = plan(CorpusQueries.labelNoiseMargins(spark, dir))
    // the (id, candidate-label) cosine table is pinned — own-margin and
    // best-other branches read the snapshot, never re-exploding vectors.
    // (The final own⋈best join is corpus-sized on BOTH sides, so its
    // join TYPE is legitimately a shuffle join and is not pinned.)
    (p should not).include("FileScan parquet")
    p should include("ExistingRDD")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("embedding#")
  }

  test("m123: burstiness is two partial-agg exchanges and a true top-100; no text in exchanges") {
    val p = plan(CorpusQueries.tokenBurstiness(spark, dir))
    p should include("partial_count")
    p should include("TakeOrderedAndProject(limit=100")
    p should include("BroadcastNestedLoopJoin") // the 1-row n_docs card
    (p should not).include("SortMergeJoin")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m126: the benchmark gram map broadcasts; exchanges carry gram hashes, never text") {
    val p = plan(CorpusQueries.benchmarkLeakage(spark, dir))
    p should include("BroadcastHashJoin")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m127: the global ECDF comes from the prefix-sum snapshot, not a single-partition window") {
    val p = plan(CorpusQueries.ksDrift(spark, dir))
    // the ranked frame is the range-partitioned prefix-sum snapshot
    p should include("ExistingRDD")
    // exactly one Window spec: the per-source ranks (partitioned); a
    // global-ECDF window would be a partitionless sort-everything
    (p should not).include("Window [row_number() windowspecdefinition(key#")
    p should include("windowspecdefinition(source#")
    (p should not).include("SortMergeJoin")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m129: windows fingerprint once at the pin; exchanges carry fps and ids, never text") {
    val p = plan(CorpusQueries.cleanHoldout(spark, dir))
    // the window stream is pinned — df/shared/totals all read the
    // snapshot instead of re-fingerprinting the corpus three times
    (p should not).include("FileScan parquet")
    p should include("ExistingRDD")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m132: quantile card uses ranged rank selection — no percentile buffer, no per-group window task") {
    val p = plan(CorpusQueries.sourceTokenQuantiles(spark, dir))
    (p should not).include("percentile")
    // ranks come from the range-partitioned GroupedRanks pass (round 16):
    // the pinned ranged snapshot replaces the per-group window whose max
    // sort task tracked the head source linearly on the zipf fixture
    (p should not).include("Window")
    p should include("ExistingRDD")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m131: edit verify probes the pinned candidate/text snapshots; raw corpus text never shuffles") {
    val p = plan(CorpusQueries.editSimilarityPairs(spark, dir))
    // the stored candidate asset + the pinned 512-char prefix projection
    p should include("ExistingRDD")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m133: maximal repeats shuffle 16-byte fps and positions; window text never leaves its doc") {
    val p = plan(CorpusQueries.maximalRepeats(spark, dir))
    // the pinned window-fingerprint snapshot feeds both consumers
    p should include("ExistingRDD")
    // run coalescing is a DOC-PARTITIONED window over flagged positions
    p should include("Window")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (exchanges should not).include("wtext")
    // ONE corpus scan total (round-15 verdict): the short-span cap reads
    // n_tokens off the pinned window pass — no second tokenize of the
    // documents parquet anywhere in the plan, and no corpus-sized
    // join-back for lengths (the only join is the flagged-fp semi shape)
    (p should not).include("Scan parquet")
  }

  test("m137: langid scoring is one shuffle-free pass — model in the closure, zero exchanges") {
    val p = plan(CorpusQueries.langIdScore(spark, dir))
    // scan ∪ planted local block → compiled scoring map: nothing
    // corpus-sized moves, no join, no aggregation anywhere
    (p should not).include("Exchange")
    (p should not).include("Join")
    // only (doc_id, lang, text) is read for the pass
    p should include("ReadSchema: struct<doc_id:bigint,text:string,lang:string>")
  }

  test("m134: ranged split plans no window exchange and no corpus sort — ranks come from the range pass") {
    val p = plan(CorpusQueries.stratifiedSplitRanged(spark, dir))
    (p should not).include("Window")
    // the ranked frame is the pinned range-partitioned snapshot
    p should include("ExistingRDD")
  }

  test("m135: unigram token accounting is one shuffle-free memoized map — zero exchanges") {
    val p = plan(CorpusQueries.unigramTokens(spark, dir))
    (p should not).include("Exchange")
  }

  test("m138: KN DIRECT build — exchanges carry gram keys and count partials, never text; scalars broadcast") {
    // the BUILD-shape pin (what asset:ngramcounts2 + a fresh-count run
    // pays); the served queries below scan the stored asset instead
    val docs = graft.Tables.documents(spark, dir)
    val p = plan(graft.text.KneserNey.scoreAgainst(docs,
      graft.text.NgramLm.bigramCounts(docs)))
    // every KN statistic is a re-aggregation of the bigram count table:
    // the corpus-sized exchanges carry (a, b) keys with map-side partial
    // counts, and the 1-row discount/vocab frame rides a broadcast —
    // document text never shuffles
    p should include("partial_count")
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m138/m142: served KN reads the STORED count asset — no second corpus count pass, no text in exchanges") {
    for (q <- Seq(CorpusQueries.kneserNeyPerplexity _,
                  CorpusQueries.modifiedKnPerplexity _)) {
      val p = plan(q(spark, dir))
      // the count table arrives as a parquet scan of the fingerprinted
      // asset (round-17 ask #2): one corpus scan (scoring) per query
      p should include("ngramcounts2")
      p should include("BroadcastNestedLoopJoin")
      (p should not).include("CartesianProduct")
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
      (exchanges should not).include("text#")
    }
  }

  test("m144/m145: served trigram KN reads the STORED order-3 count asset, never text in exchanges") {
    for (q <- Seq(CorpusQueries.trigramKnPerplexity _,
                  CorpusQueries.modifiedTrigramKnPerplexity _)) {
      val p = plan(q(spark, dir))
      p should include("ngramcounts3")
      p should include("BroadcastNestedLoopJoin")
      (p should not).include("CartesianProduct")
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
      (exchanges should not).include("text#")
    }
  }

  test("m144: trigram-KN DIRECT build — exchanges carry gram keys and count partials, never text") {
    val docs = graft.Tables.documents(spark, dir)
    val p = plan(graft.text.KneserNey.trigramScoreAgainst(docs,
      graft.text.KneserNey.trigramCounts(docs)))
    p should include("partial_count")
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m139: WordPiece token accounting is one shuffle-free memoized map — zero exchanges") {
    val p = plan(CorpusQueries.wordPieceTokenStats(spark, dir))
    (p should not).include("Exchange")
  }

  test("m143: WordPiece fertility is one partial-agg source exchange over the shuffle-free encode") {
    val p = plan(CorpusQueries.wordPieceFertility(spark, dir))
    p should include("partial_count")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m140: HLL exchanges carry (source, bucket, rho) and hash longs — never gram text") {
    val p = plan(CorpusQueries.hllCardinality(spark, dir))
    // shingling and hashing are map-side; the register exchange is
    // bounded by sources × 4096 integer rows (max partial-aggregates),
    // and the exact side two-phase-distincts over the 8-byte hash
    p should include("partial_max")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("gram#")
    (exchanges should not).include("text#")
  }

  test("m148: the HLL union card never exchanges text; the merge is a bucket-max re-aggregation") {
    val p = plan(CorpusQueries.hllUnionCard(spark, dir))
    p should include("partial_max")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("gram#")
    (exchanges should not).include("text#")
  }

  test("m149: CMS counter exchange carries (source, r, bucket, partial sum); no text, no cartesian") {
    val p = plan(CorpusQueries.cmsFrequencyCard(spark, dir))
    // counters partial-aggregate map-side (bounded at groups × d × w);
    // the exact top-20 side is the certificate and the only place gram
    // strings aggregate — text itself never reaches an exchange
    p should include("partial_sum")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m155: production frequency card — counter exchange bounded, no corpus text in any exchange") {
    val p = plan(CorpusQueries.cmsFrequencyProduction(spark, dir))
    // same counter build as m149 (partial_sum map-side); the only gram
    // strings that reach an exchange are the single watch document's
    // distinct shingles (bounded by one doc, not the corpus)
    p should include("partial_sum")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m156: production prune policy is map-side — NO gram or text in any exchange, no join at all") {
    // the sketch rides a collected 4×1024 array literal, so the
    // RETURNED plan is: pinned (doc, gram) scan → projection → scalar
    // partial-agg fold. A gram-keyed exchange here would mean the df
    // aggregate crept back in — the exact thing this mode drops.
    val p = plan(CorpusQueries.cmsPruneProduction(spark, dir))
    (p should not).include("SortMergeJoin")
    (p should not).include("BroadcastHashJoin")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("gram#")
    (exchanges should not).include("text#")
  }

  test("m150: histogram sketch exchanges carry integer buckets/values only; range rides a broadcast") {
    val p = plan(CorpusQueries.histogramQuantileCard(spark, dir))
    p should include("partial_count")
    p should include("BroadcastNestedLoopJoin") // the 1-row range frame
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m141: Luhn card detection is a zero-exchange codegen'd projection — no UDF") {
    val p = plan(CorpusQueries.ccLuhn(spark, dir))
    (p should not).include("Exchange")
    (p should not).include("BatchEvalPython")
    (p should not).include("ScalaUDF")
  }

  test("m130: drop card shuffles band-bucket COUNTS only — no id lists, no text, no join") {
    val p = plan(CorpusQueries.lshBucketDrops(spark, dir))
    // the only corpus-sized exchange carries (band, band_hash) partial
    // counts; the cap sweep is a generator over the bucket-size table
    (p should not).include("SortMergeJoin")
    (p should not).include("CappedCollect")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (exchanges should not).include("ids#")
  }

  test("m114: priority sample never sorts or shuffles the corpus — top-(k+1) heaps, then bounded rows") {
    val p = plan(CorpusQueries.prioritySample(spark, dir))
    // the k-highest selection is per-partition bounded heaps + driver
    // merge, NOT a global sort; τ broadcasts back onto the k winners
    p should include("TakeOrderedAndProject")
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m110: temperature mix's only corpus-sized stage is the token aggregate; the totals join broadcasts") {
    val p = plan(CorpusQueries.alphaMixWeights(spark, dir))
    // one corpus-sized exchange (the per-source token partial aggregate),
    // a 1-row totals aggregate broadcast back onto the k source rows
    p should include("partial_count")
    p should include("BroadcastNestedLoopJoin")
    (p should not).include("SortMergeJoin")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
  }

  test("m101: gate agreement exchanges carry gate bits and LM keys, never text") {
    val p = plan(CorpusQueries.gateAgreement(spark, dir))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (p should not).include("CartesianProduct")
  }

  test("m102: JL norm card is one codegen'd projection over the pruned scan — zero exchanges") {
    val p = plan(CorpusQueries.jlNormCard(spark, dir))
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("ReadSchema: struct<vec_id:bigint,embedding:array<float>>")
  }

  test("m103: BM25 prunes the token stream via broadcast BEFORE aggregating; no text in exchanges") {
    val p = plan(CorpusQueries.bm25TopK(spark, dir))
    // the query-term join must be broadcast (the small side by
    // construction) and sit below the tf partial aggregate — the only
    // corpus-sized exchange carries kept-term postings, map-side combined
    p should include("BroadcastHashJoin")
    p should include("partial_count")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    // corpus scan reads only the two needed columns
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("m112: stored BM25 probe scans the term-sorted postings asset, not the corpus text") {
    val df = CorpusQueries.bm25StoredProbe(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the scoring side reads the asset (postings + 1-row stats)...
    p should include("bm25post-")
    p should include("bm25stats-")
    // ...never re-tokenizes the corpus: no explode and no text column in
    // any exchange (the query-bag build still reads the 10 query docs)
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (p should not).include("SortMergeJoin")
    (p should not).include("CartesianProduct")
  }

  test("m113: containment pairs shuffle hashed shingles and id lists, never text") {
    val p = plan(CorpusQueries.containmentPairs(spark, dir))
    // the m14 kernel: a gram exchange builds the capped posting lists, a
    // doc exchange carries their id arrays to the per-doc count, and only
    // bound survivors and per-doc sizes reach the pair join
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (p should not).include("CartesianProduct")
    (p should not).include("SortMergeJoin")
  }

  test("m104: RRF fuses two already-top-k lists — the full-outer join is bounded, never corpus-sized") {
    val p = plan(CorpusQueries.rrfHybrid(spark, dir))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (p should not).include("CartesianProduct")
  }

  test("m105: novelty exchanges carry md5 keys and doc ids, never gram or document text") {
    val p = plan(CorpusQueries.noveltyCurve(spark, dir))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (exchanges should not).include("gram#")
    (p should not).include("CartesianProduct")
    // NOTE: no no-SMJ pin — the first-occurrence→decile join is
    // corpus-sized on both sides and at real scale legitimately plans as
    // a shuffle join; the contract is WHAT the exchanges carry (hash,
    // doc_id, bucket), not that they don't exist.
  }

  test("m108: readability card is one codegen'd projection — zero exchanges") {
    val p = plan(CorpusQueries.readability(spark, dir))
    (p should not).include("Exchange")
    (p should not).include("Join")
    p should include("ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("q45: legacy rollup broadcasts the part dim and the scalar modulus; one hash-agg exchange with partial combine") {
    val p = plan(LegacySql.legacyFactRollup(spark, dir))
    // the dim join and the |part| scalar frame must both broadcast —
    // the only hash exchange is the 7-key rollup's own
    p should include("BroadcastHashJoin")
    (p should not).include("SortMergeJoin")
    "Exchange hashpartitioning".r.findAllIn(p).size shouldBe 1
    p should include("partial_count")
  }

  test("m153: KMV card exchanges carry (source, hash) longs and k-bounded sketch arrays, never gram text") {
    val p = plan(CorpusQueries.kmvSourceOverlap(spark, dir))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (exchanges should not).include("gram#")
    p should include("ObjectHashAggregate") // the bounded kMin buffer plan
    (p should not).include("CartesianProduct")
  }

  test("m154: KMV union fold exchanges carry ≤ sources × k longs, never gram text") {
    val p = plan(CorpusQueries.kmvCorpusUnionCard(spark, dir))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    (exchanges should not).include("text#")
    (exchanges should not).include("gram#")
    p should include("ObjectHashAggregate") // the k-bounded fold buffer
    (p should not).include("CartesianProduct")
  }

  test("m106/m107: dup-mass reports read the stored cluster asset; exchanges carry ids and counts, never text") {
    for (q <- Seq(CorpusQueries.dupFamilyHistogram _, CorpusQueries.sourceDupMass _)) {
      val p = plan(q(spark, dir))
      // the component closure is NOT rebuilt — the report reads the
      // materialized asset (this is the 100 TB amortization contract)
      p should include("clusters")
      val exchanges = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
      (exchanges should not).include("text#")
      (p should not).include("CartesianProduct")
    }
  }
}
