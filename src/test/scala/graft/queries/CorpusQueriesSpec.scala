package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("tokenizerFertility: fertility >= 1, arithmetic consistent, more merges never raise it") {
    val rows = CorpusQueries.tokenizerFertilityRaw(spark, sf("sf0.001")).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val (words, bpe) = (r.getLong(2), r.getLong(3))
      bpe should be >= words                   // BPE never merges across words
      r.getDouble(4) shouldBe bpe.toDouble / words +- 1e-12
      r.getDouble(5) should be > 0.0
    }
    // a tokenizer with MORE merges tokenizes at most as many pieces
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val few = graft.text.Bpe.tokenStats(docs, graft.text.Bpe.train(docs, nMerges = 10))
      .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens")).collect()(0).getLong(0)
    val many = graft.text.Bpe.tokenStats(docs, graft.text.Bpe.train(docs, nMerges = 40))
      .agg(org.apache.spark.sql.functions.sum("n_bpe_tokens")).collect()(0).getLong(0)
    many should be <= few
  }

  test("fertility report: an all-whitespace source yields 0.0, never NaN (ADVICE r15)") {
    // One real source plus one whose docs are whitespace-only: the empty
    // source has zero words AND zero tokens, so both ratios hit 0/0 —
    // the guard must report 0.0 (NaN rows hash inconsistently in the
    // verify gate). Same helper serves m79 (BPE) and m136 (unigram).
    val docs = Seq(
      (1L, "the quick brown fox jumps over the dog", "real"),
      (2L, "a fine day for a walk in the park", "real"),
      (3L, "   ", "blank"),
      (4L, " ", "blank")).toDF("doc_id", "text", "source")
    val model = graft.text.UnigramLm.train(docs)
    val out = CorpusQueries.fertilityOver(
      graft.text.UnigramLm.tokenStats(docs, model), docs,
      tokCol = "n_uni_tokens", totalName = "total_uni_tokens")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))).toMap
    val (nBlank, wBlank, tBlank, fBlank, cBlank) = out("blank")
    (nBlank, wBlank, tBlank) shouldBe ((2L, 0L, 0L))
    fBlank shouldBe 0.0 // not NaN
    cBlank shouldBe 0.0
    val (_, wReal, tReal, fReal, _) = out("real")
    fReal shouldBe tReal.toDouble / wReal +- 1e-12
  }

  test("packSplitLeaks: naive packing demonstrably mixes splits; counts are consistent") {
    val rows = CorpusQueries.packSplitLeaks(spark, sf("sf0.001")).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val nSplits = r.getLong(2)
      nSplits should be >= 1L
      nSplits should be <= 3L
      r.getString(3).split(",").length.toLong shouldBe nSplits
      r.getBoolean(4) shouldBe (nSplits > 1)
    }
    // with 80/10/10 hashing and multi-doc sequences, SOME sequence leaks
    rows.count(_.getBoolean(4)) should be > 0
  }

  test("pipelineYield: funnel is monotone and the dedup stage visibly bites on planted copies") {
    val rows = CorpusQueries.pipelineYield(spark, sf("sf0.001")).collect()
    rows.length should be > 0
    rows.foreach { r =>
      val (raw, gated, uniq) = (r.getLong(1), r.getLong(2), r.getLong(3))
      raw should be >= gated
      gated should be >= uniq
      r.getDouble(4) shouldBe gated.toDouble / raw +- 1e-12
      r.getDouble(5) shouldBe uniq.toDouble / raw +- 1e-12
    }
    // the augmented corpus plants exact copies -> dedup must drop SOMETHING
    rows.map(r => r.getLong(2) - r.getLong(3)).sum should be > 0L
  }

  test("sourceInterleave: pos is injective and consecutive occupied positions rotate sources") {
    val out = CorpusQueries.sourceInterleave(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    out.length should be > 0
    out.map(_._5).distinct.length shouldBe out.length        // injective pos
    val nS = out.map(_._4).max + 1
    out.foreach { case (_, _, rk, idx, pos) => pos shouldBe rk * nS + idx }
    // within the first full rotation (all sources still populated), the
    // ordered positions cycle through distinct sources
    val firstRound = out.filter(_._3 == 0L).sortBy(_._5)
    firstRound.map(_._2).distinct.length shouldBe firstRound.length
  }

  test("lengthOutliersOver: a planted length freak flags, uniform sources don't") {
    // s1: 20 docs of 10 tokens + one of 500 -> med 10, MAD 0... make
    // lengths vary so MAD > 0: 10/12 alternating plus the freak.
    val s1 = (0L until 20L).map(i =>
      (i, Seq.fill(if (i % 2 == 0) 10 else 12)("w").mkString(" "), "s1"))
    val freak = Seq((99L, Seq.fill(500)("w").mkString(" "), "s1"))
    val s2 = (100L until 110L).map(i => (i, "a b c d e", "s2"))
    val rows = CorpusQueries.lengthOutliersOver(
        (s1 ++ freak ++ s2).toDF("doc_id", "text", "source"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(4), r.getDouble(5))).toMap
    rows("s1")._1 shouldBe 21L
    rows("s1")._2 shouldBe 1L          // exactly the freak
    rows("s2")._2 shouldBe 0L          // MAD 0 -> no outliers by contract
    rows("s2")._3 shouldBe 0.0 +- 1e-12
  }

  test("leakageSafeSplit: every duplicate family lands in one split, fractions roughly hold") {
    val out = CorpusQueries.leakageSafeSplit(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    out.length should be > 0
    // same group_key -> same split
    out.groupBy(_._2).foreach { case (_, members) =>
      members.map(_._3).distinct.length shouldBe 1
    }
    // clusters exist (planted dups), so some group keys repeat
    out.groupBy(_._2).count(_._2.length > 1) should be > 0
    val shares = out.groupBy(_._3).view.mapValues(_.length.toDouble / out.length)
    shares("train") shouldBe 0.8 +- 0.1
  }

  test("langConfusion: shares sum to 1 per language and cover every declared lang") {
    val rows = CorpusQueries.langConfusion(spark, sf("sf0.001")).collect()
    rows.length should be > 0
    val langs = rows.map(_.getString(0)).distinct
    langs should contain("en")
    langs.foreach { l =>
      val ofLang = rows.filter(_.getString(0) == l)
      ofLang.map(_.getDouble(4)).sum shouldBe 1.0 +- 1e-9
      ofLang.map(_.getLong(2)).sum shouldBe ofLang.head.getLong(3)
    }
    // since round 16 the card reads the TRAINED m137 classifier:
    // predictions range over its class list (plus 'unknown' for
    // gram-less docs), and the planted block pins ≥ 60 on-diagonal
    // docs per language
    val classes = graft.text.LangId.PlantedPhrases.map(_._1).toSet
    rows.map(_.getString(1)).distinct.toSet
      .subsetOf(classes + "unknown") shouldBe true
    classes.foreach { l =>
      rows.filter(r => r.getString(0) == l && r.getString(1) == l)
        .map(_.getLong(2)).sum should be >= 60L
    }
  }

  test("m152: CMS prune plan — one-sidedness certified (missed ≡ 0), superset prune, budget never above exact") {
    val d = sf("sf0.001")
    val row = CorpusQueries.cmsPrunePlan(spark, d).collect()
    row.length shouldBe 1
    val r = row.head
    val (nGrams, exactPruned, cmsPruned, falseP, missedP, pbExact, pbCms) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getLong(7))
    nGrams should be > 0L
    // the mathematical guarantee the card certifies: CMS est >= df
    // always, so a gram the exact rule prunes is ALWAYS sketch-pruned
    missedP shouldBe 0L
    cmsPruned shouldBe exactPruned + falseP
    // over-pruning only shrinks the admitted candidate budget
    pbCms should be <= pbExact
    // the decision does real work on this fixture: something prunes
    exactPruned should be > 0L
    // tau sensitivity: a huge tau prunes nothing and the budgets agree
    val loose = CorpusQueries.cmsPrunePlan(spark, d, tau = Long.MaxValue / 4).collect().head
    loose.getLong(2) shouldBe 0L
    loose.getLong(3) shouldBe 0L
    loose.getLong(6) shouldBe loose.getLong(7)
  }

  test("jsonStr escapes quotes, backslashes and control chars into valid JSON (advice r18)") {
    // a planted phrase containing " or \ must survive the JSONL round
    // trip as a VALID escaped string, not a quarantined line
    CorpusQueries.jsonStr("""he said "hi"""") shouldBe """he said \"hi\""""
    CorpusQueries.jsonStr("""a\b""") shouldBe """a\\b"""
    CorpusQueries.jsonStr("tab\there\nline") shouldBe "tab\\u0009here\\u000aline"
    CorpusQueries.jsonStr("plain ascii stays") shouldBe "plain ascii stays"
    // round-trip through the production reader: the escaped line parses
    import java.nio.file.{Files, Paths}
    val p = Files.createTempDirectory("graft-jsonstr")
    val tricky = """quote " back \ slash"""
    Files.write(p.resolve("t.jsonl"),
      s"""{"doc_id":1,"text":"${CorpusQueries.jsonStr(tricky)}","lang":"en","source":"s","n_chars":1}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val back = graft.io.Sources
      .documentsJsonl(spark, p.resolve("t.jsonl").toString).cache()
    try {
      back.filter(col("_corrupt_record").isNotNull).count() shouldBe 0
      back.select("text").as[String].head() shouldBe tricky
    } finally { back.unpersist(); () }
  }

  test("labeled JSONL contract: quarantine sheds the truncated line, balanced 80/20 split, support disclosed") {
    val d = sf("sf0.001")
    val path = CorpusQueries.labeledJsonlPath(spark, d)
    // the raw shipment: 600 clean rows + 1 deliberately truncated line,
    // shed into _corrupt_record by the PERMISSIVE production reader
    // (cache before the corrupt-only audit filter — the Sources
    // contract)
    val raw = graft.io.Sources.documentsJsonl(spark, path).cache()
    try {
      raw.count() shouldBe 601
      raw.filter(col("_corrupt_record").isNotNull).count() shouldBe 1
    } finally { raw.unpersist(); () }
    val set = CorpusQueries.labeledSet(spark, d)
    set.count() shouldBe 600
    // the trained model discloses BALANCED per-class support: the
    // block split holds out one full rotation group in five, so every
    // language trains on 96 and is evaluated on 24
    val m = CorpusQueries.labeledModel(spark, d)
    m.classes.toSeq shouldBe Seq("de", "en", "es", "fr", "zh")
    m.nTrain shouldBe 480L
    m.classCounts.toSeq shouldBe Seq.fill(5)(96L)
    // the holdout is DISJOINT from the train split at the TEXT level,
    // not just by id: the rotation index cycles with the block-split
    // period, so holdout texts are exactly the rotation the trainer
    // never saw (review r17 — the |words|-period rotation leaked 17/24
    // de and es holdout texts into train)
    val off = CorpusQueries.labeledOff(spark, d)
    val trainTexts = set.filter(CorpusQueries.labeledTrainFilter(off))
      .select("text").collect().map(_.getString(0)).toSet
    val holdTexts = set.filter(!CorpusQueries.labeledTrainFilter(off))
      .select("text").collect().map(_.getString(0)).toSet
    holdTexts.intersect(trainTexts) shouldBe empty
    // the holdout card covers every class and the planted-vocabulary
    // model gets its own languages right out of sample
    val hold = CorpusQueries.langIdLabeled(spark, d).collect()
    hold.length shouldBe 120
    hold.map(_.getString(1)).distinct.sorted shouldBe Array("de", "en", "es", "fr", "zh")
    hold.count(r => r.getString(1) == r.getString(2)) shouldBe 120
    // m67 discloses the per-predicted-class train support column
    val conf = CorpusQueries.langConfusion(spark, d).collect()
    conf.filter(_.getString(0) != "unknown")
      .filter(r => Set("de", "en", "es", "fr", "zh")(r.getString(1)))
      .foreach(_.getLong(5) shouldBe 60L) // planted block: 60/language
  }

  test("langIdCalibration: bins are integer-quantized, per-class ECE terms sum the card") {
    val rows = CorpusQueries.langIdCalibration(spark, sf("sf0.001")).collect()
    rows.length should be > 0
    // every labeled doc lands in exactly one (class, bin) cell
    rows.map(_.getLong(2)).sum shouldBe 600L
    rows.foreach { r =>
      r.getLong(1) should (be >= 0L and be <= 9L)
      val meanConf = r.getDouble(4)
      val fracCorrect = r.getDouble(5)
      meanConf should (be >= 0.0 and be <= 1.0)
      fracCorrect should (be >= 0.0 and be <= 1.0)
      r.getDouble(6) shouldBe math.abs(meanConf - fracCorrect) +- 1e-15
      r.getDouble(7) should be >= 0.0
    }
  }

  test("qualityCalibration: buckets partition the corpus and means stay in range") {
    val rows = CorpusQueries.qualityCalibration(spark, sf("sf0.001")).collect()
    rows.length should be > 0
    rows.foreach { r =>
      r.getLong(0) should (be >= 0L and be <= 9L)
      val mq = r.getDouble(2)
      // mean quality of a bucket lies inside the bucket's [b/10, (b+1)/10)
      // band (bucket 9 additionally absorbs quality = 1.0)
      mq should be >= r.getLong(0) / 10.0
      mq should be <= (r.getLong(0) + 1) / 10.0 + 1e-12
      r.getDouble(3) should (be >= 0.0 and be <= 1.0)
    }
  }

  test("dedupKeepBest: every planted cluster keeps exactly one member, always an original") {
    val out = CorpusQueries.dedupKeepBest(spark, sf("sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.length should be > 0
    // one survivor row per cluster
    out.map(_._1).distinct.length shouldBe out.length
    out.foreach { case (_, kept, nMembers, oov) =>
      nMembers should be >= 2L
      // planted copies live at +10000/+20000; the pristine original must win
      kept should be < 10000L
      oov should (be >= 0.0 and be <= 1.0)
    }
  }

  test("paddingWasteOver: pad, truncation and both utilizations on a hand-sized corpus") {
    // seqLen 10: doc a = 4 tokens (pad 6), doc b = 12 tokens (trunc 2).
    val docs = Seq(
      (1L, "w w w w", "s1"),
      (2L, "w w w w w w w w w w w w", "s1")
    ).toDF("doc_id", "text", "source")
    val r = CorpusQueries.paddingWasteOver(docs, seqLen = 10L).collect()(0)
    r.getAs[Long]("n_docs") shouldBe 2L
    r.getAs[Long]("total_tokens") shouldBe 16L
    r.getAs[Long]("trunc_tokens") shouldBe 2L
    r.getAs[Long]("pad_tokens") shouldBe 6L
    r.getAs[Long]("kept_tokens") shouldBe 14L
    r.getAs[Long]("packed_seqs") shouldBe 2L       // ceil(14/10)
    r.getAs[Double]("padded_util") shouldBe 0.7 +- 1e-12   // 14 / 20
    r.getAs[Double]("packed_util") shouldBe 0.7 +- 1e-12   // 14 / 20
  }

  test("topBigramsOver: adjacent pairs only, count ties broken by gram") {
    val docs = Seq(
      (1L, "a b a b c"), // bigrams: a b, b a, a b, b c
      (2L, "b c"),       // b c
      (3L, "x")          // single token → no bigrams
    ).toDF("doc_id", "text")
    val r = CorpusQueries.topBigramsOver(docs, k = 3)
      .as[(String, Long)].collect().toSeq
    r shouldBe Seq(("a b", 2L), ("b c", 2L), ("b a", 1L))
  }

  test("topBigramsOver: empty and null text yield no grams") {
    val docs = Seq((1L, Option("")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    CorpusQueries.topBigramsOver(docs).count() shouldBe 0
  }

  test("topBigrams plan aggregates before the exchange (partial agg)") {
    val plan = CorpusQueries.topBigrams(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    // partial + final HashAggregate pair around the gram exchange, and the
    // top-k runs as TakeOrderedAndProject (never a global sort).
    plan.sliding("HashAggregate".length).count(_ == "HashAggregate") should be >= 2
    plan should include("TakeOrderedAndProject")
    plan should not include "GlobalSort"
  }

  test("sourceDivergence: KL is zero when a source matches the corpus, positive otherwise") {
    // two sources with IDENTICAL token distributions → both KL = 0
    val same = Seq((1L, "a", "s1"), (2L, "a b", "s1"), (3L, "a", "s2"), (4L, "a b", "s2"))
      .toDF("doc_id", "text", "source")
    CorpusQueries.sourceDivergenceOver(same)
      .select("kl_vs_corpus").as[Double].collect()
      .foreach(kl => kl shouldBe 0.0 +- 1e-15)
    // a skewed source diverges; KL is never negative (Gibbs)
    val skew = Seq((1L, "a a a a", "s1"), (2L, "b b b b", "s2"), (3L, "a b", "s3"))
      .toDF("doc_id", "text", "source")
    val out = CorpusQueries.sourceDivergenceOver(skew)
      .select("source", "kl_vs_corpus").as[(String, Double)].collect().toMap
    out("s1") should be > 0.0
    out("s2") should be > 0.0
    out.values.foreach(kl => kl should be >= 0.0)
    // hand check for s1: p(a)=1, q(a)=(4+1)/10 = 0.5 → KL = ln(2)
    out("s1") shouldBe math.log(1.0 / 0.5) +- 1e-12
  }

  test("packSegments: segments tile every sequence exactly and cover every doc exactly") {
    val segs = CorpusQueries.packSegments(spark, sf("sf0.001"))
      .select("doc_id", "seq_id", "doc_from", "doc_to", "seq_from", "n_seg_tokens")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // per doc: spans are contiguous from 0 and sum to the doc's tokens
    segs.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._3)
      sorted.head._3 shouldBe 0L
      sorted.sliding(2).foreach {
        case Array(a, b) => b._3 shouldBe a._4
        case _           =>
      }
    }
    // per sequence: in-sequence spans tile [0, 2048) with no gaps; every
    // sequence except the last is exactly full
    val lastSeq = segs.map(_._2).max
    segs.groupBy(_._2).foreach { case (seqId, rows) =>
      val sorted = rows.sortBy(_._5)
      sorted.head._5 shouldBe 0L
      sorted.sliding(2).foreach {
        case Array(a, b) => b._5 shouldBe (a._5 + a._6)
        case _           =>
      }
      if (seqId != lastSeq) rows.map(_._6).sum shouldBe 2048L
    }
  }

  test("sourceDivergence: token masses are exact longs") {
    val docs = Seq((1L, "a b c", "s1"), (2L, "d", "s2")).toDF("doc_id", "text", "source")
    val out = CorpusQueries.sourceDivergenceOver(docs)
      .select("source", "n_tokens", "n_terms")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    out.size shouldBe 2
    out("s1") shouldBe ((3L, 3L))
    out("s2") shouldBe ((1L, 1L))
  }

  test("a warm docOff/vecOff runs no Spark job: the memo answers before any frame is built") {
    val dir = sf("sf0.001")
    val (doc, vec) = (CorpusQueries.docOff(spark, dir), CorpusQueries.vecOff(spark, dir))
    val sc = spark.sparkContext
    assert(org.apache.spark.graft.BenchListenerBus.drain(sc, 60000L),
      "listener bus did not drain")
    val listener = new graft.tools.Harness.StatsListener(sc)
    sc.addSparkListener(listener)
    try {
      CorpusQueries.docOff(spark, dir) shouldBe doc
      CorpusQueries.vecOff(spark, dir) shouldBe vec
      listener.quiesce()
      listener.jobs shouldBe empty
    } finally sc.removeSparkListener(listener)
  }
}
