package graft

import graft.operators.ScalePartitions
import graft.queries.CorpusQueries
import org.apache.spark.sql.DataFrame

/** Pins for the one size gate (Tables.spreadParts): the scan spread
  * (round-20 optimization) and the posting pin (round 21) it sizes — the
  * gate arithmetic at its boundaries, the plan shape on both sides of the
  * gate, and result parity gate-on vs gate-off. The spec session keeps
  * the gate CLOSED (SparkSpec — PlanSpec pins the scale shape, which is
  * exactly the unspread plan); this suite opens it locally and restores
  * it, relying on the forked test JVM running suites sequentially. The
  * spread is OPT-IN per call site (Tables.spread and the `*Spread`
  * loaders) — the blanket form measured a net loss on light-scan
  * consumers (OPTIMIZATION_r20.md). */
class ScanSpreadSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf("sf0.001")

  private def withSpread[A](body: => A): A = {
    val key = "spark.graft.scanSpread.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  // expression ids differ between constructions; normalize them away
  private def norm(p: String): String = p.replaceAll("#\\d+", "#")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private lazy val tmp = java.nio.file.Files.createTempDirectory("graft-spread").toString

  /** A parquet table of `n` ids: its footer rows are exactly `n`. */
  private def ids(n: Long): DataFrame = {
    val path = s"$tmp/ids-$n.parquet"
    spark.range(n).write.parquet(path)
    spark.read.parquet(path)
  }

  test("gate fires on a small corpus: one REPARTITION_BY_NUM hash exchange on the key") {
    withSpread {
      val p = plan(Tables.documentsSpread(spark, dir))
      p should include("REPARTITION_BY_NUM")
      p should include("hashpartitioning(doc_id")
    }
  }

  test("above maxRows the plan is identical to the unspread one (the 100 TB side)") {
    for (policy <- Seq(Tables.CorpusSpread, Tables.NarrowSpread)) {
      Tables.spreadWidth(policy.maxRows, 4, policy) shouldBe Some(4)
      Tables.spreadWidth(policy.maxRows + 1, 4, policy) shouldBe None
    }
    // the frame gate reads the table's own footer rows, at and one above
    // the corpus gate
    val at = ids(Tables.CorpusSpread.maxRows)
    val above = ids(Tables.CorpusSpread.maxRows + 1)
    withSpread {
      plan(Tables.spread(at, "id", Tables.CorpusSpread)) should
        include("REPARTITION_BY_NUM")
      val gated = norm(plan(Tables.spread(above, "id", Tables.CorpusSpread)))
      gated shouldBe norm(plan(above))
      (gated should not).include("REPARTITION_BY_NUM")
    }
  }

  test("below 2 x rowsPerTask the spread stays off — task overhead must never exceed the work") {
    for (policy <- Seq(Tables.CorpusSpread, Tables.NarrowSpread)) {
      Tables.spreadWidth(2 * policy.rowsPerTask - 1, 4, policy) shouldBe None
      Tables.spreadWidth(2 * policy.rowsPerTask, 4, policy) shouldBe Some(2)
    }
    val below = ids(2 * Tables.CorpusSpread.rowsPerTask - 1)
    val at = ids(2 * Tables.CorpusSpread.rowsPerTask)
    withSpread {
      (plan(Tables.spread(below, "id", Tables.CorpusSpread)) should not)
        .include("REPARTITION_BY_NUM")
      plan(Tables.spread(at, "id", Tables.CorpusSpread)) should
        include(", 2), REPARTITION_BY_NUM")
    }
  }

  test("plain Tables.documents never spreads — the opt-in contract") {
    withSpread {
      (plan(Tables.documents(spark, dir)) should not).include("REPARTITION_BY_NUM")
    }
  }

  test("a toDF frame never spreads or pins: it reads no files") {
    val local = (1 to 500).map(i => (i.toLong, s"doc $i shares these common words"))
      .toDF("doc_id", "text")
    withSpread {
      ScalePartitions.sourceRows(local) shouldBe 0L
      Tables.spreadParts(local, Tables.CorpusSpread) shouldBe None
      val plans = capturedPlans {
        Tables.spread(local, "doc_id", Tables.CorpusSpread).collect()
        dedup.NgramJaccard.invertedIndexPairs(local, threshold = 0.5).collect()
        dedup.NgramJaccard.containmentPairs(local, threshold = 0.5).collect()
        pipeline.CorpusPipeline.prepareV2(local).collect()
      }
      plans should not be empty
      for ((_, p) <- plans) (p should not).include("REPARTITION_BY_NUM")
    }
  }

  test("pushdown and pruning survive the spread: filters and ReadSchema still reach the scan") {
    withSpread {
      val p = plan(Tables.documentsSpread(spark, dir)
        .filter(org.apache.spark.sql.functions.col("text").isNotNull)
        .select("doc_id", "text"))
      p should include("PushedFilters: [IsNotNull(text)]")
      p should include("ReadSchema: struct<doc_id:bigint,text:string>")
    }
  }

  test("posting pin (round 21): one gram exchange at the pinned width, reused by the aggregate") {
    // Below the gate, NgramJaccard.invertedIndexPairs / containmentPairs
    // replace the gram groupBy's exchange with an explicit
    // repartition(p, gram) at the gate's width: REPARTITION_BY_NUM
    // (exempt from AQE coalescing), every gram-keyed exchange at that
    // width (the aggregate reuses it — a second one would mean the pin
    // ADDED a shuffle), and rows identical to the unpinned form
    // (counts/jaccard/containment are partition-invariant).
    // containmentPairs is m113's posting pin.
    val docs = Tables.documents(spark, dir)
    val width = math.min(4L, docs.count() / Tables.CorpusSpread.rowsPerTask)
    width shouldBe 4L
    for (pairsOf <- Seq[DataFrame => DataFrame](
      dedup.NgramJaccard.invertedIndexPairs(_, threshold = 0.5, dfCap = 50),
      dedup.NgramJaccard.containmentPairs(_, threshold = 0.5))) {
      val unpinned = rows(pairsOf(docs))
      withSpread {
        val pinned = pairsOf(docs)
        pinned.collect()
        val p = pinned.queryExecution.executedPlan.toString
        // The plan TEXT prints the posting subtree once per consumer; at
        // runtime AQE dedupes the identical exchanges into one shuffle
        // stage (JobProfile shows one posting build), so the pin is
        // asserted on widths, not node counts.
        val gramEx = p.linesIterator
          .filter(_.contains("hashpartitioning(gram")).toSeq
        gramEx should not be empty
        all(gramEx) should include(s", $width), REPARTITION_BY_NUM")
        rows(pinned) shouldBe unpinned
      }
    }
  }

  test("perfbench's prepareV2 call shape runs m28's posting pin at min(4, rows/64)") {
    // The call perfbench's corpus_prep makes: no pin argument exists, so
    // the pipeline sizes it from the frame it is given — the same plan
    // the registered m28 runs. Every gram exchange of every captured plan
    // (the pins and the final collect) is the pin; rows equal the
    // gate-off run's.
    def docs = CorpusQueries.withSyntheticPii(CorpusQueries.augmentedDocs(spark, dir))
    val width = math.min(4L, Tables.documents(spark, dir).count() /
      Tables.CorpusSpread.rowsPerTask)
    def run(): (Seq[String], Seq[String]) = {
      var out = Seq.empty[String]
      val plans = capturedPlans { out = rows(pipeline.CorpusPipeline.prepareV2(docs)) }
      (plans.flatMap(_._2.linesIterator).filter(_.contains("hashpartitioning(gram")), out)
    }
    val (_, off) = run()
    val (gramEx, on) = withSpread(run())
    gramEx should not be empty
    all(gramEx) should include(s", $width), REPARTITION_BY_NUM")
    on shouldBe off
  }

  test("result parity: a sketch aggregate and a heavy-gram card are spread-invariant") {
    val cmsOff = rows(CorpusQueries.cmsFrequencyCard(spark, dir))
    val hgOff = rows(CorpusQueries.heavyGrams(spark, dir))
    withSpread {
      rows(CorpusQueries.cmsFrequencyCard(spark, dir)) shouldBe cmsOff
      rows(CorpusQueries.heavyGrams(spark, dir)) shouldBe hgOff
    }
  }
}
