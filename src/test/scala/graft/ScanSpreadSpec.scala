package graft

import org.apache.spark.sql.DataFrame

/** Pins for the adaptive scan spread (Tables.spreadSmallScan, round-20
  * optimization): the gate arithmetic, the plan shape on both sides of
  * the gate, and result parity spread-on vs spread-off. The spec
  * session keeps the spread OFF (SparkSpec — PlanSpec pins the scale
  * shape, which is exactly the spread-off plan); this suite flips the
  * conf locally and restores it, relying on the forked test JVM running
  * suites sequentially. The spread is OPT-IN per call site
  * (Tables.documentsSpread / embeddingsSpread / spreadSmallScan) — the
  * blanket form measured a net loss on light-scan consumers
  * (OPTIMIZATION_r20.md). */
class ScanSpreadSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("gate fires on a small corpus: one REPARTITION_BY_NUM hash exchange on the key") {
    withConf("spark.graft.scanSpread.enabled" -> "true") {
      val p = plan(Tables.documentsSpread(spark, dir))
      p should include("REPARTITION_BY_NUM")
      p should include("hashpartitioning(doc_id")
    }
  }

  test("above maxRows the plan is identical to the unspread one (the 100 TB side)") {
    // expression ids differ between constructions; normalize them away
    def norm(p: String): String = p.replaceAll("#\\d+", "#")
    val off = norm(plan(Tables.documents(spark, dir)))
    val gated = withConf(
      "spark.graft.scanSpread.enabled" -> "true",
      "spark.graft.scanSpread.maxRows" -> "10") {
      norm(plan(Tables.documentsSpread(spark, dir)))
    }
    gated shouldBe off
    (gated should not).include("REPARTITION_BY_NUM")
  }

  test("below 2 x rowsPerTask the spread stays off — task overhead must never exceed the work") {
    val gated = withConf(
      "spark.graft.scanSpread.enabled" -> "true",
      "spark.graft.scanSpread.rowsPerTask" -> "1000000") {
      plan(Tables.documentsSpread(spark, dir))
    }
    (gated should not).include("REPARTITION_BY_NUM")
  }

  test("per-table override beats the global knob (ADVICE r20 namespacing)") {
    // global maxRows=10 would close the gate; the documents-scoped key
    // reopens it for this table only — lineitem's different defaults can
    // no longer be clobbered by a documents tuning pass
    val p = withConf(
      "spark.graft.scanSpread.enabled" -> "true",
      "spark.graft.scanSpread.maxRows" -> "10",
      "spark.graft.scanSpread.documents.maxRows" -> "262144") {
      plan(Tables.documentsSpread(spark, dir))
    }
    p should include("REPARTITION_BY_NUM")
  }

  test("plain Tables.documents never spreads — the opt-in contract") {
    withConf("spark.graft.scanSpread.enabled" -> "true") {
      (plan(Tables.documents(spark, dir)) should not).include("REPARTITION_BY_NUM")
    }
  }

  test("pushdown and pruning survive the spread: filters and ReadSchema still reach the scan") {
    withConf("spark.graft.scanSpread.enabled" -> "true") {
      val p = plan(Tables.documentsSpread(spark, dir)
        .filter(org.apache.spark.sql.functions.col("text").isNotNull)
        .select("doc_id", "text"))
      p should include("PushedFilters: [IsNotNull(text)]")
      p should include("ReadSchema: struct<doc_id:bigint,text:string>")
    }
  }

  test("posting pin (round 21): one gram exchange at the pinned width, reused by the aggregate") {
    // NgramJaccard.invertedIndexPairs / containmentPairs(postingParts =
    // Some(p)) replace the gram groupBy's exchange with an explicit
    // repartition(p, gram): REPARTITION_BY_NUM (exempt from AQE
    // coalescing), exactly ONE gram-keyed exchange (the aggregate reuses
    // it — a second one would mean the pin ADDED a shuffle), and rows
    // identical to the unpinned form (counts/jaccard/containment are
    // partition-invariant). containmentPairs is m113's posting pin.
    val docs = Tables.documents(spark, dir)
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    for (pairsOf <- Seq[Option[Int] => DataFrame](
      pp => graft.dedup.NgramJaccard.invertedIndexPairs(
        docs, threshold = 0.5, dfCap = 50, postingParts = pp),
      pp => graft.dedup.NgramJaccard.containmentPairs(
        docs, threshold = 0.5, dfCap = 50, postingParts = pp))) {
      val pinned = pairsOf(Some(5))
      pinned.collect()
      val p = pinned.queryExecution.executedPlan.toString
      p should include("REPARTITION_BY_NUM")
      // EVERY gram-keyed exchange in the plan carries the pinned width —
      // the aggregate reused the repartition rather than adding its own
      // shuffle at the session default. (The plan TEXT prints the posting
      // subtree once per consumer; at runtime AQE dedupes the identical
      // exchanges into one shuffle stage — JobProfile shows one posting
      // build — so the pin is asserted on widths, not node counts.)
      val gramEx = p.linesIterator
        .filter(_.contains("hashpartitioning(gram")).toSeq
      gramEx should not be empty
      all(gramEx) should include(", 5)")
      rows(pinned) shouldBe rows(pairsOf(None))
    }
  }

  test("result parity: a sketch aggregate and a heavy-gram card are spread-invariant") {
    def rows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val cmsOff = rows(graft.queries.CorpusQueries.cmsFrequencyCard(spark, dir))
    val hgOff = rows(graft.queries.CorpusQueries.heavyGrams(spark, dir))
    withConf("spark.graft.scanSpread.enabled" -> "true") {
      rows(graft.queries.CorpusQueries.cmsFrequencyCard(spark, dir)) shouldBe cmsOff
      rows(graft.queries.CorpusQueries.heavyGrams(spark, dir)) shouldBe hgOff
    }
  }
}
