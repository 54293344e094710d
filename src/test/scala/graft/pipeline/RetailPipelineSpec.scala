package graft.pipeline

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.graft.BenchListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end golden test of the reference DAG semantics (SURVEY §5.2)
  * over reference-shaped fixture CSVs (FIXTURES.md A1), including the §7.4
  * edge rows: null category+brand, price-0 purchase, multi-price product,
  * and a day with zero views. */
class RetailPipelineSpec extends SparkSpec {

  private val root = Files.createTempDirectory("graft-raw").toString
  private val mart = Files.createTempDirectory("graft-mart").toString

  private def writeDay(date: String, rows: Seq[String]): Unit = {
    val dir = Paths.get(s"$root/Day_Wise/$date")
    Files.createDirectories(dir)
    val header = "event_time,event_type,product_id,category_id,category_code,brand,price,user_id,user_session,event_date"
    Files.write(dir.resolve("event.csv"), (header +: rows).mkString("\n").getBytes)
  }

  // Day 1: normal traffic + edge rows.
  writeDay("2019-10-01", Seq(
    s"2019-10-01 10:00:00+00:00,view,1001,200,electronics.smartphone,apple,999.00,1,s1,2019-10-01",
    s"2019-10-01 10:01:00+00:00,cart,1001,200,electronics.smartphone,apple,999.00,1,s1,2019-10-01",
    s"2019-10-01 10:02:00+00:00,purchase,1001,200,electronics.smartphone,apple,999.00,1,s1,2019-10-01",
    s"2019-10-01 11:00:00+00:00,view,1002,201,,,49.50,2,s2,2019-10-01", // null cat+brand
    s"2019-10-01 11:30:00+00:00,purchase,1003,202,apparel,nike,0.00,2,s2,2019-10-01", // price-0 purchase
    s"2019-10-01 12:00:00+00:00,view,1001,200,electronics.smartphone,apple,899.00,3,s3,2019-10-01" // second price for 1001
  ))
  // Day 2: zero views (division-by-zero path).
  writeDay("2019-10-02", Seq(
    s"2019-10-02 09:00:00+00:00,purchase,1001,200,electronics.smartphone,apple,999.00,1,s4,2019-10-02",
    s"2019-10-02 09:05:00+00:00,cart,1002,201,,samsung,49.50,2,s5,2019-10-02"
  ))

  private lazy val pipeline =
    new RetailPipeline(spark, root, mart, loadedAt = lit("2019-10-03 00:00:00").cast("timestamp"))

  test("day 1 end-to-end: staging, star schema, and mart match hand-computed goldens") {
    pipeline.runDay("2019-10-01")

    val staging = spark.table("staging_events")
      .filter(col("event_date") === "2019-10-01")
    staging.count() shouldBe 6
    // P1 fills applied
    staging.filter(col("brand") === "Generic").count() shouldBe 1
    staging.filter(col("category_code") === "Unknown").count() shouldBe 1

    // A1 grain: (date,type,product,user) — 6 events collapse to 6 grains here
    val fact = spark.table("fact_events").filter(col("event_date") === "2019-10-01")
    fact.count() shouldBe 6
    fact.agg(sum("total_revenue")).collect()(0).getDouble(0) shouldBe 999.0 // 999 + 0

    // dims
    spark.table("dim_user").count() shouldBe 3
    val p1001 = spark.table("dim_product").filter(col("product_id") === 1001).collect()
    p1001.length shouldBe 1 // D1 dedup kept one row
    p1001(0).getAs[Double]("price") shouldBe 899.0 // deterministic keep-first by price asc
    // Reference-faithful: the null category was already filled to 'Unknown'
    // at ingest (P1), so dim_product's 'other' fill (P2) is a no-op here
    // and the split yields ('Unknown','na','na').
    val p1002 = spark.table("dim_product").filter(col("product_id") === 1002).collect()(0)
    p1002.getAs[String]("category") shouldBe "Unknown"
    p1002.getAs[String]("sub_category1") shouldBe "na"
    spark.table("dim_date").count() shouldBe 183

    // mart goldens (the agg_ table spans all dt partitions — filter the day)
    val rev = spark.table("agg_daily_revenue_summary")
      .filter(col("dt") === "2019-10-01").collect()(0)
    rev.getAs[Double]("revenue") shouldBe 999.0
    rev.getAs[Long]("unique_users") shouldBe 3
    rev.getAs[Long]("views") shouldBe 3
    rev.getAs[Long]("purchases") shouldBe 2
    rev.getAs[Double]("cart_rate") shouldBe (1.0 / 3.0)

    // dt= partition layout on disk (S5)
    Files.exists(Paths.get(
      s"$mart/aggregates/daily_revenue_summary/dt=2019-10-01")) shouldBe true
    spark.table("agg_top_brands_by_revenue").count() should be <= 10L
  }

  test("day 1 funnel by brand and top brands match hand-computed goldens") {
    pipeline.runDay("2019-10-01")
    // Fact rows of day 1 ⋈ dim_product: apple (1001) has two viewers, one
    // cart and the 999.00 purchase; Generic/Unknown (1002, filled at
    // ingest) one view; nike (1003) the price-0 purchase.
    val golden = Set(
      ("apple", "electronics.smartphone", 2L, 1L, 1L, 999.0),
      ("Generic", "Unknown", 1L, 0L, 0L, 0.0),
      ("nike", "apparel", 0L, 0L, 1L, 0.0))
    import spark.implicits._
    def day1(table: String) = spark.table(table).filter(col("dt") === "2019-10-01")
      .select("brand", "category_code", "views", "carts", "purchases", "revenue")
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    day1("agg_daily_funnel_by_brand") shouldBe golden
    // fewer than 10 brands that day: the top-10 holds every one of them
    day1("agg_top_brands_by_revenue") shouldBe golden
  }

  test("day 2: zero views → null rates, not inf (§7.4.1)") {
    pipeline.runDay("2019-10-02")
    val rev = spark.table("agg_daily_revenue_summary")
      .filter(col("dt") === "2019-10-02").collect()(0)
    rev.getAs[Long]("views") shouldBe 0
    assert(rev.isNullAt(rev.fieldIndex("cart_rate")))
    assert(rev.isNullAt(rev.fieldIndex("purchase_rate")))
  }

  test("re-running a day is idempotent and leaves other days intact (S3 dynamic overwrite)") {
    pipeline.ingestDay("2019-10-02") // self-contained: both days present
    pipeline.ingestDay("2019-10-01")
    pipeline.ingestDay("2019-10-01")
    val staging = spark.table("staging_events")
    staging.filter(col("event_date") === "2019-10-01").count() shouldBe 6
    staging.filter(col("event_date") === "2019-10-02").count() shouldBe 2
  }

  test("backfill runs a date range and accumulates per-day partitions (M5)") {
    pipeline.backfill("2019-10-01", "2019-10-02") shouldBe Seq("2019-10-01", "2019-10-02")
    spark.table("staging_events").select("event_date").distinct().count() shouldBe 2
    spark.table("fact_events").select("event_date").distinct().count() shouldBe 2
  }

  test("empty day triggers the S2 guard") {
    writeDay("2019-10-03", Seq.empty)
    val ex = intercept[IllegalStateException](pipeline.ingestDay("2019-10-03"))
    ex.getMessage should include("2019-10-03")
  }

  test("notification hook routes complete and failed branches (choose_branch)") {
    val events = scala.collection.mutable.ArrayBuffer.empty[RetailPipeline.RunOutcome]
    val p = new RetailPipeline(spark, root, mart,
      loadedAt = lit("2019-10-03 00:00:00").cast("timestamp"),
      notify = events += _)
    p.runDayNotified("2019-10-01").isSuccess shouldBe true
    // the empty day from the S2-guard test → ingest guard trips inside the
    // Try → failure event fires and the Try carries the error
    val bad = p.runDayNotified("2019-10-03")
    bad.isFailure shouldBe true
    bad.failed.get shouldBe an[IllegalStateException]
    events.toSeq match {
      case Seq(RetailPipeline.RunComplete(d1, tables), RetailPipeline.RunFailed(d2, err)) =>
        d1 shouldBe "2019-10-01"
        tables shouldBe Set("daily_revenue_summary", "daily_funnel_by_brand",
          "top_brands_by_revenue")
        d2 shouldBe "2019-10-03"
        err shouldBe an[IllegalStateException]
      case other => fail(s"expected exactly [complete, failed], got $other")
    }
  }

  test("manifestNotify lands each branch decision as a queryable run-manifest row (choose_branch artifact)") {
    spark.sql("DROP TABLE IF EXISTS pipeline_runs_spec")
    val p = new RetailPipeline(spark, root, mart,
      loadedAt = lit("2019-10-03 00:00:00").cast("timestamp"),
      notify = RetailPipeline.manifestNotify(spark, "pipeline_runs_spec"))
    p.runDayNotified("2019-10-01").isSuccess shouldBe true
    p.runDayNotified("2019-10-03").isFailure shouldBe true // the S2 empty day
    p.runDayNotified("2019-10-01").isSuccess shouldBe true // re-run APPENDS
    val m = spark.table("pipeline_runs_spec")
      .select("run_seq", "date", "branch", "tables", "error").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    m.length shouldBe 3 // history, not state: the re-run is a new row
    m.count(t => (t._2, t._3, t._4, t._5) == ("2019-10-01", "complete",
      "daily_funnel_by_brand,daily_revenue_summary,top_brands_by_revenue",
      null)) shouldBe 2
    val failed = m.filter(_._3 == "failed")
    failed.map(_._2).toSeq shouldBe Seq("2019-10-03")
    failed.head._5 should include("IllegalStateException")
    // run_seq is the documented current-state key: strictly monotone,
    // and max(run_seq) for the re-run date picks the LATER complete row
    m.map(_._1).distinct.length shouldBe 3
    val d1 = m.filter(_._2 == "2019-10-01").sortBy(_._1)
    d1.last._1 should be > d1.head._1
    // restart semantics (review r18): run_seq is seeded from the TABLE,
    // not a process counter — a "new JVM" (fresh notify hook) continues
    // the sequence instead of resetting and shadowing history
    val p2 = new RetailPipeline(spark, root, mart,
      loadedAt = lit("2019-10-03 00:00:00").cast("timestamp"),
      notify = RetailPipeline.manifestNotify(spark, "pipeline_runs_spec"))
    p2.runDayNotified("2019-10-01").isSuccess shouldBe true
    val seqs = spark.table("pipeline_runs_spec")
      .select("run_seq").collect().map(_.getLong(0)).sorted.toSeq
    seqs shouldBe Seq(1L, 2L, 3L, 4L) // continued, never duplicated
    spark.sql("DROP TABLE pipeline_runs_spec")
  }

  test("a throwing notify hook propagates with the run error suppressed") {
    val p = new RetailPipeline(spark, root, mart,
      loadedAt = lit("2019-10-03 00:00:00").cast("timestamp"),
      notify = _ => throw new RuntimeException("pager down"))
    val ex = intercept[RuntimeException](p.runDayNotified("2019-10-03"))
    ex.getMessage shouldBe "pager down"
    ex.getSuppressed.head shouldBe an[IllegalStateException]
  }

  private def drainBus(): Unit =
    assert(BenchListenerBus.drain(spark.sparkContext, 60000L), "listener bus did not drain")

  test("manifest run_seq: two hooks on one table interleave without a duplicate, and a re-created table is read again") {
    spark.sql("DROP TABLE IF EXISTS pipeline_runs_pair")
    def seqs = spark.table("pipeline_runs_pair").select("run_seq").collect()
      .map(_.getLong(0)).sorted.toSeq
    val h1 = RetailPipeline.manifestNotify(spark, "pipeline_runs_pair")
    val h2 = RetailPipeline.manifestNotify(spark, "pipeline_runs_pair")
    Seq(h1, h2, h1, h2).zipWithIndex.foreach { case (h, i) =>
      h(RetailPipeline.RunComplete(s"2019-10-0${i + 1}", Set("m")))
    }
    seqs shouldBe Seq(1L, 2L, 3L, 4L)
    spark.sql("DROP TABLE pipeline_runs_pair")
    h1(RetailPipeline.RunComplete("2019-10-05", Set("m")))
    seqs shouldBe Seq(1L)
    // a table re-created behind the hooks' back is seeded from its rows
    spark.sql("DROP TABLE pipeline_runs_pair")
    import spark.implicits._
    Seq((41L, "2019-10-06", "complete", "m", null: String))
      .toDF("run_seq", "date", "branch", "tables", "error").write.saveAsTable("pipeline_runs_pair")
    h2(RetailPipeline.RunComplete("2019-10-07", Set("m")))
    seqs shouldBe Seq(41L, 42L)
    spark.sql("DROP TABLE pipeline_runs_pair")
  }

  test("a mart that fails at write time fails the day once, after every other write has ended") {
    val failMart = Files.createTempDirectory("graft-mart-fail").toString
    val events = scala.collection.mutable.ArrayBuffer.empty[RetailPipeline.RunOutcome]
    val p = new RetailPipeline(spark, root, failMart,
        loadedAt = lit("2019-10-03 00:00:00").cast("timestamp"), notify = events += _) {
      override def martTables(date: String): Map[String, DataFrame] = {
        val tables = super.martTables(date)
        tables.updated("top_brands_by_revenue", tables("top_brands_by_revenue")
          .withColumn("boom", raise_error(lit("mart write failed")).cast("string")))
      }
    }
    val result = p.runDayNotified("2019-10-01")
    drainBus()
    spark.sparkContext.statusTracker.getActiveJobIds shouldBe empty
    result.isFailure shouldBe true
    val error = result.failed.get
    Iterator.iterate(error)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("mart write failed")) shouldBe true
    events.toSeq match {
      case Seq(RetailPipeline.RunFailed(d, e)) =>
        d shouldBe "2019-10-01"
        e shouldBe theSameInstanceAs(error)
      case other => fail(s"expected exactly one failed event, got $other")
    }
    for (m <- Seq("daily_revenue_summary", "daily_funnel_by_brand"))
      spark.table(s"agg_$m").filter(col("dt") === "2019-10-01").count() should be > 0L
  }

  test("a warm day runs within its job budget, every job under the caller's job group") {
    pipeline.runDay("2019-10-01") // warm: tables, calendar and codegen in place
    val sc = spark.sparkContext
    drainBus()
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id"))); ()
      }
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("retail-day-spec", "warm day")
    try { pipeline.runDay("2019-10-02"); drainBus() }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    import scala.jdk.CollectionConverters._
    val seen = groups.asScala.toSeq
    // ingest 2, star 7, mart 9 (three single-write marts, registered
    // without a job); the isEmpty pre-pass and the DESCRIBE collect
    // made the mart alone 18
    seen.size should be <= 18
    seen.toSet shouldBe Set("retail-day-spec")
  }
}
