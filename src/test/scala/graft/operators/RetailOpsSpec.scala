package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit tests for SURVEY §2 operator semantics, focused on the §7.4 traps
  * (weekday offset, 'na' padding, /0 → null, deterministic dedup). */
class RetailOpsSpec extends SparkSpec {
  import spark.implicits._

  test("fillNa fills only nulls (P1/P2)") {
    val df = Seq(("a", null: String), ("b", "x")).toDF("k", "brand")
    val out = RetailOps.fillNa(df, Map("brand" -> "Generic")).orderBy("k")
    out.collect().map(_.getString(1)).toSeq shouldBe Seq("Generic", "x")
  }

  test("purchaseRevenue is CASE WHEN purchase THEN value ELSE 0 (P7)") {
    val df = Seq(("purchase", 10.0), ("view", 99.0)).toDF("et", "v")
    val out = df.select(RetailOps.purchaseRevenue($"et" === "purchase", $"v")).as[Double].collect()
    out.toSeq shouldBe Seq(10.0, 0.0)
  }

  test("splitHierarchy pads missing levels with 'na' (F1)") {
    val df = Seq("electronics.smartphone", "apparel", "a.b.c", "").toDF("code")
    val parts = RetailOps.splitHierarchy($"code")
    val out = df.select(parts(0), parts(1), parts(2)).as[(String, String, String)]
      .collect().toSeq
    out shouldBe Seq(
      ("electronics", "smartphone", "na"),
      ("apparel", "na", "na"),
      ("a", "b", "c"),
      ("", "na", "na")) // reference: ''.split('.') → [''] → category='', rest 'na'
  }

  test("dailyRevenueSummary: division by zero views yields NULL (§7.4.1)") {
    val df = Seq(
      ("2019-10-01 10:00:00", "purchase", 5L, 10.0),
      ("2019-10-01 11:00:00", "click", 6L, 1.0)
    ).toDF("ts", "event_type", "user_id", "value")
      .withColumn("ts", to_timestamp($"ts"))
    val row = RetailOps.dailyRevenueSummary(df, to_date($"ts")).collect()(0)
    row.getAs[Double]("revenue") shouldBe 10.0
    row.getAs[Long]("views") shouldBe 0L
    assert(row.isNullAt(row.fieldIndex("cart_rate")), "x/0 must be NULL, not inf")
  }

  test("dedupKeepFirst keeps exactly the first row per key in given order (D1/§7.4.3)") {
    val df = Seq((1L, "2019-01-02", 200.0), (1L, "2019-01-01", 100.0), (2L, "2019-01-03", 300.0))
      .toDF("product_id", "d", "price")
    val out = RetailOps.dedupKeepFirst(df, Seq("product_id"), Seq($"d".asc))
      .orderBy("product_id").as[(Long, String, Double)].collect().toSeq
    out shouldBe Seq((1L, "2019-01-01", 100.0), (2L, "2019-01-03", 300.0))
  }

  test("dedupKeepFirstAgg ≡ dedupKeepFirst on real lineitem data (KeepFirstAggSpec)") {
    val li = graft.Tables.lineitem(spark, sf("sf0.001"))
      .select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate")
    val orderCols = Seq("l_shipdate", "l_orderkey", "l_linenumber")
    val win = RetailOps.dedupKeepFirst(li, Seq("l_partkey"), orderCols.map(col(_).asc))
      .orderBy("l_partkey").collect().toSeq
    val agg = RetailOps.dedupKeepFirstAgg(li, Seq("l_partkey"), orderCols)
      .orderBy("l_partkey").collect().toSeq
    agg shouldBe win
    // Column order and names survive the struct round-trip.
    RetailOps.dedupKeepFirstAgg(li, Seq("l_partkey"), orderCols).columns.toSeq shouldBe
      li.columns.toSeq
  }

  test("topK takes exactly k with deterministic tie-break (T1)") {
    val df = Seq((1L, 5.0), (2L, 5.0), (3L, 1.0)).toDF("id", "rev")
    val out = RetailOps.topK(df, 2, Seq($"rev".desc, $"id".asc))
      .as[(Long, Double)].collect().toSeq
    out shouldBe Seq((1L, 5.0), (2L, 5.0))
  }

  test("epochMsToTimestamp matches pd.to_datetime(unit='ms') (P10)") {
    val df = Seq(1435622520000L).toDF("ts_ms")
    val out = df.select(RetailOps.epochMsToTimestamp($"ts_ms").cast("string"))
      .as[String].collect()(0)
    out shouldBe "2015-06-30 00:02:00"
  }

  test("isin filter + dropna subset (P8/P9)") {
    val df = Seq(
      (Some(1L), "view"), (None, "view"), (Some(2L), "other")
    ).toDF("visitorid", "event")
    RetailOps.isinFilter(df, "event", Seq("view")).count() shouldBe 2
    RetailOps.dropNullRows(df, Seq("visitorid")).count() shouldBe 2
    RetailOps.dropNullRows(RetailOps.isinFilter(df, "event", Seq("view")),
      Seq("visitorid")).count() shouldBe 1
  }

  test("factBuild aggregates count + conditional revenue at the right grain (A1)") {
    val df = Seq(
      ("2019-10-01", "purchase", 1L, 10.5),
      ("2019-10-01", "purchase", 1L, 2.5),
      ("2019-10-01", "view", 1L, 99.0)
    ).toDF("event_date", "event_type", "user_id", "value")
    val out = RetailOps.factBuild(df, Seq("user_id"), "value")
      .orderBy("event_type")
      .select("event_type", "total_events", "total_revenue")
      .as[(String, Long, Double)].collect().toSeq
    out shouldBe Seq(("purchase", 2L, 13.0), ("view", 1L, 0.0))
  }

  test("factBuild purchaseKind handles the legacy 'transaction' event name") {
    val df = Seq(
      ("2015-06-01", "transaction", 9L, 7.5),
      ("2015-06-01", "view", 9L, 3.0)
    ).toDF("event_date", "event_type", "visitorid", "value")
    val out = RetailOps.factBuild(df,
        Seq("visitorid"), "value", purchaseKind = "transaction")
      .agg(sum("total_revenue")).as[Double].collect()(0)
    out shouldBe 7.5
  }

  test("stratifiedSample: deterministic, per-stratum fractions, partition-independent") {
    val df = (1L to 4000L).map(i => (i, if (i % 4 == 0) "minor" else "major"))
      .toDF("id", "cls")
    val fr = Map("major" -> 0.1, "minor" -> 1.0)
    val s1 = RetailOps.stratifiedSample(df, fr).collect().map(_.getLong(0)).sorted
    val s2 = RetailOps.stratifiedSample(df.repartition(7), fr)
      .collect().map(_.getLong(0)).sorted
    s2 shouldBe s1 // same rows regardless of partitioning
    val byCls = RetailOps.stratifiedSample(df, fr)
      .groupBy("cls").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byCls("minor") shouldBe 1000L // fraction 1.0 keeps every row
    byCls("major").toDouble / 3000 shouldBe 0.1 +- 0.03 // hash-uniform
    // strata not listed default to fraction 0 (dropped)
    RetailOps.stratifiedSample(df, Map("minor" -> 1.0))
      .filter(col("cls") === "major").count() shouldBe 0L
  }
}
