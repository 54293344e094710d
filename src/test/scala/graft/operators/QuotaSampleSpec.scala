package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class QuotaSampleSpec extends SparkSpec {
  import spark.implicits._

  /** The naive single-window reference plan the pruned sampler must match. */
  private def naive(df: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= cap)
      .select("doc_id", "source", "rk")
  }

  private def corpus(n: Int, groups: Int): DataFrame =
    (0 until n).map(i => (i.toLong, s"src${i % groups}")).toDF("doc_id", "source")

  test("two-phase pruned result equals the naive window plan") {
    // Many input partitions so the partial prune actually discards rows.
    val df = corpus(500, 7).repartition(13)
    val got = QuotaSample.quotaSample(df, "source", "doc_id", cap = 5)
      .orderBy("source", "rk").collect().toSeq
    val want = naive(df, 5).orderBy("source", "rk").collect().toSeq
    got shouldBe want
    got.size shouldBe 7 * 5
  }

  test("groups smaller than the cap keep every row") {
    val df = corpus(6, 3) // 2 rows per source
    val r = QuotaSample.quotaSample(df, "source", "doc_id", cap = 7)
    r.count() shouldBe 6
    r.agg(max("rk")).as[Long].collect()(0) shouldBe 2
  }

  test("deterministic across partitionings") {
    val a = QuotaSample.quotaSample(corpus(300, 4).repartition(17), "source", "doc_id", 3)
      .orderBy("source", "rk").collect().toSeq
    val b = QuotaSample.quotaSample(corpus(300, 4).coalesce(1), "source", "doc_id", 3)
      .orderBy("source", "rk").collect().toSeq
    a shouldBe b
  }

  test("cap must be positive") {
    an[IllegalArgumentException] should be thrownBy
      QuotaSample.quotaSample(corpus(10, 2), "source", "doc_id", 0)
  }

  test("tokenBudgetSample: budget bounds pre-row mass, first doc always kept") {
    val df = Seq(
      (1L, "a", 300L), (2L, "a", 300L), (3L, "a", 300L), (4L, "a", 300L),
      (10L, "b", 9000L), // single doc over budget — still kept
      (20L, "c", 100L)
    ).toDF("doc_id", "source", "n_tokens")
    val r = QuotaSample.tokenBudgetSample(df, 500L)
      .collect()
    r.foreach(_.getAs[Long]("cum_before") should be < 500L)
    val bySource = r.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    bySource("a") shouldBe 2 // 300 kept (0 before), 300 kept (300 before), next cut at 600
    bySource("b") shouldBe 1
    bySource("c") shouldBe 1
  }

  test("temperatureRebalance: big groups shrink toward sqrt(n*min), small kept whole") {
    val df = ((0 until 100).map(i => (i.toLong, "big")) ++
      (100 until 109).map(i => (i.toLong, "small"))).toDF("doc_id", "domain")
    val r = QuotaSample.temperatureRebalance(df, "domain").collect()
    val byGroup = r.groupBy(_.getAs[String]("domain")).view.mapValues(_.length).toMap
    byGroup("big") shouldBe 30 // ceil(sqrt(100*9))
    byGroup("small") shouldBe 9 // min group survives intact
    r.foreach(row => row.getAs[Long]("rk") should be <= row.getAs[Long]("target"))
  }

  test("temperatureRebalance: target arithmetic survives 1e10 group counts") {
    // long×long of two ~1e10 counts overflows (>9.2e18) — the target must
    // be computed in double space. ANSI mode turns the overflow into an
    // error, so a wrong expression FAILS here rather than silently lying.
    val target = spark.range(1)
      .select(QuotaSample.temperatureTarget(lit(20000000000L), lit(15000000000L)))
      .as[Long].collect()(0)
    target shouldBe math.ceil(math.sqrt(2.0e10 * 1.5e10)).toLong // 17320508076
  }

  test("temperatureRebalance: ranged form equals the window reference (skewed groups)") {
    // Round 16 swapped the per-group rank window (plus its separate
    // count aggregate) for the GroupedRanks pass; selection is a pure
    // function of the (md5, key) order, so the kept set, ranks and
    // targets must match the window form exactly — on a skewed mix,
    // where the escalation matters.
    val df = ((0 until 600).map(i => (i.toLong, "head")) ++
      (600 until 640).map(i => (i.toLong, "mid")) ++
      (640 until 646).map(i => (i.toLong, "tail")))
      .toDF("doc_id", "domain").repartition(11)
    def windowForm: Set[(Long, String, Long, Long)] = {
      val counts = df.groupBy(col("domain").cast("string").as("grp"))
        .agg(count(lit(1)).as("n"))
      val minN = counts.agg(min(col("n")).as("min_n"))
      val targets = counts.crossJoin(broadcast(minN))
        .select(col("grp"),
          ceil(sqrt(col("n").cast("double") * col("min_n").cast("double")))
            .cast("long").as("target"))
      val w = Window.partitionBy("grp").orderBy(col("ord"), col("key"))
      df.select(col("domain").cast("string").as("grp"),
          col("doc_id").cast("long").as("key"),
          md5(col("doc_id").cast("string").cast("binary")).as("ord"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .join(broadcast(targets), Seq("grp"))
        .filter(col("rk") <= col("target"))
        .collect().map(r => (r.getAs[Long]("key"), r.getAs[String]("grp"),
          r.getAs[Long]("rk"), r.getAs[Long]("target"))).toSet
    }
    val got = QuotaSample.temperatureRebalance(df, "domain")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("domain"),
        r.getAs[Long]("rk"), r.getAs[Long]("target"))).toSet
    got shouldBe windowForm
    // and the skew actually engaged: head downsampled toward √(600·6)=60
    got.count(_._2 == "head").toLong shouldBe math.ceil(math.sqrt(600.0 * 6.0)).toLong
    got.count(_._2 == "tail") shouldBe 6
  }

  test("temperatureRebalance: numeric group column joins symmetrically") {
    // Both sides of the targets join must build the string key the same
    // way — a native-vs-string mismatch would ride implicit coercion.
    val df = (0 until 60).map(i => (i.toLong, (i % 3).toLong)).toDF("doc_id", "bucket")
    val r = QuotaSample.temperatureRebalance(df, "bucket").collect()
    r.length shouldBe 60 // uniform groups: target = n, everything kept
    r.map(_.getAs[String]("bucket")).toSet shouldBe Set("0", "1", "2")
  }

  test("tokenBudgetSample: deterministic across partitionings") {
    val df = (0 until 200).map(i => (i.toLong, s"s${i % 5}", (i % 17 + 1).toLong))
      .toDF("doc_id", "source", "n_tokens")
    val a = QuotaSample.tokenBudgetSample(df.repartition(13), 50L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val b = QuotaSample.tokenBudgetSample(df.coalesce(1), 50L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    a shouldBe b
  }
}
