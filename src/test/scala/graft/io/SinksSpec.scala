package graft.io

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("replaceTable drops and recreates (S3 replace semantics)") {
    Sinks.replaceTable(Seq((1L, "a")).toDF("id", "v"), "t_replace")
    Sinks.replaceTable(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), "t_replace")
    spark.table("t_replace").count() shouldBe 2
    spark.sql("DROP TABLE t_replace")
  }

  test("publishMartDay writes dt= layout and skips empty frames (S5/S6)") {
    val mart = Files.createTempDirectory("sinks-mart").toString
    Sinks.publishMartDay(Seq((1, 2.0)).toDF("a", "b"), mart, "m1", "2019-10-01")
    Files.exists(Paths.get(s"$mart/aggregates/m1/dt=2019-10-01")) shouldBe true
    Sinks.publishMartDay(Seq((1, 2.0)).toDF("a", "b").filter(lit(false)),
      mart, "m_empty", "2019-10-01")
    Files.exists(Paths.get(s"$mart/aggregates/m_empty")) shouldBe false
    spark.sql("DROP TABLE agg_m1")
  }

  test("events round-trip losslessly through ORC and JSON sinks") {
    // Format is configuration, not code: the same frame writes to the
    // columnar (ORC) and row-text (JSON) formats Spark ships natively.
    val dir = Files.createTempDirectory("sinks-fmt").toString
    val df = graft.Tables.events(spark, sf("sf0.001"))
      .select("event_id", "user_id", "event_type", "value", "ts")
    df.write.mode("overwrite").orc(s"$dir/orc")
    // JSON's default timestamp pattern is millisecond-precision — an
    // explicit micros pattern keeps the round-trip lossless.
    val ntzFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    df.write.mode("overwrite").option("timestampNTZFormat", ntzFmt).json(s"$dir/json")
    val orc = spark.read.orc(s"$dir/orc")
    orc.schema shouldBe df.schema
    orc.count() shouldBe df.count()
    orc.exceptAll(df).count() shouldBe 0
    // JSON is schema-on-read: supply the schema, then content matches.
    val json = spark.read.schema(df.schema)
      .option("timestampNTZFormat", ntzFmt).json(s"$dir/json")
    json.count() shouldBe df.count()
    json.exceptAll(df).count() shouldBe 0
  }

  test("writeSortedShards produces disjoint, internally-sorted key ranges") {
    val dir = Files.createTempDirectory("sinks-shards").toString
    val df = spark.range(0, 1000).select(
      (col("id") * 7919 % 1000).as("k"), col("id").as("v")) // scrambled keys
    Sinks.writeSortedShards(df, s"$dir/shards", 4, Seq("k"))
    val files = new java.io.File(s"$dir/shards").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    files.length shouldBe 4
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min("k"), max("k")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // each file sorted internally
    files.foreach { f =>
      val ks = spark.read.parquet(f).select("k").as[Long].collect()
      ks.toSeq shouldBe ks.sorted.toSeq
    }
    // ranges pairwise disjoint
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array((_, hi), (lo, _)) => hi should be < lo
      case _ =>
    }
    ranges.map { case (lo, hi) => hi - lo }.sum should be > 0L
  }

  test("registerMartTable spans every dt= partition like the crawler (S7)") {
    val mart = Files.createTempDirectory("sinks-reg").toString
    val df = Seq((1, 2)).toDF("x", "y")
    Sinks.publishMartDay(df, mart, "sinkspec_probe", "2019-10-01")
    spark.catalog.tableExists("agg_sinkspec_probe") shouldBe true
    spark.table("agg_sinkspec_probe").count() shouldBe 1
    // a later day lands; re-registration (crawler re-run) discovers it
    Sinks.publishMartDay(df, mart, "sinkspec_probe", "2019-10-02")
    spark.table("agg_sinkspec_probe").count() shouldBe 2
    spark.table("agg_sinkspec_probe").select("dt").distinct().count() shouldBe 2
    spark.sql("DROP TABLE agg_sinkspec_probe")
  }

  test("registerMartTable refreshes the catalog schema on mart evolution (UPDATE_IN_DATABASE)") {
    val mart = Files.createTempDirectory("sinks-evolve").toString
    val v1 = Seq((1, 2)).toDF("x", "y")
    Sinks.publishMartDay(v1, mart, "sinkspec_evolve", "2019-10-01")
    spark.table("agg_sinkspec_evolve").columns.toSeq shouldBe Seq("x", "y", "dt")
    // the mart grows a column; re-registration re-creates the definition
    val v2 = Seq((1, 2, 9L)).toDF("x", "y", "z")
    Sinks.publishMartDay(v2, mart, "sinkspec_evolve", "2019-10-02")
    val evolved = spark.table("agg_sinkspec_evolve")
    evolved.columns.toSeq shouldBe Seq("x", "y", "z", "dt")
    // history stayed on disk; the old partition reads the new column as null
    evolved.count() shouldBe 2
    evolved.filter(col("dt") === "2019-10-01")
      .select("z").collect().head.isNullAt(0) shouldBe true
    evolved.filter(col("dt") === "2019-10-02")
      .select("z").as[Long].collect() shouldBe Array(9L)
    // unchanged schema → no churn, registration stays idempotent
    Sinks.registerMartTable(v2, mart, "sinkspec_evolve", "2019-10-02", rows = 1L)
    spark.table("agg_sinkspec_evolve").count() shouldBe 2
    spark.sql("DROP TABLE agg_sinkspec_evolve")
  }

  private def partitions(table: String): Seq[String] =
    spark.sql(s"SHOW PARTITIONS $table").collect().map(_.getString(0)).toSeq.sorted

  test("publishMartDay returns the row count; an empty day leaves no partition (S6)") {
    val mart = Files.createTempDirectory("sinks-s6").toString
    val df = Seq((1, 2), (3, 4)).toDF("x", "y")
    Sinks.publishMartDay(df, mart, "sinkspec_s6", "2019-10-01") shouldBe 2L
    Sinks.publishMartDay(df.filter(lit(false)), mart, "sinkspec_s6", "2019-10-02") shouldBe 0L
    Files.exists(Paths.get(s"$mart/aggregates/sinkspec_s6/dt=2019-10-02")) shouldBe false
    partitions("agg_sinkspec_s6") shouldBe Seq("dt=2019-10-01")
    spark.table("agg_sinkspec_s6").count() shouldBe 2
    spark.sql("DROP TABLE agg_sinkspec_s6")
  }

  test("an empty re-run of a written day removes its directory and its catalog partition (S6)") {
    val mart = Files.createTempDirectory("sinks-rerun").toString
    val df = Seq((1, 2)).toDF("x", "y")
    Seq("2019-10-01", "2019-10-02").foreach { d =>
      Sinks.publishMartDay(df, mart, "sinkspec_rerun", d)
    }
    partitions("agg_sinkspec_rerun") shouldBe Seq("dt=2019-10-01", "dt=2019-10-02")
    // the day's current result is empty: the mart mirrors it
    Sinks.publishMartDay(df.filter(lit(false)), mart, "sinkspec_rerun", "2019-10-02") shouldBe 0L
    Files.exists(Paths.get(s"$mart/aggregates/sinkspec_rerun/dt=2019-10-02")) shouldBe false
    Files.exists(Paths.get(s"$mart/aggregates/sinkspec_rerun/dt=2019-10-01")) shouldBe true
    partitions("agg_sinkspec_rerun") shouldBe Seq("dt=2019-10-01")
    spark.table("agg_sinkspec_rerun").select("dt").as[String].collect().toSeq shouldBe
      Seq("2019-10-01")
    spark.sql("DROP TABLE agg_sinkspec_rerun")
  }

  test("registerMartTable on a standing table with matching schema and location runs no Spark job") {
    val mart = Files.createTempDirectory("sinks-nojob").toString
    val df = Seq((1, 2)).toDF("x", "y")
    Sinks.publishMartDay(df, mart, "sinkspec_nojob", "2019-10-01") // creates it
    // the day's files alone: the registration below is the one measured
    df.write.parquet(s"$mart/aggregates/sinkspec_nojob/dt=2019-10-02")
    val sc = spark.sparkContext
    assert(org.apache.spark.graft.BenchListenerBus.drain(sc, 60000L), "listener bus did not drain")
    val listener = new graft.tools.Harness.StatsListener(sc)
    sc.addSparkListener(listener)
    try {
      Sinks.registerMartTable(df, mart, "sinkspec_nojob", "2019-10-02", rows = 1L)
      listener.quiesce()
      listener.jobs shouldBe empty
    } finally sc.removeSparkListener(listener)
    partitions("agg_sinkspec_nojob") shouldBe Seq("dt=2019-10-01", "dt=2019-10-02")
    spark.sql("DROP TABLE agg_sinkspec_nojob")
  }

  private val overwriteModeConf = "spark.sql.sources.partitionOverwriteMode"

  test("upsertDatePartition tables own their dynamic overwrite: a plain insertInto on a STATIC session replaces one day only (S3)") {
    spark.sql("DROP TABLE IF EXISTS sinkspec_fact_events")
    def day(d: String, n: Long) =
      Seq((1L, "view", n)).toDF("product_id", "event_type", "n")
        .withColumn("event_date", to_date(lit(d)))
    // unset on the session, so the STATIC default holds
    spark.conf.getAll.get(overwriteModeConf) shouldBe None
    spark.conf.get(overwriteModeConf) shouldBe "STATIC"
    Sinks.upsertDatePartition(day("2019-10-01", 1L), "sinkspec_fact_events")
    Sinks.upsertDatePartition(day("2019-10-02", 2L), "sinkspec_fact_events")
    spark.conf.getAll.get(overwriteModeConf) shouldBe None
    day("2019-10-02", 3L)
      .select("product_id", "event_type", "n", "event_date")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).insertInto("sinkspec_fact_events")
    spark.table("sinkspec_fact_events")
      .select(col("event_date").cast("string"), col("n")).as[(String, Long)]
      .collect().sorted.toSeq shouldBe Seq("2019-10-01" -> 1L, "2019-10-02" -> 3L)
    spark.conf.getAll.get(overwriteModeConf) shouldBe None
    spark.sql("DROP TABLE sinkspec_fact_events")
  }

  test("upsertDatePartition refuses a standing table without the dynamic overwrite option (S3)") {
    spark.sql("DROP TABLE IF EXISTS sinkspec_static")
    val df = Seq((1L, 1L)).toDF("id", "n").withColumn("event_date", to_date(lit("2019-10-01")))
    df.write.partitionBy("event_date").saveAsTable("sinkspec_static")
    val err = intercept[IllegalArgumentException] {
      Sinks.upsertDatePartition(df, "sinkspec_static")
    }
    err.getMessage should include("sinkspec_static")
    spark.table("sinkspec_static").count() shouldBe 1
    spark.sql("DROP TABLE sinkspec_static")
  }

  test("writeCsvSummary produces a single readable CSV with header (S9)") {
    val out = Files.createTempDirectory("sinks-csv").toString + "/summary"
    Sinks.writeCsvSummary(Seq(("2019-10-01", "view", 3L)).toDF("d", "e", "n"), out)
    val files = Files.list(Paths.get(out)).toArray.map(_.toString)
      .filter(_.endsWith(".csv"))
    files.length shouldBe 1 // coalesce(1) one-file contract
    val back = spark.read.option("header", "true").csv(out)
    back.columns.toSeq shouldBe Seq("d", "e", "n")
    back.count() shouldBe 1
  }
}
