package graft.io

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSpec extends SparkSpec {

  private def write(name: String, body: String): String = {
    val dir = Files.createTempDirectory("sources-dev").toString
    Files.write(Paths.get(s"$dir/$name"), body.getBytes)
    s"$dir/$name"
  }

  test("devInferCsv infers usable types from a clean feed") {
    val path = write("feed.csv",
      """id,amount,seen_at
        |1,9.50,2019-10-01 10:00:00+00:00
        |2,3.25,2019-10-01 11:00:00+00:00
        |""".stripMargin)
    val df = Sources.devInferCsv(spark, path)
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    byName("id") shouldBe IntegerType // inferred, not string
    byName("amount") shouldBe DoubleType
    byName("seen_at") shouldBe TimestampType
    df.filter(col("id") === 2).select("amount")
      .collect().head.getDouble(0) shouldBe 3.25
  }

  test("devInferCsv quarantines malformed rows — and they widen inference (the documented hazard)") {
    val path = write("dirty.csv",
      """id,amount,seen_at
        |1,9.50,2019-10-01 10:00:00+00:00
        |oops,not-a-number
        |2,3.25,2019-10-01 11:00:00+00:00
        |""".stripMargin)
    // cache first: Spark disallows filtering RAW csv on only the corrupt
    // column (the row would have to re-parse to decide its own validity)
    val df = Sources.devInferCsv(spark, path).cache()
    try {
      // PERMISSIVE: the bad row survives, flagged — a dev exploring a new
      // feed sees what failed instead of losing the whole file
      df.filter(col("_corrupt_record").isNotNull).count() shouldBe 1
      df.filter(col("_corrupt_record").isNull).count() shouldBe 2
      // ...but ONE bad row degraded every column to string for the whole
      // load — precisely why production paths freeze an explicit schema
      // (Sources scaladoc) instead of inferring per run.
      df.schema("id").dataType shouldBe StringType
    } finally df.unpersist()
  }

  test("legacyEventsCsv reads the legacy schema and keeps the first n rows") {
    val path = write("events.csv",
      """timestamp,visitorid,event,itemid,transactionid
        |1433221332117,257597,view,355908,
        |1433224214164,992329,addtocart,248676,
        |1433221999827,111016,transaction,318965,4000
        |""".stripMargin)
    val df = Sources.legacyEventsCsv(spark, path, limit = Some(2))
    // file sources read every column as nullable; names and types hold
    df.schema.map(f => f.name -> f.dataType) shouldBe
      graft.schema.Schemas.legacyEvent.map(f => f.name -> f.dataType)
    df.collect().map(_.getAs[Long]("visitorid")) shouldBe Array(257597L, 992329L)
  }

  test("documentsJsonl reads the declared schema and quarantines bad lines") {
    val dir = java.nio.file.Files.createTempDirectory("graft-jsonl").toFile
    val f = new java.io.File(dir, "docs.jsonl")
    java.nio.file.Files.writeString(f.toPath,
      """{"doc_id": 1, "text": "hello world", "lang": "en", "source": "s1", "n_chars": 11}
        |{"doc_id": 2, "text": "second doc", "lang": "en", "source": "s2", "n_chars": 10}
        |{"doc_id": 3, "text": "truncated...
        |""".stripMargin)
    val df = Sources.documentsJsonl(spark, f.getAbsolutePath).cache()
    try {
      val good = df.filter(col("_corrupt_record").isNull)
      good.count() shouldBe 2
      good.select("doc_id").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
      df.filter(col("_corrupt_record").isNotNull).count() shouldBe 1
      df.schema("doc_id").dataType shouldBe org.apache.spark.sql.types.LongType
      // reads straight into the corpus operators:
      graft.text.TextOps.textStats(good.drop("_corrupt_record")).count() shouldBe 2
    } finally df.unpersist()
  }
}
