package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, lit}
import java.sql.Timestamp

case class StreamDoc(doc_id: Long, arrival_ts: Timestamp, text: String)

class StreamingCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  private val good =
    "the quick brown fox jumps over the lazy dog and runs to a barn " +
      "mail me at a@b.co from 10.0.0.1"
  private val junk = "zzz qqq www rrr" // fails the lang gate

  test("streaming gate+scrub output equals the batch path on the same rows") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    input.addData(StreamDoc(1L, ts(0), good), StreamDoc(2L, ts(1), junk))
    val q = StreamingCorpus.gateAndScrub(input.toDF())
      .writeStream.format("memory").queryName("gate_scrub").outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("gate_scrub")
      .select("doc_id", "lang_pred", "quality", "n_emails", "n_ips", "text_redacted")
      .collect().toSeq
    val batch = StreamingCorpus.gateAndScrub(
        Seq(StreamDoc(1L, ts(0), good), StreamDoc(2L, ts(1), junk)).toDF())
      .select("doc_id", "lang_pred", "quality", "n_emails", "n_ips", "text_redacted")
      .collect().toSeq
    streamed shouldBe batch
    streamed.map(_.getLong(0)) shouldBe Seq(1L) // junk doc gated out
    streamed(0).getAs[String]("text_redacted") should (include("<EMAIL>") and include("<IP>"))
  }

  test("composed chain: PII-variant copies dedup AFTER the scrub (v2 order, streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and runs to a barn"
    val input = MemoryStream[StreamDoc]
    val q = StreamingCorpus.prepareStream(input.toDF())
      .select("doc_id")
      .writeStream.format("memory").queryName("prepared").outputMode("append").start()
    // Same content, distinct PII — identical only after redaction.
    input.addData(StreamDoc(1L, ts(0), s"$base mail alice@corp.example"))
    q.processAllAvailable()
    input.addData(
      StreamDoc(2L, ts(1), s"$base mail bob@corp.example"), // dup post-scrub
      StreamDoc(3L, ts(2), junk))                           // gated out
    q.processAllAvailable()
    q.stop()
    spark.table("prepared").as[Long].collect().toSet shouldBe Set(1L)
  }

  test("streaming learned-gate scoring equals the batch scorer row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    // model trained in the batch tier on a small labeled corpus
    val trainDocs = Seq(
      (1L, good), (2L, junk), (3L, good + " and more of the fine text"),
      (4L, "9912 8817 4432 11 00 23")).toDF("doc_id", "text")
    val model = graft.text.QualityClassifier.train(trainDocs)
    val input = MemoryStream[StreamDoc]
    input.addData(StreamDoc(10L, ts(0), good), StreamDoc(11L, ts(1), junk))
    val q = StreamingCorpus.scoreStream(input.toDF(), model)
      .writeStream.format("memory").queryName("scored_stream").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("scored_stream")
      .select("doc_id", "label", "logit", "pred").collect().toSeq
    val batch = graft.text.QualityClassifier.score(
        Seq((10L, good), (11L, junk)).toDF("doc_id", "text"), model)
      .select("doc_id", "label", "logit", "pred").collect().toSeq
    streamed.sortBy(_.getLong(0)) shouldBe batch.sortBy(_.getLong(0))
    // and the admission filter keeps only classifier-passed docs
    val input2 = MemoryStream[StreamDoc]
    input2.addData(StreamDoc(10L, ts(0), good), StreamDoc(11L, ts(1), junk))
    val q2 = StreamingCorpus.scoreStream(input2.toDF(), model, admittedOnly = true)
      .writeStream.format("memory").queryName("admitted_stream").outputMode("append").start()
    q2.processAllAvailable(); q2.stop()
    spark.table("admitted_stream").select("doc_id").as[Long].collect().toSet shouldBe
      batch.filter(_.getLong(3) == 1L).map(_.getLong(0)).toSet
  }

  test("streaming near-dup admission flags exactly what the batch probe flags") {
    implicit val sqlCtx = spark.sqlContext
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val arrivals = Seq(
      StreamDoc(10L, ts(0), "alpha beta gamma delta epsilon zeta"),
      StreamDoc(11L, ts(1), "totally unrelated content right here"),
      StreamDoc(12L, ts(2), "one two three four five six"))
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val input = MemoryStream[StreamDoc]
    val q = StreamingCorpus.nearDupAdmission(input.toDF(), index) {
      (pairs, _) =>
        flagged ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    input.addData(arrivals.take(2): _*)
    q.processAllAvailable()
    input.addData(arrivals.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    val batchPairs = graft.dedup.IncrementalNearDup.probeIndex(
        arrivals.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
        index, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    flagged.toSet shouldBe batchPairs.toSet
    flagged.toSet shouldBe Set((10L, 1L), (12L, 2L))
  }

  test("streaming HLL register store equals the one-shot batch build — across batches AND a restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.HyperLogLog
    val store = java.nio.file.Files.createTempDirectory("graft-hll-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-hll-ckpt").toString
    val docs = (1 to 120).map(i =>
      StreamDoc(i.toLong, ts(i % 50), s"src${i % 3} content ${i % 37} filler"))
    def src(d: StreamDoc) = s"src${d.doc_id % 3}"
    // stream in two chunks under one query, then a THIRD after a restart
    val in1 = MemoryStream[StreamDoc]
    val q1 = StreamingCorpus.hllRegisterStream(
      in1.toDF().select(col("text"), expr("concat('src', doc_id % 3)").as("source")),
      HyperLogLog.hash48(col("text")), store, ckpt)
    in1.addData(docs.take(40): _*); q1.processAllAvailable()
    in1.addData(docs.slice(40, 80): _*); q1.processAllAvailable()
    q1.stop()
    val in2 = MemoryStream[StreamDoc] // a fresh query on the same store
    val q2 = StreamingCorpus.hllRegisterStream(
      in2.toDF().select(col("text"), expr("concat('src', doc_id % 3)").as("source")),
      HyperLogLog.hash48(col("text")),
      store, java.nio.file.Files.createTempDirectory("graft-hll-ckpt2").toString)
    in2.addData(docs.drop(80): _*); q2.processAllAvailable()
    q2.stop()
    // register max is associative/commutative/idempotent → the standing
    // store is BIT-IDENTICAL to one batch build over every row seen
    val streamed = StreamingCorpus.latestRegisters(spark, store).get
      .select("source", "bucket", "rho")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val batch = HyperLogLog.registers(
        docs.map(d => (src(d), d.text)).toDF("source", "text")
          .select(col("source"), HyperLogLog.hash48(col("text")).as("h")),
        Seq("source"), col("h"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    streamed shouldBe batch
    // and the estimates agree with the exact distinct per source
    val est = HyperLogLog.estimate(
        StreamingCorpus.latestRegisters(spark, store).get, Seq("source"))
      .select("source", "hll_estimate").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val exact = docs.map(d => (src(d), d.text)).distinct.groupBy(_._1)
      .view.mapValues(_.size).toMap
    est.keySet shouldBe exact.keySet
    est.foreach { case (s0, e) =>
      math.abs(e - exact(s0)) / exact(s0) should be < 0.25 // 37 distinct, m=4096 → near-exact linear counting
    }
  }

  test("streaming KMV sketch store equals the one-shot batch sketch — across batches AND a restart") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{HyperLogLog, KmvSketch}
    val store = java.nio.file.Files.createTempDirectory("graft-kmv-store").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kmv-ckpt").toString
    val docs = (1 to 120).map(i =>
      StreamDoc(i.toLong, ts(i % 50), s"src${i % 3} content ${i % 37} filler"))
    def src(d: StreamDoc) = s"src${d.doc_id % 3}"
    val k = 16 // < distinct count per group, so the k-bound actually cuts
    val in1 = MemoryStream[StreamDoc]
    val q1 = StreamingCorpus.kmvSketchStream(
      in1.toDF().select(col("text"), expr("concat('src', doc_id % 3)").as("source")),
      HyperLogLog.hash48(col("text")), store, ckpt, k)
    in1.addData(docs.take(40): _*); q1.processAllAvailable()
    in1.addData(docs.slice(40, 80): _*); q1.processAllAvailable()
    q1.stop()
    val in2 = MemoryStream[StreamDoc] // a fresh query on the same store
    val q2 = StreamingCorpus.kmvSketchStream(
      in2.toDF().select(col("text"), expr("concat('src', doc_id % 3)").as("source")),
      HyperLogLog.hash48(col("text")),
      store, java.nio.file.Files.createTempDirectory("graft-kmv-ckpt2").toString, k)
    in2.addData(docs.drop(80): _*); q2.processAllAvailable()
    q2.stop()
    // KMV state is a pure function of the item set → the standing store
    // is BIT-IDENTICAL to one batch build over every row seen
    val streamed = StreamingCorpus.latestRegisters(spark, store).get
      .select("source", "sk")
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toList)).toMap
    val batch = docs.map(d => (src(d), d.text)).toDF("source", "text")
      .select(col("source"), HyperLogLog.hash48(col("text")).as("h"))
      .groupBy("source").agg(KmvSketch.kMin(k)(col("h")).as("sk"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1).toList)).toMap
    streamed shouldBe batch
    // and the standing sketches serve a live SET OPERATION — the
    // stream-vs-standing-corpus overlap HLL registers cannot answer
    val sk = StreamingCorpus.latestRegisters(spark, store).get
    val pair = sk.filter(col("source") === "src0").select(col("sk").as("ska"))
      .crossJoin(sk.filter(col("source") === "src1").select(col("sk").as("skb")))
      .select(KmvSketch.jaccardEstimate(col("ska"), col("skb"), k).as("j"))
      .as[Double].head()
    pair should (be >= 0.0 and be <= 1.0)
  }

  test("kmvOverlapCard: exact overlap counts off the STREAMED store whenever sets fit the sketches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.HyperLogLog
    val store = java.nio.file.Files.createTempDirectory("graft-kmv-card").toString
    // standing corpus: src0 holds items 0..9, src1 holds 5..14 (as text)
    val docs = (0 to 9).map(i => StreamDoc(i.toLong, ts(i), s"item-$i")) ++
      (5 to 14).map(i => StreamDoc(100L + i, ts(i), s"item-$i"))
    def src(d: StreamDoc) = if (d.doc_id < 100) "src0" else "src1"
    val in = MemoryStream[StreamDoc]
    val q = StreamingCorpus.kmvSketchStream(
      in.toDF().select(col("text"),
        expr("CASE WHEN doc_id < 100 THEN 'src0' ELSE 'src1' END").as("source")),
      HyperLogLog.hash48(col("text")), store,
      java.nio.file.Files.createTempDirectory("graft-kmv-card-ckpt").toString)
    in.addData(docs: _*); q.processAllAvailable(); q.stop()
    // incoming batch: items 8..12 ({8,9} already in src0, all 5 in src1)
    val batch = (8 to 12).map(i => s"item-$i").toDF("text")
    val card = StreamingCorpus.kmvOverlapCard(spark, store,
        batch, HyperLogLog.hash48(col("text")))
      .select("source", "standing_distinct", "batch_distinct", "est_common")
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // all sets ≪ k=256, so every estimate is EXACT
    card("src0") shouldBe ((10.0, 5.0, 2.0))
    card("src1") shouldBe ((10.0, 5.0, 5.0))
    // empty batch → empty card WITH the full schema (consumers can
    // still reference columns); missing store / wrong k FAIL loudly —
    // a typo'd dir must never read as "no overlap, admit everything"
    val empty = StreamingCorpus.kmvOverlapCard(spark, store,
      spark.emptyDataFrame.withColumn("text", lit("x")).filter(lit(false)),
      HyperLogLog.hash48(col("text")))
    empty.select("source", "est_common", "est_jaccard").count() shouldBe 0
    intercept[IllegalStateException] {
      StreamingCorpus.kmvOverlapCard(spark, "/nonexistent-store-dir",
        batch, HyperLogLog.hash48(col("text")))
    }.getMessage should include("no complete KMV store")
    intercept[IllegalArgumentException] {
      StreamingCorpus.kmvOverlapCard(spark, store,
        batch, HyperLogLog.hash48(col("text")), k = 64)
    }.getMessage should include("built with k=256")
    // the WRITER guards k too: restarting the stream at a different k
    // would fold truncated sketches and re-stamp them as the larger k
    val in2 = MemoryStream[StreamDoc]
    val q2 = StreamingCorpus.kmvSketchStream(
      in2.toDF().select(col("text"), lit("src0").as("source")),
      HyperLogLog.hash48(col("text")), store,
      java.nio.file.Files.createTempDirectory("graft-kmv-card-ckpt2").toString,
      k = 64)
    in2.addData(StreamDoc(999L, ts(0), "item-99"))
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    thrown.getMessage should include("k is fixed at creation")
  }

  test("content dedup drops exact copies across micro-batches within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val q = StreamingCorpus.dedupByContent(input.toDF())
      .select("doc_id")
      .writeStream.format("memory").queryName("content_dedup").outputMode("append").start()
    input.addData(StreamDoc(1L, ts(0), "same text"), StreamDoc(2L, ts(1), "other text"))
    q.processAllAvailable()
    input.addData(StreamDoc(3L, ts(2), "same text")) // exact copy, later batch
    q.processAllAvailable()
    q.stop()
    spark.table("content_dedup").as[Long].collect().toSet shouldBe Set(1L, 2L)
  }
}
