package graft.dedup

import graft.SparkSpec

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private val benchmark = Seq(
    (1L, "the capital of france is paris and the capital of spain is madrid"),
    (2L, "two plus two equals four")
  ).toDF("doc_id", "text")

  test("exact and near copies of benchmark docs are flagged; clean docs are not") {
    val corpus = Seq(
      (100L, "the capital of france is paris and the capital of spain is madrid"), // exact
      (101L, "note that the capital of france is paris and the capital of spain is madrid"), // embedded
      (102L, "completely unrelated text about training data pipelines at scale"),
      (103L, "two plus two equals four")
    ).toDF("doc_id", "text")
    val flagged = Decontaminate.contaminated(corpus, benchmark)
      .select("doc_id").as[Long].collect().toSet
    flagged shouldBe Set(100L, 101L, 103L)
  }

  test("hit ratio and counts are exact for a half-contaminated doc") {
    // 5 tokens -> 3 shingles; shares exactly 2 of 3 with the benchmark
    val corpus = Seq((200L, "two plus two equals five")).toDF("doc_id", "text")
    val r = Decontaminate.contaminated(corpus, benchmark, ratioThreshold = 0.5)
      .collect()(0)
    r.getAs[Long]("n_grams") shouldBe 3
    r.getAs[Long]("n_hits") shouldBe 2
    r.getAs[Double]("hit_ratio") shouldBe (2.0 / 3.0) +- 1e-12
  }

  test("benchmark gram set is broadcast (corpus side never shuffles to join)") {
    val corpus = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val plan = Decontaminate.contaminated(corpus, benchmark)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
  }

  test("span excision cuts exactly the quoted eval span and keeps the rest") {
    // benchmark item is 13 tokens; w = 8 stride-1 windows cover precisely
    // the quoted run inside a longer document
    val prefix = "in my essay about european geography i note that"
    val quote = "the capital of france is paris and the capital of spain is madrid"
    val suffix = "which every student learns early on in school each year"
    val corpus = Seq(
      (300L, s"$prefix $quote $suffix"), // embedded quote
      (301L, quote),                     // whole doc = eval item
      (302L, "completely unrelated text about training data pipelines at scale today")
    ).toDF("doc_id", "text")
    val out = Decontaminate.exciseSpans(corpus, benchmark)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // embedded: exactly the 13 quoted tokens are removed, prefix+suffix survive
    out(300L)._2 shouldBe 13L
    out(300L)._3 shouldBe s"$prefix $suffix"
    // whole-copy: scrubs to empty
    out(301L)._2 shouldBe out(301L)._1
    out(301L)._3 shouldBe ""
    // clean doc: untouched (normalized join only)
    out(302L)._2 shouldBe 0L
  }
}
