package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  // n_docs = 5 (null text is excluded, blank text is not), sum_dl = 9,
  // avgdl = 1.8 — small enough to hand-check every score below.
  private def docs = Seq(
    (0L, "apple banana cherry"),
    (1L, "apple apple apple"),
    (2L, "apple banana"),
    (3L, "durian"),
    (4L, ""),
    (5L, null.asInstanceOf[String])
  ).toDF("doc_id", "text")

  /** The reference formula, computed independently of the Column DSL —
    * same op order, so the engine must match it bit-for-bit. */
  private def bm25Q6(tf: Long, dl: Long, df: Long, nDocs: Long,
                     sumDl: Long, k1: Double = 1.2, b: Double = 0.75): Long = {
    val avgdl = sumDl.toDouble / nDocs
    val idf = math.log(1.0 + ((nDocs - df).toDouble + 0.5) / (df.toDouble + 0.5))
    val tfNorm = (tf.toDouble * (k1 + 1.0)) /
      (tf.toDouble + k1 * ((1.0 - b) + b * dl.toDouble / avgdl))
    math.floor(idf * tfNorm * 1e6).toLong
  }

  test("corpus stats count blank docs but not null-text docs") {
    val r = Bm25.corpusStats(docs).collect()(0)
    r.getAs[Long]("n_docs") shouldBe 5L
    r.getAs[Long]("sum_dl") shouldBe 9L
  }

  test("postings carry tf and dl; blank docs contribute none") {
    val p = Bm25.postings(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) ->
        (r.getAs[Long]("tf"), r.getAs[Long]("dl"))).toMap
    p((1L, "apple")) shouldBe (3L, 3L)
    p((2L, "banana")) shouldBe (1L, 2L)
    p.keys.map(_._1) should not contain 4L
    p.keys.map(_._1) should not contain 5L
  }

  test("queryBags: first-appearance order, deduped, capped") {
    val q = Seq((7L, "b a b c a d")).toDF("doc_id", "text")
    val bag = Bm25.queryBags(q, maxTerms = 3).orderBy("term").collect()
      .map(_.getAs[String]("term")).toSeq
    bag shouldBe Seq("a", "b", "c") // d is 4th by first appearance
  }

  test("topK: hand-checked scores, self-hit excluded, n_terms_hit counted") {
    val bags = Bm25.queryBags(docs.filter(col("doc_id") === 0), maxTerms = 8)
    val out = Bm25.topK(docs, bags).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rank"), r.getAs[Long]("n_terms_hit"),
          r.getAs[Double]("score"))).toMap
    // df: apple 3 (docs 0,1,2), banana 2 (0,2), cherry 1 (0)
    val d2 = bm25Q6(tf = 1, dl = 2, df = 3, nDocs = 5, sumDl = 9) +
      bm25Q6(tf = 1, dl = 2, df = 2, nDocs = 5, sumDl = 9)
    val d1 = bm25Q6(tf = 3, dl = 3, df = 3, nDocs = 5, sumDl = 9)
    out.keySet shouldBe Set(1L, 2L) // no self-hit (0), no durian/blank/null
    out(2L) shouldBe (1L, 2L, d2.toDouble / 1e6) // two terms beat one
    out(1L) shouldBe (2L, 1L, d1.toDouble / 1e6)
  }

  test("topK: higher tf wins at equal dl and term set") {
    val corpus = Seq(
      (0L, "x y"), (1L, "x x x"), (2L, "x z q"), (3L, "p q r")
    ).toDF("doc_id", "text")
    val bags = Seq((0L, "x")).toDF("query_id", "term")
    val out = Bm25.topK(corpus, bags).collect()
      .map(r => r.getAs[Long]("rank") -> r.getAs[Long]("doc_id")).toMap
    out(1L) shouldBe 1L // tf=3 outranks tf=1 (dl difference is second-order here)
    out(2L) shouldBe 2L
  }
}
