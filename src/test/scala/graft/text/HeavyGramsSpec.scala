package graft.text

import graft.SparkSpec
import org.apache.spark.sql.Row

class HeavyGramsSpec extends SparkSpec {
  import spark.implicits._

  private def run(k: Int, rows: (Long, String)*): Map[String, Row] =
    HeavyGrams.heavyGrams(rows.toDF("doc_id", "text"), k = k)
      .collect().map(r => r.getAs[String]("gram") -> r).toMap

  test("a planted heavy phrase surfaces with its EXACT count; singletons do not") {
    // 30 copies of the phrase → each interior 3-gram count 30; filler
    // docs contribute distinct grams once each
    val phrase = (1L, Array.fill(30)("buy gold now").mkString(" "))
    val fillers = (2 to 40).map(i =>
      (i.toLong, s"alpha$i beta$i gamma$i delta$i epsilon$i"))
    // N = 88 phrase grams + 39×3 filler grams = 205; k=20 → threshold
    // floor(205/21)+1 = 10
    val out = run(20, (phrase +: fillers): _*)
    out("buy gold now").getAs[Long]("n") shouldBe 30L
    out("buy gold now").getAs[Long]("threshold") shouldBe 10L
    out.keySet.foreach(g => assert(g.contains("buy") || g.contains("gold") ||
      g.contains("now"), s"unexpected heavy gram: $g"))
    out.keys.exists(_.startsWith("alpha")) shouldBe false
  }

  test("candidate capacity overflow cannot evict a true heavy hitter (MG superset guarantee)") {
    // 500 distinct filler grams swamp a k=50 summary; the heavy gram
    // (count 40) is above N/(k+1) ≈ (540+118)/51 ≈ 12.9 and MUST survive
    val heavy = (1L, Array.fill(40)("spam spam spam").mkString(" "))
    val fillers = (2 to 181).map(i =>
      (i.toLong, s"a$i b$i c$i d$i e$i"))
    val out = run(50, (heavy +: fillers): _*)
    out("spam spam spam").getAs[Long]("n") shouldBe 118L
    // 40 copies back-to-back: "spam spam spam" at every of the 118
    // positions of the 120-token doc
  }

  test("docs shorter than w and null/empty text contribute nothing; empty corpus is empty") {
    run(100, (1L, "one two"), (2L, ""), (3L, null.asInstanceOf[String]))
      .isEmpty shouldBe true
    HeavyGrams.heavyGrams(Seq.empty[(Long, String)]
      .toDF("doc_id", "text")).count() shouldBe 0L
  }

  test("output is identical across partitionings (sketch internals unobservable)") {
    val docs = ((1 to 60).map(i => (i.toLong, s"x$i y$i z$i w$i")) :+
      (100L, Array.fill(25)("repeat me often").mkString(" ")))
    val a = HeavyGrams.heavyGrams(docs.toDF("doc_id", "text").repartition(1), k = 30)
      .collect().map(_.toString).sorted.toSeq
    val b = HeavyGrams.heavyGrams(docs.toDF("doc_id", "text").repartition(13), k = 30)
      .collect().map(_.toString).sorted.toSeq
    a shouldBe b
    a.nonEmpty shouldBe true
  }
}
