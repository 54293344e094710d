package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one(text: String) = Seq((1L, text)).toDF("doc_id", "text")

  test("wordCount / tokenEstimate / digit and punct counts") {
    val df = one("The cat sat, 42 times!")
    val r = TextOps.textStats(df).collect()(0)
    r.getAs[Long]("n_words") shouldBe 5 // the, cat, sat, 42, times
    r.getAs[Long]("n_digits") shouldBe 2
    r.getAs[Long]("n_punct") shouldBe 2 // comma + bang... '!' not in class? see below
    r.getAs[Long]("n_stopwords") shouldBe 1 // 'the'
  }

  test("langId: english text detected, non-stopword text unknown") {
    val en = one("the quick brown fox jumps over the lazy dog and runs to a barn")
    val xx = one("zzz qqq www rrr ttt yyy uuu")
    en.select(TextOps.langId($"text")).as[String].collect()(0) shouldBe "en"
    xx.select(TextOps.langId($"text")).as[String].collect()(0) shouldBe "unknown"
    one("").select(TextOps.langId($"text")).as[String].collect()(0) shouldBe "unknown"
  }

  test("qualityScore stays in [0,1] and favors stopword-rich prose") {
    val prose = one("the cat and the dog ran to the house in a field of grass")
    val junk = one("0 1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9")
    val p = prose.select(TextOps.qualityScore($"text")).as[Double].collect()(0)
    val j = junk.select(TextOps.qualityScore($"text")).as[Double].collect()(0)
    p should be > j
    p should (be >= 0.0 and be <= 1.0)
    j should (be >= 0.0 and be <= 1.0)
  }

  test("fingerprint is md5 hex of the utf-8 bytes") {
    one("abc").select(TextOps.fingerprint($"text")).as[String].collect()(0) shouldBe
      "900150983cd24fb0d6963f7d28e17f72"
  }

  test("chunking: sliding windows with overlap, last partial window kept") {
    val words = (1 to 85).map(i => s"w$i")
    val df = Seq((1L, words.mkString(" ")), (2L, "tiny doc")).toDF("doc_id", "text")
    val out = TextOps.chunk(df)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "n_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect()
    out.map(r => (r._1, r._2, r._3)) shouldBe Array(
      (1L, 0L, 50L), (1L, 1L, 45L), (1L, 2L, 5L), (2L, 0L, 2L))
    out(0)._4 should startWith("w1 w2 ")
    out(1)._4 should startWith("w41 ") // stride-40 overlap
    out(2)._4 shouldBe "w81 w82 w83 w84 w85"
    out(3)._4 shouldBe "tiny doc"
  }

  test("compiled profile pass is bit-identical to the Column forms") {
    val texts = Seq(
      "The cat sat, 42 times!",
      "the quick brown fox jumps over the lazy dog and runs to a barn",
      "zzz qqq www rrr ttt yyy uuu",
      "  leading and trailing  spaces  ",
      "",
      "    ",
      "a1b2c3 mixed alnum-runs... 'quoted' (parens) end-",
      "0 1 2 3 4 5 6 7 8 9 0 1 2 3 4 5 6 7 8 9",
      null) // NULL text: counts null on BOTH paths, lang_pred 'unknown'
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fast = TextOps.textStats(df).orderBy("doc_id").collect()
    val slow = df.select(
      $"doc_id", org.apache.spark.sql.functions.length($"text").cast("long").as("n_chars"),
      TextOps.wordCount($"text").as("n_words"),
      TextOps.tokenEstimate($"text").as("n_tokens_est"),
      TextOps.stopwordCount($"text").as("n_stopwords"),
      TextOps.digitCount($"text").as("n_digits"),
      TextOps.punctCount($"text").as("n_punct"),
      TextOps.qualityScore($"text").as("quality"),
      TextOps.langId($"text").as("lang_pred"),
      TextOps.fingerprint($"text").as("fingerprint"))
      .orderBy("doc_id").collect()
    fast.map(_.toSeq) shouldBe slow.map(_.toSeq)
  }
}
