package graft.dedup

import graft.SparkSpec

class NoveltyCurveSpec extends SparkSpec {
  import spark.implicits._

  test("copies contribute no new grams; blanks occupy slots; cum_share ends at 1") {
    // 10 docs, 10 buckets → one doc per bucket in doc_id order. Doc 5 is
    // an exact copy of doc 0 (0 new grams); doc 9 is blank (0 grams but
    // still one ingestion slot).
    val docs = Seq(
      (0L, "alpha beta gamma"), (1L, "delta epsilon zeta"),
      (2L, "eta theta iota"), (3L, "kappa lambda mu"),
      (4L, "nu xi omicron"), (5L, "alpha beta gamma"),
      (6L, "pi rho sigma"), (7L, "tau upsilon phi"),
      (8L, "chi psi omega"), (9L, "")
    ).toDF("doc_id", "text")
    val out = NoveltyCurve.curve(docs, buckets = 10).orderBy("bucket")
      .collect()
    out.map(_.getAs[Long]("bucket")).toSeq shouldBe (0L to 9L)
    out.foreach(_.getAs[Long]("n_docs") shouldBe 1L)
    val newGrams = out.map(_.getAs[Long]("new_grams")).toSeq
    newGrams shouldBe Seq(1L, 1L, 1L, 1L, 1L, 0L, 1L, 1L, 1L, 0L)
    out.last.getAs[Long]("cum_new_grams") shouldBe 8L
    out.last.getAs[Double]("cum_share") shouldBe 1.0
    // cumulative is monotone non-decreasing
    val cums = out.map(_.getAs[Long]("cum_new_grams")).toSeq
    cums.sliding(2).foreach(p => p.last should be >= p.head)
  }

  test("a shingle is credited to its FIRST containing doc's bucket only") {
    // 4 docs, 2 buckets. "b c d" first appears in doc 0; doc 2 (bucket 1)
    // repeats it and adds nothing; doc 3 brings one genuinely new gram.
    val docs = Seq(
      (0L, "a b c d"),   // grams: "a b c", "b c d"
      (1L, "e f g"),     // gram: "e f g"
      (2L, "b c d"),     // gram "b c d" already seen in doc 0
      (3L, "h i j")      // new
    ).toDF("doc_id", "text")
    val out = NoveltyCurve.curve(docs, buckets = 2).orderBy("bucket")
      .collect()
    out.map(_.getAs[Long]("new_grams")).toSeq shouldBe Seq(3L, 1L)
    out.map(_.getAs[Long]("n_docs")).toSeq shouldBe Seq(2L, 2L)
  }

  test("null-text docs are excluded from slots entirely (not counted as blanks)") {
    val docs = Seq(
      (0L, "a b c"), (1L, null.asInstanceOf[String]), (2L, "d e f"),
      (3L, "g h i")
    ).toDF("doc_id", "text")
    val out = NoveltyCurve.curve(docs, buckets = 3).orderBy("bucket")
      .collect()
    out.map(_.getAs[Long]("n_docs")).sum shouldBe 3L
  }
}
