package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AnnSpec extends SparkSpec {
  import spark.implicits._

  // Small deterministic vector set: v0 ⊥ v1; v2 ≈ v0; v3 = -v0.
  private val vecs = Seq(
    (0L, Seq(1.0, 0.0, 0.0, 0.0)),
    (1L, Seq(0.0, 1.0, 0.0, 0.0)),
    (2L, Seq(0.99, 0.1, 0.0, 0.0)),
    (3L, Seq(-1.0, 0.0, 0.0, 0.0)),
    (4L, Seq(0.7, 0.7, 0.0, 0.0))
  ).toDF("id", "vec")

  test("cosine: orthogonal 0, identical 1, opposite -1") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(1.0, 0.0), Seq(-1.0, 0.0)))
      .toDF("a", "b", "c", "d")
    df.select(Vectors.cosine($"a", $"b")).as[Double].collect()(0) shouldBe 0.0
    df.select(Vectors.cosine($"a", $"c")).as[Double].collect()(0) shouldBe 1.0
    df.select(Vectors.cosine($"a", $"d")).as[Double].collect()(0) shouldBe -1.0
  }

  test("bruteForceTopK ranks by cosine, excludes self") {
    val res = Ann.bruteForceTopK(vecs.filter($"id" === 0L), vecs, k = 4)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    res shouldBe Seq(2L, 4L, 1L, 3L) // 0.995, 0.707, 0, -1
  }

  test("lshTopK returns a subset of true neighbors with correct local ranks") {
    val res = Ann.lshTopK(vecs.filter($"id" === 0L), vecs, k = 4,
      numPlanes = 2, dim = 4)
    val rows = res.orderBy("rank").select("neighbor_id", "sim")
      .as[(Long, Double)].collect()
    // whatever was retrieved must be sorted by sim desc
    rows.map(_._2).toSeq shouldBe rows.map(_._2).sortBy(-_).toSeq
    // the near-identical vector shares all sign bits → always retrieved
    rows.map(_._1) should contain(2L)
  }

  test("nearDupPairs exact mode finds only the close pair") {
    val pairs = Ann.nearDupPairs(vecs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((0L, 2L))
  }

  test("nearDupPairs LSH mode agrees on the close pair (same-bucket)") {
    val pairs = Ann.nearDupPairs(vecs, numPlanes = 2, dim = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((0L, 2L))
  }

  test("100TB shape: brute-force plan broadcasts the query side") {
    val plan = Ann.bruteForceTopK(vecs.filter($"id" === 0L), vecs, k = 2)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastNestedLoopJoin")
  }
}
