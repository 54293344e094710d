package graft.dedup

import graft.SparkSpec

class IncrementalNearDupSpec extends SparkSpec {
  import spark.implicits._

  test("batch docs pair only against the index, never each other") {
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"),  // exact copy of 1
      (11L, "alpha beta gamma delta epsilon"),  // also a copy — but batch×batch must NOT pair
      (12L, "unrelated words entirely here now")
    ).toDF("doc_id", "text")
    val out = IncrementalNearDup.probeIndex(batch, index, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    out.map(p => (p._1, p._2)).toSet shouldBe Set((10L, 1L), (11L, 1L))
    out.foreach(_._3 shouldBe 1.0 +- 1e-12)
  }

  test("near-miss below threshold is dropped; above survives with the m14 denominator") {
    val index = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")   // 6 shingles
    val batch = Seq((10L, "a b c d e f g z")).toDF("doc_id", "text")  // shares 5 of its 6
    // jaccard = 5 / (6 + 6 - 5) = 5/7 ≈ 0.714
    val hit = IncrementalNearDup.probeIndex(batch, index, threshold = 0.7).collect()
    hit.length shouldBe 1
    hit(0).getDouble(2) shouldBe 5.0 / 7.0 +- 1e-12
    IncrementalNearDup.probeIndex(batch, index, threshold = 0.72)
      .collect().length shouldBe 0
  }

  test("stored-index admission matches the direct probe and builds once") {
    val index = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (12L, "unrelated words entirely here now")
    ).toDF("doc_id", "text")
    val direct = IncrementalNearDup.probeIndex(batch, index, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    var builds = 0
    def stored() = IncrementalNearDup.probeStoredIndex(
      spark, batch, { builds += 1; index },
      indexKey = "spec-incr-neardup", threshold = 0.5)
    val first = stored()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    first shouldBe direct
    first should not be empty
    // second ingest: the standing index is read from the stored asset —
    // the corpus side is never re-evaluated, only the batch probes
    val second = stored()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    second shouldBe direct
    builds shouldBe 1
  }

  test("viral index grams are capped out instead of exploding the pair space") {
    // 60 index docs all sharing one boilerplate shingle (> dfCap 50).
    val index = (1L to 60L).map(i => (i, s"common boiler plate only u$i"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "common boiler plate only zz")).toDF("doc_id", "text")
    // The shared shingles all contain the viral prefix; with the gram
    // dropped at df > 50 nothing reaches the threshold.
    val out = IncrementalNearDup.probeIndex(batch, index, threshold = 0.3)
    out.collect().length shouldBe 0
  }
}
