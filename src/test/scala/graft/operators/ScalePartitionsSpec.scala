package graft.operators

import graft.SparkSpec
import org.apache.spark.graft.BenchListenerBus
import org.apache.spark.sql.functions.col

class ScalePartitionsSpec extends SparkSpec {
  import spark.implicits._

  test("rule is a pure function: below threshold None, above it ceil rounded to floor multiples") {
    // floor 32, 64 MB target: estimates up to 32 × 64 MB stay None
    ScalePartitions.forShuffle(0L, 4096L, 32) shouldBe None
    ScalePartitions.forShuffle(500000L, 4096L, 32) shouldBe None // ~2 GB = 31 parts
    // the gen-300 calibration point: 1.5 M docs × 4 KiB ≈ 6 GB → 92
    // raw partitions → rounded up to the next floor multiple, 96
    ScalePartitions.forShuffle(1500000L, 4096L, 32) shouldBe Some(96)
    // exactly at a multiple stays there
    ScalePartitions.forShuffle(1048576L, 4096L, 32) shouldBe Some(64)
    // monotone in rows
    val ns = Seq(600000L, 1200000L, 2400000L, 4800000L).map(r =>
      ScalePartitions.forShuffle(r, 4096L, 32).map(_.toLong).getOrElse(32L))
    ns shouldBe ns.sorted
  }

  test("cap bounds a runaway estimate; floor/byte guards reject nonsense") {
    ScalePartitions.forShuffle(Long.MaxValue / 8192, 4096L, 32) shouldBe Some(4096)
    an[IllegalArgumentException] should be thrownBy
      ScalePartitions.forShuffle(1L, 0L, 32)
    an[IllegalArgumentException] should be thrownBy
      ScalePartitions.forShuffle(1L, 1L, 0)
    an[IllegalArgumentException] should be thrownBy
      ScalePartitions.forShuffle(1L, 1L, 64, cap = 32)
  }

  test("sourceRows counts a frame's parquet footers, memoized per JVM") {
    // a space in the path: inputFiles hands back URI-encoded strings
    val dir = java.nio.file.Files.createTempDirectory("graft sp rows").toString
    Seq(1L, 2L, 3L).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = spark.read.parquet(s"$dir/t.parquet")
    ScalePartitions.sourceRows(t) shouldBe 3L
    // the SOURCE rows: the frame's own filters and self-unions leave them
    ScalePartitions.sourceRows(t.filter(col("x") > 1L).unionByName(t)) shouldBe 3L
    ScalePartitions.sourceRows(Seq(1L, 2L).toDF("x")) shouldBe 0L
    // the memo follows the files: a rewritten table is counted again
    Seq(1L).toDF("x").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val rewritten = spark.read.parquet(s"$dir/t.parquet")
    ScalePartitions.sourceRows(rewritten) shouldBe 1L
    // an unchanged table is answered from the memo: no Spark job runs
    val sc = spark.sparkContext
    assert(BenchListenerBus.drain(sc, 60000L), "listener bus did not drain")
    val listener = new graft.tools.Harness.StatsListener(sc)
    sc.addSparkListener(listener)
    try {
      ScalePartitions.sourceRows(rewritten) shouldBe 1L
      listener.quiesce()
      listener.jobs shouldBe empty
    } finally sc.removeSparkListener(listener)
  }

  test("m95 under the rule: a forced repartition width returns bit-identical rows") {
    // the hash-safety contract behind 'outputs hash-unchanged': the
    // widened exchanges must not change a single value
    val docs = Seq(
      (1L, "the cat sat on the mat again and again"),
      (2L, "quantum flux entangled qubit lattice coherence"),
      (3L, "the dog sat on the log again"),
      (4L, "buy now buy now limited offer"),
      (5L, "quantum flux entangled qubit lattice coherence extra"),
      (6L, "plain filler text with no domain at all")).toDF("doc_id", "text")
    def rows(sp: Option[Int]) = graft.text.Dsir.importanceWeights(
        docs, isTarget = col("doc_id") % 2 === 0, buckets = 64,
        shufflePartitions = sp)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3)))
      .sortBy(_._1)
    rows(Some(7)) shouldBe rows(None) // doubles compared by RAW BITS
  }

  test("m95 under the rule: the keyed repartition plans exactly one exchange per aggregate") {
    val docs = Seq((1L, "a b c d"), (2L, "b c d e"), (3L, "c d e f"))
      .toDF("doc_id", "text")
    // every plan the production call runs: the scored pin's
    // localCheckpoint plan carries the repartitions, the final collect
    // reads the pin
    val p = capturedPlans(graft.text.Dsir.importanceWeights(
      docs, isTarget = col("doc_id") % 2 === 0, buckets = 16,
      shufflePartitions = Some(11)).collect())
      .map(_._2).mkString("\n")
    // the repartition IS the aggregate's exchange: hashpartitioning at
    // width 11 appears, and no exchange follows a partial aggregate on
    // the same keys (no double shuffle)
    p should include("hashpartitioning")
    p should include(", 11)")
  }
}
