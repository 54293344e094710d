package graft.text

import graft.SparkSpec
import org.apache.spark.rdd.RDD

/** The shared training fold ([[FixedPointGd.fit]]) on each learned
  * gate's own rows, through both of its branches: the driver-local fold
  * (every fixture sits below both trainers' gates) and the distributed
  * per-partition fold (gate 0, 3 partitions re-cached from 6). The
  * quantized sums are order-independent, so weights and per-iteration
  * losses must be bit-identical. */
class FixedPointGdFitSpec extends SparkSpec {

  private val Iters = 40

  private def bits(xs: Array[Double]): Seq[Long] =
    xs.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def bothBranches[R](rows: RDD[R], dim: Int, localMaxRows: Long,
                              rowsPerPartition: Long, lr: Double)
                             (acc: (FixedPointGd.ExactAcc, Array[Double], R) => Unit): Unit = {
    rows.getNumPartitions shouldBe 6
    val local = FixedPointGd.fit(rows, dim, localMaxRows, rowsPerPartition,
      Iters, lr, 0L)(acc).get
    local.n should be <= localMaxRows // the driver-local branch ran
    val perPart = (local.n + 2) / 3
    (local.n - 1) / perPart + 1 shouldBe 3 // the distributed fold's width
    val dist = FixedPointGd.fit(rows, dim, 0L, perPart, Iters, lr, 0L)(acc).get
    dist.n shouldBe local.n
    dist.losses.length shouldBe Iters
    bits(dist.losses) shouldBe bits(local.losses)
    bits(dist.w) shouldBe bits(local.w)
    local.w.exists(_ != 0.0) shouldBe true
  }

  test("QualityClassifier rows: driver fold ≡ 3-partition distributed fold, bit for bit") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet").repartition(6)
    bothBranches(QualityClassifier.trainRows(docs),
      QualityClassifier.NumFeatures + 1, QualityClassifier.LocalTrainMaxRows,
      QualityClassifier.TrainRowsPerPartition, 8.0)(QualityClassifier.accumulate)
  }

  test("LangId rows: driver fold ≡ 3-partition distributed fold, bit for bit") {
    val docs = graft.queries.CorpusQueries.syntheticLangDocs(spark, 0L).repartition(6)
    val rows = LangId.trainRows(docs)
    val clsIdx = rows.map(_._1).distinct().collect().sorted.zipWithIndex.toMap
    val k = clsIdx.size
    k shouldBe LangId.PlantedPhrases.size
    bothBranches(rows, k * LangId.D, LangId.LocalTrainMaxRows,
      LangId.TrainRowsPerPartition, 300.0) { case (acc, w, (lang, idxs, xs)) =>
      LangId.accumulate(acc, w, k, clsIdx(lang), idxs, xs)
    }
  }
}
