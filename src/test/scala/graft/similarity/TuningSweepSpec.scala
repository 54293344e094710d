package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TuningSweepSpec extends SparkSpec {

  private lazy val all = {
    val docs = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    docs.select(col("vec_id").as("id"),
      Vectors.toDouble(col("embedding")).as("vec"))
  }

  test("recall is monotone in nprobe and reaches exactly 1.0 at full probe") {
    val model = Ivf.train(all, nlist = 8, iters = 2)
    val out = TuningSweep.ivfRecallCurve(
        all.filter(col("id") < 8), all, model, nprobes = Seq(1, 2, 8))
      .collect().sortBy(_.getLong(0))
    out.map(_.getLong(0)).toSeq shouldBe Seq(1L, 2L, 8L)
    val recalls = out.map(_.getDouble(3))
    recalls.sliding(2).foreach {
      case Array(a, b) => b should be >= a - 1e-12
      case _           =>
    }
    // nprobe = nlist probes every cell: the IVF candidate set IS the
    // corpus, scored with the same exact cosine -> identical top-k.
    recalls.last shouldBe 1.0 +- 1e-12
    out.foreach { r =>
      r.getLong(1) shouldBe 5L
      r.getLong(2) shouldBe 8L
      r.getDouble(3) should (be >= 0.0 and be <= 1.0 + 1e-12)
    }
  }
}
