package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins SemDeDup semantics against the exact brute-force baseline:
  * planted-dup recall, precision of every emitted pair, keeper selection,
  * and the nprobeAssign multi-probe path that catches pairs straddling a
  * Voronoi boundary (the one case a single-cell assignment misses). */
class SemanticDedupSpec extends SparkSpec {
  import spark.implicits._

  // 40 seeded Gaussian vectors (random 8-dim directions are near-orthogonal
  // — no organic pair reaches cosine 0.99) plus 10 planted near-dups:
  // ids 100+i copy vector i with one component nudged by 0.01.
  private lazy val corpus = {
    val rng = new scala.util.Random(5)
    val base = (0L until 40L).map(i => (i, Seq.fill(8)(rng.nextGaussian())))
    val planted = base.take(10).map { case (i, v) =>
      (100L + i, v.updated(3, v(3) + 0.01))
    }
    (base ++ planted).toDF("id", "vec")
  }

  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
  }

  /** Exact (smaller-id keeper, dropped id) pairs at the threshold. */
  private def exactDrops(threshold: Double): Map[Long, Long] = {
    val vecs = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq)
    val drops = for {
      (ib, vb) <- vecs
      keepers = vecs.filter { case (ia, va) => ia < ib && cosine(va, vb) >= threshold }
      if keepers.nonEmpty
    } yield ib -> keepers.map(_._1).min
    drops.toMap
  }

  test("recall and precision vs brute-force exact pairs") {
    val model = Ivf.train(corpus, nlist = 4, iters = 2)
    val got = SemanticDedup.dropNearDups(corpus, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = exactDrops(0.99)

    // Recall: every planted dup is dropped, pointing at its exact keeper.
    got.map(g => g._1 -> g._2).toMap shouldBe want
    want.keySet shouldBe (100L until 110L).toSet

    // Precision: every emitted sim is the true cosine of a real pair.
    val vecs = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    got.foreach { case (dropped, keeper, sim) =>
      keeper should be < dropped
      sim shouldBe cosine(vecs(keeper), vecs(dropped)) +- 1e-12
      sim should be >= 0.99
    }
  }

  test("nprobeAssign=2 catches a pair straddling a Voronoi boundary") {
    // Hand-built quantizer: two cells at (±1, 0). The pair sits ε either
    // side of the boundary plane x=0 — cosine ≈ 0.999998, but single-cell
    // assignment puts them in DIFFERENT cells.
    val model = Ivf.Model(Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0)))
    val pair = Seq((1L, Seq(0.001, 1.0)), (2L, Seq(-0.001, 1.0))).toDF("id", "vec")
    pair.select(Ivf.cellId($"vec", model)).as[Int].collect().toSet.size shouldBe 2

    val single = SemanticDedup.dropNearDups(pair, model, nprobeAssign = 1)
    single.count() shouldBe 0 // the boundary miss multi-probe exists to fix

    val multi = SemanticDedup.dropNearDups(pair, model, nprobeAssign = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    multi.toSeq shouldBe Seq((2L, 1L))
  }

  test("multi-probe duplicate pair generation collapses without a distinct") {
    // Both vectors probe BOTH cells → the pair is generated twice; the
    // min/max aggregation must emit it once.
    val model = Ivf.Model(Seq(Seq(1.0, 0.0), Seq(-1.0, 0.0)))
    val pair = Seq((1L, Seq(0.0, 1.0)), (2L, Seq(0.0, 1.0001))).toDF("id", "vec")
    val out = SemanticDedup.dropNearDups(pair, model, nprobeAssign = 2).collect()
    out.length shouldBe 1
    out.head.getLong(0) shouldBe 2L
    out.head.getLong(1) shouldBe 1L
  }

  test("below-threshold neighbors are not dropped") {
    val model = Ivf.Model(Seq(Seq(1.0, 0.0)))
    val apart = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.7, 0.7))).toDF("id", "vec")
    SemanticDedup.dropNearDups(apart, model).count() shouldBe 0
  }
}
