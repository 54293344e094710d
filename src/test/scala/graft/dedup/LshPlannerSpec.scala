package graft.dedup

import graft.SparkSpec

class LshPlannerSpec extends SparkSpec {

  test("every factorization appears, areas are valid, exactly one best") {
    val out = LshPlanner.plan(spark)
      .collect()
    out.map(r => (r.getInt(0), r.getInt(1))).toSet shouldBe
      Set((1, 128), (2, 64), (4, 32), (8, 16), (16, 8), (32, 4), (64, 2), (128, 1))
    out.foreach { r =>
      r.getDouble(2) should (be >= 0.0 and be <= 0.8)  // fp mass lives below t
      r.getDouble(3) should (be >= 0.0 and be <= 0.2)  // fn mass above t
    }
    out.count(_.getBoolean(5)) shouldBe 1
  }

  test("the degenerate splits are never optimal: b=H admits everything, r=H nothing") {
    val out = LshPlanner.plan(spark)
      .collect().map(r => (r.getInt(0), r)).toMap
    // one row per band (r=1): P(candidate) = 1-(1-s)^128 ~ 1 everywhere -> huge FP
    out(128).getDouble(2) should be > 0.7
    // one band of 128 rows: P = s^128 ~ 0 below 1 -> huge FN
    out(1).getDouble(3) should be > 0.15
    out(128).getBoolean(5) shouldBe false
    out(1).getBoolean(5) shouldBe false
  }

  test("the chosen split's S-curve midpoint sits near the target threshold") {
    val best = LshPlanner.plan(spark)
      .filter("best").collect().head
    val (b, r) = (best.getInt(0), best.getInt(1))
    // the half-probability similarity (1-(1-s^r)^b = 0.5 at
    // s = (1-0.5^(1/b))^(1/r)) should land close to 0.8
    val mid = math.pow(1.0 - math.pow(0.5, 1.0 / b), 1.0 / r)
    mid shouldBe 0.8 +- 0.1
  }
}
