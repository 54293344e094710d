package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewJoinSpec extends SparkSpec {
  import spark.implicits._

  // 10k rows where one key owns 50% of the data — the viral-key profile.
  private lazy val skewed = spark.range(10000)
    .select(when($"id" % 2 === 0, lit(7L)).otherwise($"id").as("k"),
      $"id".as("payload"))
  private lazy val dim = Seq((7L, "hot"), (1L, "a"), (3L, "b"))
    .toDF("k", "label")

  test("saltedJoin equals the plain join result") {
    val plain = skewed.join(dim, Seq("k")).select("k", "payload", "label")
    val salted = SkewJoin.saltedJoin(skewed, dim, Seq("k"), n = 8)
      .select("k", "payload", "label")
    salted.count() shouldBe plain.count()
    salted.exceptAll(plain).count() shouldBe 0
    plain.exceptAll(salted).count() shouldBe 0
  }

  test("salted left join preserves unmatched rows exactly once") {
    val plain = skewed.join(dim, Seq("k"), "left")
    val salted = SkewJoin.saltedJoin(skewed, dim, Seq("k"), n = 4, "left")
    salted.count() shouldBe plain.count()
    salted.filter($"label".isNull).count() shouldBe plain.filter($"label".isNull).count()
  }

  test("saltedCount equals plain groupBy count") {
    val plain = skewed.groupBy($"k").count()
      .select($"k", $"count".as("n")).orderBy("k").collect()
    val salted = SkewJoin.saltedCount(skewed, $"k")
      .select($"k".as("k"), $"n").orderBy("k").collect()
    salted.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe
      plain.map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("right/full outer join types are rejected (would duplicate unmatched rows)") {
    an[IllegalArgumentException] should be thrownBy
      SkewJoin.saltedJoin(skewed, dim, Seq("k"), n = 4, "right")
    an[IllegalArgumentException] should be thrownBy
      SkewJoin.saltedJoin(skewed, dim, Seq("k"), n = 4, "full_outer")
  }

  test("salt actually spreads the hot key across groups") {
    val groups = skewed.withColumn("s", pmod(hash(monotonically_increasing_id()), lit(8)))
      .filter($"k" === 7L).groupBy("s").count().count()
    groups shouldBe 8
  }
}
