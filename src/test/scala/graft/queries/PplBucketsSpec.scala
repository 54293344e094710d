package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PplBucketsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("per-source tercile sizes are exact: ceil(n/3) head, integer cuts") {
    val out = CorpusQueries.pplBuckets(spark, dir).cache()
    val per = out.groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(when(col("bucket") === "head", 1L).otherwise(0L)).as("h"),
        sum(when(col("bucket") === "middle", 1L).otherwise(0L)).as("m"),
        sum(when(col("bucket") === "tail", 1L).otherwise(0L)).as("t"))
      .collect()
    per should not be empty
    per.foreach { r =>
      val n = r.getLong(1)
      val expHead = (n + 2) / 3          // #rk with 3·rk < n  = ceil(n/3)
      val expMid = (2 * n + 2) / 3 - expHead
      r.getLong(2) shouldBe expHead
      r.getLong(3) shouldBe expMid
      r.getLong(4) shouldBe n - expHead - expMid
    }
    // buckets are ordered: every head doc's SORT KEY (floor(ppl*1e6) —
    // the exact key the engine ranks on) ≤ every tail doc's within the
    // same source
    val key = floor(col("perplexity") * lit(1e6)).cast("long")
    val maxHead = out.filter(col("bucket") === "head")
      .groupBy("source").agg(max(key).as("mx"))
    val minTail = out.filter(col("bucket") === "tail")
      .groupBy("source").agg(min(key).as("mn"))
    maxHead.join(minTail, Seq("source"))
      .filter(col("mx") > col("mn")).count() shouldBe 0L
    out.unpersist()
  }

  test("planted noise lands in the tail of its source") {
    import spark.implicits._
    // 29 fluent docs (repetitive bigrams → low self-perplexity) + 1
    // key-mash doc whose bigrams are all singletons → highest perplexity
    val fluent = (0L until 29L).map(i =>
      (i, "the cat sat on the mat and the cat sat on the mat again " + s"x$i", "src"))
    val noise = Seq((99L, "qz vj xk wp br tn md lc gf hs dq zv kx pw rb nt dm cl fg sh", "src"))
    val docs = (fluent ++ noise).toDF("doc_id", "text", "source")
    val scored = graft.text.NgramLm.selfPerplexity(docs)
      .select(col("doc_id"), col("perplexity"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val noisePpl = scored.filter(col("doc_id") === 99L).head().getDouble(1)
    val maxFluent = scored.filter(col("doc_id") =!= 99L)
      .agg(max("perplexity")).head().getDouble(0)
    noisePpl should be > maxFluent
  }
}
