package graft.text

import graft.SparkSpec
import graft.pipeline.DedupAssets
import org.apache.spark.sql.functions._

/** m112 — the stored BM25 index must serve BYTE-identical results to the
  * fresh path (they share one oracle, so a divergence would certify the
  * wrong engine), and its postings must actually be term-clustered (the
  * row-group-skipping property is the point of the asset). */
class Bm25AssetsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def docs = graft.Tables.documents(spark, dir)
  private def bags = Bm25.queryBags(docs.filter(col("doc_id") < 10), maxTerms = 8)

  test("stored probe ≡ fresh path, row for row") {
    DedupAssets.reset()
    val (post, stats) = Bm25Assets.index(spark, dir)
    val stored = Bm25.topKStored(post, stats, bags, k = 10)
      .collect().map(_.toString).sorted.toSeq
    val fresh = Bm25.topK(docs, bags)
      .collect().map(_.toString).sorted.toSeq
    stored shouldBe fresh
    stored.nonEmpty shouldBe true
  }

  test("stored postings are term-clustered within each shard (min/max skipping works)") {
    DedupAssets.reset()
    val (post, _) = Bm25Assets.index(spark, dir)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(input_file_name()).orderBy(monotonically_increasing_id())
    val disorder = post.select(col("term"), lag("term", 1).over(w).as("prev"))
      .filter(col("prev").isNotNull && col("prev") > col("term"))
    disorder.count() shouldBe 0L
  }

  test("stats asset preserves zero-token docs in N (not derivable from postings)") {
    DedupAssets.reset()
    val (_, stats) = Bm25Assets.index(spark, dir)
    val r = stats.collect().head
    val expected = docs.filter(col("text").isNotNull).count()
    r.getAs[Long]("n_docs") shouldBe expected
  }
}
