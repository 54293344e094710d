package graft.similarity

import graft.SparkSpec
import graft.pipeline.DedupAssets
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class AnnAssetsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def vecs(d: String = dir): DataFrame =
    spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id").as("id"), Vectors.toDouble(col("embedding")).as("vec"))

  test("stored model round-trips bit-exactly and probe matches the fresh path") {
    DedupAssets.reset()
    val all = vecs()
    val fresh = IvfPq.train(all, nlist = 16, m = 8, ksub = 16)
    val (loaded, enc) = AnnAssets.ivfPqIndex(spark, dir, all,
      nlist = 16, ksub = 16)
    // training is deterministic, parquet doubles are exact → equality
    loaded.coarse.centroids shouldBe fresh.coarse.centroids
    loaded.pq.codebooks shouldBe fresh.pq.codebooks
    val probe = all.filter(col("id") < 10)
    val stored = IvfPq.topK(probe, enc, loaded, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val direct = IvfPq.topK(probe, IvfPq.encode(all, fresh), fresh, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    stored.sortBy(x => (x._1, x._2)) shouldBe direct.sortBy(x => (x._1, x._2))
  }

  test("encoded asset is cell-clustered (sorted shards by cell, id)") {
    DedupAssets.reset()
    val (_, enc) = AnnAssets.ivfPqIndex(spark, dir, vecs(),
      nlist = 16, ksub = 16)
    // within each stored shard file, rows are (cell, id)-ordered
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(input_file_name())
      .orderBy(monotonically_increasing_id())
    val disorder = enc
      .withColumn("pc", lag(col("cell"), 1).over(w))
      .withColumn("pi", lag(col("id"), 1).over(w))
      .filter(col("pc").isNotNull &&
        (col("pc") > col("cell") || (col("pc") === col("cell") && col("pi") > col("id"))))
    disorder.count() shouldBe 0L
  }

  test("staleness keys on the embeddings, not the documents") {
    val root = java.nio.file.Files.createTempDirectory("graft-ann-root")
    val corpus = java.nio.file.Files.createTempDirectory("graft-ann-corpus")
    def emb(n: Int) = spark.read.parquet(s"$dir/embeddings.parquet").limit(n)
      .write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    emb(64)
    sys.props("graft.dedup.assetRoot") = root.toString
    try {
      def modelDirs = java.nio.file.Files.list(root).toArray
        .map(_.toString).count(_.contains("annmodel"))
      def build() = AnnAssets.ivfPqIndex(spark, corpus.toString,
        vecs(corpus.toString), nlist = 4, ksub = 4)
      build()
      modelDirs shouldBe 1
      // "new JVM": memo cleared, stored asset reused → still one dir
      DedupAssets.reset()
      build()
      modelDirs shouldBe 1
      // embeddings change → new fingerprint → second build
      emb(48)
      DedupAssets.reset()
      build()
      modelDirs shouldBe 2
    } finally {
      sys.props.remove("graft.dedup.assetRoot")
      DedupAssets.reset()
    }
  }
}
