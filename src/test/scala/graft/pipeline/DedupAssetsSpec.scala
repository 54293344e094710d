package graft.pipeline

import graft.SparkSpec
import graft.queries.CorpusQueries
import org.apache.spark.sql.functions.col

class DedupAssetsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = sf("sf0.001")

  test("stored pair asset round-trips the direct m14 computation exactly") {
    // the DIRECT chain (not the asset-backed query — that would be circular)
    val direct = graft.dedup.NgramJaccard.invertedIndexPairs(
        CorpusQueries.augmentedDocs(spark, dir), threshold = 0.6, dfCap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val stored = DedupAssets.pairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    stored shouldBe direct
    stored should not be empty
  }

  test("stored cluster asset round-trips components over the pairs") {
    val direct = graft.dedup.DedupClusters.components(
        graft.dedup.NgramJaccard.invertedIndexPairs(
          CorpusQueries.augmentedDocs(spark, dir), threshold = 0.6, dfCap = 50)
          .select("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stored = DedupAssets.clusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    stored shouldBe direct
    stored should not be empty
  }

  test("build runs once per key; later consumers read the stored copy") {
    var builds = 0
    def asset() = DedupAssets.materialized(
      spark, "spec-count", "k1", Seq("doc_id")) {
      builds += 1
      Seq((1L, 2L), (3L, 4L)).toDF("doc_id", "cluster_id")
    }
    asset().count() shouldBe 2
    asset().count() shouldBe 2
    asset().collect().map(_.getLong(0)).sorted shouldBe Array(1L, 3L)
    builds shouldBe 1
  }

  test("an empty asset round-trips via the captured schema") {
    val out = DedupAssets.materialized(
      spark, "spec-empty", "k1", Seq("doc_a")) {
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    }
    out.columns.toSeq shouldBe Seq("doc_a", "doc_b")
    out.count() shouldBe 0
  }

  test("builds of different keys overlap — no object-wide lock") {
    // Thread A's build parks on a latch while holding only ITS key's
    // latch; a different key must still build to completion. Under the
    // old object-lock this times out (B waits on A's Spark job).
    val aEntered = new java.util.concurrent.CountDownLatch(1)
    val aRelease = new java.util.concurrent.CountDownLatch(1)
    val bDone = new java.util.concurrent.CountDownLatch(1)
    val ta = new Thread(() => {
      DedupAssets.materialized(spark, "spec-conc-a", "ka", Seq("doc_id")) {
        aEntered.countDown()
        aRelease.await()
        Seq((1L, 1L)).toDF("doc_id", "cluster_id")
      }.count()
      ()
    })
    ta.start()
    assert(aEntered.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "build A never started")
    val tb = new Thread(() => {
      DedupAssets.materialized(spark, "spec-conc-b", "kb", Seq("doc_id")) {
        Seq((2L, 2L)).toDF("doc_id", "cluster_id")
      }.count() shouldBe 1
      bDone.countDown()
    })
    tb.start()
    val overlapped = bDone.await(60, java.util.concurrent.TimeUnit.SECONDS)
    aRelease.countDown()
    ta.join(60000); tb.join(60000)
    assert(overlapped, "different-key build blocked behind an in-flight build")
  }

  test("same-key concurrent callers build exactly once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        DedupAssets.materialized(spark, "spec-race", "kr", Seq("doc_id")) {
          builds.incrementAndGet()
          Seq((1L, 1L)).toDF("doc_id", "cluster_id")
        }.count() shouldBe 1
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    builds.get() shouldBe 1
  }

  test("stable asset root: reuse across sessions, rebuild on corpus change") {
    val root = java.nio.file.Files.createTempDirectory("graft-asset-root")
    val corpus = java.nio.file.Files.createTempDirectory("graft-asset-corpus")
    spark.read.parquet(s"$dir/documents.parquet").limit(50)
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    sys.props("graft.dedup.assetRoot") = root.toString
    try {
      var builds = 0
      def asset() = DedupAssets.materialized(
        spark, "spec-stable", corpus.toString, Seq("doc_id")) {
        builds += 1
        Seq((1L, 2L)).toDF("doc_id", "cluster_id")
      }
      asset().count() shouldBe 1
      builds shouldBe 1
      // "new JVM": the memo is gone, the stored asset + marker remain
      DedupAssets.reset()
      asset().count() shouldBe 1
      builds shouldBe 1 // reused via marker, not rebuilt
      // corpus changes → fingerprint changes → fresh path, rebuild
      spark.read.parquet(s"$dir/documents.parquet").limit(40)
        .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      DedupAssets.reset()
      asset().count() shouldBe 1
      builds shouldBe 2
    } finally {
      sys.props.remove("graft.dedup.assetRoot")
      DedupAssets.reset()
    }
  }

  test("stable asset root: a corpus dir given as a file:// URI rebuilds when its documents change") {
    val root = java.nio.file.Files.createTempDirectory("graft-uri-root")
    val corpus = java.nio.file.Files.createTempDirectory("graft-uri-corpus")
    def write(docs: (Long, String)*): Unit = docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    def bigrams() = DedupAssets.ngramCounts(spark, s"file://$corpus", 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    write((1L, "a b a b"))
    sys.props("graft.dedup.assetRoot") = root.toString
    try {
      bigrams() shouldBe Set(("a", "b", 2L), ("b", "a", 1L))
      // rewritten at the same URI: a fresh "JVM" must not reuse the asset
      write((1L, "c d"))
      DedupAssets.reset()
      bigrams() shouldBe Set(("c", "d", 1L))
    } finally {
      sys.props.remove("graft.dedup.assetRoot")
      DedupAssets.reset()
    }
  }

  test("asset consumers match their pre-asset direct computations") {
    // m62/m66/m70 read the stored asset; their results must be what the
    // direct pair-graph rebuild produced (the round-7 hash-green shape).
    val pairs = graft.dedup.NgramJaccard.invertedIndexPairs(
        CorpusQueries.augmentedDocs(spark, dir), threshold = 0.6, dfCap = 50)
      .select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val directRanks = graft.operators.PageRank.ranks(edges, iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val assetRanks = CorpusQueries.docPagerank(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assetRanks.keySet shouldBe directRanks.keySet
    assetRanks.foreach { case (k, v) => v shouldBe directRanks(k) +- 1e-9 }
  }

  test("stored phash asset round-trips the direct decode + dHash pass exactly") {
    val direct = graft.multimodal.Multimodal.dHashes(
        graft.multimodal.Multimodal.packImages(
          CorpusQueries.augmentedDocs(spark, dir)
            .filter(col("text").isNotNull &&
              org.apache.spark.sql.functions.length(col("text")) > 0)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stored = DedupAssets.imageDHashes(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    stored shouldBe direct
    // the m120 consumer reads the asset: a second call is a plain scan
    // (same memoized path), and the near-dup query over it stays nonempty
    DedupAssets.imageDHashes(spark, dir).inputFiles should not be empty
    CorpusQueries.imageNearDups(spark, dir).count() should be > 0L
  }

  test("stored ppl-bucket asset round-trips the direct LM chain exactly (doubles bit-identical)") {
    def key(r: org.apache.spark.sql.Row) =
      r.getLong(0) -> ((r.getString(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getString(3)))
    val direct = CorpusQueries.pplBucketsDirect(spark, dir)
      .collect().map(key).toMap
    val stored = DedupAssets.pplBuckets(spark, dir)
      .select("doc_id", "source", "perplexity", "bucket")
      .collect().map(key).toMap
    stored shouldBe direct // perplexity compared by RAW BITS, not tolerance
  }

  test("stored ngram-count assets round-trip the direct count passes exactly") {
    // the LM tier's shared sufficient statistic (round-17 ask #2):
    // counts are exact longs + gram strings, so stored ≡ direct is SET
    // equality, no tolerance — this is what keeps every consumer's
    // oracle hash unchanged through the asset switch
    val docs = graft.Tables.documents(spark, dir)
    val direct2 = graft.text.NgramLm.bigramCounts(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val stored2 = DedupAssets.ngramCounts(spark, dir, 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    stored2 shouldBe direct2
    stored2 should not be empty
    val direct3 = graft.text.KneserNey.trigramCounts(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val stored3 = DedupAssets.ngramCounts(spark, dir, 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    stored3 shouldBe direct3
    stored3 should not be empty
    // m124's clean-reference model: its own asset, trained on doc_id < 100
    val directRef = graft.text.NgramLm.bigramCounts(
        docs.filter(col("doc_id") < 100))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val storedRef = DedupAssets.refBigramCounts(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    storedRef shouldBe directRef
    storedRef should not be empty
  }

  test("a crashed build never publishes: no marker, no path, next caller rebuilds") {
    // Crash mid-publish (round-14 verdict ask #4): the build body throws
    // after the call is committed to writing — the final path must never
    // exist half-written (atomic temp-dir publish), the failure must not
    // poison the memo, and the NEXT caller must rebuild successfully.
    val root = java.nio.file.Files.createTempDirectory("graft-crash-root")
    sys.props("graft.dedup.assetRoot") = root.toString
    try {
      var attempts = 0
      def asset(fail: Boolean) = DedupAssets.materialized(
        spark, "spec-crash", "kc", Seq("doc_id")) {
        attempts += 1
        if (fail) sys.error("simulated crash mid-build")
        Seq((1L, 2L)).toDF("doc_id", "cluster_id")
      }
      an[Exception] should be thrownBy asset(fail = true)
      // nothing published: no spec-crash path carries a completion marker
      val published = java.nio.file.Files.list(root).iterator()
      var sawComplete = false
      while (published.hasNext) {
        val p = published.next()
        if (p.getFileName.toString.startsWith("spec-crash") &&
            java.nio.file.Files.exists(p.resolve("_GRAFT_OK")))
          sawComplete = true
      }
      sawComplete shouldBe false
      asset(fail = false).count() shouldBe 1
      attempts shouldBe 2 // the failure was retried, not served
    } finally {
      sys.props.remove("graft.dedup.assetRoot")
      DedupAssets.reset()
    }
  }

  test("asset:phash and asset:mediafeat go stale when the corpus changes (fingerprint invalidation)") {
    // The round-14 memo assets' staleness contract, pinned per asset by
    // NAME: both fingerprint (doc_id, text) — the images are packed FROM
    // the text — so a text change must rebuild, same-content re-reads
    // must reuse the marker.
    val root = java.nio.file.Files.createTempDirectory("graft-stale-root")
    val corpus = java.nio.file.Files.createTempDirectory("graft-stale-corpus")
    val base = spark.read.parquet(s"$dir/documents.parquet").limit(30).cache()
    base.write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    sys.props("graft.dedup.assetRoot") = root.toString
    try {
      val phash1 = DedupAssets.imageDHashes(spark, corpus.toString)
        .inputFiles.toSeq
      val feat1 = DedupAssets.mediaFeatures(spark, corpus.toString)
        .inputFiles.toSeq
      // same corpus, fresh "JVM": both served from the stored paths
      DedupAssets.reset()
      DedupAssets.imageDHashes(spark, corpus.toString)
        .inputFiles.toSeq shouldBe phash1
      DedupAssets.mediaFeatures(spark, corpus.toString)
        .inputFiles.toSeq shouldBe feat1
      // text mutation at unchanged doc_ids → new fingerprint → new paths
      base.select(col("doc_id"),
          org.apache.spark.sql.functions.concat(col("text"),
            org.apache.spark.sql.functions.lit(" mutated")).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
      DedupAssets.reset()
      val phash2 = DedupAssets.imageDHashes(spark, corpus.toString)
        .inputFiles.toSeq
      val feat2 = DedupAssets.mediaFeatures(spark, corpus.toString)
        .inputFiles.toSeq
      phash2 should not be phash1
      feat2 should not be feat1
    } finally {
      sys.props.remove("graft.dedup.assetRoot")
      DedupAssets.reset()
      base.unpersist()
    }
  }

  test("asset:qcmodel memo — concurrent consumers train exactly once; a failed train never poisons") {
    CorpusQueries.resetModelMemos()
    val before = CorpusQueries.qcModels.builds
    // a consumer pointed at a corpus that does not exist fails its train
    // — and must leave the memo empty, not cache the failure or a junk model
    an[Exception] should be thrownBy
      CorpusQueries.qualityClassifier(spark, "/nonexistent-corpus-dir").count()
    val threads = (1 to 3).map(_ => new Thread(() => {
      CorpusQueries.qualityClassifier(spark, dir).count(); ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    // exactly ONE successful train across the three concurrent consumers
    CorpusQueries.qcModels.builds - before shouldBe 1
    // fresh "JVM" (reset) → the staleness contract: retrain, don't reuse
    CorpusQueries.resetModelMemos()
    CorpusQueries.qualityClassifier(spark, dir).count()
    CorpusQueries.qcModels.builds - before shouldBe 2
  }

  test("asset:bpemodel memo — concurrent consumers train exactly once; reset retrains") {
    CorpusQueries.resetModelMemos()
    val before = CorpusQueries.bpeModels.builds
    val threads = (1 to 3).map(_ => new Thread(() => {
      CorpusQueries.tokenizerFertility(spark, dir).count(); ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    CorpusQueries.bpeModels.builds - before shouldBe 1
    CorpusQueries.resetModelMemos()
    CorpusQueries.tokenizerFertility(spark, dir).count()
    CorpusQueries.bpeModels.builds - before shouldBe 2
  }

  test("asset:unimodel memo — concurrent consumers train exactly once; reset retrains") {
    CorpusQueries.resetModelMemos()
    val before = CorpusQueries.uniModels.builds
    val threads = (1 to 3).map(_ => new Thread(() => {
      CorpusQueries.unigramTokens(spark, dir).count(); ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    CorpusQueries.uniModels.builds - before shouldBe 1
    CorpusQueries.resetModelMemos()
    CorpusQueries.unigramTokens(spark, dir).count()
    CorpusQueries.uniModels.builds - before shouldBe 2
  }

  test("WordPiece model memo — concurrent consumers train exactly once; reset retrains") {
    CorpusQueries.resetModelMemos()
    val before = CorpusQueries.wpModels.builds
    val threads = (1 to 3).map(_ => new Thread(() => {
      CorpusQueries.wordPieceTokenStats(spark, dir).count(); ()
    }))
    threads.foreach(_.start()); threads.foreach(_.join(300000))
    CorpusQueries.wpModels.builds - before shouldBe 1
    // the fertility card shares the memoized model — no second train
    CorpusQueries.wordPieceFertility(spark, dir).count()
    CorpusQueries.wpModels.builds - before shouldBe 1
    CorpusQueries.resetModelMemos()
    CorpusQueries.wordPieceTokenStats(spark, dir).count()
    CorpusQueries.wpModels.builds - before shouldBe 2
  }

  test("stored media-feature asset round-trips the direct decode pipeline exactly") {
    val cols = Seq("doc_id", "n_bytes", "byte_mean", "head_hash", "format",
      "width", "height", "channels", "luma_mean")
    def key(r: org.apache.spark.sql.Row) = r.getLong(0) -> r.toSeq.tail
    val direct = graft.multimodal.Multimodal
      .pipeline(spark, graft.Tables.documents(spark, dir))
      .select(cols.map(col): _*).collect().map(key).toMap
    val stored = DedupAssets.mediaFeatures(spark, dir)
      .select(cols.map(col): _*).collect().map(key).toMap
    stored shouldBe direct
    // and the m11 consumer over the asset keeps both codec paths populated
    val m11 = CorpusQueries.multimodalFeatures(spark, dir)
    m11.filter(col("format") === "png").count() should be > 0L
    m11.filter(col("format") === "binary").count() should be > 0L
  }
}
