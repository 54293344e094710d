package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old barn"),
    (2L, "the quick brown fox jumps over the lazy dog near the old barn"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat near the old barn"), // near dup of 1
    (4L, "completely different text about spark query engines and shuffles"),
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("ExactDedup groups exact copies and keeps the min doc_id") {
    val g = ExactDedup.groups(docs).collect()
    g.length shouldBe 4
    val dup = g.find(_.getAs[Long]("n_copies") == 2L).get
    dup.getAs[Long]("doc_id") shouldBe 1L
    ExactDedup.dedup(docs).select("doc_id").as[Long].collect().sorted.toSeq shouldBe
      Seq(1L, 3L, 4L, 5L)
  }

  test("ExactDedup.admitNew: delta-internal dedup plus index rejection") {
    val seen = Seq("already ingested one", "already ingested two")
      .toDF("text").select(graft.text.TextOps.fingerprint($"text").as("fingerprint"))
    val delta = Seq(
      (100L, "brand new content"),
      (101L, "brand new content"),     // in-delta copy → loses to 100
      (102L, "already ingested one"),  // replay → rejected by the index
      (103L, "also new"),
      (104L, "colliding id content"),  // shard id collision: same id,
      (104L, "colliding id content")   // same content → admit ONCE
    ).toDF("doc_id", "text")
    val admitted = ExactDedup.admitNew(delta, seen)
      .select("doc_id").as[Long].collect().sorted.toSeq
    admitted shouldBe Seq(100L, 103L, 104L)
  }

  test("MinHashLSH finds exact and near duplicates, not unrelated docs") {
    val pairs = MinHashLSH.verifiedPairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
    pairs.map(p => Set(p._1, p._2)) should not contain Set(1L, 4L)
    pairs.map(p => Set(p._1, p._2)) should not contain Set(4L, 5L)
  }

  test("MinHashLSH jaccard of an exact pair is 1.0") {
    val j = MinHashLSH.verifiedPairs(docs)
      .filter($"doc_a" === 1L && $"doc_b" === 2L)
      .select("jaccard").as[Double].collect()(0)
    j shouldBe 1.0
  }

  test("MinHashLSH signature approximates jaccard (property)") {
    // sig agreement fraction ≈ true jaccard for a 1-word-changed doc.
    val sig = docs.select($"doc_id",
      MinHashLSH.signature(MinHashLSH.shingles($"text")).as("sig"))
    val Seq(s1, s3) = sig.filter($"doc_id".isin(1L, 3L)).orderBy("doc_id")
      .select("sig").as[Seq[Long]].collect().toSeq
    val agree = s1.zip(s3).count { case (a, b) => a == b } / 128.0
    // true word-3-shingle jaccard of docs 1 vs 3 is 8/14 ≈ 0.571
    agree should (be >= 0.4 and be <= 0.75)
  }

  test("SimHash: identical docs distance 0; near dup small; unrelated large") {
    val pairs = SimHash.nearDuplicates(docs, maxDist = 10)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    pairs((1L, 2L)) shouldBe 0L
    pairs.get((1L, 3L)).foreach(_ should be <= 10L)
    pairs.keySet.map(p => Set(p._1, p._2)) should not contain Set(1L, 4L)
  }

  test("SimHash bucketCap drops hot buckets (null/empty texts never blow up)") {
    // 30 null-text docs all simhash to 0: with the cap they produce no
    // pairs; the genuine near-dup pair among real docs survives.
    val withNulls = docs.union(
      spark.range(100, 130).select($"id".as("doc_id"), lit(null: String).as("text")))
    val pairs = SimHash.nearDuplicates(withNulls, maxDist = 10, bucketCap = 20)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
    pairs.filter(p => p._1 >= 100L && p._2 >= 100L) shouldBe empty
    // without a binding cap the hot bucket pairs up quadratically
    val uncapped = SimHash.nearDuplicates(withNulls, maxDist = 10, bucketCap = 1000)
      .filter($"doc_a" >= 100L && $"doc_b" >= 100L).count()
    uncapped shouldBe (30L * 29L) / 2L
  }

  test("NgramJaccard scores candidate pairs exactly") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("doc_a", "doc_b")
    val scored = NgramJaccard.scorePairs(docs, pairs)
      .orderBy("doc_b").select("jaccard").as[Double].collect()
    scored(0) shouldBe 1.0 // exact copy
    scored(1) should be < 0.3 // unrelated
  }

  test("single-pass signatures match the explode + k-min-aggregates formulation") {
    // Round-2 shipped signature generation as explode(shingleHashes) +
    // 64 min(pmod(a·h+b, p)) aggregates; the compiled in-row fold must be
    // bit-identical (and also drop no-shingle docs, as explode did).
    val withEmpty = docs.union(Seq((6L, "   "), (7L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val p = 2147483647L
    val rng = new scala.util.Random(42L)
    val params = Seq.fill(64)((rng.nextInt((p - 1).toInt).toLong + 1L,
      rng.nextInt(p.toInt).toLong))
    val hashed = withEmpty.select(col("doc_id"),
      explode(MinHashLSH.shingleHashes(col("text"), lit(3))).as("h"))
    val aggs = params.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * lit(a) + lit(b), lit(p))).as(s"m$i")
    }
    val legacy = hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until 64).map(i => col(s"m$i")): _*).as("sig"))
      .orderBy("doc_id").collect()
    val fast = MinHashLSH.signatures(withEmpty).orderBy("doc_id").collect()
    fast.map(_.toSeq) shouldBe legacy.map(_.toSeq)
  }

  test("inverted-index jaccard finds exact and near dups with exact scores") {
    val out = NgramJaccard.invertedIndexPairs(docs, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().sortBy(p => (p._1, p._2))
    out.map(p => (p._1, p._2)) shouldBe Array((1L, 2L), (1L, 3L), (2L, 3L))
    out.find(p => p._1 == 1L && p._2 == 2L).get._3 shouldBe 1.0
    // doc 3 differs in one word -> 3 of 11 word-3-grams differ:
    // |A∩B| = 8, |A∪B| = 14.
    out.find(p => p._1 == 1L && p._2 == 3L).get._3 shouldBe (8.0 / 14.0)
  }

  test("inverted-index jaccard dfCap prunes boilerplate grams") {
    // 5 docs sharing one boilerplate sentence; dfCap below 5 drops those
    // grams, so no pair survives (their only overlap is the boilerplate).
    val boiler = (1 to 5).map(i => (i.toLong, s"all rights reserved copyright notice unique$i"))
      .toDF("doc_id", "text")
    NgramJaccard.invertedIndexPairs(boiler, threshold = 0.1, dfCap = 4).count() shouldBe 0
    // with the cap above the df, the shared grams count again.
    NgramJaccard.invertedIndexPairs(boiler, threshold = 0.1, dfCap = 5)
      .count() should be > 0L
  }

  test("pairs exactly at the bound survive; one just below it does not") {
    val t = 0.6
    val bound = Seq(
      // B ⊂ A: n_a = 5, n_b = shared = 3 → shared = t·n_a and J = 3/5 = t
      (1L, "a1 a2 a3 a4 a5 a6 a7"), (2L, "a1 a2 a3 a4 a5"),
      // n_a = n_b = 8, shared = 6 → J = 6/10 = t
      (3L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"), (4L, "b1 b2 b3 b4 b5 b6 b7 b8 x1 x2"),
      // n_a = 5, n_b = 4, shared = 3: both sides pass shared/n ≥ t, J = 3/6
      (5L, "c1 c2 c3 c4 c5 c6 c7"), (6L, "c1 c2 c3 c4 c5 y1"),
      // n_a = n_b = 5, shared = 3: containment t on both sides, J = 3/7
      (7L, "d1 d2 d3 d4 d5 d6 d7"), (8L, "d1 d2 d3 d4 d5 z1 z2")).toDF("doc_id", "text")
    NgramJaccard.invertedIndexPairs(bound, threshold = t)
      .as[(Long, Long, Double)].collect().toSet shouldBe
      Set((1L, 2L, 0.6), (3L, 4L, 0.6))
    NgramJaccard.containmentPairs(bound, threshold = t)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSet shouldBe Set(
        (1L, 2L, 5L, 3L, 3L, 0.6, 1.0), (3L, 4L, 8L, 8L, 6L, 0.75, 0.75),
        (5L, 6L, 5L, 4L, 3L, 0.6, 0.75), (7L, 8L, 5L, 5L, 3L, 0.6, 0.6))
  }

  test("dedup clusters: chain and triangle components converge to min label") {
    // chain 10-20-30-40 (diameter 3, needs >1 propagation round),
    // triangle 1-2-3, isolated pair 7-8.
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L),
      (1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = DedupClusters.components(pairs)
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(10L -> 10L, 20L -> 10L, 30L -> 10L, 40L -> 10L,
      1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    val keep = DedupClusters.components(pairs)
      .filter(col("doc_id") === col("cluster_id")).select("doc_id").as[Long].collect().sorted
    keep shouldBe Array(1L, 7L, 10L)
  }

  test("components of 12- and 30-node chains match a driver-side union-find") {
    // Union by smaller root, so each root is its component's min doc_id.
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    // The min label starts at one end, so it needs n - 1 rounds to reach
    // the other and one more to see nothing change.
    for (n <- Seq(12L, 30L)) {
      val chain = (1L until n).map(i => (i, i + 1))
      val labels = DedupClusters.components(chain.toDF("doc_a", "doc_b"))
      try labels.as[(Long, Long)].collect().toMap shouldBe unionFind(chain)
      finally graft.Snapshot.free(labels)
    }
  }

  test("components frees all intermediate snapshots; bracket frees everything") {
    val sc = spark.sparkContext
    val pairs = Seq((10L, 20L), (20L, 30L), (30L, 40L),
      (1L, 2L), (2L, 3L), (1L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")

    // Plain components: the chain (diameter 3) forces multiple rounds,
    // each with its own localCheckpoint — every superseded round and the
    // edge snapshot must be freed, leaving exactly ONE persisted RDD (the
    // snapshot backing the returned labels).
    val before = sc.getPersistentRDDs.keySet
    val labels = DedupClusters.components(pairs)
    labels.count() shouldBe 9
    val afterComponents = sc.getPersistentRDDs.keySet.toSet -- before
    afterComponents.size shouldBe 1

    // Scoped form: zero persisted-RDD delta once the labels are freed.
    val scoped = DedupClusters.components(pairs)
    val got = try scoped.as[(Long, Long)].collect().toMap
      finally graft.Snapshot.free(scoped)
    got(40L) shouldBe 10L
    (sc.getPersistentRDDs.keySet.toSet -- before -- afterComponents) shouldBe empty

    // release the plain-call snapshot so this spec leaves the shared
    // session clean for later suites.
    sc.getPersistentRDDs.collect {
      case (id, rdd) if afterComponents.contains(id) => rdd
    }.foreach(_.unpersist(blocking = true))
  }

  test("components fused convergence probe: zero-change and zero-row rounds") {
    // Round 21: the per-round convergence check is an Observation fused
    // into the snapshot job (sum(changed) == 0), not a separate
    // filter/limit probe. Exercise both terminal paths:
    //  - a self-pair converges in round 1 WITH rows (sum = 0, not null);
    //  - empty input converges in round 1 with ZERO rows (sum = null).
    val self = Seq((5L, 5L)).toDF("doc_a", "doc_b")
    DedupClusters.components(self)
      .as[(Long, Long)].collect().toMap shouldBe Map(5L -> 5L)
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    DedupClusters.components(empty).count() shouldBe 0L
  }

  test("bands must divide numHashes (no silent coordinate drop)") {
    an[IllegalArgumentException] should be thrownBy
      MinHashLSH.candidatePairs(docs, bands = 12)
  }

  test("bucketCap drops pathological buckets (scale guard)") {
    // 60 identical docs all land in the same buckets; cap 10 rejects them.
    val viral = (1L to 60L).map(i => (i, "same same same same text here")).toDF("doc_id", "text")
    MinHashLSH.candidatePairs(viral, bucketCap = 10).count() shouldBe 0
    MinHashLSH.candidatePairs(viral, bucketCap = 100).count() shouldBe 60L * 59L / 2L
  }
}
