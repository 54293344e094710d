package graft.dedup

import graft.SparkSpec
import graft.queries.CorpusQueries
import org.apache.spark.sql.functions._

class LshRecallAuditSpec extends SparkSpec {
  import spark.implicits._

  // Base sentences long enough to produce many shingles, plus mutated
  // copies at graded overlap levels so several jaccard bands populate.
  private lazy val corpus = {
    val words = (0 until 60).map(i => s"tok$i")
    def doc(drop: Int, salt: Int) =
      (words.drop(drop) ++ (0 until drop).map(i => s"alt$salt-$i")).mkString(" ")
    val rows = (0L until 30L).flatMap { i =>
      val base = (i * 3 + 1000, doc(0, 0) + s" uniq$i")
      val hi = (i * 3 + 1001, doc(2, i.toInt) + s" uniq$i") // high overlap twin
      val mid = (i * 3 + 1002, doc(12, i.toInt) + s" uniq$i") // mid overlap twin
      Seq(base, hi, mid)
    }
    rows.toDF("doc_id", "text")
  }

  test("report aggregates exactly the truth/detected pair tables") {
    val report = CorpusQueries.lshRecallAuditOver(corpus)
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // recompute both sides directly and band them in the spec
    val truth = NgramJaccard.invertedIndexPairs(corpus, threshold = 0.5, dfCap = 50)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val det = MinHashLSH.verifiedPairs(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    truth should not be empty
    val expected = truth.groupBy { case (_, j) => math.min(math.floor(j * 10.0) / 10.0, 0.9) }
      .map { case (band, ps) =>
        val hits = ps.keys.count(det.contains)
        band -> ((ps.size.toLong, hits.toLong, hits.toDouble / ps.size))
      }
    report shouldBe expected
    // every truth band is within [0.5, 0.9] and recall within [0, 1]
    report.foreach { case (band, (n, hit, rec)) =>
      band should (be >= 0.5 and be <= 0.9)
      hit should be <= n
      rec should (be >= 0.0 and be <= 1.0)
    }
  }

  test("identical-duplicate band has full recall") {
    val withExact = corpus.unionByName(
      Seq((9001L, (0 until 60).map(i => s"tok$i").mkString(" ") + " uniq0"))
        .toDF("doc_id", "text"))
    // doc 1000 and 9001 are identical → jaccard 1.0 → 0.9 band, and the
    // banding scheme can never miss an identical signature
    val r = CorpusQueries.lshRecallAuditOver(withExact)
      .filter(col("band") === 0.9).head()
    r.getLong(2) shouldBe r.getLong(1) // n_hit == n_truth... at least for this fixture
    r.getDouble(3) shouldBe 1.0
  }

  test("precision audit (m99) reconciles with a direct verify of every candidate") {
    val report = CorpusQueries.lshPrecisionAuditOver(corpus).collect()
      .map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))))
      .toMap
    val jacc = MinHashLSH.verifiedPairsOver(corpus,
      MinHashLSH.candidatePairs(corpus), threshold = 0.0)
      .collect().map(_.getDouble(2))
    jacc should not be empty
    val total = jacc.length.toLong
    val byBand = jacc.groupBy(j => math.min(math.floor(j * 10.0) / 10.0, 0.9))
      .view.mapValues(_.length.toLong).toMap
    report.keySet shouldBe byBand.keySet
    // per-band counts and the cumulative ≥-band curve both reconcile
    report.foreach { case (band, (nCand, fracCand, nGe, prec)) =>
      nCand shouldBe byBand(band)
      fracCand shouldBe nCand.toDouble / total
      val expectGe = byBand.filter(_._1 >= band).values.sum
      nGe shouldBe expectGe
      prec shouldBe expectGe.toDouble / total
    }
    // the lowest band's cumulative count covers every candidate
    report(report.keySet.min)._3 shouldBe total
  }

  test("bucket drop report: hand-computed profile on a 3-copy clique") {
    // 3 identical docs share every band bucket; the 4th shares none.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val rows = MinHashLSH.bucketDropReport(docs, bucketCaps = Seq(2, 1000))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    rows.size shouldBe 32 // 2 caps × 16 bands
    (0 until 16).foreach { band =>
      // cap 2: the size-3 clique bucket is dropped in EVERY band
      rows((2, band)) shouldBe ((4L, 2L, 1L, 3L, 0.75))
      // cap 1000: nothing drops
      rows((1000, band)) shouldBe ((4L, 2L, 0L, 0L, 0.0))
    }
  }

  test("reported drop mass predicts the bucketCap recall gap on a boilerplate-heavy corpus") {
    // 25 copies of one boilerplate page (the viral-bucket shape: site
    // chrome, license headers) + 30 mutually-unrelated docs.
    val boiler = (0 until 25).map(i =>
      (5000L + i, (0 until 40).map(w => s"boiler$w").mkString(" ")))
    val distinct = (0 until 30).map(i =>
      (6000L + i, (0 until 40).map(w => s"doc$i-w$w").mkString(" ")))
    val fixture = (boiler ++ distinct).toDF("doc_id", "text")
    val report = MinHashLSH.bucketDropReport(fixture, bucketCaps = Seq(10, 1000))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(4), r.getLong(5))))
      .toMap
    // at the loose cap the report certifies ZERO drop — recall gap must be 0
    (0 until 16).foreach { b => report((1000, b)) shouldBe ((0L, 0L)) }
    // at cap 10 the 25-copy clique exceeds the cap in every band
    (0 until 16).foreach { b =>
      report((10, b))._1 should be >= 1L
      report((10, b))._2 should be >= 25L
    }
    def pairs(cap: Int) =
      MinHashLSH.candidatePairs(fixture, bucketCap = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pairs(1000)
    val lost = full -- pairs(10)
    // the realized recall gap is exactly what the report predicted: the
    // clique's pairs (only members of dropped buckets can lose pairs)
    val clique = (for {
      a <- 5000L until 5025L; b <- (a + 1) until 5025L
    } yield (a, b)).toSet
    lost shouldBe clique
  }
}
