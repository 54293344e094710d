package graft

import graft.operators.RetailOps
import graft.text.TextOps
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property-based invariants (SURVEY §5.4). Runs through sbt's native
  * ScalaCheck support; each property uses few cases since every case is a
  * Spark job. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  private val eventGen = Gen.listOfN(30, for {
    day <- Gen.choose(1, 3)
    et <- Gen.oneOf("view", "click", "purchase", "error")
    uid <- Gen.choose(1L, 5L)
    value <- Gen.choose(0, 10000).map(_ / 100.0)
  } yield (f"2019-10-$day%02d 10:00:00", et, uid, value))

  property("funnel counters never exceed total rows and revenue only from purchases") =
    forAll(eventGen) { rows =>
      val df = rows.toDF("ts", "event_type", "user_id", "value")
        .withColumn("ts", to_timestamp($"ts"))
      val out = RetailOps.dailyRevenueSummary(df, to_date($"ts")).collect()
      val total = rows.size.toLong
      out.forall { r =>
        val counted = r.getAs[Long]("purchases") + r.getAs[Long]("carts") + r.getAs[Long]("views")
        val purchaseSum = rows
          .filter(x => x._1.startsWith(r.getAs[java.sql.Date]("event_date").toString) && x._2 == "purchase")
          .map(_._4).sum
        counted <= total &&
          math.abs(r.getAs[Double]("revenue") - purchaseSum) < 1e-6 &&
          r.getAs[Long]("unique_users") <= 5
      }
    }

  property("dedupKeepFirst: one row per key, subset of input, idempotent") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.choose(1L, 6L), Gen.choose(1, 100)))) { rows =>
      rows.nonEmpty ==> Prop {
        val df = rows.toDF("k", "v")
        val once = RetailOps.dedupKeepFirst(df, Seq("k"), Seq($"v".asc, $"k".asc))
        val twice = RetailOps.dedupKeepFirst(once, Seq("k"), Seq($"v".asc, $"k".asc))
        val keys = once.select("k").as[Long].collect()
        keys.toSet.size == keys.length &&
          keys.toSet == rows.map(_._1).toSet &&
          twice.collect().toSet == once.collect().toSet &&
          once.exceptAll(df).count() == 0
      }
    }

  property("topK returns ≤ k rows and exactly the maximal measures") =
    forAll(Gen.listOfN(15, Gen.choose(0, 50)), Gen.choose(1, 10)) { (vs, k) =>
      vs.nonEmpty ==> Prop {
        val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) }.toDF("id", "m")
        val got = RetailOps.topK(df, k, Seq($"m".desc, $"id".asc))
          .select("m").as[Double].collect().toSeq
        got == vs.map(_.toDouble).sorted.reverse.take(k)
      }
    }

  property("asof join equals the naive max-below range join on random data") =
    forAll(
      Gen.listOfN(15, Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 100L))),
      Gen.listOfN(10, Gen.zip(Gen.choose(1L, 5L), Gen.choose(0L, 100L)))) { (ls, rsRaw) =>
      // Right (key, time) must be unique — the operator's documented
      // precondition (and DuckDB ASOF's).
      val rs = rsRaw.distinct
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("lid", "lk", "lt")
      val right = rs.map { case (k, t) => (k, t, k * 1000 + t) }
        .toDF("rk", "rt", "payload")
      val got = graft.operators.AsofJoin.backward(left, right, "lk", "rk", "lt", "rt")
        .select("lid", "payload").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      val want = ls.zipWithIndex.map { case ((k, t), i) =>
        val candidates = rs.filter(r => r._1 == k && r._2 <= t)
        i.toLong -> (if (candidates.isEmpty) -1L
                     else { val m = candidates.maxBy(_._2); m._1 * 1000 + m._2 })
      }.toMap
      got == want
    }

  property("batch sessionization partitions events exactly; durations bounded by span") =
    forAll(Gen.listOfN(20, Gen.zip(Gen.choose(1L, 3L), Gen.choose(0L, 7200L)))) { rows =>
      rows.nonEmpty ==> Prop {
        val df = rows.zipWithIndex.map { case ((u, sec), i) =>
          (i.toLong, u, new java.sql.Timestamp(1570000000000L + sec * 1000), "view")
        }.toDF("event_id", "user_id", "ts", "event_type")
        val out = graft.streaming.Sessionize.batchSessions(df, gapSeconds = 600)
          .collect()
        val nEvents = out.map(_.getAs[Long]("n_events")).sum
        nEvents == rows.size &&
          out.forall { s =>
            val d = s.getAs[Long]("duration_ms")
            // ≥ 2 events in a session → every inter-event gap ≤ gap, so the
            // span is < gap × (n-1); single-event sessions span 0.
            d >= 0 && d <= 600000L * (s.getAs[Long]("n_events") - 1).max(0)
          }
      }
    }

  property("bucketized range join equals the naive inequality join") =
    forAll(
      Gen.listOfN(12, Gen.choose(-50.0, 50.0)),
      Gen.listOfN(8, Gen.zip(Gen.choose(-50.0, 40.0), Gen.choose(0.0, 25.0))),
      Gen.choose(1.0, 15.0)) { (ps, ivsRaw, width) =>
      val points = ps.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("pid", "v")
      val ivs = ivsRaw.zipWithIndex.map { case ((lo, len), i) => (i.toLong, lo, lo + len) }
      val intervals = ivs.toDF("iid", "lo", "hi")
      val got = graft.operators.RangeJoin
        .pointInInterval(points, "v", intervals, "lo", "hi", width)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      val want = (for {
        (v, pi) <- ps.zipWithIndex
        (iid, lo, hi) <- ivs
        if v >= lo && v < hi
      } yield (pi.toLong, iid)).toSet
      got == want
    }

  // Three random token docs over a three-word alphabet plus a copy of each
  // with one token replaced: the copies put pairs near every threshold
  // below, and most grams recur across docs, so a dfCap of 3 drops some.
  private val nearDupTextsGen: Gen[List[String]] = for {
    base <- Gen.listOfN(3, Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc")))
    edits <- Gen.listOfN(3, Gen.zip(Gen.choose(0, 7), Gen.oneOf("aa", "bb", "cc", "dd")))
  } yield base.map(_.mkString(" ")) ++
    base.zip(edits).map { case (b, (i, w)) => b.updated(i, w).mkString(" ") }

  /** Each doc's word 3-shingles minus those in more than `dfCap` docs. */
  private def keptShingles(texts: List[String], dfCap: Int): List[Set[String]] = {
    val sets = texts.map(_.split(" ").sliding(3).map(_.mkString(" ")).toSet)
    val df = sets.flatten.groupBy(identity).map { case (g, gs) => g -> gs.size }
    sets.map(_.filter(df(_) <= dfCap))
  }

  /** (ia, ib, |A∩B|, |A|, |B|) for every pair sharing a kept shingle. */
  private def naiveOverlaps(texts: List[String], dfCap: Int) = {
    val kept = keptShingles(texts, dfCap).zipWithIndex
    for {
      (sa, ia) <- kept; (sb, ib) <- kept
      if ia < ib
      inter = (sa & sb).size
      if inter > 0
    } yield (ia.toLong, ib.toLong, inter, sa.size, sb.size)
  }

  property("inverted-index jaccard equals the naive all-pairs shingle jaccard") =
    forAll(nearDupTextsGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // (0.0, 100) keeps every co-occurring pair; the rest cut at the
      // per-doc bound and drop the grams in more than 3 docs
      Prop.all(Seq(0.0 -> 100, 0.1 -> 3, 0.5 -> 3, 0.6 -> 3, 0.9 -> 3).map { case (t, cap) =>
        val got = graft.dedup.NgramJaccard
          .invertedIndexPairs(docs, threshold = t, dfCap = cap)
          .select("doc_a", "doc_b", "jaccard")
          .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
        val want = naiveOverlaps(texts, cap)
          .map { case (a, b, i, na, nb) => (a, b) -> i.toDouble / (na + nb - i) }
          .filter(_._2 >= t).toMap
        (got == want) :| s"threshold $t, dfCap $cap"
      }: _*)
    }

  property("containment pairs equal the naive all-pairs shingle containment") =
    forAll(nearDupTextsGen) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      Prop.all(Seq(0.1, 0.5, 0.6, 0.9).map { t =>
        val got = graft.dedup.NgramJaccard.containmentPairs(docs, threshold = t)
          .as[(Long, Long, Long, Long, Long, Double, Double)].collect().toSet
        val want = naiveOverlaps(texts, 50)
          .map { case (a, b, i, na, nb) =>
            (a, b, na.toLong, nb.toLong, i.toLong, i.toDouble / na, i.toDouble / nb) }
          .filter(r => math.max(r._6, r._7) >= t).toSet
        (got == want) :| s"threshold $t"
      }: _*)
    }

  property("qualityScore ∈ [0,1] and langId total for arbitrary strings") =
    forAll(Gen.listOfN(5, Gen.asciiPrintableStr.map(_.take(200)))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val rows = df.select(
        TextOps.qualityScore($"text").as("q"),
        TextOps.langId($"text").as("l")).collect()
      rows.forall { r =>
        val q = r.getDouble(0)
        q >= 0.0 && q <= 1.0 && Set("en", "unknown").contains(r.getString(1))
      }
    }

  // Small-alphabet token docs: adjacent repeats are likely, so the
  // repetition/redaction/winnowing properties exercise their real paths.
  private val tokenDocGen: Gen[List[(Long, String)]] =
    Gen.listOfN(6, Gen.listOfN(25, Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" ")))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  property("repetition collapse: idempotent, no adjacent dups, counts consistent") =
    forAll(tokenDocGen) { docs =>
      val df = docs.toDF("doc_id", "text")
      val once = graft.text.Repetition.collapseRuns(df).collect()
      val again = graft.text.Repetition.collapseRuns(
        once.map(r => (r.getLong(0), r.getAs[String]("text_clean"))).toSeq
          .toDF("doc_id", "text")).collect()
      once.forall { r =>
        val clean = r.getAs[String]("text_clean").split(" ", -1)
        clean.sliding(2).forall(p => p.length < 2 || p(0) != p(1)) &&
          r.getAs[Long]("n_collapsed") == r.getAs[Long]("n_tokens") - clean.length
      } && again.forall(_.getAs[Long]("n_collapsed") == 0L)
    }

  property("PII redaction: idempotent and redacted text has zero residual matches") =
    forAll(Gen.listOfN(4, Gen.oneOf(
      "mail x@y.io now", "from 10.0.0.1 and 192.168.1.255", "call +1 (555) 010-1234",
      "x@y.io 10.0.0.1 +12 (000) 111-2222", "nothing sensitive at all"))) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = graft.text.PiiRedact.redact(df).collect()
      val redactedAgain = graft.text.PiiRedact.redact(
        once.map(r => (r.getLong(0), r.getAs[String]("text_redacted"))).toSeq
          .toDF("doc_id", "text")).collect()
      redactedAgain.forall { r =>
        r.getAs[Long]("n_emails") == 0L && r.getAs[Long]("n_ips") == 0L &&
          r.getAs[Long]("n_phones") == 0L
      } && redactedAgain.map(_.getAs[String]("text_redacted")).toSet ==
        once.map(_.getAs[String]("text_redacted")).toSet
    }

  property("quota sample: ≤ cap per group, deterministic, subset of input keys") =
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0L, 200L), Gen.choose(0, 3))),
      Gen.choose(1, 6)) { (rows, cap) =>
      val distinctRows = rows.distinctBy(_._1)
      val df = distinctRows.map { case (k, g) => (k, s"g$g") }.toDF("doc_id", "source")
      val a = graft.operators.QuotaSample.quotaSample(df, "source", "doc_id", cap).collect()
      val b = graft.operators.QuotaSample.quotaSample(df.repartition(7), "source", "doc_id", cap)
        .collect()
      val perGroup = a.groupBy(_.getAs[String]("source")).view.mapValues(_.length)
      perGroup.forall(_._2 <= cap) &&
        a.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet ==
          b.map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet &&
        a.map(_.getLong(0)).toSet.subsetOf(distinctRows.map(_._1).toSet)
    }

  property("systematic sample: hits always sum to k, zero-weight rows never hit") =
    forAll(Gen.listOfN(25, Gen.zip(Gen.choose(1L, 500L), Gen.choose(0L, 40L))),
      Gen.choose(1, 15)) { (rows, k) =>
      val distinctRows = rows.distinctBy(_._1)
      (distinctRows.map(_._2).sum >= k) ==> Prop {
        val df = distinctRows.toDF("doc_id", "w")
        val out = graft.operators.SystematicSample.sample(df, "doc_id", "w", k)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        val zeroIds = distinctRows.filter(_._2 == 0L).map(_._1).toSet
        out.map(_._3).sum == k.toLong &&
          out.forall(r => !zeroIds.contains(r._1)) &&
          out.forall(r => r._3 >= 1L)
      }
    }

  property("snapshot merge of two versions agrees with the pairwise diff") =
    forAll(Gen.listOfN(12, Gen.zip(Gen.choose(1L, 15L), Gen.choose(1, 5))),
      Gen.listOfN(12, Gen.zip(Gen.choose(1L, 15L), Gen.choose(1, 5)))) { (a, b) =>
      val v1 = a.distinctBy(_._1)
      val v2 = b.distinctBy(_._1)
      (v1.nonEmpty && v2.nonEmpty) ==> Prop {
        val d1 = v1.map { case (k, t) => (k, s"t$t") }.toDF("doc_id", "text")
        val d2 = v2.map { case (k, t) => (k, s"t$t") }.toDF("doc_id", "text")
        val merged = graft.operators.SnapshotMerge.mergeAll(Seq((1L, d1), (2L, d2)))
          .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
        val diff = graft.operators.SnapshotDiff.diff(d1, d2, "doc_id")
          .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
        merged == diff
      }
    }

  property("prefix sum: running totals equal the sequential scan") =
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(0L, 1000L), Gen.choose(0L, 50L)))) { rows =>
      val distinctRows = rows.distinctBy(_._1)
      distinctRows.nonEmpty ==> Prop {
        val df = distinctRows.toDF("k", "v").repartition(5)
        val got = graft.operators.PrefixSum.exclusiveRunningTotals(df, "k", "v")
          .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
        var acc = 0L
        val want = distinctRows.sortBy(_._1).map { case (k, v) =>
          val s = acc; acc += v; (k, s)
        }.toMap
        got == want
      }
    }
}
