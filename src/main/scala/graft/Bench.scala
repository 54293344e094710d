package graft

import graft.tools.Harness
import graft.tools.Harness.materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is fully materialized through the `noop` sink — `count()`
  * would let Catalyst prune projections and under-measure — and timed
  * end-to-end (plan + execute). AQE is on, mirroring the production
  * configuration; shuffle partitions come from SPARK_GRAFT_CPUS so the
  * suite scales with the machine.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CHECKPOINT_DIR: route the snapshot tier through durable
    // Dataset.checkpoint (graft.Snapshot reliable mode) so the overhead of
    // the fault-tolerant configuration is measurable — the 100 TB deploy
    // recipe needs a number, not a claim (DESIGN.md §5a).
    val spark = Harness.session(sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .filter(_.nonEmpty).map("spark.graft.checkpointDir" -> _).toSeq: _*)

    // CANARY normalization (round-16 verdict ask #3): three rounds of
    // host-noise rows were adjudicated by narrative ("host-speed shift"
    // notes); this makes the verdict mechanical. A pinned, data-free,
    // scheduling-bound plan — 12M `range` ids xxhash64'd and folded
    // with bit_xor over 64 tasks (the range12m-xxhash64-xor-p64 plan
    // in DESIGN.md §8), fixed work at any sf — is re-measured (min of 3) every
    // [[CanaryEvery]] timed rows, each row records the canary in force
    // when IT was measured, and both the in-run 3x guard and
    // tools/update_bench_ref.py compare RATIOS to the same-run canary
    // instead of wall-clock: a row whose seconds doubled while its
    // canary doubled is host noise (ratio flat); a row whose ratio
    // moved is a real plan change.
    val CanaryPlan = "range12m-xxhash64-xor-p64"
    val CanaryEvery = 10
    var canaryNow = 0.0
    var sinceCanary = 0
    val canarySamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val canaryUsed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: full-range hash longs overflow an ANSI sum;
      // 12M rows, not 4M: the first live record showed min-of-3 of a
      // ~0.1 s plan spreading 0.088–0.203 s within one run (GC/settle
      // jitter ~ the plan's own cost) — tripling the work drops the
      // RELATIVE sample noise while one refresh stays ~1 s
      materialize(spark.range(0L, 12000000L, 1L, 64)
        .select(bit_xor(xxhash64(col("id")))))
      (System.nanoTime() - t0) / 1e9
    }
    def refreshCanary(): Unit = {
      // min of 3: the first execution after a cold start pays codegen,
      // and the canary must measure the HOST, not the JIT
      val s = (1 to 3).map(_ => canaryOnce()).min
      canarySamples += s
      canaryNow = s
      sinceCanary = 0
    }
    def canaryTick(name: String, force: Boolean = false): Unit = {
      if (force || canarySamples.isEmpty || sinceCanary >= CanaryEvery)
        refreshCanary()
      sinceCanary += 1
      canaryUsed(name) = canaryNow
    }

    // Warm-up pass: each distinct plan pays one-time Janino codegen
    // compilation + JIT on first execution — a fixed cost that amortizes
    // to zero at production scale. The baseline's pandas/Postgres numbers
    // are warm steady-state, so the measured pass reports the comparable
    // quantity; the JSON carries "warm" so the methodology is explicit.
    // NonFatal only: swallowing OutOfMemoryError/InterruptedException here
    // would run the measured pass in a corrupted JVM.
    // SPARK_GRAFT_BENCH_SUBSET: comma-separated query names to bench only
    // those — regression-triage mode, so iterating on one slow query
    // doesn't pay the full 61-query sweep. The driver's per-round run
    // leaves it unset and sweeps everything.
    val subset = sys.env.get("SPARK_GRAFT_BENCH_SUBSET")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    subset.foreach(s => (s -- SparkEntry.queries.keySet).foreach(u =>
      System.err.println(s"[bench] unknown query in SPARK_GRAFT_BENCH_SUBSET: $u")))
    val benchQueries = SparkEntry.queries
      .filter { case (k, _) => subset.forall(_.contains(k)) }

    // Per-query executor stats (see Harness.StatsListener): created BEFORE
    // the asset builds since round 14, so asset rows — the single biggest
    // line items in the suite — carry the same input/shuffle/spill fields
    // as every query row, and a round-over-round asset drift is
    // adjudicable from the record (round-13 verdict ask #1: the
    // asset:pairs 10.0 → 11.4 s drift could not be judged noise-vs-plan
    // because asset rows had no stats).
    val statsListener = new Harness.StatsListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(statsListener)
    val statsOut = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Asset-build cost, measured COLD before the warm-up pass builds
    // anything: the stored-asset layer (pairs / LSH candidates / clusters /
    // IVF-PQ index) amortizes its one-time build into the first touching
    // query, so warm per-query numbers (m14 at 0.05 s) understate first-run
    // cost. These rows surface the other side of that amortization —
    // reported under "assets", NOT added to the query total (the queries
    // measure the steady state, these measure the build). Subset runs
    // skip them (triage iterations shouldn't pay the corpus passes);
    // SPARK_GRAFT_BENCH_ASSETS=force re-runs EVERY asset row regardless,
    // and a comma-separated row list (e.g. "asset:phash,stream:ingest")
    // re-runs just those — the knob for re-measuring one new asset row
    // without a full sweep.
    val assetFilter: Option[Set[String]] = {
      val v = sys.env.getOrElse("SPARK_GRAFT_BENCH_ASSETS", "1")
      if (v == "0") None
      else if (v == "force") Some(Set.empty)
      else if (v == "1") { if (subset.isEmpty) Some(Set.empty) else None }
      else Some(v.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    }
    // (name, seconds, ok): a failed build's recorded time is its
    // time-to-FAILURE — the ok flag keeps it distinguishable in the
    // record (asset_failures below), so a crash can never read as a
    // fast successful build.
    val assetTimes: Seq[(String, Double, Boolean)] =
      assetFilter match {
        case None => Seq.empty
        case Some(only) =>
          def timed(name: String)(body: => Unit): (String, Double, Boolean) = {
            canaryTick(name)
            statsListener.quiesce(); statsListener.reset()
            val t0 = System.nanoTime()
            val ok =
              try { body; true }
              catch { case scala.util.control.NonFatal(e) =>
                System.err.println(s"[bench] $name failed: ${e.getMessage}")
                false
              }
            val t = (System.nanoTime() - t0) / 1e9
            statsListener.quiesce(); statsOut(name) = statsListener.snapshot
            (name, t, ok)
          }
          import graft.pipeline.DedupAssets
          // clusters AFTER pairs: it consumes the stored pair asset, so
          // its row isolates the connected-components cost, not a rebuild.
          val builds: Seq[(String, () => Unit)] = Seq(
            "asset:pairs" -> (() =>
              materialize(DedupAssets.pairsLoose(spark, sfDir))),
            "asset:lshcand" -> (() =>
              materialize(DedupAssets.minhashCandidates(spark, sfDir))),
            "asset:clusters" -> (() =>
              materialize(DedupAssets.clusters(spark, sfDir))),
            "asset:ivfpq" -> (() =>
              // m84's exact params, so the warm pass reuses this build
              materialize(graft.similarity.AnnAssets.ivfPqIndex(spark, sfDir,
                graft.queries.CorpusQueries.vectors(spark, sfDir),
                nlist = 16, ksub = 16)._2)),
            "asset:bm25post" -> (() =>
              // the m112 inverted index: tokenize + aggregate, term-sorted
              materialize(graft.text.Bm25Assets.index(spark, sfDir)._1)),
            "asset:phash" -> (() =>
              // m120's per-image dHash: the one-time PNG decode pass
              materialize(DedupAssets.imageDHashes(spark, sfDir))),
            "asset:mediafeat" -> (() =>
              // m11's full decode + feature extraction, stored once
              materialize(DedupAssets.mediaFeatures(spark, sfDir))),
            // ngramcounts BEFORE pplbuckets: the bucket build consumes
            // the stored count asset, so its row isolates the tercile
            // chain, not a count rebuild (the clusters-after-pairs rule)
            "asset:ngramcounts2" -> (() =>
              // the LM tier's shared bigram count table (m43/m89/m124/
              // m138/m142 consumers)
              materialize(DedupAssets.ngramCounts(spark, sfDir, 2))),
            "asset:ngramcounts3" -> (() =>
              // the order-3 table (m144/m145)
              materialize(DedupAssets.ngramCounts(spark, sfDir, 3))),
            "asset:ngramcounts2ref" -> (() =>
              // m124's clean-reference LM
              materialize(DedupAssets.refBigramCounts(spark, sfDir))),
            "asset:pplbuckets" -> (() =>
              // the m89 LM + tercile chain feeding m89/m101/m118
              materialize(DedupAssets.pplBuckets(spark, sfDir))),
            // The three DRIVER-SIDE model trains behind per-corpus memos
            // (classifier, BPE, unigram): their one-time cost is
            // otherwise invisible (whichever consumer runs first cold
            // pays it in the warm-up pass, and min-of-2 erases it) — the
            // same accounting the stored-asset rows exist for. Each is
            // timed as a fresh un-memoized train with the memo's exact
            // production parameters.
            "asset:qcmodel" -> (() => {
              graft.text.QualityClassifier.trainDistributed(
                Tables.documentsSpread(spark, sfDir)); () }),
            "asset:bpemodel" -> (() => {
              // the m40/m79/m88 shared model's exact parameters
              graft.text.Bpe.trainDistributed(
                Tables.documents(spark, sfDir), nMerges = 40); () }),
            "asset:unimodel" -> (() => {
              // the m135 shared model's exact parameters
              graft.text.UnigramLm.train(
                Tables.documents(spark, sfDir)); () }),
            "asset:langmodel" -> (() => {
              // the m137/m67 shared language-ID model: distributed GD
              // over the planted labeled block (its exact parameters)
              graft.text.LangId.train(
                graft.queries.CorpusQueries.syntheticLangDocs(spark,
                  graft.queries.CorpusQueries.langOff(spark, sfDir))); () }),
            "asset:labeledlang" -> (() => {
              // the m146/m147 labeled-set model: JSONL → production
              // reader → 80% block split → distributed GD (its exact
              // parameters — the memo's production train)
              graft.text.LangId.train(
                graft.queries.CorpusQueries.labeledSet(spark, sfDir)
                  .filter(graft.queries.CorpusQueries.labeledTrainFilter(
                    graft.queries.CorpusQueries.labeledOff(spark, sfDir)))); () })
          )
          (only -- builds.map(_._1).toSet - "stream:ingest").foreach(u =>
            System.err.println(s"[bench] unknown asset row in SPARK_GRAFT_BENCH_ASSETS: $u"))
          val rows = builds.collect {
            case (name, build) if only.isEmpty || only(name) => timed(name)(build())
          } ++ {
            if (only.nonEmpty && !only("stream:ingest")) Seq.empty
            else {
              // stream:ingest — the streaming tier's steady-state number
              // (round-13 verdict ask #7): one AvailableNow catch-up of the
              // daily-counts aggregation over a Day_Wise CSV tree exported
              // from THIS scale's events table. The export is setup (its
              // own untimed pass, done once per run); the timed row is the
              // catch-up itself — source listing, watermarked window
              // aggregation, exactly-once sink — from a fresh checkpoint so
              // every run replays the whole tree, like every batch row.
              // The whole tree (CSV copy + output + checkpoint) is deleted
              // afterwards: at sf3 it is a multi-hundred-MB /tmp footprint
              // per run.
              val streamRoot = java.nio.file.Files
                .createTempDirectory("graft-bench-stream")
              try {
                val days = graft.streaming.StreamingIngest.exportDayWiseCsv(
                  Tables.events(spark, sfDir), streamRoot.toString)
                if (days == 0)
                  System.err.println("[bench] stream:ingest export wrote no days")
                Seq(timed("stream:ingest") {
                  graft.streaming.StreamingIngest.runAvailableNow(
                    graft.streaming.StreamingIngest.dailyCounts(spark, streamRoot.toString),
                    s"$streamRoot/out", s"$streamRoot/ckpt")
                  ()
                })
              } catch { case scala.util.control.NonFatal(e) =>
                System.err.println(s"[bench] stream:ingest setup failed: ${e.getMessage}")
                Seq.empty
              } finally graft.pipeline.DedupAssets.deleteRecursively(streamRoot)
            }
          }
          Harness.releaseSnapshots(spark)
          rows
      }

    benchQueries.toSeq.sortBy(_._1).foreach { case (_, fn) =>
      try materialize(fn(spark, sfDir))
      catch { case scala.util.control.NonFatal(_) => }
      Harness.releaseSnapshots(spark)
    }

    // Two measured passes, per-query MIN: a single pass is exposed to GC /
    // scheduler noise (observed 2× outliers on otherwise-identical runs);
    // the min of two is the standard noise-floor estimate and still
    // includes plan + execute end-to-end.
    val passes = 2
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame): (Double, Boolean) = {
      val t0 = System.nanoTime()
      val ok =
        try { materialize(fn(spark, sfDir)); true }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    // Committed per-query steady-state reference (BENCH_REF.json,
    // override with SPARK_GRAFT_BENCH_REF; missing file = guard off):
    // flat {"query":seconds} written from a clean committed run. A
    // min-of-passes exceeding 3× its committed value triggers the same
    // re-measure path as pass disagreement — a transient spanning BOTH
    // passes corrupts the row in a way the spread guard can't see
    // (BENCH_r12: m19 at 2.28 s vs 0.26 committed, both passes slow).
    var refCanary: Option[Double] = None
    // Asset-tier reference rows (round-20, verdict r19 #1): BENCH_REF
    // carries an "assets" object alongside "queries", so the 17
    // asset:*/stream:* rows — the engine's heaviest work, previously the
    // only benched surface outside the adjudication protocol — get the
    // same reference-pinned drift adjudication. Asset rows keep their
    // cold single-build semantics (no warm-up, no min-of-2, no in-run
    // re-measure: a second build would be warm and measure a different
    // thing), so their guard is POST-RUN — the record's "asset_scale"
    // plus per-row stats, consumed by tools/update_bench_ref.py.
    var benchRefAssets: Map[String, Double] = Map.empty
    val benchRef: Map[String, Double] = {
      val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "BENCH_REF.json")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) Map.empty
      else try {
        // Real JSON parse scoped to the "queries" object (json4s rides the
        // Spark classpath): the round-13 regex also captured non-query
        // numeric fields and couldn't read exponent notation, so a
        // malformed or hand-edited reference silently misdirected the 3×
        // guard. Now anything unreadable or scale-mismatched SAYS so.
        import org.json4s._
        val j = jackson.JsonMethods.parse(
          java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
        // The reference only applies at the scale it was measured at — a
        // scale-sweep run at sf1/sf3 against an sf0.1 reference would
        // re-measure every query for nothing.
        val refSf = j \ "sf" match { case JString(s) => Some(s); case _ => None }
        if (!refSf.contains(sfDir)) {
          System.err.println(s"[bench] reference $path is for scale " +
            s"${refSf.getOrElse("<missing>")}, not $sfDir — 3x guard off")
          Map.empty
        } else {
          // the reference run's canary (seconds) — when present AND
          // measured with the SAME canary plan, the 3x guard compares
          // host-speed-normalized ratios, not wall-clock (a different
          // plan's seconds would mis-scale every threshold)
          val refPlan = j \ "canary_plan" match {
            case JString(s) => Some(s); case _ => None
          }
          refCanary = (j \ "canary" match {
            case JDouble(v) => Some(v)
            case JDecimal(v) => Some(v.toDouble)
            case _ => None
          }).filter { _ =>
            // ABSENT plan = mismatch, not match: every plan-less
            // reference by definition predates the current plan, and
            // trusting it would mis-scale all thresholds (review r17b)
            val ok = refPlan.contains(CanaryPlan)
            if (!ok) System.err.println(
              s"[bench] reference canary plan ${refPlan.getOrElse("<absent>")} != " +
                s"$CanaryPlan — ratio guard falls back to wall-clock")
            ok
          }
          def numMap(node: JValue): Map[String, Double] = node match {
            case JObject(fields) =>
              fields.collect {
                case (k, JDouble(v)) => k -> v
                case (k, JDecimal(v)) => k -> v.toDouble
                case (k, JInt(v)) => k -> v.toDouble
                case (k, JLong(v)) => k -> v.toDouble
              }.toMap
            case _ => Map.empty
          }
          // absent "assets" = a pre-round-20 reference; asset_scale
          // then ships null and the refresh tool falls back per its
          // basis ladder — never a hard failure
          benchRefAssets = numMap(j \ "assets")
          j \ "queries" match {
          case JObject(_) => numMap(j \ "queries")
          case _ =>
            System.err.println(
              s"[bench] reference $path has no queries object — 3x guard off")
            Map.empty
          }
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[bench] reference $path unreadable (${e.getMessage}) — 3x guard off")
        Map.empty
      }
    }
    // Per-query stats come from the LAST measured pass (the same
    // statsOut map the asset rows wrote into above); the compact stdout
    // line never carries stats (its 1000-char budget is for timings).
    // Host-speed scale for a row: its same-run canary over the committed
    // reference's canary. >1 = this host/window is slower than the
    // reference run's, and the 3x guard's threshold stretches with it —
    // the mechanical form of the "host-speed shift" notes.
    def canaryScale(name: String): Double = (refCanary, canaryUsed.get(name)) match {
      case (Some(rc), Some(cn)) if rc > 0 && cn > 0 => cn / rc
      case _ => 1.0
    }
    val firstResults = benchQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
      canaryTick(name)
      var runs = (1 to passes).map { i =>
        if (i == passes) { statsListener.quiesce(); statsListener.reset() }
        val r = timeOne(name, fn)
        if (i == passes) { statsListener.quiesce(); statsOut(name) = statsListener.snapshot }
        Harness.releaseSnapshots(spark)
        r
      }
      // Variance guard: min-of-2 defends against ONE noisy pass, but a
      // host-load window long enough to cover both passes corrupts the
      // record anyway (BENCH_r11: m29 reported 21.3 s against a 0.23 s
      // steady state — both passes sat inside one slow stretch). When the
      // successful passes disagree by >5× (and the best isn't sub-50 ms
      // noise-floor jitter), re-measure up to twice more: the min over
      // 3-4 passes spread across a wider wall-clock window is far less
      // likely to be entirely inside the transient.
      def spread(rs: Seq[(Double, Boolean)]): Double = {
        val g = rs.filter(_._2).map(_._1)
        if (g.size < 2) 1.0 else g.max / math.max(g.min, 1e-9)
      }
      // Re-measure when the passes disagree >5× OR the min exceeds 3× the
      // committed steady state (and isn't sub-noise-floor either way): a
      // host-load window covering both passes defeats min-of-2, but the
      // committed reference sees through it. A genuine plan regression
      // re-measures to the same elevated number — two extra runs bound
      // the cost, and the record then shows a STABLE elevated value.
      def refExceeded(rs: Seq[(Double, Boolean)]): Boolean = {
        val g = rs.filter(_._2).map(_._1)
        // canary-normalized: the committed threshold stretches (or
        // tightens) with the measured host-speed ratio, so a slow host
        // window stops tripping the guard on rows whose ratio is flat
        g.nonEmpty && benchRef.get(name).exists(r =>
          g.min > 3 * r * canaryScale(name) && g.min > 0.2)
      }
      var extra = 0
      while (extra < 2 &&
             (spread(runs) > 5.0 || refExceeded(runs)) &&
             runs.filter(_._2).map(_._1).min > 0.05) {
        val why =
          if (spread(runs) > 5.0) f"passes disagree ${spread(runs)}%.1fx"
          else f"min ${runs.filter(_._2).map(_._1).min}%.2fs > 3x committed ${benchRef(name)}%.2fs (canary scale ${canaryScale(name)}%.2f)"
        System.err.println(s"[bench] $name $why — re-measuring")
        runs = runs :+ timeOne(name, fn)
        Harness.releaseSnapshots(spark)
        extra += 1
      }
      // Min over SUCCESSFUL runs when any succeeded — a fast transient
      // failure must not report its (meaningless) duration as the time.
      val good = runs.filter(_._2)
      val t = (if (good.nonEmpty) good else runs).map(_._1).min
      (name, t, good.size == runs.size)
    }
    // End-of-suite requeue (round-16 verdict ask #2): the in-place
    // re-measure above adds at most ~4 back-to-back passes, so a
    // host-load window spanning a few minutes corrupts the row anyway
    // (BENCH_r15: ~25 rows at 1.5-5x steady state in consecutive
    // alphabetical clusters). Rows whose final min STILL exceeds 3x the
    // committed reference get ONE more measurement after the whole
    // suite has run — separated by the remaining suite's wall-clock,
    // which is what outlasts a multi-minute transient. A genuine plan
    // regression measures the same elevated value here and the record
    // keeps it; the row is then adjudicated against its flat shuffle
    // stats (DESIGN.md §8).
    val (results, requeuedRows) = {
      val flagged = firstResults.collect {
        case (name, t, ok)
          if ok && benchRef.get(name).exists(r =>
            t > 3 * r * canaryScale(name) && t > 0.2) => name
      }.toSet
      if (flagged.isEmpty) (firstResults, flagged)
      else {
        System.err.println("[bench] end-of-suite requeue (still >3x committed, canary-scaled): " +
          flagged.toSeq.sorted.mkString(", "))
        (firstResults.map {
          case (name, t, ok) if flagged(name) =>
            // Timing, canary AND stats must come from the SAME pass:
            // whichever pass's timing ships, its canary and its stats
            // snapshot ship with it (review r16 added the stats replace
            // for a kept requeue; review r18 restored the canary for a
            // kept original; review r19 found a failed/slower requeue
            // still overwrote statsOut with the aborted pass's partial
            // bytes — the adjudication numbers — while keeping the
            // original timing).
            val prevCanary = canaryUsed.get(name)
            val prevStats = statsOut.get(name)
            canaryTick(name, force = true)
            statsListener.quiesce(); statsListener.reset()
            val (t2, ok2) = timeOne(name, benchQueries(name))
            statsListener.quiesce(); statsOut(name) = statsListener.snapshot
            Harness.releaseSnapshots(spark)
            val keepRequeue = ok2 && t2 < t
            if (!keepRequeue) {
              // original pass's timing kept → restore ITS canary and
              // stats; a None restores by REMOVAL, never by leaving the
              // requeue window's value behind (ADVICE r18 / review r19)
              prevCanary match {
                case Some(c) => canaryUsed(name) = c
                case None    => canaryUsed.remove(name)
              }
              prevStats match {
                case Some(s) => statsOut(name) = s
                case None    => statsOut.remove(name)
              }
            }
            (name, if (ok2) math.min(t, t2) else t, ok)
          case r => r
        }, flagged)
      }
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // Failed queries are listed explicitly — a fast failure must not be
    // indistinguishable from a fast success in the one-line contract.
    val failures = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val statsJson =
      if (statsOut.isEmpty) ""
      else statsOut.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString(""","stats":{""", ",", "}")
    def ms(v: Double): String = f"$v%.3f"
    val assetsJson = assetTimes.map { case (k, v, _) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    // Failed asset rows listed by name (ADVICE r14): their "assets" value
    // is time-to-failure, and this list is what says so.
    val assetFailures = assetTimes.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // Canary block + per-row ratios (full record only): "canary".median
    // is what update_bench_ref.py promotes into BENCH_REF's "canary";
    // "ratios" is row-seconds / same-run-canary — the number a flagged
    // row is adjudicated on (flat ratio = host noise, moved ratio =
    // real). Asset rows carry ratios too (their drift adjudication,
    // round-13 ask #1, wants the same mechanics).
    val canaryJson =
      if (canarySamples.isEmpty) ""
      else {
        val sorted = canarySamples.sorted
        val med = sorted(sorted.size / 2)
        val allRows = assetTimes.map(a => (a._1, a._2)) ++
          results.map(r => (r._1, r._2))
        val ratios = allRows.flatMap { case (k, t) =>
          // 4 decimals: the refresh tool's 1.5x drift gate compares
          // these against full-precision old-ratio values — 2-decimal
          // quantization alone could trip or mask the gate on fast
          // rows (review r17)
          canaryUsed.get(k).filter(_ > 0)
            .map(c => "\"" + k + "\":" + f"${t / c}%.4f")
        }.mkString("{", ",", "}")
        s""","canary":{"plan":"$CanaryPlan","median":${ms(med)},""" +
          s""""ref":${refCanary.map(ms).getOrElse("null")},""" +
          s""""samples":[${canarySamples.map(ms).mkString(",")}]},"ratios":$ratios"""
      }
    // The requeue list lives IN the record (round-17 verdict ask #1: a
    // clean run must carry an EMPTY list mechanically, not be inferred
    // from stderr). The window-level field it rides with is defined
    // ONCE, below at its computation (round 19 — two comment blocks had
    // defined "suite_scale" two different ways).
    val requeuedJson = requeuedRows.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // "suite_scale" = MEDIAN of per-row t/ref ratios over the shared
    // successful rows — the same basis update_bench_ref.py recomputes
    // (a sum-of-walls ratio lets a regressed subset that dominates
    // suite time self-absolve; the median resists until more than half
    // the ROWS move together — ADVICE r18). The old sum basis still
    // ships as "suite_wall_ratio" for the run-total narrative.
    val (suiteScaleJson, suiteWallJson) = {
      val shared = results.collect {
        case (name, t, ok) if ok && benchRef.contains(name) =>
          (t, benchRef(name))
      }
      // Same ≥5-shared-rows floor as update_bench_ref's use_suite
      // (review r19d): on a 1-2 row subset run the median IS the
      // measured row's own ratio, so per-row seconds/suite_scale would
      // read exactly 1.0× by construction and a genuine regression
      // re-measured in a subset could never trip the layered gate.
      if (shared.size < 5) ("null", "null")
      else {
        val ratios = shared.map { case (t, r) => t / r }.sorted
        (f"${ratios(ratios.size / 2)}%.3f",
          f"${shared.map(_._1).sum / shared.map(_._2).sum}%.3f")
      }
    }
    // "asset_scale" = the suite_scale analogue for the asset tier,
    // computed over the ASSET rows' own ratios: the asset phase runs
    // COLD before the warm-up pass, so its host window can differ from
    // the query phase's — one conflated median would mis-correct both.
    // Same ≥5-shared-rows floor as suite_scale, same median basis as
    // update_bench_ref.py recomputes.
    val assetScaleJson = {
      val shared = assetTimes.collect {
        case (name, t, ok) if ok && benchRefAssets.contains(name) =>
          t / benchRefAssets(name)
      }.sorted
      if (shared.size < 5) "null" else f"${shared(shared.size / 2)}%.3f"
    }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"assets":$assetsJson,"asset_failures":$assetFailures,"failures":$failures,"requeued":$requeuedJson,"suite_scale":$suiteScaleJson,"suite_wall_ratio":$suiteWallJson,"asset_scale":$assetScaleJson,"warm":true,"passes":$passes,"sf":"$sfDir"$canaryJson$statsJson}"""
    // Persist the FULL-fidelity line to a file first: this is the
    // canonical record (every query, full precision, optional stats).
    // The stdout contract below is a derived view of it.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    // FINAL stdout line must SELF-PARSE from the driver's log capture,
    // which keeps only the last ~2000 chars of stdout. Three defenses
    // (r11 still recorded parsed:null with a 1600-char line):
    //  - the line is bounded to <1000 chars, so even with unexpected
    //    trailing output the whole line sits inside the tail window;
    //  - build.sbt forks `run` with OutputStrategy.StdoutOutput (no sbt
    //    "[info] " prefix glued to the line — the r1-r11 parse killer)
    //    and showSuccess=false (no "[success] Total time" trailer);
    //  - it is printed AFTER spark.stop(), so shutdown-time log noise
    //    lands before it, not after: the JSON is the last stdout line.
    // Same schema as the canonical file, headline total exact, per-query
    // map truncated to the SLOWEST queries that fit (ms precision — the
    // slowest are the ones a grader reads first), omission explicit,
    // pointer to the full record.
    val byTime = results.sortBy(-_._2).map { case (k, v, _) => "\"" + k + "\":" + ms(v) }
    val fixed = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":{},"assets":$assetsJson,"asset_failures":$assetFailures,"queries_omitted":${results.size},"full_record":"$outFile","failures":$failures,"warm":true,"passes":$passes,"sf":"$sfDir"}"""
    var budget = 1000 - fixed.length
    val kept = byTime.takeWhile { s =>
      val c = s.length + 1
      val fits = budget >= c
      if (fits) budget -= c
      fits
    }
    val compact = s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":${kept.mkString("{", ",", "}")},"assets":$assetsJson,"asset_failures":$assetFailures,"queries_omitted":${results.size - kept.size},"full_record":"$outFile","failures":$failures,"warm":true,"passes":$passes,"sf":"$sfDir"}"""
    spark.stop()
    println(compact)
    Console.out.flush()
  }
}
