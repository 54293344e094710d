package perfbench

import graft.pipeline.{CorpusPipeline, DedupAssets, RetailPipeline}
import graft.queries.CorpusQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Benchmark driver: one workload, one closed-loop client, one session.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --base <dir> --work <dir> --cores <n>
  *
  * `base` holds the GenData tables and `domains.txt`; everything the run
  * creates goes under `work`, and the run record is `work/record.json`.
  * Output checks and metric maths are done by `perfbench/run.py` from the
  * record and from the outputs this driver leaves under `work/check`.
  */
object Main {

  /** Set-ups per run: the first one, which also loads the JVM's classes,
    * then this many more; `setup_s` is the median of these warm ones. A
    * corpus set-up takes about 1 s, a backfill one 4 s, a query one 9 s. */
  val WarmSetups = Map("retail_backfill" -> 3, "mart_queries" -> 2, "corpus_prep" -> 5)

  final case class Op(id: Int, phase: String, name: String, startUs: Long, endUs: Long,
                      ok: Boolean, err: String, traced: Boolean,
                      extra: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = o("workload")
    require(Set("retail_backfill", "mart_queries", "corpus_prep")(workload),
      s"unknown workload $workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traceRun = o("trace") == "1"
    val base = o("base")
    val work = o("work")
    val cores = o("cores").toInt
    val dom = Inputs.domains(base)
    val master = s"local[$cores]"

    def session(wh: String): SparkSession = {
      val s = graft.GraftSession.builder(master)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.warehouse.dir", wh)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // ---- set-up, repeated: fresh session + seeded inputs each time; the
    // last repetition's session and inputs serve the run ----
    val t00 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - t00) / 1e9}%.1f s")
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var dir = ""
    val setups = 1 + WarmSetups(workload)
    for (r <- 0 until setups) {
      dir = s"$work/run$r"
      val t0 = System.nanoTime()
      spark = session(s"$dir/warehouse")
      workload match {
        case "retail_backfill" => Inputs.dayWise(spark, base, s"$dir/raw", seed, dom, copies = 5)
        case "mart_queries" =>
          Inputs.QueryTables.foreach(t => Inputs.writeTable(spark, base, s"$dir/in", t, seed, dom))
        case "corpus_prep" => Inputs.writeTable(spark, base, s"$dir/in", "documents", seed, dom)
      }
      setupS += (System.nanoTime() - t0) / 1e9
      if (r < setups - 1) {
        spark.stop()
        deleteRecursively(Paths.get(dir))
      }
    }
    val in = s"$dir/in"
    val check = s"$work/check"
    Files.createDirectories(Paths.get(check))

    phase("setup")
    val canaryStart = canary(spark)
    phase("canary")

    val sc = spark.sparkContext
    val rec = new Recorder(sc)
    val ops = mutable.ArrayBuffer.empty[Op]
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // Between ops and outside the timed section, as graft.Bench does:
    // snapshot pins of a finished op are dead weight for the next one.
    def releaseSnapshots(): Unit = sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

    var tracing = false
    /** Run one op; when traced, attach the listeners around it and drain
      * the bus after its end time is taken. */
    def op(phase: String, name: String, traced: Boolean)(body: Int => Map[String, Any]): Unit = {
      val id = ops.size
      if (traced) {
        sc.addSparkListener(rec)
        spark.listenerManager.register(rec)
        rec.beginOp(id)
      }
      tracing = traced
      val compiles0 = codegenCompiles
      val t0 = rec.nowUs
      val res = Try(body(id))
      val t1 = rec.nowUs
      tracing = false
      val compiles = codegenCompiles - compiles0
      var extra = res.getOrElse(Map.empty[String, Any]) + ("codegen_compiles" -> compiles)
      if (traced) {
        rec.endOp()
        sc.removeSparkListener(rec)
        spark.listenerManager.unregister(rec)
        extra = extra ++ Map("files_written" -> filesSince(work, t0 / 1000L),
          "snapshot_bytes" -> snapshotBytes(spark), "assets_bytes" -> assetBytes())
      }
      releaseSnapshots()
      val e = res.failed.toOption
      e.foreach(x => System.err.println(s"[perfbench] op $id $name failed: $x"))
      ops += Op(id, phase, name, t0, t1, res.isSuccess, e.map(_.toString).orNull, traced, extra)
    }
    /** A layer span, recorded only inside a traced op. */
    def span[T](id: Int, name: String)(body: => T): T =
      if (tracing) rec.span(id, name)(body) else body

    // Closed loop over `next` until `seconds` of timed wall have passed. In
    // the traced run every other op is traced, and the loop runs at least
    // one of each, so the untraced ones give the same-run baseline for the
    // tracing overhead. The live heap is taken right after the last timed op.
    var timedStartUs = 0L
    var timedEndUs = 0L
    var heapMb = 0.0
    def timedLoop(next: Int => Option[(String, Int => Map[String, Any])]): Unit = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      timedStartUs = rec.nowUs
      var i = 0
      var more = true
      while (more && (System.nanoTime() < deadline || (traceRun && i < 2)))
        next(i) match {
          case Some((name, body)) =>
            op("timed", name, traced = traceRun && i % 2 == 0)(body)
            timedEndUs = ops.last.endUs
            i += 1
          case None => more = false
        }
      heapMb = liveHeapMb()
    }

    var inputBytes = 0L
    var storedBytes = 0L
    var clusterDigests = Map.empty[String, Seq[Long]]
    workload match {
      case "retail_backfill" =>
        val raw = s"$dir/raw"
        val mart = s"$dir/mart"
        val days = listDirs(Paths.get(raw, "Day_Wise")).sorted
        val manifest = RetailPipeline.manifestNotify(spark)
        val pipeline = new RetailPipeline(spark, raw, mart, notify = manifest)
        var loaded = 0
        // A traced day makes runDayNotified's calls itself, in its order,
        // so each stage gets its own span.
        def day(d: String)(id: Int): Map[String, Any] = {
          val history = loaded
          if (tracing) {
            val result = Try {
              span(id, "pipeline.ingest")(pipeline.ingestDay(d))
              span(id, "pipeline.star")(pipeline.buildStarSchema(d))
              span(id, "pipeline.mart")(pipeline.buildMart(d))
            }
            val outcome = result match {
              case Success(t) => RetailPipeline.RunComplete(d, t.keySet)
              case Failure(e) => RetailPipeline.RunFailed(d, e)
            }
            span(id, "pipeline.notify")(manifest(outcome))
            result.get
          } else pipeline.runDayNotified(d).get
          loaded += 1
          Map("history" -> history)
        }
        val warm = 1
        days.take(warm).foreach(d => op("warmup", d, traced = false)(day(d)))
        phase("warm-up")
        timedLoop(i => days.lift(warm + i).map(d => (d, day(d) _)))
        inputBytes = ops.map(o => dirBytes(Paths.get(raw, "Day_Wise", o.name))).sum
        storedBytes = dirBytes(Paths.get(dir, "warehouse")) + dirBytes(Paths.get(mart))

      case "mart_queries" =>
        val qs = graft.SparkEntry.queries.toSeq
          .filter(_._1.matches("q\\d+_.*")).sortBy(_._1)
        writeLines(Paths.get(check, "oracle.json"),
          json(qs.map(q => q._1 -> graft.SparkEntry.oracleSql(q._1)).toMap))
        qs.foreach { case (n, f) =>
          op("warmup", n, traced = false)(_ => { noop(f(spark, in)); Map.empty })
        }
        phase("warm-up")
        val rnd = new scala.util.Random(seed)
        var order = Seq.empty[(String, (SparkSession, String) => DataFrame)]
        timedLoop(i => {
          if (i % qs.size == 0) order = rnd.shuffle(qs)
          val (n, f) = order(i % qs.size)
          Some((n, (id: Int) => {
            val df = span(id, "query.build")(f(spark, in))
            span(id, "query.run")(noop(df))
            Map.empty
          }))
        })
        // After the timed loop, one untimed pass writes each result for the
        // oracle check, so the check covers the state the timed ops left.
        qs.foreach { case (n, f) =>
          op("check", n, traced = false)(_ => { f(spark, in).write.parquet(s"$check/$n"); Map.empty })
        }
        inputBytes = dirBytes(Paths.get(in))

      case "corpus_prep" =>
        def corpus(out: Option[String])(id: Int): Map[String, Any] = {
          DedupAssets.reset()
          val docs = CorpusQueries.withSyntheticPii(CorpusQueries.augmentedDocs(spark, in))
          val chunks = span(id, "corpus.prepare_call")(CorpusPipeline.prepareV2(docs))
          span(id, "corpus.materialize")(out.fold(noop(chunks))(p => chunks.write.parquet(p)))
          val clusters = span(id, "assets.build")(DedupAssets.clusters(spark, in))
          span(id, "assets.read")(noop(clusters))
          Map.empty
        }
        writeLines(Paths.get(check, "oracle.json"), json(Map(
          "m28_corpus_pipeline_v2" -> graft.SparkEntry.oracleSql("m28_corpus_pipeline_v2"))))
        op("warmup", "corpus", traced = false)(corpus(None))
        val warmDigest = clustersDigest(spark, in)
        phase("warm-up")
        timedLoop(_ => Some(("corpus", corpus(None) _)))
        // After the timed loop, one untimed op writes the chunks for the
        // oracle check, and its stored clusters asset must match the
        // warm-up op's, so the check covers a repeated, post-reset run.
        op("check", "corpus", traced = false)(corpus(Some(s"$check/m28_corpus_pipeline_v2")))
        clusterDigests = Map("warmup" -> warmDigest, "check" -> clustersDigest(spark, in))
        inputBytes = dirBytes(Paths.get(in, "documents.parquet"))
        storedBytes = assetBytes()
    }

    phase("workload")
    val canaryEnd = canary(spark)
    phase("canary")

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traceRun,
      "config" -> Map("master" -> master, "cores" -> cores,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")),
      "canary" -> Map("plan" -> "range12m-xxhash64-xor-p64",
        "start_s" -> canaryStart, "end_s" -> canaryEnd),
      "setup_cold_s" -> setupS.head, "setup_s" -> setupS.tail,
      "timed_start_us" -> timedStartUs, "timed_end_us" -> timedEndUs,
      "live_heap_mb" -> heapMb,
      "input_bytes" -> inputBytes, "stored_bytes" -> storedBytes,
      "run_dir" -> dir, "clusters_digest" -> clusterDigests,
      "ops" -> ops.map(x => Map("id" -> x.id, "phase" -> x.phase, "name" -> x.name,
        "start_us" -> x.startUs, "end_us" -> x.endUs, "ok" -> x.ok, "err" -> x.err,
        "traced" -> x.traced, "extra" -> x.extra)),
      "trace" -> (if (traceRun) rec.record else null))
    writeLines(Paths.get(work, "record.json"), json(record))
    spark.stop()
    phase("stop")
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  /** graft.Bench's host canary plan, min of 3. */
  def canary(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 12000000L, 1L, 64).select(bit_xor(xxhash64(col("id"))))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** Row count and xor of row hashes of the stored clusters asset. */
  def clustersDigest(spark: SparkSession, in: String): Seq[Long] = {
    import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
    val r = DedupAssets.clusters(spark, in)
      .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("cluster_id")))).head()
    Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def snapshotBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes under the per-JVM dedup asset root (inside java.io.tmpdir). */
  def assetBytes(): Long = {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    listDirs(tmp).filter(_.startsWith("graft-dedup-assets")).map(n => dirBytes(tmp.resolve(n))).sum
  }

  def listDirs(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator.asScala.filter(Files.isDirectory(_)).map(_.getFileName.toString).toList
      finally s.close()
    }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  def dirBytes(p: Path): Long = files(p).map(Files.size).sum

  /** Files under `work` (outside the Spark scratch space) modified since `ms`. */
  def filesSince(work: String, ms: Long): Long =
    files(Paths.get(work)).count { f =>
      !f.toString.contains("/spark-local/") && Files.getLastModifiedTime(f).toMillis >= ms
    }.toLong

  def writeLines(p: Path, s: String): Unit = Files.writeString(p, s + "\n")

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]).forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }
}
