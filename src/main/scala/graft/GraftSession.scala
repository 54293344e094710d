package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory — the one place the engine's required
  * session configuration lives, so a user switching from the reference
  * cannot mis-assemble it:
  *
  *  - UTC session timezone (timestamp/date math parity, SURVEY §7.4.6);
  *  - AQE on (runtime coalescing + skew-join splitting, DESIGN §3);
  *  - graft native expressions registered via SparkSessionExtensions;
  *  - ANSI pinned ON explicitly (round 15; previously left at the
  *    Spark 4 default) — the operators are written to it
  *    (`try_element_at`, overflow-safe minhash arithmetic), and the
  *    pin makes that contract immune to ambient conf or a future
  *    default drift.
  *
  * The harness mains build their sessions on this factory through
  * [[graft.tools.Harness.session]]; this factory is the library entry
  * point.
  */
object GraftSession {

  /** ObjectHashAggregate sort-fallback threshold (round 19). Spark's
    * default is 128 KEYS because it cannot size arbitrary object
    * buffers, so every corpus-sized typed aggregation ran as an
    * external SORT of its whole input stream — measured at the
    * gen-1000 octave on asset:pairs: 13.4 GB mem + 1.9 GB disk spill
    * at the default, ZERO at this threshold (and at 4× it), wall
    * 23.5 → 18.6 s.
    *
    * The threshold is SESSION-GLOBAL, so the safety arithmetic must
    * cover BOTH buffer families that plan as ObjectHashAggregate
    * (review r19 — the first cut of this constant argued only from the
    * capped one):
    *  - the engine's typed Aggregators, capped by construction
    *    (CappedCollect ≤ cap+1 longs, KmvSketch ≤ k, HistogramSketch
    *    1024 counters): 65536 × ~500 B ≈ 32 MB per task — negligible;
    *  - built-in collect_list/collect_set at DOCUMENT grain (LineDedup,
    *    SpanScrub cut lists, DSIR/outlier vectors): buffers are a doc's
    *    lines/cuts, ~2–4 KB typical → 65536 × 4 KB ≈ 256 MB per task,
    *    ×32 concurrent ≈ 8 GB ABSOLUTE worst case if every task is a
    *    text collect at max width — in practice those aggregations
    *    run at ≤ thousands of groups per task at every measured octave
    *    (gen-1000: 36 k docs/task), far below the threshold.
    * Past the threshold the sort fallback still engages, so an
    * unforeseen million-group task degrades exactly as the old default
    * did instead of OOMing. 262144 also measured zero-spill on the
    * capped family but quadruples the unbounded-collect exposure for
    * no additional benefit — 65536 is the smallest power of two that
    * keeps the gen-1000 capped tier fully in the hash path.
    *
    * Headroom contract (review r19b): this sizes to the MEASURED
    * octave, not far beyond it — a capped-family task that grows past
    * the threshold (a larger octave, a skewed partition) re-enters the
    * sort path and its spill REAPPEARS IN THE BENCH RECORD, which is
    * the designed tripwire: when adjudicating a new spill on an
    * ObjectHashAggregate row, check groups-per-task against this
    * constant BEFORE suspecting the plan (DESIGN §8). Raising it is
    * pre-validated up to 4× (262144 measured zero-spill same-session),
    * and on a real cluster it should scale with per-task memory —
    * 65536 is calibrated to the 8 GB / 32-concurrent-task bench JVM. */
  val ObjectAggFallbackKeys = 65536

  /** Whole-stage-codegen class cache size (round 21, guide §1.2 "per-task
    * work"). Spark's `spark.sql.codegen.cache.maxEntries` defaults to 100
    * COMPILED CLASSES per JVM — sized for a handful of recurring plans,
    * not an engine with hundreds of distinct operators. Under the default
    * this suite thrashes the LRU: 203 queries × ~5–15 codegen stages
    * evict every class long before the same plan runs again, so each
    * re-run re-pays Janino compilation AND starts C2 JIT from scratch on
    * a fresh class (the JIT profile is per-class). Measured full-suite
    * A/B at sf0.1/local[32], identical code, min-of-2: 81.4 → 73.0 s
    * (−10.3 %, per-row geomean 0.91×, canary ~6 % slower in the second
    * window so the true effect is larger; biggest rows −29–41 %).
    *
    * 8192 entries bounds the cache at ~4× the suite's worst-case stage
    * count. Cost is metaspace for retained generated classes — tens of
    * KB each, so low hundreds of MB absolute worst case, against an 8 GB
    * driver. Production justification: any long-running
    * service (Thrift server, scheduled-DAG driver, streaming app) re-runs
    * its plan library continuously — a 100-class cache is the wrong
    * default there for exactly the reason it is here, and this is a
    * STATIC conf (per-JVM, set at session build), not a local[] tweak. */
  val CodegenCacheMaxEntries = 8192

  def builder(master: String = "local[*]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        ObjectAggFallbackKeys.toString)
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheMaxEntries.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")

  /** Apply `SPARK_GRAFT_CONF` — semicolon-separated k=v pairs — to `b`.
    * The harness session ([[graft.tools.Harness.session]]) applies it
    * LAST, as the A/B knob for scale experiments (e.g. AQE
    * initialPartitionNum at gen-100), so a conf probe or a before/after plan diff never needs a code edit. A
    * malformed pair fails loudly rather than silently running the
    * default. */
  def withEnvConf(b: SparkSession.Builder): SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_CONF").filter(_.nonEmpty).foreach { s =>
      s.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => b.config(k, v)
          case _ => sys.error(s"SPARK_GRAFT_CONF: malformed pair '$kv'")
        }
      }
    }
    b
  }

  /** s3a configuration profile mirroring the reference's actual object
    * layout (raw `s3://…/Day_Wise/<date>/event.csv` reads, mart
    * `s3://…/aggregates/<metric>/dt=…` partitioned parquet writes —
    * retail_pipeline_assets.py:37, retail_pipeline.py:81). Sources and
    * Sinks already take generic Hadoop paths, so an `s3a://` root works
    * with NO code change — this profile is the session-level half: the
    * standard public hadoop-aws settings a parquet-on-S3 deployment
    * needs, centralized so a user switching from the reference cannot
    * mis-assemble them either.
    *
    *  - the MAGIC committer PRE-POSITIONED at the s3a layer: S3 has no
    *    atomic directory rename, so the default FileOutputCommitter is
    *    both slow (copy-based "rename") and unsafe on task retry; the
    *    magic committer stages multipart uploads and completes them at
    *    job commit (public Hadoop S3A committer docs). Stated plainly
    *    (review r19d): with ONLY this profile, Spark SQL writes still
    *    run the default rename-based committer — Spark's datasource
    *    path consults the fs.s3a committer keys only through the
    *    spark-hadoop-cloud protocol classes, which this profile
    *    deliberately does not set (see the inline note below for why:
    *    optional module, and a dynamic-partition-overwrite
    *    incompatibility). On a build that ships that module, activation
    *    is the two protocol confs on top of this profile;
    *  - connection/thread pool sized for the day-partitioned layout
    *    (many small objects read concurrently by one stage).
    *
    * Credentials are deliberately NOT set here: the default s3a
    * provider chain (env → instance profile) is the production path,
    * and baking keys into session conf is the anti-pattern. This
    * sandbox has no object store, so the profile is exercised by
    * GraftSessionSpec asserting the confs land on the builder — the
    * dataflow it configures is the same one the local-path tests run
    * end-to-end. */
  def withS3aProfile(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.hadoop.fs.s3a.committer.magic.enabled", "true")
      .config("spark.hadoop.fs.s3a.committer.name", "magic")
      .config("spark.hadoop.fs.s3a.connection.maximum", "96")
      .config("spark.hadoop.fs.s3a.threads.max", "64")
      .config("spark.hadoop.fs.s3a.directory.marker.retention", "keep")
  // Deliberately NOT set here (review r19c):
  //  - spark.sql.sources.commitProtocolClass = PathOutputCommitProtocol
  //    (+ BindingParquetOutputCommitter): those classes live in the
  //    OPTIONAL spark-hadoop-cloud module — setting them on a
  //    distribution without it fails EVERY write at class-load, and
  //    PathOutputCommitProtocol rejects dynamicPartitionOverwrite
  //    (documented S3A limitation), which Sinks.upsertDatePartition's
  //    warehouse upsert uses. The deploy recipe is therefore split by
  //    write path: the mart tier's per-day writes replace an explicit
  //    `dt=` directory (path-grain, magic-committer-compatible —
  //    Sinks.writeMartParquet); warehouse-table day upserts on S3
  //    should route through the same path-grain replacement, or accept
  //    the rename-based default committer for that table family. Add
  //    the two protocol confs only on a build that ships
  //    spark-hadoop-cloud AND only for path-grain writers.
  //  - fs.s3a.committer.staging.conflict-mode: read by the STAGING
  //    committers only — dead config under committer.name=magic.
  //  - fs.s3a.fast.upload: always-on since Hadoop 3 — a no-op key.

  /** Build (or reuse) the session and make sure the extensions are live
    * even when an earlier session without them already exists.
    *
    * NOTE: no log suppression here (ADVICE r14) — the audited-noise
    * suppressions below are opt-in per entrypoint (the harness session
    * calls them), so a library consumer's genuinely corpus-sized
    * unpartitioned window still warns. */
  def getOrCreate(master: String = "local[*]"): SparkSession = {
    val s = builder(master).getOrCreate()
    graft.functions.GraftFunctions.ensureRegistered(s)
    s
  }

  /** DOCUMENTED log4j suppression of WindowExec's "No Partition Defined"
    * warning (WARN → ERROR on that one logger). Called by the harness
    * session ([[graft.tools.Harness.session]]) only — never from
    * [[getOrCreate]] — so the suppression covers exactly the surface
    * whose windows are audited and plan-pinned, not every library
    * consumer.
    *
    * Every unpartitioned window in this engine runs over a frame that is
    * BOUNDED BY CONSTRUCTION — k+1 rows (PrioritySample), the top-V
    * vocabulary (SourceDivergence/Bm25/TfIdf), `buckets` rows
    * (NoveltyCurve), the (bands, rows) design grid (LshPlanner), the
    * token vocabulary (Bpe.tokenCoverage), or a per-source card — never
    * corpus-sized data (corpus-scale ranks go through
    * [[graft.operators.PrefixSum]], the house rule). Spark cannot see
    * that proof, so it warns on every run; the warning is the one
    * alarming line left in an otherwise clean bench tail, and each
    * occurrence has been audited (round-13 verdict). Partitioning by a
    * constant would silence it semantically, but Catalyst's
    * EliminateWindowPartitions folds constant partition keys right back
    * out. Suppressing the logger is honest ONLY because the boundedness
    * is enforced elsewhere: PlanSpec pins the bounded-frame plans, and
    * any new corpus-sized global window would fail the scale sweep's
    * max_task_shuffle_read stats long before a log line would be read. */
  def silenceBoundedWindowWarning(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** DOCUMENTED log4j suppression of the localCheckpoint-unpersist
    * caveat ("RDD N was locally checkpointed ... can no longer be
    * recomputed after unpersisting") — same clean-bench-tail policy,
    * same scoping (the harness session only).
    *
    * The [[graft.Snapshot]] free path unpersists superseded snapshot
    * blocks ON PURPOSE: queries share no state, the pinned frame is
    * never read again, and retaining dead rounds measurably squeezed
    * execution memory (round-3 regression notes on
    * [[graft.tools.Harness.releaseSnapshots]]). Spark logs a
    * blanket WARN on every such unpersist because it cannot know the
    * block is dead — here that is proved by construction (the harness
    * mains release only BETWEEN queries) and pinned by SnapshotModeSpec,
    * so the per-run flood is noise, not signal.
    *
    * Scoped to the MESSAGE, not the logger level (ADVICE r15: a level
    * cut on the class logger would swallow every other WARN
    * MapPartitionsRDD can emit): a DENY filter matching the exact
    * caveat text is attached to a dedicated LoggerConfig for the
    * concrete RDD class (Spark's Logging uses the instance class;
    * snapshot internals are always MapPartitionsRDDs), additive so any
    * OTHER message from that class still reaches the root appender at
    * its inherited level. */
  def silenceSnapshotFreeWarning(): Unit = {
    import org.apache.logging.log4j.core.{Filter, LogEvent}
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val cfg = ctx.getConfiguration
    val name = "org.apache.spark.rdd.MapPartitionsRDD"
    val filter = new org.apache.logging.log4j.core.filter.AbstractFilter(
      Filter.Result.DENY, Filter.Result.NEUTRAL) {
      private def deny(s: String): Filter.Result =
        if (s != null && s.contains("was locally checkpointed")) onMatch
        else onMismatch
      override def filter(event: LogEvent): Filter.Result = {
        val m = event.getMessage
        deny(if (m == null) null else m.getFormattedMessage)
      }
    }
    val existing = cfg.getLoggerConfig(name)
    val target =
      if (existing.getName == name) existing
      else {
        // no config for this class yet: create one that inherits the
        // effective level and stays additive (events still flow to root)
        val fresh = new org.apache.logging.log4j.core.config.LoggerConfig(
          name, existing.getLevel, true)
        cfg.addLogger(name, fresh)
        fresh
      }
    target.addFilter(filter)
    ctx.updateLoggers()
  }
}
