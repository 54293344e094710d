package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated synthetic corpus (TESTDATA.md).
  *
  * Every loader is parameterized by the scale-factor directory so all queries
  * are scale-parametric: the same plan runs at sf0.001 (smoke), sf0.01
  * (duckdb-oracle correctness) and sf0.1+ (bench). At cluster scale these
  * would be partitioned/bucketed catalog tables; reading raw parquet keeps
  * the harness hermetic while still exercising the same Catalyst plans
  * (column pruning + predicate pushdown reach the parquet scan either way).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Adaptive SCAN SPREAD for the CPU-dense corpus tables (round-20
    * optimization, guide §2.2/§2.6/§6.1): a parquet file is splittable
    * only at row-group boundaries, so a small-corpus scan plans as ONE
    * task no matter the core count — and everything this engine fuses
    * into the scan stage (shingle walks, 4×md5 Count-Min counter
    * builds, tokenize+profile gates, per-vector math) then runs
    * single-threaded while the other 31 cores idle. Measured before the
    * fix at sf0.1/local[32]: the m149/m155 counter-build jobs were
    * 1.7–2.1 s single-task stages — ~80 % of those queries' walls.
    *
    * The spread is a key-hashed exchange straight off the scan, gated
    * by a PURE FUNCTION of footer metadata (the [[graft.operators
    * .ScalePartitions]] discipline — deterministic, memoized):
    *   parts = min(defaultParallelism, rows / rowsPerTask); spread only
    *   when 2 ≤ parts AND rows ≤ maxRows.
    * Above `maxRows` the plan is BYTE-IDENTICAL to the unspread one
    * (spec-pinned): a corpus big enough to exceed the gate is stored as
    * many files/row-groups and parallelizes at the source, and its text
    * must never ride an exchange (the PlanSpec house rule — the spread
    * is the one documented, size-gated exception, and it vanishes at
    * scale by construction). Results stay partition-invariant: every
    * downstream statistic is aggregation/join-based and order-
    * independent (the repo-wide oracle-parity discipline), and the
    * key-hash assignment is deterministic under task retry.
    *
    * Knobs (scale-parameterised, local defaults): `spark.graft
    * .scanSpread.enabled` (true), `.maxRows` (262144 — ≤ ~80 MB of
    * text on the wire, trivial next to the single-task stall it
    * removes), `.rowsPerTask` (64 — at least that many docs per task
    * so task-launch overhead never exceeds the per-row work).
    * Per-table override (ADVICE r20 — tables carry DIFFERENT defaults,
    * so a global override silently clobbered lineitem's 1<<20/4096):
    * `spark.graft.scanSpread.<table>.maxRows` / `.rowsPerTask` take
    * precedence over the global keys, which remain as the
    * all-tables sweep knob.
    *
    * Row counts come from [[graft.operators.ScalePartitions.tableRows]],
    * which memoizes footer counts per path per JVM against the path's
    * file listing, so an in-process regeneration at a different size is
    * counted again. */
  private[graft] def spreadSmallScan(spark: SparkSession, df: DataFrame,
                                     path: String, key: String, table: String,
                                     maxRowsDefault: Long = 262144L,
                                     rowsPerTaskDefault: Long = 64L): DataFrame =
    spreadParts(spark, path, table, maxRowsDefault, rowsPerTaskDefault) match {
      case None => df
      // HASH partitioning on the table's unique key, not round-robin:
      // the map side then skips sortBeforeRepartition's full local sort
      // (measured: the round-robin spread WRITE was itself a 0.4 s
      // single-task stage at sf0.1) and the assignment is deterministic
      // under retry by construction, not by the sort crutch.
      case Some(parts) =>
        df.repartition(parts, org.apache.spark.sql.functions.col(key))
    }

  /** The spread GATE alone — Some(partitions) when a spread should fire
    * for a frame whose row count is governed by `path`'s footer, None on
    * the 100 TB side (or when disabled). Factored out of
    * [[spreadSmallScan]] so a non-loader call site can consult the same
    * gate. (A round-21 experiment wired it into CorpusPipeline to spread
    * the deduped set mid-pipeline; the A/B measured it a net LOSS —
    * m28 2.21 → 2.42 s — so the pipelines stay unspread and this
    * function's only production caller is the scan spread itself.) */
  private[graft] def spreadParts(spark: SparkSession, path: String,
                                 table: String,
                                 maxRowsDefault: Long = 262144L,
                                 rowsPerTaskDefault: Long = 64L): Option[Int] = {
    def conf(k: String, d: String): String =
      spark.conf.getOption(s"spark.graft.scanSpread.$table.$k")
        .orElse(spark.conf.getOption(s"spark.graft.scanSpread.$k"))
        .getOrElse(d)
    if (conf("enabled", "true") != "true") None
    else {
      val rows = graft.operators.ScalePartitions.tableRows(spark, path)
      val maxRows = conf("maxRows", maxRowsDefault.toString).toLong
      val perTask = conf("rowsPerTask", rowsPerTaskDefault.toString).toLong.max(1L)
      val parts = math.min(
        spark.sparkContext.defaultParallelism.toLong, rows / perTask)
      if (rows > maxRows || parts < 2) None else Some(parts.toInt)
    }
  }

  private def loadSpread(spark: SparkSession, dir: String, name: String,
                         key: String): DataFrame =
    spreadSmallScan(spark, load(spark, dir, name), s"$dir/$name.parquet",
      key, name)

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS) (TESTDATA corpus), which Spark's
    * vectorized reader rejects. Read it as a raw nanos long and floor-divide
    * to micros (integral `div` — a double division would lose precision at
    * 1e18 nanos), matching DuckDB's ns→µs truncation. TIMESTAMP_NTZ keeps
    * parity with how every other corpus timestamp is read
    * (inferTimestampNTZ) and avoids tz-adjustment on rewrite. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      // Driver corpus: TIMESTAMP(NANOS) read as nanos long under the
      // legacy conf — floor-divide to micros.
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      // Standard µs parquet timestamps (e.g. tools/GenData output): the
      // legacy conf leaves them untouched; normalize to the same NTZ type.
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")

  /** [[documents]] behind the adaptive scan spread — the entry point for
    * the CPU-DENSE corpus walks (shingle/md5 sketch builds, LM score
    * passes, language-ID scoring, rule cards, edit distance, PNG
    * decode). Opt-in per call site, NOT blanket: the round-20 A/B
    * measured the spread exchange costing ~0.1–0.3 s per scan, a clear
    * net LOSS for light per-row consumers (exact-dedup fingerprints,
    * quota/packing samplers regressed 1.6–2.6×) and a 1.5–4× win for
    * heavy walks (m156 2.55→0.63 s, m67 1.62→0.69 s, m137 1.11→0.32 s).
    * The callers listed in OPTIMIZATION_r20.md carry the measured
    * justification. */
  def documentsSpread(spark: SparkSession, dir: String): DataFrame =
    loadSpread(spark, dir, "documents", "doc_id")

  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** [[embeddings]] behind the scan spread — embeddings stay UNSPREAD by
    * default (the round-20 A/B: the vector tier's many small driver-loop
    * jobs regressed 1.1–1.4× under a blanket spread); this entry point
    * exists for the per-vector-dense consumers that measured a win
    * (m102's 64×16 projection pass). */
  def embeddingsSpread(spark: SparkSession, dir: String): DataFrame =
    loadSpread(spark, dir, "embeddings", "vec_id")

  /** [[lineitem]] behind the scan spread, for the wide-aggregate retail
    * rows (q27/q28/q29) whose whole wall is one decimal-heavy partial
    * aggregate fused into a ≤3-task scan. The row gate scales to the
    * table's ~60 B rows (1M rows ≈ the same ~60–80 MB wire budget as
    * the documents gate) and the per-task floor to the lighter per-row
    * work; above the gate the plan is byte-identical, as everywhere. */
  def lineitemSpread(spark: SparkSession, dir: String): DataFrame =
    spreadSmallScan(spark, load(spark, dir, "lineitem"),
      s"$dir/lineitem.parquet", "l_orderkey", "lineitem",
      maxRowsDefault = 1L << 20, rowsPerTaskDefault = 4096L)

  /** [[events]] behind the scan spread, for q40's certified sketch
    * aggregates (round 21): both certification scans — exact
    * count_distinct expansion + HLL + quantile-sketch build, then the
    * rank pass — fuse into a single-row-group scan and ran as 1-task
    * stages (~1.2 s of q40's wall at sf0.1). Partition-robustness is by
    * the operators' own contracts: exact counts and HLL register-max
    * merges are partition-invariant; the quantile sketch's returned
    * point may differ by layout, but q40 emits only the RANK-interval
    * certificate, which the merged-summary guarantee keeps true under
    * any partitioning (oracle re-verified). Knobs sized like lineitem's
    * (~60 B rows, light-to-moderate per-row work). */
  def eventsSpread(spark: SparkSession, dir: String): DataFrame =
    spreadSmallScan(spark, events(spark, dir),
      s"$dir/events.parquet", "user_id", "events",
      maxRowsDefault = 1L << 20, rowsPerTaskDefault = 4096L)
}
