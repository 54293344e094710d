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

  /** The row gate and per-task floor of one table family's scan spread:
    * spread only when `rows <= maxRows`, into at least `rowsPerTask`
    * rows per task. */
  private[graft] final case class SpreadPolicy(maxRows: Long, rowsPerTask: Long)

  /** Corpus tables (documents, embeddings and frames derived from them):
    * 262144 rows is ≤ ~80 MB of text on the wire, trivial next to the
    * single-task stall the spread removes, and 64 docs per task keep
    * task-launch overhead below the per-row work. */
  private[graft] val CorpusSpread = SpreadPolicy(262144L, 64L)

  /** Narrow ~60 B-row tables (lineitem, events): 1M rows is the same
    * ~60–80 MB wire budget, and the per-task floor matches their
    * lighter per-row work. */
  private[graft] val NarrowSpread = SpreadPolicy(1L << 20, 4096L)

  /** Adaptive SCAN SPREAD (round-20 optimization, guide §2.2/§2.6/§6.1):
    * a parquet file is splittable only at row-group boundaries, so a
    * small-corpus scan plans as ONE task no matter the core count — and
    * everything this engine fuses into the scan stage (shingle walks,
    * 4×md5 Count-Min counter builds, tokenize+profile gates, per-vector
    * math) then runs single-threaded while the other cores idle.
    * Measured before the fix at sf0.1/local[32]: the m149/m155
    * counter-build jobs were 1.7–2.1 s single-task stages — ~80 % of
    * those queries' walls.
    *
    * The spread is a key-hashed exchange on `df`, gated by
    * [[spreadParts]]. Above the policy's row gate the plan is
    * BYTE-IDENTICAL to the unspread one (spec-pinned): a corpus big
    * enough to exceed the gate is stored as many files/row-groups and
    * parallelizes at the source, and its text must never ride an
    * exchange (the PlanSpec house rule — the spread is the one
    * documented, size-gated exception, and it vanishes at scale by
    * construction). Results stay partition-invariant: every downstream
    * statistic is aggregation/join-based and order-independent (the
    * repo-wide oracle-parity discipline). HASH partitioning on the
    * table's unique key, not round-robin: the map side skips
    * sortBeforeRepartition's full local sort (measured: the round-robin
    * spread WRITE was itself a 0.4 s single-task stage at sf0.1) and the
    * assignment is deterministic under task retry by construction. */
  private[graft] def spread(df: DataFrame, key: String,
                            policy: SpreadPolicy): DataFrame =
    spreadParts(df, policy).fold(df)(p => df.repartition(p, col(key)))

  /** The one size gate: Some(partitions) when a frame should spread,
    * None on the 100 TB side. A pure function of the frame's own source
    * rows ([[graft.operators.ScalePartitions.sourceRows]] — footer
    * metadata, memoized), the session's `defaultParallelism` and the
    * caller's policy constant, so a frame that reads no files (a local
    * `toDF`, a checkpoint) never spreads. `spark.graft.scanSpread
    * .enabled=false` closes it; the spec session does so to plan the
    * above-gate shape every query runs at scale. The posting pin
    * ([[graft.dedup.NgramJaccard.invertedIndexPairs]]) reads the same
    * gate. */
  private[graft] def spreadParts(df: DataFrame,
                                 policy: SpreadPolicy): Option[Int] = {
    val s = df.sparkSession
    if (s.conf.get("spark.graft.scanSpread.enabled", "true") != "true") None
    else spreadWidth(graft.operators.ScalePartitions.sourceRows(df),
      s.sparkContext.defaultParallelism, policy)
  }

  /** The gate arithmetic: parts = min(parallelism, rows / rowsPerTask),
    * kept only when 2 ≤ parts and rows ≤ maxRows. */
  private[graft] def spreadWidth(rows: Long, parallelism: Int,
                                 policy: SpreadPolicy): Option[Int] = {
    val parts = math.min(parallelism.toLong, rows / policy.rowsPerTask)
    if (rows > policy.maxRows || parts < 2) None else Some(parts.toInt)
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** events.ts is parquet TIMESTAMP(NANOS) (TESTDATA corpus), which Spark's
    * vectorized reader rejects. The session reads it as a raw nanos long
    * (`spark.sql.legacy.parquet.nanosAsLong`, set once by
    * [[GraftSession.builder]]); this loader floor-divides it to micros
    * (integral `div` — a double division would lose precision at 1e18
    * nanos), matching DuckDB's ns→µs truncation. TIMESTAMP_NTZ keeps
    * parity with how every other corpus timestamp is read
    * (inferTimestampNTZ) and avoids tz-adjustment on rewrite. */
  def events(spark: SparkSession, dir: String): DataFrame = {
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
    spread(documents(spark, dir), "doc_id", CorpusSpread)

  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** [[embeddings]] behind the scan spread — embeddings stay UNSPREAD by
    * default (the round-20 A/B: the vector tier's many small driver-loop
    * jobs regressed 1.1–1.4× under a blanket spread); this entry point
    * exists for the per-vector-dense consumers that measured a win
    * (m102's 64×16 projection pass). */
  def embeddingsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(embeddings(spark, dir), "vec_id", CorpusSpread)

  /** [[lineitem]] behind the scan spread, for the wide-aggregate retail
    * rows (q27/q28/q29) whose whole wall is one decimal-heavy partial
    * aggregate fused into a ≤3-task scan. The row gate scales to the
    * table's ~60 B rows (1M rows ≈ the same ~60–80 MB wire budget as
    * the documents gate) and the per-task floor to the lighter per-row
    * work; above the gate the plan is byte-identical, as everywhere. */
  def lineitemSpread(spark: SparkSession, dir: String): DataFrame =
    spread(lineitem(spark, dir), "l_orderkey", NarrowSpread)

  /** [[events]] behind the scan spread, for q40's certified sketch
    * aggregates (round 21): both certification scans — exact
    * count_distinct expansion + HLL + quantile-sketch build, then the
    * rank pass — fuse into a single-row-group scan and ran as 1-task
    * stages (~1.2 s of q40's wall at sf0.1). Partition-robustness is by
    * the operators' own contracts: exact counts and HLL register-max
    * merges are partition-invariant; the quantile sketch's returned
    * point may differ by layout, but q40 emits only the RANK-interval
    * certificate, which the merged-summary guarantee keeps true under
    * any partitioning (oracle re-verified). Same policy as lineitem's
    * (~60 B rows, light-to-moderate per-row work). */
  def eventsSpread(spark: SparkSession, dir: String): DataFrame =
    spread(events(spark, dir), "user_id", NarrowSpread)
}
