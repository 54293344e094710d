package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.net.URI
import java.util.concurrent.ConcurrentHashMap

/** The shuffle-partition scaling rule, EXECUTABLE (round-16 verdict ask
  * #4). The gen-300 scale probe proved the prose deploy rule ("shuffle
  * partitions scale with the corpus") binds in practice: m95 DSIR's
  * per-(doc, target, bucket) aggregate spilled 10.2 GB disk / 68.5 GB
  * memory at the fixed 32-partition local cap, and the conf A/B showed
  * neither AQE `initialPartitionNum` (worse — it inflates EVERY
  * exchange, and AQE coalescing fights the intent) nor smaller input
  * splits (neutral — the spill is reducer state, not scan parallelism)
  * fixes it. A rule a deployer must remember is a rule that gets
  * missed; this one is code, called by the heavy-tier entrypoints.
  *
  * The rule is a PURE FUNCTION of input stats, so records stay
  * deterministic (spec-pinned):
  *   partitions = ceil(rows × bytesPerRow / 64 MB), rounded UP to a
  *   multiple of `floor` (the session's shuffle-partition setting),
  *   capped at 4096; `None` when the estimate fits the floor.
  * `rows` is the input's parquet source row count ([[sourceRows]]) — a
  * footer-metadata read at any scale, unlike byte size, which lies by the compression
  * ratio (the synthetic corpus compresses ~1000×, a real crawl ~3×, so
  * a bytes-based estimate would be off by whatever the codec achieved).
  * `bytesPerRow` is the operator's MEASURED per-row exchange footprint
  * (each caller documents its calibration point). Below the threshold
  * the entrypoint leaves the plan untouched — byte-identical plans and
  * records at every committed bench scale.
  *
  * Returning a repartition count (applied as `repartition(n, keys…)` on
  * the exact aggregation keys) rather than mutating the session conf:
  * the conf is global mutable state that would leak across queries in a
  * shared session; a keyed repartition satisfies the aggregate's
  * distribution requirement, so Catalyst plans NO second exchange — the
  * one shuffle just lands on n reducers instead of `floor`.
  */
object ScalePartitions {

  /** Target post-shuffle bytes per reducer — Spark's own AQE advisory
    * default (64 MB) for local/moderate executors; aggregate state runs
    * 2–3× the raw rows, still well inside task memory at this size. */
  val TargetBytesPerPartition: Long = 64L << 20

  /** Hard cap — a runaway rows×bytes estimate must not plan a
    * million-reducer exchange on a mis-calibrated constant. */
  val Cap: Int = 4096

  /** a frame's input files → (their listing when counted, the count). */
  private val rowsMemo =
    new ConcurrentHashMap[Seq[String], (Set[(String, Long, Long)], Long)]

  /** Row count of the parquet files `df` reads (the `.parquet` entries of
    * `df.inputFiles`; 0 for a frame that reads none, e.g. a local `toDF`
    * or a checkpoint) — the source rows, not the rows after the frame's
    * own filters or unions. Parquet footers make this metadata-only at
    * any scale. Memoized per JVM against the (path, size, modification
    * time) of those files, taken from one non-recursive listing per
    * directory, so a rewritten table is counted again and an unchanged
    * one costs a listing. */
  def sourceRows(df: DataFrame): Long = {
    // inputFiles are URI strings: decode them, or a space reads as %20
    val files = df.inputFiles.toSeq.filter(_.endsWith(".parquet"))
      .map(f => new Path(new URI(f))).sortBy(_.toString)
    if (files.isEmpty) 0L
    else {
      val s = df.sparkSession
      val conf = s.sparkContext.hadoopConfiguration
      val listing = files.groupBy(_.getParent).flatMap { case (dir, ps) =>
        val names = ps.map(_.getName).toSet
        dir.getFileSystem(conf).listStatus(dir).toSeq
          .filter(f => names(f.getPath.getName))
          .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      }.toSet
      val key = files.map(_.toString)
      val hit = rowsMemo.get(key)
      if (hit != null && hit._1 == listing) hit._2
      else {
        val rows = s.read.parquet(key: _*).count()
        rowsMemo.put(key, (listing, rows))
        rows
      }
    }
  }

  /** The rule. `floor` = the session's shuffle-partition setting;
    * `None` = estimate fits the floor, leave the plan untouched. */
  def forShuffle(rows: Long, bytesPerRow: Long, floor: Int,
                 cap: Int = Cap): Option[Int] = {
    require(bytesPerRow > 0, "bytesPerRow must be > 0")
    require(floor > 0 && cap >= floor, "need 0 < floor <= cap")
    val est = rows * bytesPerRow
    val raw = (est + TargetBytesPerPartition - 1) / TargetBytesPerPartition
    if (raw <= floor) None
    else Some(math.min(cap.toLong, ((raw + floor - 1) / floor) * floor).toInt)
  }

  /** The session's shuffle-partition floor. */
  def sessionFloor(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt
}
