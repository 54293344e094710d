package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import java.io.FileNotFoundException
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
  * `rows` is the source table's parquet row count — a footer-metadata
  * read at any scale, unlike byte size, which lies by the compression
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

  /** path → (its listing when counted, the count). */
  private val rowsMemo =
    new ConcurrentHashMap[String, (Set[(String, Long, Long)], Long)]

  /** Row count of a parquet table (0 for a missing path) — parquet
    * footers make this metadata-only at any scale. Memoized per JVM
    * against the (name, size, modification time) of the entries one
    * non-recursive listing of `path` returns (a single file lists as
    * itself), so a rewritten table is counted again and an unchanged one
    * costs a listing. A missing path is not memoized. */
  def tableRows(s: SparkSession, path: String): Long = {
    val p = new Path(path)
    val listing =
      try Some(p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p)
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet)
      catch { case _: FileNotFoundException => None }
    listing.fold(0L) { files =>
      val hit = rowsMemo.get(path)
      if (hit != null && hit._1 == files) hit._2
      else {
        val rows = s.read.parquet(path).count()
        rowsMemo.put(path, (files, rows))
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
