package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan 2005, public) — the
  * MERGEABLE bounded-state FREQUENCY summary completing the sketch
  * triad beside [[HyperLogLog]] (distinct) and [[HistogramSketch]]
  * (quantiles): per group, a d × w integer counter matrix (d = 4 rows,
  * w = 1024 buckets — the same 4096-cell budget as the HLL register
  * file), where item occurrences add weight into one bucket per row
  * and a point estimate reads the MIN over the d rows. Error is
  * ONE-SIDED by construction — estimate ≥ true count always (hash
  * collisions only ever add) and ≤ true + εN with ε = e/w at the
  * standard failure bound; the exact side of the m149 card exists only
  * to certify that, and is the corpus-sized thing the sketch replaces
  * at 100 TB.
  *
  * Portability: row j's bucket is the first 48 bits of md5("j:" ∥
  * item) mod w (the m137/HLL hex12 convention — DuckDB recomputes the
  * identical counters), and every cell is an exact integer sum, so
  * counters, merges and estimates are bit-deterministic cross-engine
  * and under any partitioning.
  *
  * Scale shape: the counter build is ONE exchange of (group, row,
  * bucket, partial sum) with map-side combine, bounded by groups ×
  * d × w integer rows whatever the corpus size; merge across groups is
  * elementwise ADD (associative/commutative — per-source/per-day
  * sketches combine into any coarser scope without re-touching data,
  * the [[HyperLogLog.merge]] story for frequencies); point estimates
  * join a probe set against the counter table, never the corpus.
  */
object CountMin {

  /** Depth: independent hash rows the estimate minimizes over. */
  val Depth = 4

  /** Width: counters per row (ε = e/1024 ≈ 0.27% of total mass). */
  val Width = 1024

  /** Row j's bucket for `item`: md5 hex12 of "j:item", mod [[Width]] —
    * replayed in SQL as ('0x' || substr(md5(j || ':' || item), 1,
    * 12))::BIGINT % 1024. */
  def bucketOf(j: Int, item: Column): Column =
    conv(substring(md5(concat_ws(":", lit(j.toString), item)), 1, 12), 16, 10)
      .cast("long") % Width

  /** Counter table: one (groupCols…, r, bucket, cnt) row per HIT cell —
    * map-side partial sums bound the exchange at groups × d × w
    * integer rows. `weight` defaults to 1 per input row (occurrence
    * counting). */
  def counters(rows: DataFrame, groupCols: Seq[String], itemCol: Column,
               weight: Column = lit(1L)): DataFrame = {
    val rb = explode(array((0 until Depth).map(j =>
      struct(lit(j).as("r"), bucketOf(j, itemCol).as("bucket"))): _*))
    rows
      // null items are dropped HERE, not left to each caller:
      // concat_ws would silently hash a null item as the bare salt
      // ("j") while the oracle's `j || ':' || item` yields NULL and
      // drops the row — a cross-engine counter divergence in a
      // portability-pinned operator (review r17b)
      .filter(itemCol.isNotNull)
      .select(groupCols.map(col) :+ rb.as("rb") :+ weight.as("w"): _*)
      .select(groupCols.map(col) :+ col("rb.r").as("r") :+
        col("rb.bucket").as("bucket") :+ col("w"): _*)
      .groupBy(groupCols.map(col) :+ col("r") :+ col("bucket"): _*)
      .agg(sum(col("w")).as("cnt"))
  }

  /** Union of sketches by ELEMENTWISE ADD over (r, bucket) — the
    * frequency analogue of [[HyperLogLog.merge]]: associative,
    * commutative, and exactly the counter table of the unioned input
    * (spec-pinned); every other grouping column is merged away. */
  def merge(cnts: DataFrame): DataFrame =
    cnts.groupBy(col("r"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point estimates for a probe set: min over the d rows of the
    * probed cells (an absent cell is 0 — the item was never seen).
    * `probes` must carry `itemCol`; group columns, if any, must be
    * present in BOTH frames and listed in `groupCols`. */
  def estimate(cnts: DataFrame, probes: DataFrame, itemCol: String,
               groupCols: Seq[String] = Seq.empty): DataFrame = {
    val rb = explode(array((0 until Depth).map(j =>
      struct(lit(j).as("r"), bucketOf(j, col(itemCol)).as("bucket"))): _*))
    val exploded = probes
      .filter(col(itemCol).isNotNull) // the counters-side null rule
      .select((groupCols :+ itemCol).map(col) :+ rb.as("rb"): _*)
      .select((groupCols :+ itemCol).map(col) :+ col("rb.r").as("r") :+
        col("rb.bucket").as("bucket"): _*)
    exploded
      .join(cnts, groupCols ++ Seq("r", "bucket"), "left")
      .groupBy((groupCols :+ itemCol).map(col): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
  }
}
