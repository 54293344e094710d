package graft.operators

import graft.Snapshot.SnapshotOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed global prefix sum — a running total in a single global
  * order WITHOUT the single-partition window Spark would otherwise plan
  * (`Window.orderBy(...)` with no partitionBy funnels every row through
  * one task — the classic scale cliff).
  *
  * Two-pass scheme: range-partition by the order key and sort within
  * partitions (so partition i holds a contiguous key range), compute each
  * partition's total (one tiny job — numPartitions rows to the driver),
  * prefix-sum those totals into per-partition starting offsets, broadcast
  * them back, and stream each partition once adding its offset. O(n)
  * work, no global sort, driver state = one long per partition.
  *
  * The ranged dataset is localCheckpoint-pinned so both passes read the
  * SAME partitioning (re-evaluation could legally re-sample range
  * bounds). Same snapshot policy as DedupClusters: the input pin is freed
  * through its own pinned frame ([[graft.Snapshot.free]]) once the ranged
  * pin exists, so concurrent callers in one session free only their own
  * pins; the ranged snapshot behind the returned frame stays pinned until
  * the session releases it (Bench/Verify unpersist between queries).
  *
  * EAGER, by necessity: the per-partition offsets must exist before the
  * result RDD can be defined, so calling this runs two jobs over the
  * input immediately (the same contract as RDD.zipWithIndex and
  * DedupClusters.components — not the lazy-frame norm). Don't build the
  * plan speculatively; call it when the result will be consumed, and
  * release snapshots afterwards in long-lived sessions.
  */
object PrefixSum {

  /** (orderCol, valueCol, running): [[exclusiveRunningTotalsBy]] over the
    * two columns cast to long, in ascending orderCol order. orderCol must
    * be unique. */
  def exclusiveRunningTotals(df: DataFrame, orderCol: String,
                             valueCol: String): DataFrame =
    exclusiveRunningTotalsBy(
      df.select(col(orderCol).cast("long"), col(valueCol).cast("long")),
      Seq(col(orderCol)), valueCol)

  /** EXCLUSIVE prefix total of `valueCol` (must be a long; cast it
    * beforehand) in the order given by `orderCols` — arbitrary sort
    * expressions (e.g. `col("quality").desc, col("doc_id")`), which must be
    * a total order over the rows (add a unique tie-break column or offsets
    * within ties are partition-dependent). Keeps every input column and
    * appends `running`.
    *
    * `pinInput` (default true): repartitionByRange first runs a
    * range-bounds sketch job that evaluates the whole child plan, then
    * evaluates it AGAIN for the real exchange — so an expensive upstream
    * (tokenize/profile over document text) would run twice. The pin
    * materializes the input once and feeds both. Pass false when the
    * input is already a snapshot or a trivial derivation of one (the extra
    * materialization would be the only cost).
    */
  def exclusiveRunningTotalsBy(df: DataFrame, orderCols: Seq[Column],
                               valueCol: String,
                               pinInput: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    // Snapshot/free, not Dataset.unpersist: the input pin is dead the
    // moment `ranged` materializes, and at 100 TB holding a second
    // corpus-row-sized snapshot for the query's lifetime is the exact
    // snapshot-accumulation pressure round 3 measured as 2.6-8x
    // regressions. Dataset.unpersist would be a no-op here (it clears
    // cacheManager entries, not the checkpoint-pinned internal RDD).
    val input = if (pinInput) df.pinned(true) else df
    val ranged = input
      .repartitionByRange(p, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .pinned(true)
    if (pinInput) graft.Snapshot.free(input)
    val valIdx = ranged.schema.fieldIndex(valueCol)
    val partSums = ranged.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach(r => s += r.getLong(valIdx))
        Iterator((pid, s))
      }
      .collect().sortBy(_._1).map(_._2)
    // offsets(i) = total of partitions before i (exclusive).
    val offsets = partSums.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    // mapPartitionsWithIndex, NOT TaskContext.getPartitionId(): the index
    // must be the RANGE partition's, bound at RDD definition. A downstream
    // coalesce (e.g. a single-file write) fuses many range partitions into
    // one task, and the task-level id would hand every fused partition
    // offset 0 — silently wrong running totals.
    val out = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bc.value(pid)
      it.map { r =>
        val v = r.getLong(valIdx)
        val start = acc
        acc += v
        Row.fromSeq(r.toSeq :+ start)
      }
    }
    spark.createDataFrame(out, ranged.schema.add("running", LongType, nullable = false))
  }
}
