package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Central snapshot (plan-pinning) primitive for the iterative /
  * multi-pass tier — prefix sums, connected components, PageRank, LSH
  * candidate reuse, pipeline mid-points.
  *
  * Default mode is `localCheckpoint`: blocks live in executor storage,
  * zero external filesystem traffic — the right trade on local[32] and
  * on healthy clusters where the snapshot is consumed within the job.
  * Its known weakness at cluster scale is fault-tolerance: local
  * checkpointing TRUNCATES LINEAGE, so losing an executor that held a
  * snapshot block kills the query instead of recomputing the partition
  * (Spark documents exactly this caveat on `RDD.localCheckpoint`).
  *
  * Reliable mode closes that gap: set `spark.graft.checkpointDir` to a
  * durable, cluster-visible path (HDFS/S3A) and every snapshot routes
  * through `Dataset.checkpoint` into that directory instead. Executor
  * loss then degrades to a re-read of checkpoint files, not a failed
  * query. Costs, stated plainly: the checkpoint write is an extra
  * materialization (Spark computes the plan once for the eager action
  * and once more when writing the checkpoint files), and the files live
  * until the context stops — a long-lived session should point this at
  * a lifecycle-managed scratch area. Results are IDENTICAL in both
  * modes (SnapshotModeSpec pins this): the mode only moves WHERE the
  * pinned bytes live.
  *
  * The conf is read per-call from the session, so one session can flip
  * modes between queries; unset (the default) keeps local behavior.
  */
object Snapshot {

  /** Durable checkpoint root, when reliable mode is on for `s`. */
  def reliableDir(s: SparkSession): Option[String] =
    s.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty)

  /** Materialize-and-pin `df`: local (default) or reliable (conf set). */
  def pin(df: DataFrame, eager: Boolean): DataFrame =
    reliableDir(df.sparkSession) match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir is context-global; only (re)set on change so
        // concurrent queries in one session don't thrash it.
        if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }

  /** Release the blocks of `pinned`, a frame that [[pin]] returned, once
    * nothing reads it again: at billions of rows, retained dead rounds are
    * real executor storage. The frame itself is the handle — its plan is
    * the `LogicalRDD` leaf over the pinned RDD (`Dataset.unpersist`
    * cannot reach that RDD), so concurrent queries in one session free
    * only their own pins. In reliable mode the RDD holds no blocks and the
    * frame keeps reading its checkpoint files. Non-blocking: eviction
    * proceeds asynchronously. Throws `IllegalArgumentException` for any
    * other frame (a derivation of a pin is not one). */
  def free(pinned: DataFrame*): Unit = pinned.foreach { df =>
    df.queryExecution.logical match {
      case leaf: LogicalRDD => leaf.rdd.unpersist(blocking = false)
      case plan => throw new IllegalArgumentException(
        s"Snapshot.free takes the frame pin returned, not a ${plan.nodeName} plan")
    }
  }

  /** Chain syntax: `df.transform(...).pinned(eager)` reads like the
    * `localCheckpoint` call it replaces. */
  implicit class SnapshotOps(private val df: DataFrame) extends AnyVal {
    def pinned(eager: Boolean): DataFrame = pin(df, eager)
  }
}
