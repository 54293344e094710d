package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** Deterministic global corpus shuffle into training shards — the "shuffle
  * the data before the trainer sees it" step every pretraining pipeline
  * ends with. Rows are ranked in (md5(key), key) order — a uniform,
  * engine-portable permutation that is a pure function of the data — and
  * dealt round-robin into `numShards` shards, so every shard is an unbiased
  * interleaved sample of the whole corpus (contrast [[graft.io.Sinks]]'
  * sorted shards, which CLUSTER by key; a trainer wants the opposite).
  *
  * Scale shape: the global rank is the [[PrefixSum]] two-pass scheme over
  * a string order key — range-partition by (md5, key), count each
  * partition (one tiny job), prefix the counts into per-partition starting
  * offsets, then stream each partition once adding its offset. No
  * single-partition window, no global sort barrier beyond the range
  * exchange of (md5, key) pairs — payloads stay where they are and join
  * back by key if needed. Same eager-snapshot contract as PrefixSum: the
  * ranged frame is localCheckpoint-pinned so both passes see one
  * partitioning, and the session releases snapshots between queries.
  */
object ShuffleShards {

  /** (doc_id, pos, shard): pos is the 0-based rank in the shuffled order,
    * shard = pos % numShards. `doc_id` must be unique and integral. */
  def shuffleShards(df: DataFrame, numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val p = spark.sessionState.conf.numShufflePartitions
    val ranged = df
      .select(md5(col("doc_id").cast("string").cast("binary")).as("ord"),
        col("doc_id").cast("long").as("key"))
      .repartitionByRange(p, col("ord"), col("key"))
      .sortWithinPartitions("ord", "key")
      .pinned(true)
      .as[(String, Long)]
    val counts = ranged.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var n = 0L; it.foreach(_ => n += 1); Iterator((pid, n))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val n = numShards.toLong
    // mapPartitionsWithIndex binds the RANGE partition id at RDD
    // definition (same rationale as PrefixSum: a downstream coalesce must
    // not collapse offsets).
    val out = ranged.rdd.mapPartitionsWithIndex { (pid, it) =>
      var pos = bc.value(pid)
      it.map { case (_, k) => val at = pos; pos += 1; (k, at, at % n) }
    }
    spark.createDataset(out).toDF("doc_id", "pos", "shard")
  }
}
