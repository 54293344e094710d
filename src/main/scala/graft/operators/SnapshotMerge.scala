package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-snapshot merge (m61) — [[SnapshotDiff]] folded into the state
  * table an incremental corpus actually maintains: one row per key ever
  * seen, carrying content fingerprint + provenance (first_seen /
  * last_changed / last_seen version and the latest transition status).
  * This is the bookkeeping that decides re-embedding work across MANY
  * ingest rounds ("changed since the version we last embedded?"), not
  * just between two adjacent ones, and it preserves `first_seen` across
  * a remove-then-reappear cycle — a plain pairwise diff forgets it.
  *
  * Scale shape (100 TB):
  *  - each fold step is ONE full-outer equi-join on the key, and both
  *    sides carry (key, 16-byte fp, 3 longs, enum) — text is
  *    fingerprinted below the join and never shuffles;
  *  - with the state table and each incoming snapshot bucketed by key on
  *    disk (the natural layout for this table — it is rewritten every
  *    ingest anyway), the exchanges vanish;
  *  - N snapshots fold as N−1 joins; in production each round runs one
  *    join against the persisted state, so cost per ingest is flat.
  *
  * Transition rules per step at version v (presence = fingerprint
  * non-null; fingerprints are never null by construction):
  * absent→present: added (first_seen=v);  present→absent: removed
  * (versions keep their last values);  removed→present: added again
  * (first_seen PRESERVED, last_changed=v);  fp differs: changed;
  * else unchanged. `last_seen` tracks the newest version containing the
  * key; consumers re-embed `status IN ('added','changed')`.
  */
object SnapshotMerge {

  /** Fold `snaps` (version → snapshot, ascending versions) into the
    * provenance state table, fingerprinting each row by the md5 of its
    * text (null text as ""): (doc_id, fp, first_seen_version,
    * last_changed_version, last_seen_version, status). Keys must be
    * unique within each snapshot (exact-dedup first, the m44 rule). */
  def mergeAll(snaps: Seq[(Long, DataFrame)]): DataFrame = {
    require(snaps.nonEmpty, "need at least one snapshot")
    require(snaps.map(_._1) == snaps.map(_._1).sorted, "versions must ascend")
    val fps = snaps.map { case (v, df) =>
      (v, df.select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("snap_fp")))
    }
    val (v0, f0) = fps.head
    val init = f0.select(col("doc_id"), col("snap_fp").as("fp"),
      lit(v0).as("first_seen_version"), lit(v0).as("last_changed_version"),
      lit(v0).as("last_seen_version"), lit("added").as("status"))
    fps.tail.foldLeft(init) { case (state, (v, f)) =>
      val inSnap = col("snap_fp").isNotNull
      val inState = col("fp").isNotNull
      state.join(f, Seq("doc_id"), "full_outer").select(
        col("doc_id"),
        coalesce(col("snap_fp"), col("fp")).as("fp"),
        when(!inState, lit(v)).otherwise(col("first_seen_version"))
          .as("first_seen_version"),
        when(!inState, lit(v))
          .when(!inSnap, col("last_changed_version"))
          .when(col("status") === "removed", lit(v))
          .when(col("fp") =!= col("snap_fp"), lit(v))
          .otherwise(col("last_changed_version")).as("last_changed_version"),
        when(!inSnap, col("last_seen_version")).otherwise(lit(v))
          .as("last_seen_version"),
        when(!inState, lit("added"))
          .when(!inSnap, lit("removed"))
          .when(col("status") === "removed", lit("added"))
          .when(col("fp") =!= col("snap_fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
    }
  }
}
