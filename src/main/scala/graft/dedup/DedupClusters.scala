package graft.dedup

import graft.Snapshot.SnapshotOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over near-duplicate pairs — the final stage of a
  * production dedup pipeline: pairwise verdicts (from MinHash/SimHash/
  * inverted-index verification) become clusters, and one canonical
  * document (the min doc_id) represents each cluster.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with itself; each round, a node takes the minimum label among itself
  * and its neighbors; stop when a round changes nothing. A component of
  * diameter d converges in ≤ d rounds plus one round that changes nothing
  * — near-dup components are overwhelmingly tiny (pairs/triangles from
  * template families), so 2-3 rounds settle real corpora. No round cap is
  * set by the caller: d is below the node count, so the node count bounds
  * the rounds of every valid input.
  *
  * Scale shape per round: one shuffle of the (edge ⋈ label) join keyed on
  * doc_id and one min-aggregate — label rows are two longs, document text
  * never moves. The fixpoint check is an aggregate scalar (`changed`
  * count), not a collect. This is the standard large-graph CC recipe
  * (hash-to-min); at 100 TB of docs the edge set from verified pairs is
  * orders of magnitude smaller than the corpus.
  *
  * Memory contract: each round's lineage is truncated with an eager
  * [[graft.Snapshot]] pin, whose blocks stay pinned until explicitly
  * freed — a long-lived session would otherwise accumulate one dead
  * label snapshot per round per invocation. `components` therefore
  * frees every intermediate pin (edges + all superseded rounds) through
  * the pinned frame itself as soon as its successor materializes,
  * returning the ONE pinned frame of (long, long) labels. A build frees
  * only its own pins, so builds may run concurrently in one session. A
  * caller that can scope the result's lifetime frees that final pin too
  * (`try … finally Snapshot.free(labels)`), leaving ZERO persisted RDDs
  * behind (spec-asserted via sc.getPersistentRDDs).
  */
object DedupClusters {

  /** (doc_id, cluster_id) for every document that appears in `pairs`
    * (doc_a, doc_b); cluster_id = min doc_id of the component.
    *
    * The result is the pinned frame of one materialized snapshot (two
    * longs per clustered doc), which [[graft.Snapshot.free]] releases.
    * The canonical (kept) member of each cluster is the row with
    * doc_id = cluster_id. */
  def components(pairs: DataFrame): DataFrame = {
    // Symmetric edge list, materialized ONCE: every round re-reads the
    // edges, and without the checkpoint each reference would re-execute
    // the entire upstream pair-verification pipeline (measured 4× the
    // query cost at sf0.1).
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .pinned(true)
    // The node count rides on the initial-labels pin as an Observation, in
    // the job that pin runs anyway. It bounds the rounds: a component's
    // diameter is below its node count, and one more round finds nothing
    // changed. (Reliable-checkpoint mode may count twice; the bound stays
    // valid.)
    val nodes = org.apache.spark.sql.Observation()
    var labels = edges.select(col("src").as("doc_id"))
      .distinct()
      .withColumn("cluster_id", col("doc_id"))
      .observe(nodes, count(lit(1)).as("nodes"))
      .pinned(true)
    val maxRounds = nodes.get("nodes").asInstanceOf[Long] + 1L
    var converged = false
    var i = 0L
    while (!converged && i < maxRounds) {
      // New label = min(own label, neighbors' labels).
      val stepped = edges
        .join(labels.withColumnsRenamed(
          Map("doc_id" -> "dst", "cluster_id" -> "nbr_label")), Seq("dst"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("nbr_label")).as("nbr_min"))
        .join(labels, Seq("doc_id"))
        .select(col("doc_id"),
          least(col("cluster_id"), col("nbr_min")).as("cluster_id"),
          (col("nbr_min") < col("cluster_id")).as("changed"))
      // Convergence probe FUSED into the snapshot materialization
      // (round 21): an Observation on the stepped frame accumulates
      // sum(changed) inside the same job that pins the round, replacing
      // the separate `filter(changed).limit(1).isEmpty` job — which at
      // the convergence round was a full second scan of the fresh label
      // snapshot (limit-probe jobs must read EVERY partition to conclude
      // "empty"). Safe in reliable-checkpoint mode even though
      // Dataset.checkpoint computes the plan twice within one action
      // (metrics may double-accumulate): the probe only tests == 0,
      // which doubling preserves. A zero-row round yields sum = null
      // (empty input) — also converged, matching the old probe. The
      // `changed` flag is projected away after the probe, so the pin holds
      // the labels alone.
      val obs = org.apache.spark.sql.Observation()
      val next = stepped
        .observe(obs, sum(when(col("changed"), 1L).otherwise(0L)).as("nchanged"))
        .select("doc_id", "cluster_id")
        .pinned(true)
      converged = obs.get.get("nchanged") match {
        case Some(v: java.lang.Long) => v.longValue() == 0L
        case _ => true // null / absent: zero rows this round
      }
      if (converged) {
        // Fixpoint: `next` carries the same labels as `labels` (nothing
        // changed) — the last snapshot is redundant, drop it and keep
        // the previous round as the result.
        graft.Snapshot.free(next)
      } else {
        graft.Snapshot.free(labels) // superseded round — nothing references it now
        labels = next
      }
      i += 1
    }
    graft.Snapshot.free(edges)
    // Invariant check: min-label propagation cannot exceed the bound, and
    // labels cut off early would LOOK like clusters but split long chains.
    if (!converged) {
      graft.Snapshot.free(labels)
      throw new IllegalStateException(
        s"label propagation did not converge within $maxRounds rounds")
    }
    labels
  }
}
