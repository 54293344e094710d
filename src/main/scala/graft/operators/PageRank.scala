package graft.operators

import graft.Snapshot.SnapshotOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank (m62) — damped importance propagation over an edge list, the
  * iterative-relaxation shape the engine's graph tier lacked next to
  * [[graft.dedup.DedupClusters]]'s connected components: CC answers
  * "which docs form one duplicate family", PageRank answers "which docs
  * are CENTRAL" — in a near-dup similarity graph the high-rank nodes are
  * the canonical/template documents (the copy everyone else mutated),
  * which is the right representative to KEEP when a cluster collapses,
  * and the graph analogue of a crawl frontier's host-importance score.
  *
  * r_{t+1}(v) = (1−d)/N + d · Σ_{u→v} r_t(u)/outdeg(u), fixed iteration
  * count (deterministic — no convergence test racing float noise).
  *
  * Precondition: `edges` must cover every node as a source (symmetrize an
  * undirected graph first) — the node universe is the source set, so a
  * dangling node (outdeg 0) cannot exist and no dangling-mass
  * redistribution is needed. Under that precondition Σr = 1 is an exact
  * invariant on DIRECTED inputs too: every iteration re-joins the full
  * node set, so an in-degree-0 node keeps its (1−d)/N floor instead of
  * dropping out of the rank table (the floors sum to (1−d), and the
  * damped contributions sum to d·Σr_t because each node's rank/outdeg
  * is counted once per out-edge).
  *
  * Scale shape (100 TB):
  *  - the contribution base (edge ⋈ outdeg) is computed ONCE and
  *    localCheckpoint-pinned — iterations re-read a materialized edge
  *    partition, not the corpus lineage;
  *  - each iteration is one equi-join of the node-sized rank table
  *    against the pinned edges, one partial-agg exchange on dst, plus
  *    one node-sized outer join for the floor — the standard
  *    distributed power-iteration step; nothing ever collects except N
  *    (one long);
  *  - the rank table is localCheckpoint-pinned every second iteration
  *    and after the last one
  *    ([[DedupClusters]]'s hygiene) so the plan stays flat across
  *    iterations instead of nesting 10 joins deep. Each superseded pin
  *    is freed through its own pinned frame ([[graft.Snapshot.free]]), so
  *    concurrent queries in one session never free each other's blocks;
  *    the returned ranks stay pinned until the caller frees them or the
  *    session's unpersist sweep runs (Bench/Verify).
  */
object PageRank {

  /** (node, rank) after `iterations` damped power-iteration steps from a
    * uniform start over the edge list's source-node set. */
  def ranks(edges: DataFrame, iterations: Int, damping: Double = 0.85,
            srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(damping > 0.0 && damping < 1.0, "damping must be in (0,1)")
    // DedupClusters' snapshot hygiene: a superseded pin frees at once —
    // at billions of nodes, 10 retained rank tables is real executor
    // storage. Pin the raw edges FIRST: base and nodes both derive from
    // them, and without this the upstream edge pipeline (e.g. m14's pair
    // verification) would execute once per derivation.
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).pinned(true)
    val outdeg = e.groupBy("src").agg(count(lit(1)).cast("double").as("od"))
    val base = e.join(outdeg, Seq("src")).pinned(true)
    val nodes = e.select(col("src").as("node")).distinct().pinned(true)
    graft.Snapshot.free(e) // base+nodes now pinned
    val n = nodes.count().toDouble
    // Empty graph (e.g. a near-dup pass whose stop-gram pruning dropped
    // every pair at a larger corpus): rank nobody, don't divide by N=0
    // (ANSI makes (1−d)/0 a runtime error — observed at sf1).
    if (n == 0) {
      graft.Snapshot.free(base, nodes)
      val spark = edges.sparkSession
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(nodes.schema.fields)
          .add("rank", org.apache.spark.sql.types.DoubleType))
    }
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    var pinnedRanks: Option[DataFrame] = None
    // Pin CADENCE (round-20 optimization): an eager localCheckpoint per
    // iteration kept the plan flat but cost one materialization job +
    // sync per step — at sf0.1 the loop's wall was ~50 % job-scheduling
    // gaps (59 jobs for 10 iterations). Pinning every PinEvery
    // iterations bounds the unpinned plan at PinEvery join+agg layers
    // (planning stays trivial; shuffle reuse covers the re-read) while
    // halving the checkpoint jobs. Values are unchanged by construction:
    // the dataflow between pins is the same exchanges with the same
    // partial-aggregation shape, checkpointed or not (oracle-verified).
    // A fixed cadence, not a knob: r20 measured 2 fastest of 1–3, and the
    // r21 re-sweep of 2–10 found the cadences within noise.
    val PinEvery = 2
    for (i <- 1 to iterations) {
      val contribs = base.join(ranks, col("src") === col("node"))
        .select(col("dst"), (col("rank") / col("od")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      // Re-join the FULL node set so in-degree-0 nodes keep the
      // (1−d)/N floor instead of silently dropping out (mass leak on
      // directed inputs otherwise).
      val stepped = nodes.join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(1.0 - damping) / n +
            lit(damping) * coalesce(col("s"), lit(0.0))).as("rank"))
      if (i % PinEvery == 0 || i == iterations) {
        ranks = stepped.pinned(true)
        pinnedRanks.foreach(graft.Snapshot.free(_)) // superseded round
        pinnedRanks = Some(ranks)
      } else ranks = stepped
    }
    graft.Snapshot.free(base, nodes)
    ranks
  }
}
