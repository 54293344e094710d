package graft

import graft.Snapshot.SnapshotOps
import graft.dedup.DedupClusters
import graft.operators.{PageRank, PrefixSum}
import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** `Snapshot.free` takes the frame `pin` returned and releases exactly
  * that frame's blocks, so operators that pin and free in one session do
  * not free each other's snapshots when they run at the same time. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(pinned: DataFrame): Int =
    pinned.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  test("free(a) unpersists exactly a's RDD; a second pin stays persisted and readable") {
    Seq(true, false).foreach { eager =>
      val before = persisted
      val a = spark.range(100).toDF("id").pinned(eager)
      val b = spark.range(50).toDF("id").pinned(eager)
      persisted -- before shouldBe Set(rddId(a), rddId(b))
      Snapshot.free(a)
      persisted -- before shouldBe Set(rddId(b))
      b.count() shouldBe 50
      Snapshot.free(b)
      persisted -- before shouldBe empty
    }
  }

  test("free of a frame that pin did not return throws") {
    val a = spark.range(10).toDF("id").pinned(true)
    try {
      an[IllegalArgumentException] should be thrownBy Snapshot.free(a.select("id"))
      an[IllegalArgumentException] should be thrownBy Snapshot.free(spark.range(10).toDF())
    } finally Snapshot.free(a)
  }

  test("components, PageRank and prefix sums on a 4-thread pool match the serial runs, pins included") {
    val chain = (1L until 6L).map(i => (i, i + 1)) ++ Seq((20L, 21L), (30L, 31L))
    val pairs = chain.toDF("doc_a", "doc_b")
    val edges = (chain ++ chain.map(_.swap)).toDF("src", "dst")
    val values = (0L until 400L).map(i => (i, i % 7)).toDF("k", "v")
    // Each op hands back the frame it returned as well as its rows: a
    // held frame keeps its pins reachable, so the context cleaner cannot
    // unpersist them behind the persisted-RDD count below.
    type Run = (Option[DataFrame], Seq[(Long, Double)])
    val ops: Seq[() => Run] = Seq(
      () => None -> DedupClusters.withComponents(pairs)(
        _.as[(Long, Long)].collect().toSeq.map { case (d, c) => (d, c.toDouble) }),
      () => {
        val ranks = PageRank.ranks(edges, iterations = 5)
        Some(ranks) -> ranks.as[(Long, Double)].collect().toSeq
      },
      () => {
        val totals = PrefixSum.exclusiveRunningTotals(values, "k", "v")
        Some(totals) -> totals.as[(Long, Long, Long)].collect().toSeq
          .map { case (k, _, running) => (k, running.toDouble) }
      })
    def run(op: () => Run): Run = { val (df, rows) = op(); (df, rows.sortBy(_._1)) }

    val before = persisted
    val serial = ops.map(run)
    val serialDelta = (persisted -- before).size
    serialDelta shouldBe 2 // the ranks and the ranged prefix-sum pins

    val rounds = 3
    val pool = Executors.newFixedThreadPool(4)
    val concurrent = try {
      val futures = Seq.fill(rounds)(ops).flatten.map(op =>
        pool.submit(new Callable[Run] { def call() = run(op) }))
      futures.map(_.get())
    } finally pool.shutdown()
    concurrent.grouped(ops.size).foreach { got =>
      got.zip(serial).foreach { case ((_, g), (_, s)) =>
        g.map(_._1) shouldBe s.map(_._1)
        g.zip(s).foreach { case ((_, x), (_, y)) => x shouldBe y +- 1e-12 }
      }
    }
    (persisted -- before).size shouldBe serialDelta * (rounds + 1)
    java.lang.ref.Reference.reachabilityFence(serial)
    java.lang.ref.Reference.reachabilityFence(concurrent)
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !before(id) => rdd
    }.foreach(_.unpersist(blocking = true))
  }
}
