package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The reliable-checkpoint mode contract (DESIGN.md §scale): setting
  * `spark.graft.checkpointDir` must route every snapshot in the
  * lineage-truncating tier through durable `Dataset.checkpoint` files —
  * closing the cluster fault-tolerance gap of `localCheckpoint` (an
  * executor loss kills a lineage-truncated query instead of recomputing
  * it) — while changing NOTHING about results: bit-identical rows in
  * both modes, local default untouched. */
class SnapshotModeSpec extends SparkSpec {

  private val dir = sf("sf0.001")
  private val ckptKey = "spark.graft.checkpointDir"

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  /** Run `q` in default (local) mode and in reliable mode against a fresh
    * scratch dir; demand bit-identical output and that reliable mode
    * actually wrote checkpoint files (proof the config engaged, not just
    * that nothing broke). */
  private def assertModeInvariant(q: => DataFrame): Unit = {
    spark.conf.unset(ckptKey)
    val local = rows(q)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-reliable-ckpt").toString
    try {
      spark.conf.set(ckptKey, scratch)
      val reliable = rows(q)
      reliable shouldBe local
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(scratch))
      try assert(wrote.filter(java.nio.file.Files.isRegularFile(_)).count() > 0,
        "reliable mode ran but wrote no checkpoint files")
      finally wrote.close()
    } finally spark.conf.unset(ckptKey)
  }

  test("prefix-sum tier (m52 curriculum shards): identical in reliable mode") {
    assertModeInvariant(graft.queries.CorpusQueries.curriculumShards(spark, dir))
  }

  test("connected components: identical in reliable mode") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 23L), (5L, 5L)).toDF("doc_a", "doc_b")
    assertModeInvariant(graft.dedup.DedupClusters.components(edges))
  }

  test("shuffle shards: identical in reliable mode") {
    import spark.implicits._
    val keys = (1L to 500L).toDF("doc_id")
    assertModeInvariant(
      ShuffleShards.shuffleShards(keys, numShards = 7))
  }

  test("pagerank: identical in reliable mode") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    assertModeInvariant(PageRank.ranks(edges, iterations = 5))
  }

  // The round-13 eager-pin tier: every new Snapshot.pin call site must
  // honor the mode switch too — one representative per pin shape.

  test("m116 bounded KL drift (pinned count + vocab tables): identical in reliable mode") {
    assertModeInvariant(graft.queries.CorpusQueries.boundedKlDrift(spark, dir))
  }

  test("m118 Dawid-Skene (pinned gate votes): identical in reliable mode") {
    assertModeInvariant(graft.queries.CorpusQueries.dawidSkene(spark, dir))
  }

  test("m122 label noise (pinned cosine table): identical in reliable mode") {
    assertModeInvariant(graft.queries.CorpusQueries.labelNoiseMargins(spark, dir))
  }
}
