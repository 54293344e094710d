package graft.tools

/** Bench-evidence main (dev tooling, not a production operator): times
  * the m72 incremental-admission query as two consecutive ingests against
  * a stable asset root — ingest 1 builds and atomically publishes the
  * postings index, then [[graft.pipeline.DedupAssets.reset]] simulates a
  * fresh ingest JVM (memo gone, stored asset + marker remain), and
  * ingest 2 reuses the asset and pays only the batch-sized probe.
  *
  * Prints ONE JSON line {"metric":"m72_probe_amortization","probe1":s,
  * "probe2":s,"sf":...}; BENCH_sf1.md records the pair at gen-1.0 as the
  * evidence behind "the index's postings exchange is amortizable between
  * ingests" (IncrementalNearDup scaladoc).
  *
  * Usage: runMain graft.tools.ProbeTiming <sfDir>
  */
object ProbeTiming {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val root = java.nio.file.Files.createTempDirectory("graft-probe-amort")
    sys.props("graft.dedup.assetRoot") = root.toString
    val spark = Harness.session()
    def run(): Double = {
      val t0 = System.nanoTime()
      Harness.materialize(graft.queries.CorpusQueries.incrementalNearDup(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }
    val p1 = run()
    // "new JVM": per-JVM memos cleared; the published asset + marker stay
    graft.pipeline.DedupAssets.reset()
    val p2 = run()
    println(s"""{"metric":"m72_probe_amortization","probe1":$p1,"probe2":$p2,"sf":"$sfDir"}""")
    spark.stop()
  }
}
