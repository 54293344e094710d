package graft.tools

/** Dev profiling main (round-20 optimization loop): run ONE registered
  * query warm and print its per-JOB wall decomposition — job duration,
  * stage count, task count, input/shuffle bytes — plus the dead time
  * between jobs (driver-side planning/collect gaps). The bench's wall
  * numbers say WHICH query is slow; this says WHERE inside it the time
  * goes (many small jobs = per-job overhead / driver work; one big job =
  * executor compute), which is the §1 "empirical" loop without a UI.
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> <query> [query...]
  * Runs two passes per query: pass 1 warms codegen, pass 2 is printed.
  * Env: SPARK_GRAFT_CPUS (see [[Harness.session]]).
  */
object JobProfile {
  private val Passes = 2

  /** The per-job report for one query: one line per job, then a summary
    * line. A job with no JobEnd event (still running / dropped event) is
    * marked instead of computing (0 - start), which printed a huge
    * negative duration and corrupted the sums (ADVICE r20); it counts in
    * `jobs=` but not in `union(job)`. `union(job)` is the time covered by
    * at least one completed job, so concurrent jobs count once, and
    * `wall-union` is the time no job ran — perfbench's `driver.gap_s`.
    * `jobs` must be in start order, as [[Harness.StatsListener.jobs]]
    * returns them. */
  def report(name: String, wall: Double, jobs: Seq[Harness.Job]): Seq[String] = {
    var prevEnd = 0L
    var unionMs = 0L
    val lines = jobs.map { j =>
      val counts = f"stages=${j.stages}%2d tasks=${j.tasks}%4d  in=${j.input / 1e6}%7.2fMB " +
        f"sr=${j.shuffleRead / 1e6}%7.2fMB sw=${j.shuffleWrite / 1e6}%7.2fMB"
      j.end match {
        case None => f"  job ${j.id}%4d  (no end event)  " + counts
        case Some(end) =>
          val dur = (end - j.start) / 1e3
          val gap = if (prevEnd == 0L) 0.0 else (j.start - prevEnd) / 1e3
          unionMs += math.max(0L, end - math.max(j.start, prevEnd))
          prevEnd = math.max(prevEnd, end)
          f"  job ${j.id}%4d  ${dur}%7.3fs  gap=${gap}%6.3fs  " + counts
      }
    }
    val union = unionMs / 1e3
    (f"\n===== $name%s  wall=$wall%.3fs (pass $Passes of $Passes) =====" +: lines) :+
      f"  jobs=${jobs.size}%d  union(job)=$union%.3fs  wall-union=${wall - union}%.3fs (driver/plan/gaps)"
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProfile <sfDir> <query> [query...]")
    val dir = args(0)
    val spark = Harness.session()
    val listener = new Harness.StatsListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    args.drop(1).foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(
        name, sys.error(s"unknown query: $name"))
      var wall = 0.0
      (1 to Passes).foreach { _ =>
        listener.quiesce()
        listener.reset()
        val t0 = System.nanoTime()
        Harness.materialize(fn(spark, dir))
        wall = (System.nanoTime() - t0) / 1e9
        Harness.releaseSnapshots(spark)
      }
      listener.quiesce()
      report(name, wall, listener.jobs).foreach(println)
    }
    spark.stop()
  }
}
