package graft.tools

import graft.SparkSpec
import org.apache.spark.graft.BenchListenerBus
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart}
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** The shared harness listener and JobProfile's printer. Runs on the
  * shared spec session: the listener is registered and removed inside
  * the test, and the session is never stopped. */
class HarnessSpec extends SparkSpec {

  test("stats listener: one row per job, and the snapshot totals are the rows' sums") {
    val sc = spark.sparkContext
    // events posted before registration must not reach the new listener
    assert(BenchListenerBus.drain(sc, 60000L), "listener bus did not drain")
    val listener = new Harness.StatsListener(sc)
    sc.addSparkListener(listener)
    try {
      sc.parallelize(1 to 100, 3).map(x => (x % 5, x)).reduceByKey(_ + _, 2).collect()
      listener.quiesce()
      val jobs = listener.jobs
      jobs.size shouldBe 1
      jobs.head.stages shouldBe 2
      jobs.head.tasks shouldBe 5
      jobs.head.end shouldBe defined
      val snap = parse(listener.snapshot)
      def total(field: String): Long = (snap \ field) match {
        case JInt(v) => v.toLong
        case other => fail(s"$field missing from snapshot: $other")
      }
      total("shuffle_read") should be > 0L
      total("shuffle_read") shouldBe jobs.map(_.shuffleRead).sum
      total("shuffle_write") shouldBe jobs.map(_.shuffleWrite).sum
    } finally sc.removeSparkListener(listener)
  }

  test("JobProfile marks a job with no end event and leaves it out of union(job)") {
    val listener = new Harness.StatsListener(spark.sparkContext)
    listener.onJobStart(SparkListenerJobStart(7, 1000L, Seq.empty))
    listener.onJobStart(SparkListenerJobStart(8, 2000L, Seq.empty))
    listener.onJobEnd(SparkListenerJobEnd(8, 2500L, JobSucceeded))
    val lines = JobProfile.report("q", 1.0, listener.jobs)
    lines.filter(_.contains("(no end event)")).map(_.trim.split("\\s+").take(2).mkString(" ")) shouldBe
      Seq("job 7")
    lines.last should include("jobs=2")
    lines.last should include("union(job)=0.500s")
  }

  test("JobProfile counts the overlap of concurrent jobs once in union(job)") {
    val listener = new Harness.StatsListener(spark.sparkContext)
    listener.onJobStart(SparkListenerJobStart(1, 1000L, Seq.empty))
    listener.onJobStart(SparkListenerJobStart(2, 1500L, Seq.empty))
    listener.onJobEnd(SparkListenerJobEnd(1, 2000L, JobSucceeded))
    listener.onJobEnd(SparkListenerJobEnd(2, 2500L, JobSucceeded))
    // a summed 2.000 s would leave the driver gap 0.5 s too small
    val last = JobProfile.report("q", 2.0, listener.jobs).last
    last should include("union(job)=1.500s")
    last should include("wall-union=0.500s")
  }
}
