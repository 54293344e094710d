package graft.tools

/** Dev scratch: execute a query, then print the FINAL adaptive plan
  * (shows runtime stage reuse that the pre-execution explain hides).
  * Built on GraftSession.builder so the plan carries the engine's session
  * contract (extensions, ANSI, AQE, codegen cache), as PlanDump's does. */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.GraftSession.builder("local[8]")
      .appName("graft-planprobe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      args.drop(1).foreach { name =>
        val df = graft.SparkEntry.queries(name)(spark, dir)
        df.collect()
        println(s"\n===== $name (post-execution) =====")
        println(df.queryExecution.executedPlan.toString)
      }
    } finally spark.stop()
  }
}
