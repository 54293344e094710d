package graft.tools

/** Developer tool: print the formatted physical plan for one or more
  * registered queries against a given sf dir — the ".explain and iterate"
  * loop from the build notes, runnable without a REPL.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <queryName> [queryName...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <query> [query...]")
    val dir = args(0)
    // GraftSession.builder: plans must be dumped under the suite's session
    // contract (extensions, ANSI, AQE) or the dump lies about the bench
    // plan. SPARK_GRAFT_CONF k=v pairs apply LAST (the Bench A/B knob) so
    // a before/after plan diff never needs a code edit.
    val builder = graft.GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    val spark = graft.GraftSession.withEnvConf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      args.drop(1).foreach { name =>
        val q = graft.SparkEntry.queries.getOrElse(
          name, sys.error(s"unknown query: $name"))
        println(s"\n===== $name =====")
        q(spark, dir).explain("formatted")
      }
    } finally spark.stop()
  }
}
