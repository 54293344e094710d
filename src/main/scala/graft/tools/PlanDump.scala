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
    // The harness session: plans must be dumped under the suite's session
    // contract (extensions, ANSI, AQE) or the dump lies about the bench
    // plan; its SPARK_GRAFT_CONF pairs make a before/after plan diff a
    // conf change, never a code edit.
    val spark = Harness.session()
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
