package graft

import org.apache.spark.graft.BenchListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** Shared local session for all specs. One JVM-wide session (getOrCreate)
  * keeps the suite fast; tests must not mutate global catalog state they
  * don't own. */
trait SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(name: String): String = s"/root/testdata/$name"

  /** Every physical plan that runs while `body` executes, as
    * (action name, final plan text) — the production call's pins
    * (`localCheckpoint`) as well as its terminal action. Call the operator
    * INSIDE `body`: an eager pin runs while the operator builds its frame.
    * Listener callbacks arrive asynchronously, so the bus is drained
    * before registering (no stale plans from earlier tests) and again
    * before reading. */
  def capturedPlans(body: => Any): Seq[(String, String)] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(funcName -> qe.executedPlan.toString)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def drain(): Unit =
      assert(BenchListenerBus.drain(spark.sparkContext, 60000L), "listener bus did not drain")
    drain()
    spark.listenerManager.register(listener)
    try { body; drain() }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-test-warehouse-${ProcessHandle.current().pid()}")
      // STATIC per-JVM conf: it only takes effect on the FIRST session
      // built in the JVM, which in a full-suite run is this one — without
      // the pin here, GraftSessionSpec's assertion on the production
      // builder's codegen-cache size can never hold (the production
      // builder sets the same value; see GraftSession.CodegenCacheMaxEntries)
      .config("spark.sql.codegen.cache.maxEntries",
        GraftSession.CodegenCacheMaxEntries.toString)
      // Scan spread and posting pin OFF for the spec session: PlanSpec
      // pins the 100 TB plan shape, and the size gate (Tables.spreadParts)
      // closes above its row gate by construction — so the spread-off
      // plan IS the scale plan the pins exist to protect. The gate's
      // arithmetic, plan shape and result parity are pinned by
      // ScanSpreadSpec (which toggles this conf locally — suites run
      // sequentially in the forked test JVM); spread-ON correctness of
      // all 203 registered queries is gated by Verify + the DuckDB
      // oracle at sf0.001/sf0.01, which run with the production default.
      .config("spark.graft.scanSpread.enabled", "false")
      // as GraftSession.builder sets it: events.parquet's nanos timestamps
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
