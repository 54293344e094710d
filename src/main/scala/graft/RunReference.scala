package graft

import graft.pipeline.RetailPipeline

/** End-to-end demo main: backfill the ENTIRE reference dataset (all 31
  * real Day_Wise CSVs, ~500k events) through the warehouse pipeline and
  * print per-stage wall times + final table counts. This is the
  * full-history equivalent of the reference's month of daily DAG runs,
  * executed as one idempotent backfill.
  *
  * Usage: runMain graft.RunReference [rawRoot] [warehouseDir]
  */
object RunReference {
  def main(args: Array[String]): Unit = {
    val rawRoot = args.headOption.getOrElse("/root/reference/data/raw")
    val wh = args.lift(1).getOrElse(s"/tmp/graft-reference-wh-${ProcessHandle.current().pid()}")
    // The backfill's evidence rows sit in BENCH_sf1.md next to the
    // harness mains' rows, so it measures under the harness session.
    val spark = graft.tools.Harness.session("spark.sql.warehouse.dir" -> wh)

    val pipeline = new RetailPipeline(spark, rawRoot, s"$wh/mart")
    val t0 = System.nanoTime()
    val days = pipeline.backfill("2019-10-01", "2019-10-31")
    val elapsed = (System.nanoTime() - t0) / 1e9

    val staging = spark.table("staging_events").count()
    val fact = spark.table("fact_events").count()
    println(f"BACKFILL days=${days.size} elapsed=$elapsed%.1fs " +
      f"staging=$staging fact=$fact " +
      s"dim_user=${spark.table("dim_user").count()} " +
      s"dim_product=${spark.table("dim_product").count()} " +
      s"dim_date=${spark.table("dim_date").count()} " +
      s"mart_days=${spark.table("agg_daily_revenue_summary").count()}")
    // sanity: per-day partitions all present and re-runnable
    val daysInStaging = spark.table("staging_events")
      .select("event_date").distinct().count()
    println(s"PARTITIONS staging_days=$daysInStaging")
    spark.stop()
  }
}
