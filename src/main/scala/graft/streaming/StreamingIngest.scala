package graft.streaming

import graft.io.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming equivalent of the reference's daily scheduled
  * ingest (SURVEY §2.9): a file source over the Day_Wise tree, a 1-day
  * event-time tumbling window with a 1-day watermark (modeling "a day
  * closes when its file is processed"), and `Trigger.AvailableNow` for
  * catch-up-then-stop batch-parity runs.
  *
  * At scale this is the migration path from scheduled batch: the same
  * DataFrame transformations, plus exactly-once file tracking and
  * incremental state — no operator rewrites.
  */
object StreamingIngest {

  /** Daily event counts as a streaming aggregation (the legacy A6 summary
    * query, incrementalized). */
  def dailyCounts(spark: SparkSession, rawRoot: String): DataFrame =
    Sources.rawEventsStream(spark, rawRoot)
      .withWatermark("event_time", "1 day")
      .groupBy(window(col("event_time"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(to_date(col("window.start")).as("event_date"), col("event_type"), col("n"))

  /** Streaming exact dedup — the ingest-time twin of
    * [[graft.dedup.ExactDedup]]: rows whose key columns repeat within the
    * 1-day `event_time` watermark are dropped as they arrive, with state bounded by
    * the watermark (dropDuplicatesWithinWatermark evicts expired keys —
    * a plain dropDuplicates would grow state forever on an unbounded
    * stream). At 100 TB/day this is the front-door dedup that keeps exact
    * copies from ever landing in the lake; the batch operators own
    * historical/near-dup passes. */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.withWatermark("event_time", "1 day")
      .dropDuplicatesWithinWatermark(keyCols)

  /** Run to completion over all currently-available files and stop
    * (AvailableNow), writing complete results per micro-batch via
    * foreachBatch into a parquet target — the streaming version of the
    * mart writer. Returns the finished query.
    *
    * NOTE on state: complete output mode keeps every (window, type) group
    * in state and rewrites the full result each batch — the watermark
    * evicts nothing. That is the right trade for bounded AvailableNow
    * catch-up runs (exact batch parity, tested); a CONTINUOUS deployment
    * must switch to append/update mode, where the 1-day watermark bounds
    * state to open windows (and the last day only emits once it closes). */
  def runAvailableNow(agg: DataFrame, outPath: String,
                      checkpoint: String): StreamingQuery = {
    val q = agg.writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(outPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** Materialize a Day_Wise CSV tree (`root/Day_Wise/<date>/event.csv` —
    * the reference's raw layout, the exact filename
    * [[graft.io.Sources.rawEventsCsv]]/[[graft.io.Sources.rawEventsStream]]
    * glob) from the analytics `events` table, so the streaming tier has a
    * catch-up workload at the SAME scale as the batch queries (the bench's
    * `stream:ingest` row). The analytics columns map deterministically
    * onto the raw retail header: ts → event_time/event_date, event_type,
    * event_id → product_id, user_id, value → price, props → user_session,
    * id-derived category/brand fills. One repartition-by-day pass writes
    * one CSV per day (each day's rows hash to one task, so one part file
    * per `dt=` dir); the driver then renames each part file to
    * `event.csv` — file-count-bounded work, 30 renames for 30 days.
    * Returns the number of day partitions. */
  def exportDayWiseCsv(events: DataFrame, root: String): Int = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val staging = s"$root/.staging"
    events.select(
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ssxxx").as("event_time"),
        col("event_type"),
        col("event_id").as("product_id"),
        (col("user_id") % 100L).as("category_id"),
        concat(lit("cat."), col("user_id") % 100L).as("category_code"),
        concat(lit("brand"), col("event_id") % 50L).as("brand"),
        col("value").as("price"),
        col("user_id"),
        col("props").as("user_session"),
        to_date(col("ts")).as("event_date"))
      // dt duplicates event_date as the PARTITION key: partitionBy drops
      // its column from the file, but the raw header carries event_date
      // as a real trailing column (the reference CSVs do).
      .withColumn("dt", col("event_date"))
      .repartition(col("dt"))
      .write.mode("overwrite").option("header", "true")
      .partitionBy("dt").csv(staging)
    var days = 0
    val stream = Files.list(Paths.get(staging))
    try stream.forEach { p =>
      val name = p.getFileName.toString
      if (name.startsWith("dt=")) {
        val parts = Files.list(p)
        val csvs =
          try {
            val b = Vector.newBuilder[java.nio.file.Path]
            parts.forEach(f =>
              if (f.getFileName.toString.endsWith(".csv")) b += f)
            b.result()
          } finally parts.close()
        // The repartition-by-day above guarantees one part file per day;
        // a config that splits outputs anyway (e.g. maxRecordsPerFile)
        // must FAIL here, not silently keep only the last part's rows.
        require(csvs.size <= 1,
          s"$name produced ${csvs.size} part files — one event.csv per day " +
            "is the layout contract; disable output splitting for the export")
        csvs.foreach { f =>
          val day = Paths.get(root, "Day_Wise", name.stripPrefix("dt="))
          Files.createDirectories(day)
          Files.move(f, day.resolve("event.csv"),
            StandardCopyOption.REPLACE_EXISTING)
          days += 1
        }
      }
    } finally stream.close()
    days
  }
}
