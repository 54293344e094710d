package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{StringType, StructType}

/** Writers (SURVEY §2.1 sinks).
  *
  * The reference's `to_sql(if_exists="replace")` wipes whole tables every
  * run (SURVEY §7.4.2) — correct-looking on a laptop, an outage at 100 TB.
  * The engine keeps both semantics but defaults to per-partition dynamic
  * overwrite: idempotent re-runs of one day never touch other days.
  */
object Sinks {

  /** S3 (replace mode) — drop-and-recreate semantics of
    * `to_sql(if_exists="replace")` (retail_pipeline_assets.py:48,...). */
  def replaceTable(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).saveAsTable(table)

  /** S3 (incremental) — overwrite only the `event_date` partitions present
    * in `df`.
    * The table owns its overwrite mode: it is created with the table
    * option `partitionOverwriteMode=dynamic`, which every later overwrite
    * `insertInto` honours whatever the session conf says, so concurrent
    * writers share no session state. Re-running a day replaces exactly
    * that day: idempotent AND incremental, which is what the reference's
    * README claims and its code doesn't do. A standing table without that
    * option is refused: an overwrite of it would be STATIC and wipe every
    * other day. */
  def upsertDatePartition(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      df.write.partitionBy("event_date")
        .option(OverwriteModeKey, "dynamic").saveAsTable(table)
    } else {
      // The table option, not a writer option: a writer option is not
      // honored on the catalog-table insertInto path and silently degrades
      // to a STATIC overwrite. Catalog metadata, so the check runs no job.
      val meta = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(table))
      require(meta.storage.properties.exists { case (k, v) =>
        k.equalsIgnoreCase(OverwriteModeKey) && v.equalsIgnoreCase("dynamic") },
        s"table $table lacks the table option $OverwriteModeKey=dynamic; an " +
          "overwrite would replace every partition, not just the day's")
      // insertInto resolves BY POSITION, and saveAsTable+partitionBy moved
      // the partition column to the end of the table schema — realign the
      // frame to the table's column order or every later insert writes
      // values into the wrong columns.
      df.select(meta.schema.fieldNames.toIndexedSeq.map(df.col): _*)
        .write.mode(SaveMode.Overwrite).insertInto(table)
    }
  }

  private val OverwriteModeKey = "partitionOverwriteMode"

  /** S5–S7 — one day of a mart table: parquet under
    * `aggregates/<name>/dt=<date>/` (retail_pipeline.py:78-84), then the
    * catalog table `agg_<name>` ([[registerMartTable]]). The write runs
    * once: the row count rides on it as an `Observation`, so no job runs
    * the aggregate a second time to ask whether it is empty. Returns that
    * count. The Hive-style `dt=` path is load-bearing downstream
    * (partition discovery).
    *
    * S6 (py:79): an empty frame leaves no partition. The write of 0 rows
    * is deleted after the fact: its `dt=` directory, and the table
    * directory too when this write created it. An empty re-run of a day
    * that already holds rows therefore REMOVES that day (the reference
    * skips the write and keeps the stale day): the mart mirrors the day's
    * current result, and its catalog partition is dropped to match. */
  def publishMartDay(df: DataFrame, martRoot: String, name: String,
                     date: String): Long = {
    val table = new Path(s"$martRoot/aggregates/$name")
    val day = new Path(table, s"dt=$date")
    val fs = table.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val tableExisted = fs.exists(table)
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(day.toString)
    val n = rows.get("rows").asInstanceOf[Long]
    if (n == 0L) fs.delete(if (tableExisted) day else table, true)
    registerMartTable(df, martRoot, name, date, n)
    n
  }

  /** S7 — catalog registration replacing the Glue crawler, for a day
    * [[publishMartDay]] just wrote with `rows` rows: tables get the
    * crawler's `agg_` prefix (aws-stack.ts:54) and — like the crawler's
    * table — span EVERY `dt=` partition under the mart root, not just the
    * day that was written. The table is external over the partitioned
    * parquet tree. When the table is created (first day with rows, or
    * re-created below) `recoverPartitions` crawls every `dt=` directory
    * once; after that each call registers only `date` (`ADD IF NOT EXISTS
    * PARTITION`), or drops it when the day is empty (S6: its directory is
    * gone). An empty day creates no table: the first day with rows does,
    * and its crawl finds every day. The schema and location come from the
    * catalog's table metadata and the row count from the write, so a call
    * on a standing table runs no Spark job and does not grow with the days
    * loaded. (A per-day `saveAsTable` overwrite would
    * leave the catalog holding only the last day — observed on the full
    * 31-day reference backfill.)
    *
    * Schema evolution — the crawler's `UPDATE_IN_DATABASE` policy
    * (aws-stack.ts:55-61): when the mart frame's schema no longer matches
    * the registered table (a column added/retyped), the table DEFINITION
    * is re-created to the new schema over the same location. External
    * table: dropping it touches metadata only, history stays on disk, and
    * columns absent from old partitions read as null (evolution-on-read,
    * exactly how Glue-over-parquet behaves). */
  private[io] def registerMartTable(df: DataFrame, martRoot: String, name: String,
                                    date: String, rows: Long): Unit = {
    val spark = df.sparkSession
    val table = s"agg_$name"
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(table)
    if (rows == 0L) {
      if (catalog.tableExists(ident))
        spark.sql(s"ALTER TABLE $table DROP IF EXISTS PARTITION (dt='$date')")
    } else {
      val location = new Path(s"$martRoot/aggregates/$name")
      val fs = location.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // Name+type comparison, case-insensitive, nullability ignored (the
      // catalog and parquet footers disagree on nullability routinely).
      def shape(s: StructType) =
        s.fields.toSeq.map(f => (f.name.toLowerCase(java.util.Locale.ROOT), f.dataType))
      val expected = shape(df.schema) :+ ("dt", StringType)
      // LOCATION mismatch re-creates too (review r18): a session whose
      // second pipeline/mart uses a different root must not keep serving
      // the FIRST root's partitions through a schema-matching stale
      // table — the crawler analogue re-points at the root it crawls.
      val want = fs.makeQualified(location).toUri.toString
      val standing = catalog.tableExists(ident) && {
        val meta = catalog.getTableMetadata(ident)
        val current = meta.storage.locationUri.map(u => new Path(u).toUri.toString)
        shape(meta.schema) == expected && current.contains(want)
      }
      if (standing) {
        spark.sql(s"ALTER TABLE $table ADD IF NOT EXISTS PARTITION (dt='$date')")
      } else {
        spark.sql(s"DROP TABLE IF EXISTS $table")
        spark.sql(s"CREATE TABLE $table (${df.schema.toDDL}, dt STRING) " +
          s"USING parquet PARTITIONED BY (dt) LOCATION '$location'")
        spark.catalog.recoverPartitions(table)
      }
    }
  }

  /** S9 — legacy single-file CSV summary (`df.to_csv(path)`). coalesce(1)
    * mirrors the reference's one-file contract — only for small summaries;
    * a large table keeps its parallelism. */
  def writeCsvSummary(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite)
      .option("header", "true").csv(path)

  /** Training-shard writer: `numShards` globally range-partitioned,
    * internally sorted parquet files. Range partitioning (sampled range
    * exchange) gives disjoint, ordered key ranges per shard — what a
    * downstream training loader wants for deterministic sharding and
    * merge-reads — unlike hash partitioning, which interleaves every range
    * across every file. One exchange + per-partition sort, no global
    * single-task sort at any scale. */
  def writeSortedShards(df: DataFrame, path: String, numShards: Int,
                        sortCols: Seq[String]): Unit = {
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(numShards, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
