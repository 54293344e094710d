package graft.pipeline

import graft.io.{Sinks, Sources}
import graft.operators.{DimDate, RetailOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's asset DAG (SURVEY §2.11, §3) as an explicit call graph:
  * ingestDay → buildStarSchema → buildMart. Airflow's `@asset(schedule=
  * upstream)` dependency edges become function-call ordering; branch-on-
  * failure (the reference's `@task.branch` `choose_branch` routing to
  * `task_complete_notification` / `task_failed_notification` after the
  * mart upload — logs/dag_id=retail_pipeline/.../task_id=choose_branch)
  * becomes the `notify` hook: [[runDayNotified]] wraps the day in a `Try`
  * and routes the outcome to exactly one of the two notification events
  * before returning it, so a scheduler can subscribe without wrapping
  * every call site in its own try/catch.
  *
  * Every stage is date-parameterized and idempotent (dynamic partition
  * overwrite), so a scheduler can re-run any day without touching history —
  * the property the reference claims ("all loads are incremental",
  * README.md:55) but its replace-mode `to_sql` calls don't deliver.
  */
class RetailPipeline(spark: SparkSession, rawRoot: String, martRoot: String,
                     loadedAt: Column = current_timestamp(),
                     notify: RetailPipeline.RunOutcome => Unit = _ => ()) {
  import RetailPipeline.{RunComplete, RunFailed, RunOutcome}

  /** Ingest one day: S3-style CSV scan → empty guard → preprocess
    * (reference retail_pipeline_assets.py:26-53). */
  def ingestDay(date: String): DataFrame = {
    val raw = Sources.requireNonEmpty(
      Sources.rawEventsCsv(spark, rawRoot, date), s"raw events for $date")
    val cleaned = RetailOps.fillNa(raw,
        Map("category_code" -> "Unknown", "brand" -> "Generic"))
      .withColumn("event_date", to_date(lit(date)))
      .withColumn("loaded_at", loadedAt)
    Sinks.upsertDatePartition(cleaned, "staging_events")
    cleaned
  }

  /** Star schema build for one day (retail_pipeline_assets.py:56-142). */
  def buildStarSchema(date: String): Unit = {
    val staging = spark.table("staging_events")
      .filter(col("event_date") === to_date(lit(date)))

    // fact_events (A1): 4-key grain, conditional revenue.
    val fact = RetailOps.factBuild(staging, "event_date", "event_type",
      Seq("product_id", "user_id"), "price")

    // dim_user (A4/P5): DISTINCT projection of non-null users.
    val dimUser = staging
      .filter(col("user_id").isNotNull)
      .select("user_id", "user_session").distinct()
      .withColumn("updated_at", loadedAt)

    // dim_product (A5/P2/F1/D1): DISTINCT + 'other' fill + hierarchy split
    // + deterministic keep-first dedup on product_id (§7.4.3 — pandas'
    // scan-order keep-first becomes an explicit stable ordering).
    val parts = RetailOps.splitHierarchy(col("category_code"))
    val products = staging
      .filter(col("product_id").isNotNull)
      .select("product_id", "category_id", "category_code", "brand", "price")
      .distinct()
      .na.fill(Map("category_code" -> "other"))
      .withColumn("category", parts(0))
      .withColumn("sub_category1", parts(1))
      .withColumn("sub_category2", parts(2))
    val dimProduct = RetailOps.dedupKeepFirst(products, Seq("product_id"),
        Seq(col("price").asc, col("brand").asc_nulls_last, col("category_id").asc))
      .withColumn("updated_at", loadedAt)

    // The fact upsert and the dimension replacements each write a table of
    // their own and share no session state (fact_events carries its own
    // overwrite mode), so they run together; dim_date (F2/F3) is the
    // one-shot calendar (reference @once asset) and joins them on the
    // first day.
    val dimDate =
      if (spark.catalog.tableExists("dim_date")) None
      else Some(() =>
        Sinks.replaceTable(DimDate.build(spark, "2019-10-01", "2020-03-31"), "dim_date"))
    RetailPipeline.together(Seq(
      () => Sinks.upsertDatePartition(fact, "fact_events"),
      () => Sinks.replaceTable(dimUser, "dim_user"),
      () => Sinks.replaceTable(dimProduct, "dim_product")) ++ dimDate)
  }

  /** The day's three mart aggregates by name (retail_pipeline.py:28-105),
    * as plans; [[buildMart]] writes them. */
  def martTables(date: String): Map[String, DataFrame] = {
    val d = to_date(lit(date))
    val fact = spark.table("fact_events").filter(col("event_date") === d)

    // Faithful to retail_pipeline.py:34-45: measures are over FACT rows
    // (the (date,type,product,user) grain), not re-expanded raw events.
    val et = col("event_type")
    val revenue = fact
      .groupBy("event_date")
      .agg(
        sum(col("total_revenue").cast("decimal(18,2)")).cast("double").as("revenue"),
        countDistinct(col("user_id")).as("unique_users"),
        sum(when(et === "purchase", 1L).otherwise(0L)).as("purchases"),
        sum(when(et === "cart", 1L).otherwise(0L)).as("carts"),
        sum(when(et === "view", 1L).otherwise(0L)).as("views"))
      .withColumn("cart_rate",
        col("carts") / when(col("views") === 0L, lit(null)).otherwise(col("views")))
      .withColumn("purchase_rate",
        col("purchases") / when(col("views") === 0L, lit(null)).otherwise(col("views")))

    // retail_pipeline.py:54-67 — fact ⋈ broadcast dim_product funnel.
    val funnel = fact
      .join(broadcast(spark.table("dim_product")
        .select("product_id", "brand", "category_code")), Seq("product_id"))
      .groupBy("event_date", "brand", "category_code")
      .agg(
        sum(when(et === "view", 1L).otherwise(0L)).as("views"),
        sum(when(et === "cart", 1L).otherwise(0L)).as("carts"),
        sum(when(et === "purchase", 1L).otherwise(0L)).as("purchases"),
        sum(when(et === "purchase", col("total_revenue")).otherwise(lit(0.0))
          .cast("decimal(18,2)")).cast("double").as("revenue"))

    val topBrands = RetailOps.topK(funnel, 10,
      Seq(col("revenue").desc, col("brand").asc_nulls_last))

    Map(
      "daily_revenue_summary" -> revenue,
      "daily_funnel_by_brand" -> funnel,
      "top_brands_by_revenue" -> topBrands)
  }

  /** Mart stage for one day: each of [[martTables]] → partitioned parquet
    * (`dt=` layout) → catalog registration with the crawler's `agg_`
    * prefix. The three (write, register) pairs share no path and no table,
    * so they run together. */
  def buildMart(date: String): Map[String, DataFrame] = {
    val tables = martTables(date)
    RetailPipeline.together(tables.toSeq.map { case (name, df) => () =>
      Sinks.writeMartParquet(df, martRoot, name, date)
      Sinks.registerMartTable(df, martRoot, name, date)
    })
    tables
  }

  /** Full day run — the reference's two DAGs chained. Exceptions
    * propagate; use [[runDayNotified]] for the notification-routing
    * variant. */
  def runDay(date: String): Map[String, DataFrame] = {
    ingestDay(date)
    buildStarSchema(date)
    buildMart(date)
  }

  /** [[runDay]] with the reference's branch-on-failure semantics: the
    * outcome is routed to the `notify` hook — [[RetailPipeline.RunComplete]]
    * on success, [[RetailPipeline.RunFailed]] on any failure — and then
    * returned as a `Try` so callers still decide whether to rethrow.
    * A throwing notify hook propagates (as a failed notification task
    * fails the reference DAG run); it replaces a Failure's own error with
    * the hook error suppressed-attached for diagnosis. */
  def runDayNotified(date: String): scala.util.Try[Map[String, DataFrame]] = {
    val result = scala.util.Try(runDay(date))
    val outcome: RunOutcome = result match {
      case scala.util.Success(tables) => RunComplete(date, tables.keySet)
      case scala.util.Failure(e)      => RunFailed(date, e)
    }
    try notify(outcome)
    catch {
      case scala.util.control.NonFatal(ne) =>
        result.failed.foreach(ne.addSuppressed)
        throw ne
    }
    result
  }

  /** Multi-day backfill (SURVEY §7.2 M5): sequential day runs, each
    * idempotent, so a failed backfill resumes by re-running its range.
    * Days are independent partitions — a scheduler may fan these out.
    * Within one driver the days run one after another: a day of a few
    * thousand rows per stage leaves most task slots idle, and what fills
    * them is the overlap WITHIN a stage — the star stage's fact upsert and
    * dimension replacements run together, and so do the three mart writes — so one write's planning
    * and commit on the driver overlap another write's jobs. */
  def backfill(startDate: String, endDate: String): Seq[String] = {
    val start = java.time.LocalDate.parse(startDate)
    val end = java.time.LocalDate.parse(endDate)
    val days = Iterator.iterate(start)(_.plusDays(1))
      .takeWhile(!_.isAfter(end)).map(_.toString).toSeq
    // Per-day notification, fail-fast on the first bad day (its failure
    // event has already fired by the time the Try rethrows).
    days.foreach(runDayNotified(_).get)
    days
  }
}

object RetailPipeline {
  /** Runs `writes` at once, one thread each, and returns only when every
    * one has ended; the first failure in `writes` order is rethrown with
    * the others suppressed-attached. Each thread is started here, so it
    * inherits a copy of the caller's SparkContext local properties (job
    * group, job tags, scheduler pool): Spark keeps them in an
    * InheritableThreadLocal that clones into every new thread. */
  private[pipeline] def together(writes: Seq[() => Unit]): Unit = {
    val failures = new Array[Throwable](writes.size)
    val threads = writes.zipWithIndex.map { case (write, i) =>
      val t = new Thread(() => try write() catch { case e: Throwable => failures(i) = e },
        s"retail-write-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) => rest.foreach(first.addSuppressed); throw first
      case _ => ()
    }
  }

  /** Day-run outcome delivered to the notification hook — the engine's
    * analogue of the reference's complete/failed notification tasks.
    * Carries table NAMES, not frames: a notification channel gets
    * identifiers to report, never live plans to re-execute. */
  sealed trait RunOutcome { def date: String }
  final case class RunComplete(date: String, tables: Set[String]) extends RunOutcome
  final case class RunFailed(date: String, error: Throwable) extends RunOutcome

  // Single-writer enforcement for manifestNotify's mint+append, and the
  // run_seq it last minted per manifest table: table → (the table's
  // catalog createTime, last run_seq), per catalog (a session's shared
  // state: sessions of one SparkContext share it, and so share the
  // sequence). Guarded by the lock.
  private val manifestLock = new Object
  private val lastRunSeq = new java.util.WeakHashMap[AnyRef,
    scala.collection.mutable.Map[org.apache.spark.sql.catalyst.TableIdentifier, (Long, Long)]]

  /** A ready-made notify hook that turns the branch DECISION into an
    * OBSERVABLE ARTIFACT: each outcome appends one row to a catalog
    * run-manifest table — the engine's analogue of the reference's
    * complete/failure notification tasks landing in the Airflow
    * task-instance log (logs/dag_id=retail_pipeline/.../task_id=
    * choose_branch), queryable instead of buried in scheduler logs.
    * Columns are deterministic (no wall-clock): a re-run of a day
    * APPENDS a new decision row carrying a monotone `run_seq` seeded
    * from max(run_seq) ALREADY IN THE TABLE (ordering without a
    * timestamp that survives JVM restarts — a process-local counter
    * would reset to 1 against the persisted manifest and make the
    * documented current-state query pick a stale row, review r18), so
    * the manifest is the run HISTORY and `max(run_seq)` per date IS
    * the current state; the full table is the audit trail.
    * The persisted max is read once per catalog and table, then the
    * sequence continues from the last value minted. The value is keyed
    * on the table's catalog `createTime`, so a table dropped and
    * re-created (or first created) is read again: a missing table starts
    * at 1. A day's notify is then one append job, not a scan of the
    * whole history per day.
    * Single-writer contract (one scheduler appends, the reference's
    * own model) — ENFORCED within the JVM, not just documented: the
    * mint-then-append below is not atomic, so concurrent per-day
    * backfill notifies in one driver would mint duplicate run_seq
    * values and break the max(run_seq)-per-date current-state query on
    * ties (ADVICE r18). `manifestLock` serializes the whole
    * mint+append, across every hook on the table; cross-JVM writers
    * remain out of contract (one scheduler process, as in the
    * reference). */
  def manifestNotify(spark: org.apache.spark.sql.SparkSession,
                     table: String = "pipeline_runs"): RunOutcome => Unit = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    out => manifestLock.synchronized {
      import spark.implicits._
      val (branch, tables, error) = out match {
        case RunComplete(_, ts) =>
          ("complete", ts.toSeq.sorted.mkString(","), null: String)
        case RunFailed(_, e) =>
          ("failed", null: String,
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val catalog = spark.sessionState.catalog
      val minted = lastRunSeq.computeIfAbsent(spark.sharedState,
        _ => scala.collection.mutable.Map.empty)
      val exists = catalog.tableExists(ident)
      val next =
        if (!exists) 1L
        else {
          val meta = catalog.getTableMetadata(ident)
          minted.get(meta.identifier) match {
            case Some((created, last)) if created == meta.createTime => last + 1L
            case _ =>
              spark.table(table)
                .agg(org.apache.spark.sql.functions.max("run_seq")).head()
                .getAs[Any](0) match {
                  case null => 1L
                  case n: Long => n + 1L
                }
          }
        }
      val row = Seq((next, out.date, branch, tables, error))
        .toDF("run_seq", "date", "branch", "tables", "error")
      if (exists)
        row.write.mode(org.apache.spark.sql.SaveMode.Append).saveAsTable(table)
      else row.write.saveAsTable(table)
      val meta = catalog.getTableMetadata(ident)
      minted(meta.identifier) = (meta.createTime, next)
    }
  }
}
