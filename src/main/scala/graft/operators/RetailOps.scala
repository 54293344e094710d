package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference operator semantics (SURVEY.md §2.2–2.8), re-expressed as
  * composable, codegen-friendly Spark column programs.
  *
  * Everything here is declarative DataFrame API: Catalyst gets predicate
  * pushdown, column pruning and partial aggregation for free, and every
  * expression stays inside whole-stage codegen (no UDFs on these paths).
  */
object RetailOps {

  /** The event types the revenue and funnel aggregates count. */
  private val Purchase = "purchase"
  private val View = "view"

  // ---------------------------------------------------------------- P1/P2
  /** Null-fill (reference retail_pipeline_assets.py:26-31,104):
    * `category_code.fillna('Unknown')`, `brand.fillna('Generic')`. */
  def fillNa(df: DataFrame, fills: Map[String, String]): DataFrame =
    df.na.fill(fills)

  // ------------------------------------------------------------------- P7
  /** Conditional measure (retail_pipeline_assets.py:67; retail_pipeline.py:39-41):
    * CASE WHEN <is a purchase> THEN value ELSE 0 END. */
  def purchaseRevenue(isPurchase: Column, value: Column): Column =
    when(isPurchase, value).otherwise(lit(0.0))

  /** 1/0 conditional counter (retail_pipeline.py:39-41,60-63). */
  def flag(eventType: Column, kind: String): Column =
    when(eventType === kind, lit(1L)).otherwise(lit(0L))

  /** Decimal-exact sum of 2-dp amounts, cast back to double: the result is
    * order-independent — a double sum over a shuffled 100 TB scan is not
    * reproducible; a decimal sum is. */
  private def exactSum(amount: Column): Column =
    sum(amount.cast("decimal(18,2)")).cast("double")

  // ------------------------------------------------------------------- A1
  /** Fact build (retail_pipeline_assets.py:60-70): filter one date then
    * GROUP BY (event_date, event_type, product, user) with COUNT(*) +
    * conditional SUM (decimal-exact, [[exactSum]]). */
  def factBuild(staging: DataFrame, keyCols: Seq[String], valueCol: String,
                purchaseKind: String = Purchase): DataFrame = {
    // purchaseKind parameterized: the legacy RetailRocket schema calls the
    // revenue event "transaction", and a hard-coded literal would silently
    // zero total_revenue there.
    staging
      .groupBy(("event_date" +: "event_type" +: keyCols).map(col): _*)
      .agg(
        count(lit(1)).as("total_events"),
        exactSum(purchaseRevenue(col("event_type") === purchaseKind, col(valueCol)))
          .as("total_revenue"))
  }

  // --------------------------------------------------------------- A2 + P6
  /** Daily revenue summary (retail_pipeline.py:34-51): per-day revenue,
    * exact COUNT(DISTINCT user), funnel counters, and ratio columns.
    * Division by zero yields NULL (SURVEY §7.4.1 decision — matches the
    * DuckDB oracle via NULLIF; pandas' `inf` is the bug, not the spec). */
  def dailyRevenueSummary(events: DataFrame, dateCol: Column,
                          cartKind: String = "click"): DataFrame = {
    val et = col("event_type")
    events
      .groupBy(dateCol.as("event_date"))
      .agg(
        exactSum(purchaseRevenue(et === Purchase, col("value"))).as("revenue"),
        countDistinct(col("user_id")).as("unique_users"),
        sum(flag(et, Purchase)).as("purchases"),
        sum(flag(et, cartKind)).as("carts"),
        sum(flag(et, View)).as("views"))
      .withColumn("cart_rate", col("carts") / nullif(col("views"), lit(0L)))
      .withColumn("purchase_rate", col("purchases") / nullif(col("views"), lit(0L)))
  }

  private def nullif(c: Column, v: Column): Column = when(c === v, lit(null)).otherwise(c)

  // --------------------------------------------------------------- J1 + A3
  /** Funnel-by-dimension (retail_pipeline.py:54-67): fact ⋈ dim on a key,
    * then grouped conditional counts + revenue. `dim` is the small side of a
    * star join: broadcast it explicitly — at 100 TB the fact side never
    * moves, only the dim ships to executors. */
  def funnelByDim(fact: DataFrame, dim: DataFrame, joinKeys: Seq[String],
                  groupCols: Seq[String], cartKind: String = "click"): DataFrame = {
    val et = col("event_type")
    fact.join(broadcast(dim), joinKeys, "inner")
      .groupBy(groupCols.map(col): _*)
      .agg(
        sum(flag(et, View)).as("views"),
        sum(flag(et, cartKind)).as("carts"),
        sum(flag(et, Purchase)).as("purchases"),
        exactSum(purchaseRevenue(et === Purchase, col("value"))).as("revenue"))
  }

  // ------------------------------------------------------------------- D1
  /** Deterministic keep-first dedup (retail_pipeline_assets.py:118).
    * pandas `drop_duplicates(subset)` keeps the first row in scan order;
    * Spark's `dropDuplicates` picks an arbitrary row per key (partition
    * nondeterminism at scale). Parity requires an explicit order: window
    * rank over a stable key (SURVEY §7.4.3). */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[dedupKeepFirst]] as a hash AGGREGATE — min over a struct whose
    * leading fields are the order columns, so the per-key winner is
    * picked by partial aggregation map-side and the exchange carries one
    * row per key instead of every row into a sort-window. This is the
    * keep-first plan that survives 100 TB: no per-partition sort, no
    * full-key-partition materialization, skew-tolerant via partial aggs.
    *
    * Contract (narrower than the window form — use it when it fits, which
    * is the common case): every order column ASCENDING and NON-NULL
    * (struct comparison is NULLS FIRST, so a nullable nulls-last ordering
    * like dim_product's brand must stay on the window path); remaining
    * columns join the struct tail as tie-breaks, so for bit-exact pandas
    * parity the ordering should already be total (same requirement as the
    * window form). KeepFirstAggSpec pins agg ≡ window on real data. */
  def dedupKeepFirstAgg(df: DataFrame, keys: Seq[String],
                        orderCols: Seq[String]): DataFrame = {
    val others = df.columns.filterNot(c => keys.contains(c) || orderCols.contains(c))
    df.groupBy(keys.map(col): _*)
      .agg(min(struct((orderCols ++ others).map(col): _*)).as("__first"))
      .select(df.columns.toIndexedSeq.map(c =>
        if (keys.contains(c)) col(c) else col(s"__first.$c").as(c)): _*)
  }

  // ------------------------------------------------------------------- T1
  /** Top-k by measure (retail_pipeline.py:73): ORDER BY measure DESC LIMIT k.
    * Plans as TakeOrderedAndProject — a true distributed top-k (per-partition
    * heap + driver merge), never a full global sort. Tie-break columns make
    * the selected row set deterministic across partitionings. */
  def topK(df: DataFrame, k: Int, ordering: Seq[Column]): DataFrame =
    df.orderBy(ordering: _*).limit(k)

  // ------------------------------------------------------------------- F1
  /** Category split (retail_pipeline_assets.py:107-116): dotted hierarchy
    * into exactly 3 levels with 'na' defaults. Native split + element_at —
    * stays in codegen; `element_at` returns NULL when out of bounds, which
    * coalesce pads to 'na' exactly like the reference's python loop.
    * (`try_element_at`, not `element_at`: ANSI mode — Spark 4 default —
    * makes the latter throw on out-of-bounds instead of returning NULL.) */
  def splitHierarchy(src: Column, sep: String = "\\."): Seq[Column] = {
    val arr = split(src, sep)
    (1 to 3).map(i => coalesce(try_element_at(arr, lit(i)), lit("na")))
  }

  // ------------------------------------------------------------------- P8
  /** Membership predicate (legacy pyc: `df.event.isin([...])`). */
  def isinFilter(df: DataFrame, c: String, values: Seq[String]): DataFrame =
    df.filter(col(c).isin(values: _*))

  // ------------------------------------------------------------------- P9
  /** Drop rows with nulls in a key subset (legacy pyc `dropna(subset=...)`). */
  def dropNullRows(df: DataFrame, subset: Seq[String]): DataFrame =
    df.na.drop(subset)

  // ------------------------------------------------------------------ P10
  /** Epoch-ms → timestamp (legacy pyc `pd.to_datetime(unit='ms')`). */
  def epochMsToTimestamp(epochMs: Column): Column = timestamp_millis(epochMs)

  // ------------------------------------------------------------- A6 + T2/F7
  /** Daily event counts (legacy pyc): GROUP BY DATE(ts), event_type ORDER BY both. */
  def dailyEventCounts(events: DataFrame): DataFrame =
    events.groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_date"), col("event_type"))

  /** Stratified sample for dataset balancing (training-data prep): keep
    * each stratum at its own fraction, deterministically. Implemented as a
    * pure filter on a hash (seed 42) of a stable row key — unlike
    * `DataFrameStatFunctions.sampleBy`, the SAME rows are kept however the
    * data is partitioned or re-read, so downstream runs are reproducible
    * and the operator stays a codegen'd scan-level filter (no RNG state,
    * no shuffle, pushdown-friendly). Hash uniformity makes the kept share
    * of each stratum converge to its fraction. The stratum is column
    * `cls`, the row key column `id`. */
  def stratifiedSample(df: DataFrame, fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0,1]")
    // xxhash64 → [0,1) via the positive 2^63 range.
    val u = (pmod(xxhash64(col("id"), lit(42L)), lit(Long.MaxValue)).cast("double")
      / lit(Long.MaxValue.toDouble))
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col("cls") === k, lit(f)).otherwise(acc)
    }
    df.filter(u < frac)
  }
}
