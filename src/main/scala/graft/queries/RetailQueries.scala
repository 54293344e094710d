package graft.queries

import graft.Tables
import graft.operators.{DimDate, RetailOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** SURVEY §2 operator inventory instantiated over the driver corpus
  * (TESTDATA.md tables), one query per operator row. Each has a matching
  * DuckDB oracle in [[graft.SparkEntry.oracleSql]].
  *
  * Determinism rules (oracle hash parity):
  *  - every LIMIT/top-k carries a total-order tie-break;
  *  - double sums go through decimal(18,2) then back to double;
  *  - division by zero → NULL via nullif on both sides;
  *  - integer outputs cast to long (DuckDB EXTRACT/COUNT are BIGINT).
  */
object RetailQueries {

  // S1/S4/P4 — projection + predicate; both reach the parquet scan
  // (PushedFilters + pruned ReadSchema — the scan reads 4 of 6 columns).
  def scanProject(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .filter(col("value") > 50.0)

  // P1/P2 — null-fill / coalesce (nulls synthesized via nullif since the
  // corpus has none; same expression both sides).
  def fillnaCoalesce(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      coalesce(when(col("event_type") === "error", lit(null)).otherwise(col("event_type")),
        lit("Unknown")).as("etype"))

  // P3/F5/F7 — literal column add + date truncation cast.
  def literalStamp(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      to_date(col("ts")).as("event_date"),
      lit("batch42").as("load_tag"))

  // P5 — IS NOT NULL predicates.
  def filterNotNull(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("value"))

  // P7 — CASE WHEN conditional measure.
  def caseWhenRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      RetailOps.purchaseRevenue(col("event_type") === "purchase", col("value")).as("revenue"),
      RetailOps.flag(col("event_type"), "purchase").as("is_purchase"))

  // A1 — fact build: 3-key group with COUNT(*) + conditional decimal-exact SUM.
  def factBuild(s: SparkSession, dir: String): DataFrame =
    RetailOps.factBuild(
      Tables.events(s, dir).withColumn("event_date", to_date(col("ts"))),
      Seq("user_id"), "value")

  // A2 + P6 — daily revenue summary: exact COUNT(DISTINCT) + ratios.
  def dailyRevenue(s: SparkSession, dir: String): DataFrame =
    RetailOps.dailyRevenueSummary(Tables.events(s, dir), to_date(col("ts")))

  // J1 + A3 — star join (broadcast dim) + funnel aggregation.
  def funnelBySegment(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).withColumnRenamed("user_id", "c_custkey")
    val dim = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    RetailOps.funnelByDim(ev, dim, Seq("c_custkey"), Seq("c_mktsegment"))
  }

  // A4/A5 — DISTINCT projection.
  def distinctUsers(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select("user_id", "event_type").distinct()

  // D1 — deterministic keep-first dedup. Hash-agg form: the order key
  // (l_shipdate, l_orderkey, l_linenumber) is non-null ascending and
  // unique, so min-of-struct picks the same row the window rank would,
  // with a one-row-per-key exchange instead of a sort-window.
  def dedupFirstPerPart(s: SparkSession, dir: String): DataFrame =
    RetailOps.dedupKeepFirstAgg(
      Tables.lineitem(s, dir)
        .select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate"),
      Seq("l_partkey"),
      Seq("l_shipdate", "l_orderkey", "l_linenumber"))
      .select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate")

  // T1 — top-k by measure with deterministic tie-break → TakeOrderedAndProject.
  def topUsersByRevenue(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"))
    RetailOps.topK(perUser, 10, Seq(col("revenue").desc, col("user_id").asc))
  }

  // F2/F3 — calendar dimension generation (183 rows, golden from reference logs).
  def dimDate(s: SparkSession, dir: String): DataFrame =
    DimDate.build(s, "2019-10-01", "2020-03-31")

  // F1 — split-with-default hierarchy levels.
  def splitHierarchy(s: SparkSession, dir: String): DataFrame = {
    val parts = RetailOps.splitHierarchy(col("p_name"), " ")
    Tables.part(s, dir).select(
      col("p_partkey"), parts(0).as("category"),
      parts(1).as("sub_category1"), parts(2).as("sub_category2"))
  }

  // P10/F4-ish — epoch-ms round-trip cast. ts is TIMESTAMP_NTZ; unix_millis
  // wants TIMESTAMP (LTZ) — with the session pinned to UTC the cast is the
  // identity on the underlying micros.
  def epochRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ltz = col("ts").cast("timestamp")
    Tables.events(s, dir).select(
      col("event_id"),
      unix_millis(ltz).as("epoch_ms"),
      RetailOps.epochMsToTimestamp(unix_millis(ltz)).cast("timestamp_ntz").as("ts_ms"))
  }

  // P8 — membership predicate (isin).
  def isinFilter(s: SparkSession, dir: String): DataFrame =
    RetailOps.isinFilter(Tables.events(s, dir), "event_type",
      Seq("view", "click", "purchase"))
      .select("event_id", "event_type")

  // P9 — dropna on key subset.
  def dropnaKeys(s: SparkSession, dir: String): DataFrame =
    RetailOps.dropNullRows(Tables.events(s, dir), Seq("user_id", "event_type"))
      .select("event_id", "user_id")

  // A6 + T2 — daily event counts with global ORDER BY (range-partitioned sort).
  def dailyEventCounts(s: SparkSession, dir: String): DataFrame =
    RetailOps.dailyEventCounts(Tables.events(s, dir))

  // S8/T3 — deterministic head-n sample (ORDER BY key LIMIT n → top-k plan).
  def headSample(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select("event_id", "user_id", "event_type")
      .orderBy("event_id").limit(1000)

  // §2.7 — UNION ALL (the reference's append-by-storage path).
  def unionAppend(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.filter(col("event_type") === "view").select("event_id", "user_id")
      .unionAll(ev.filter(col("event_type") === "purchase").select("event_id", "user_id"))
  }

  // Set ops beyond the reference (free in Spark; oracle exercises them).
  def setOpsUsers(s: SparkSession, dir: String): DataFrame = {
    val evUsers = Tables.events(s, dir).select(col("user_id").as("id"))
    val custKeys = Tables.customer(s, dir).select(col("c_custkey").as("id"))
    evUsers.intersect(custKeys)
  }

  // Window functions — ranking + offsets + running sum per user.
  def windowPerUser(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      row_number().over(w).cast("long").as("rn"),
      lag(col("value"), 1).over(w).as("prev_value"),
      lead(col("event_type"), 1).over(w).as("next_type"),
      sum(col("value").cast("decimal(18,2)")).over(wSum).cast("double").as("running_value"))
  }

  // Rollup (grouping-set planning; one-token addition per SURVEY §2.4).
  def rollupCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .rollup(col("event_type"))
      .agg(count(lit(1)).as("n"))

  // JSON extraction from events.props (SURVEY §2.8 note; driver corpus).
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"))

  // Left outer join with null-fill aggregate (joins beyond the reference).
  def outerJoinOrders(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("spend"))
    Tables.customer(s, dir).join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("spend"), lit(0.0)).as("spend"))
  }

  // Left semi join (EXISTS).
  def semiJoinActive(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 300000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_mktsegment")

  // Scalar-function breadth (§2.8 extension): string, date, math, and
  // conditional functions a warehouse user expects, in one projection.
  // Regexes stay in the Java∩RE2 dialect; rounding uses exact decimals.
  def scalarFuncs(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey"),
      upper(col("o_orderstatus")).as("status_u"),
      lower(col("o_orderpriority")).as("prio_l"),
      substring(col("o_orderpriority"), 1, 1).as("prio_code"),
      length(col("o_orderpriority")).cast("long").as("prio_len"),
      concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
      regexp_extract(col("o_orderpriority"), "^([0-9]+)", 1).as("prio_num"),
      trim(lit("  x  ")).as("trimmed"),
      to_date(col("o_orderdate")).as("order_date"),
      datediff(to_date(lit("2002-01-01")), to_date(col("o_orderdate")))
        .cast("long").as("days_to_2002"),
      add_months(to_date(col("o_orderdate")), 2).as("plus_2m"),
      date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("month_start"),
      (col("o_totalprice").cast("decimal(18,2)").cast("double") / 100).as("price_h"),
      round(col("o_totalprice").cast("decimal(18,2)"), 1).cast("double").as("price_r1"),
      abs(col("o_totalprice") - 200000.0).as("abs_diff"),
      floor(col("o_totalprice") / 1000).cast("long").as("price_k"),
      ceil(col("o_totalprice") / 1000).cast("long").as("price_k_up"),
      pow(lit(2.0), col("o_orderkey") % 10).as("pow2"),
      greatest(col("o_totalprice"), lit(100000.0)).as("floor_price"),
      least(col("o_totalprice"), lit(400000.0)).as("cap_price"),
      when(col("o_orderstatus") === "F", lit(null)).otherwise(col("o_orderstatus"))
        .as("status_nullif"))

  // Statistical aggregates beyond the reference (stddev, variance,
  // min/max, exact interpolated median) per order-priority class.
  // Variance/stddev use the exact decimal-sums formula, NOT the built-in
  // Welford aggregates: Welford's result depends on accumulation order
  // (different engines/partitionings diverge past 6 dp at 1e10 magnitudes),
  // while decimal S1/S2 are order-independent and the final double formula
  // is bit-identical on both engines.
  def statsAgg(s: SparkSession, dir: String): DataFrame = {
    val xDec = col("o_totalprice").cast("decimal(18,2)")
    Tables.orders(s, dir)
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        sum(xDec).cast("double").as("s1"),
        sum(xDec * xDec).cast("double").as("s2"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice)")
          .as("median_price"))
      .select(
        col("o_orderpriority"), col("n"), col("min_price"), col("max_price"),
        (col("s1") / col("n")).as("avg_price"),
        // Rounded in-query: the decimal→double cast of S2 can differ by one
        // ulp between engines, and the cancellation in S2 - S1²/n amplifies
        // that past 6-dp hash precision at 1e10 magnitudes.
        round((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), 2)
          .as("var_price"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)), 4)
          .as("sd_price"),
        col("median_price"))
  }

  // Pivot: per-day event counts widened to one column per event type.
  // Explicit value list keeps the output schema static (a dynamic pivot
  // would need a driver-side distinct scan — avoid at scale).
  def pivotDaily(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("event_date"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)

  // Ordered string aggregation: collect_list is partition-order-dependent,
  // so determinism requires sort_array before the join — the same rule as
  // every other order-sensitive operator in this engine.
  def stringAgg(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir)
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
        count(lit(1)).as("n"))

  // Left anti join (NOT EXISTS). Filtered probe side keeps the result
  // non-empty (every customer has *some* order in the corpus).
  def antiJoinInactive(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")

  // EXCEPT (set difference, distinct semantics) — customers who never
  // produced an event.
  def exceptUsers(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(col("c_custkey").as("id"))
      .except(Tables.events(s, dir).select(col("user_id").as("id")))

  // CUBE grouping sets with GROUPING() metadata — all four (type × date)
  // rollup levels in one pass (Expand + single hash agg, not four scans).
  // The date renders as a string so super-aggregate NULLs canonicalize
  // identically on both sides (pandas None vs NaT dtype drift otherwise).
  def cubeCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("event_date", to_date(col("ts")))
      .cube(col("event_type"), col("event_date"))
      .agg(count(lit(1)).as("n"),
        grouping(col("event_type")).cast("long").as("g_type"),
        grouping(col("event_date")).cast("long").as("g_date"))
      .select(col("event_type"),
        date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("n"), col("g_type"), col("g_date"))

  // Backward as-of join (AsofJoin operator): each event picks the user's
  // most recent order at or before the event time. The right side is
  // pre-reduced to unique (custkey, orderdate) — max orderkey per date —
  // so the as-of pick is deterministic (DuckDB's ASOF JOIN makes the same
  // uniqueness assumption).
  def asofLastOrder(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).select("event_id", "user_id", "ts")
    val o = Tables.orders(s, dir)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max(col("o_orderkey")).as("o_orderkey"))
    graft.operators.AsofJoin.backward(e, o, "user_id", "o_custkey", "ts", "o_orderdate")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("o_orderkey"), col("o_orderdate"))
  }

  // Gap-based sessionization, batch form (Sessionize.batchSessions) —
  // relational twin of the flatMapGroupsWithState operator, 30-minute gap.
  def sessionizeBatch(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Sessionize.batchSessions(
      Tables.events(s, dir).select("event_id", "user_id", "ts", "event_type"))

  // Raw sketch tier — the approximate aggregates the exact queries
  // (q07/q32) deliberately avoid for oracle parity: HyperLogLog++
  // distinct counts and a quantile sketch. The ESTIMATES are
  // engine-specific by design (no SQL replay possible), so this
  // production shape is spec-pinned (SketchSpec error bounds at two
  // scales); q40's driver-checked form is [[sketchAggregates]]. At
  // 100 TB these replace exact distinct/median where a few % error buys
  // an order of magnitude less shuffle (the HLL buffer is KBs per group
  // vs the exact distinct's two-phase row expansion).
  def sketchEstimates(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_median_value"),
        count(lit(1)).as("n"))

  // q40 — CERTIFIED sketch aggregates, the hash-checkable form: exact
  // n / exact_users are independently replayed by the DuckDB oracle,
  // and the sketch estimates are folded into error CERTIFICATES the
  // oracle asserts TRUE —
  //  - users_ok: |HLL − exact| / exact ≤ 3·rsd (= 0.15, the SketchSpec
  //    3σ gate) against the SAME exact_users column the oracle verifies;
  //  - median_ok: the quantile sketch's returned data point has rank
  //    interval [count(<)/n, count(≤)/n] intersecting 0.5 ± 2/accuracy
  //    (the merged Greenwald-Khanna guarantee — a RANK check, because
  //    value-comparing an actual data point against interpolated exact
  //    percentiles fails even for a perfect sketch).
  // The estimates themselves stay engine-specific (see
  // [[sketchEstimates]]); what the driver now hash-checks is that the
  // sketches honor their error contracts against independently-verified
  // exact values. Two scans of events (the certificate needs the
  // estimate before it can rank it) — the certification query, not the
  // production one. The per-type aggregate is checkpoint-pinned: it
  // feeds both the ranks broadcast and the final join, and the
  // broadcast branch gets column-pruned to a percentile-only subtree
  // that no longer canonicalizes equal to the full one — without the
  // pin the plan scans events a THIRD time and runs the quantile
  // sketch twice. The pinned table is one row per event_type.
  def sketchAggregates(s: SparkSession, dir: String): DataFrame = {
    // scan spread (Tables.eventsSpread note): both certification scans
    // were 1-task stages; certificates are partition-robust by design
    val e = Tables.eventsSpread(s, dir)
    val agg = e.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      count_distinct(col("user_id")).as("exact_users"),
      approx_count_distinct(col("user_id")).as("approx_users"),
      percentile_approx(col("value"), lit(0.5), lit(1000)).as("am"))
      .pinned(true)
    val ranks = e.select(col("event_type"), col("value"))
      .join(broadcast(agg.select(col("event_type"), col("am"))), Seq("event_type"))
      .groupBy("event_type").agg(
        count(col("value")).as("nv"),
        sum(when(col("value") < col("am"), 1L).otherwise(0L)).as("lt"),
        sum(when(col("value") <= col("am"), 1L).otherwise(0L)).as("le"))
    val eps = 2.0 / 1000 // merged GK summaries guarantee 2ε = 2/accuracy
    agg.join(ranks, Seq("event_type"))
      .select(col("event_type"), col("n"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")).cast("double") /
          greatest(col("exact_users"), lit(1L)) <= 0.15).as("users_ok"),
        when(col("am").isNull, lit(true))
          .otherwise(col("lt").cast("double") / col("nv") <= 0.5 + eps &&
            col("le").cast("double") / col("nv") >= 0.5 - eps).as("median_ok"))
  }

  // Arbitrary GROUPING SETS — the grouping-set form neither ROLLUP (q21)
  // nor CUBE (q36) covers: two independent single-column groupings in one
  // pass (one Expand + one hash agg, not two scans + union). Per-column
  // GROUPING() flags (bit order of grouping_id() differs across engines);
  // the date renders as a string for NULL-canonicalization parity (q36).
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("events_v")
    s.sql(
      """SELECT event_type, date_format(event_date, 'yyyy-MM-dd') AS event_date, n, g_type, g_date
        |FROM (
        |  SELECT event_type, to_date(ts) AS event_date, count(*) AS n,
        |         CAST(grouping(event_type) AS BIGINT) AS g_type,
        |         CAST(grouping(to_date(ts)) AS BIGINT) AS g_date
        |  FROM events_v
        |  GROUP BY GROUPING SETS ((event_type), (to_date(ts)))) t""".stripMargin)
  }

  // Bucketized range join (RangeJoin operator): events land in overlapping
  // value bands [i·10, i·10+20) — a pure inequality join with no equi-key
  // (every event matches ~2 bands), planned as an equi-join on bucket id.
  // The oracle states the same join as a plain CROSS JOIN + WHERE, which
  // DuckDB's IEJoin handles at oracle scale.
  def rangeJoinBands(s: SparkSession, dir: String): DataFrame = {
    val bands = s.range(50).select(col("id").as("band_id"),
      (col("id") * 10.0).as("lo"), (col("id") * 10.0 + 20.0).as("hi"))
    val e = Tables.events(s, dir).select("event_id", "value")
    graft.operators.RangeJoin.pointInInterval(e, "value", bands, "lo", "hi",
        bucketWidth = 10.0)
      .select("event_id", "band_id", "value")
  }

  // Value-RANGE window frames + ntile/percent_rank — the window features
  // q20's ROWS frames don't touch. The RANGE frame is tie-insensitive by
  // construction (peers included), and ntile/percent_rank carry a total
  // order (price, orderkey), so results are deterministic. SQL form: the
  // DataFrame API's rangeBetween only takes long offsets, while the SQL
  // parser accepts the double-typed boundary this order column needs.
  def rangeWindow(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_orderkey, o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_totalprice
        |    RANGE BETWEEN 50000.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr
        |FROM orders_v
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin)
  }

  // Correlated scalar subquery through the SQL entry point (S4/S11) —
  // Catalyst decorrelates it into the same aggregate-join q30 writes by
  // hand. Decimal-exact per-customer average for oracle parity.
  def correlatedAboveAvg(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM orders_v o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
        |  FROM orders_v i WHERE i.o_custkey = o.o_custkey)""".stripMargin)
  }
}
