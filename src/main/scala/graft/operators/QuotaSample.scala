package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group quota sampling: keep a deterministic cap of rows per group
  * (e.g. at most N documents per source/domain) — the standard
  * domain-balancing step when assembling a training mix.
  *
  * Determinism: rows are ranked inside each group by `md5(key)` (an
  * engine-portable uniform hash — identical hex in Spark and DuckDB,
  * unlike xxhash64) with the raw key as tie-break, so the selected sample
  * is a pure function of the data — stable across runs, partitionings,
  * and engines.
  *
  * Scale shape: the naive plan is one window (shuffle ALL rows by group,
  * sort, row_number, filter) — at 100 TB that shuffles the full corpus to
  * keep a few thousand rows per group. This implementation prunes first:
  * a per-partition bounded heap keeps at most `cap` candidates per group
  * per input partition (memory: groups-in-partition × cap keys, no text
  * carried), so the shuffle moves at most cap × partitions rows per group
  * instead of the whole group. The exact ranking then runs over that
  * skeleton — same answer as the naive plan (the global top-cap of a
  * group is contained in the union of its per-partition top-caps), with
  * the full-width payload joined back only for the winners.
  *
  * Per-group ranks (both the skeleton rank here and the data-dependent
  * target rank in [[temperatureRebalance]]) come from
  * [[GroupedRanks]] since round 16 — the round-15 Zipf fixture
  * (head:tail 102:1) proved a `Window.partitionBy(group)` funnels the
  * head group's whole stratum through one sort task (the m87 cliff,
  * fixed by the range-partitioned rank, m134); outputs are byte-
  * identical to the window form (QuotaSampleSpec/TemperatureMixSpec pin
  * it) because ranks are a pure function of the (md5, key) total order.
  */
object QuotaSample {

  /** At most `cap` rows per `groupCol`, deterministically chosen; output is
    * (keyCol, groupCol, rk) with rk in [1, cap]. `keyCol` must be unique
    * per row (a document/primary id). */
  def quotaSample(df: DataFrame, groupCol: String, keyCol: String,
                  cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    val spark = df.sparkSession
    import spark.implicits._

    val narrowed = df
      .select(col(groupCol).cast("string").as("grp"),
        col(keyCol).cast("long").as("key"),
        md5(col(keyCol).cast("string").cast("binary")).as("ord"))
      .as[(String, Long, String)]

    // Partial prune: per-partition, per-group bounded max-heap on
    // (ord, key) keeps the cap smallest candidates. Ordering matches the
    // window's ORDER BY ord, key exactly.
    val pruned = narrowed.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.PriorityQueue[(String, Long)]]
      val byOrdKey = Ordering.Tuple2(Ordering.String, Ordering.Long)
      it.foreach { case (grp, key, ord) =>
        val h = heaps.getOrElseUpdate(grp,
          scala.collection.mutable.PriorityQueue.empty[(String, Long)](byOrdKey))
        if (h.size < cap) h.enqueue((ord, key))
        else if (byOrdKey.lt((ord, key), h.head)) { h.dequeue(); h.enqueue((ord, key)) }
      }
      heaps.iterator.flatMap { case (grp, h) =>
        h.iterator.map { case (ord, key) => (grp, key, ord) }
      }
    }

    // Exact final ranking over the pruned skeleton (≤ cap × partitions
    // rows per group — bounded, but at warehouse partition counts still
    // worth the range-partitioned rank: no single task owns a group).
    GroupedRanks.withRankAndCount(pruned.toDF("grp", "key", "ord"),
        "grp", Seq(col("ord"), col("key")),
        rankCol = "__qs_rk", countCol = "__qs_n")
      .filter(col("__qs_rk") < cap.toLong)
      .select(col("key").as(keyCol), col("grp").as(groupCol),
        (col("__qs_rk") + 1L).as("rk"))
  }

  /** Temperature-smoothed source rebalance — the mix-building step between
    * m21's hard cap and no cap at all: instead of truncating every group to
    * a fixed quota, each group's target interpolates geometrically between
    * its own size and the smallest group's (`target = ⌈√(n_g · min_n)⌉`,
    * the T=2 point of the standard `n^(1/T)` temperature-sampling family).
    * Large sources are downsampled toward the floor, small sources kept
    * whole — the corpus mix flattens without starving any group.
    *
    * Determinism: targets derive from group counts via IEEE sqrt/ceil
    * (correctly rounded, engine-portable — deliberately NOT pow, whose
    * libm rounding varies); selection is rank-by-md5 as in [[quotaSample]].
    *
    * Scale shape: the heap prune does not apply (targets are
    * data-dependent, not a small constant), so EVERY key ranks — which
    * is exactly where the per-group window cliff bites under a Zipf mix
    * and why the rank is the range-partitioned [[GroupedRanks]] pass:
    * one range exchange of (group, key, md5) triples (never payloads),
    * no task owns a whole group, and the per-group counts the targets
    * need come out of the same pass (the separate groupBy-count
    * exchange of the window form is gone). The target table is |groups|
    * rows and broadcast. */
  /** `⌈√(n · min_n)⌉` as a long. Each operand is cast to double BEFORE the
    * multiply: two ~1e10 group counts overflow long×long (>9.2e18) at
    * exactly the warehouse scale this targets — ANSI mode would kill the
    * job, non-ANSI would silently produce a garbage target. double×double
    * just loses ulps that sqrt's rounding ignores anyway. */
  private[operators] def temperatureTarget(n: Column, minN: Column): Column =
    ceil(sqrt(n.cast("double") * minN.cast("double"))).cast("long")

  def temperatureRebalance(df: DataFrame, groupCol: String): DataFrame = {
    // Group key cast to string ONCE here — the ranked frame feeds both
    // the target derivation and the selection, so the join keys are
    // built the same way by construction.
    val ranked = GroupedRanks.withRankAndCount(
      df.select(col(groupCol).cast("string").as("grp"),
        col("doc_id").cast("long").as("key"),
        md5(col("doc_id").cast("string").cast("binary")).as("ord")),
      "grp", Seq(col("ord"), col("key")),
      rankCol = "__qs_rk", countCol = "__qs_n")
    // Per-group counts come off the rank pass's n column: the distinct
    // still reads one (grp, n) pair per INPUT row (partial-aggregated,
    // |groups|-sized output) — the win over the window form's separate
    // groupBy-count is that it re-reads the pinned ranged snapshot
    // instead of re-projecting (and re-hashing) the source frame, not
    // that the exchange disappears.
    val counts = ranked.select(col("grp"), col("__qs_n").as("n")).distinct()
    val minN = counts.agg(min(col("n")).as("min_n"))
    val targets = counts.crossJoin(broadcast(minN))
      .select(col("grp"), temperatureTarget(col("n"), col("min_n")).as("target"))
    ranked
      .join(broadcast(targets), Seq("grp"))
      .filter(col("__qs_rk") < col("target")) // 0-based rk < target ≡ rank ≤ target
      .select(col("key").as("doc_id"), col("grp").as(groupCol),
        (col("__qs_rk") + 1L).as("rk"), col("target"))
  }

  /** Token-budget variant over (doc_id, source, n_tokens) rows: keep rows
    * per source, in the same deterministic md5(doc_id) order, while the
    * tokens accumulated BEFORE a row stay under
    * `budget` — so each group lands within one document of its target mix
    * weight, and a group whose first document exceeds the budget still
    * contributes that one document (never silently empty).
    *
    * Scale: one window per group on (weight-long, key) rows — the
    * heap-prune trick doesn't apply (the cut depends on a running SUM,
    * not a row count), but the exchange carries (group, key, weight)
    * triples only, never document payloads. A group's rows must fit one
    * task's sort — true by construction when budgets are per-source mix
    * targets (docs ≫ budget get cut by the very window being computed, so
    * pre-filtering on weight < budget bounds the sort input when needed). */
  def tokenBudgetSample(df: DataFrame, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)).cast("long"))
      .filter(col("cum_before") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens").cast("long").as("n_tokens"),
        col("cum_before"))
  }
}
