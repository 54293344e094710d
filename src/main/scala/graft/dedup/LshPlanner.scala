package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LSH banding planner — the DESIGN-time tool the audit tier (m85
  * recall, m99 precision, m98 calibration) measures AFTER the fact:
  * given a MinHash budget of H hashes and a target Jaccard threshold t,
  * choose the (bands, rows) split b·r = H whose S-curve
  * P(candidate | s) = 1 − (1 − s^r)^b best approximates the ideal step
  * at t. The standard objective (public practice, e.g. the datasketch
  * library's optimal-parameter search; the S-curve itself is the
  * classic MMDS/Broder construction) integrates the curve's
  * false-positive area below t and false-negative area above t and
  * minimizes their sum, each weighted 0.5.
  *
  * Both integrals are midpoint-rule sums over a FIXED 200-point grid —
  * a plan-literal bounded array folded in index order, so the card is
  * deterministic and the DuckDB replay agrees (pow ulp noise vanishes
  * at the 6-dp gate, the m102 convention).
  *
  * Scale: there is no data — the card is a pure function of (H, t);
  * one codegen projection over |divisors(H)| rows, zero
  * exchanges beyond the trivial local window for the argmin flag. */
object LshPlanner {

  /** The MinHash budget H and the target Jaccard threshold t. */
  private val TotalHashes = 128
  private val Threshold = 0.8

  /** One row per (bands, rows) factorization of [[TotalHashes]]:
    * (bands, rows_per_band, fp_area, fn_area, cost, best). `best` marks
    * the cost argmin (ties to fewer bands). */
  def plan(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pairs = (1 to TotalHashes).filter(TotalHashes % _ == 0)
      .map(b => (b, TotalHashes / b))
    val df = pairs.toDF("bands", "rows_per_band")
    // Midpoint grid s_i = (i + 0.5)/200, folded in index order.
    val grid = transform(sequence(lit(0), lit(199)),
      i => (i.cast("double") + lit(0.5)) / lit(200.0))
    def pCand(s: Column): Column =
      lit(1.0) - pow(lit(1.0) - pow(s, col("rows_per_band").cast("double")),
        col("bands").cast("double"))
    val fp = aggregate(grid, lit(0.0), (acc, s) =>
      acc + when(s < lit(Threshold), pCand(s)).otherwise(lit(0.0))) * lit(0.005)
    val fn = aggregate(grid, lit(0.0), (acc, s) =>
      acc + when(s >= lit(Threshold), lit(1.0) - pCand(s)).otherwise(lit(0.0))) * lit(0.005)
    val scored = df.select(col("bands"), col("rows_per_band"),
      fp.as("fp_area"), fn.as("fn_area"),
      (lit(0.5) * fp + lit(0.5) * fn).as("cost"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cost"), col("bands"))
    scored.withColumn("best", row_number().over(w) === 1)
  }
}
