package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Salted join for skewed keys (DESIGN.md §3).
  *
  * AQE's skew-join splitting handles most cases at runtime; salting is the
  * explicit fallback for joins AQE can't split (e.g. a broadcast-ineligible
  * dimension with one viral key, or aggregations feeding the join). The
  * classic recipe: the skewed (large) side gets a random salt in [0, n);
  * the small side is replicated n times with every salt value; the join key
  * becomes (key, salt). Each hot key's rows now spread over n tasks.
  *
  * The salt is `pmod(hash(monotonically_increasing_id()), n)` —
  * deterministic per run layout but uniformly spread, and crucially not
  * derived from the join key (that would re-concentrate the hot key).
  */
object SkewJoin {

  private val SaltCol = "__salt"

  /** Inner equi-join `large ⋈ small` on `keys`, salted `n` ways. Result
    * columns = the usual join output (salt dropped). */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
                 n: Int, joinType: String = "inner"): DataFrame = {
    require(n > 0, "salt fan-out must be positive")
    // Right/full outer would duplicate unmatched small-side rows once per
    // salt replica — only join types that never preserve unmatched
    // replicated rows are safe with this construction.
    val safe = Set("inner", "left", "left_outer", "leftouter",
      "left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti")
    require(safe.contains(joinType.toLowerCase),
      s"saltedJoin does not support join type '$joinType': unmatched " +
        "replicated small-side rows would appear once per salt")
    val salted = large.withColumn(SaltCol,
      pmod(hash(monotonically_increasing_id()), lit(n)))
    val replicated = small.withColumn(SaltCol,
      explode(array((0 until n).map(i => lit(i)): _*)))
    salted.join(replicated, keys :+ SaltCol, joinType).drop(SaltCol)
  }

  /** Two-phase (partial → final) aggregation for a skewed group-by count:
    * group on (key, salt in [0, 8)) first so one hot key is pre-reduced
    * by 8 tasks,
    * then re-aggregate on the key alone. Spark's own partial aggregation
    * already does this per-partition; explicit salting helps when the
    * per-partition cardinality is too high for map-side combine to bite. */
  def saltedCount(df: DataFrame, key: Column): DataFrame =
    df.groupBy(key.as("k"), pmod(hash(monotonically_increasing_id()), lit(8)).as(SaltCol))
      .agg(count(lit(1)).as("partial"))
      .groupBy(col("k"))
      .agg(sum("partial").as("n"))
}
