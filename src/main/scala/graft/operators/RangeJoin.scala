package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucketized range join — the second time-series/interval operator Spark
  * lacks (next to [[AsofJoin]]): `left.point ∈ [right.lo, right.hi)`
  * without an equi-key plans as BroadcastNestedLoopJoin or a cartesian
  * product, which dies at scale. Bucketizing turns it into an EQUI join:
  * each right interval explodes to the fixed-width buckets it overlaps,
  * each left point hashes to its one bucket, and the join on bucket id is
  * a plain shuffled hash join followed by the exact interval filter.
  *
  * Cost model: right side inflates by ≈ (interval length / bucketWidth)+1
  * rows; candidate pairs per left row are bounded by the intervals
  * actually overlapping its bucket. Pick bucketWidth near the typical
  * interval length — the standard range-join optimization trade (a too
  * small width inflates the build side; too large degrades toward
  * all-pairs within a bucket).
  *
  * Intervals are half-open [lo, hi) and rows with null point/bounds drop,
  * matching SQL inequality-join semantics (NULL comparisons are never
  * true). Left/right column names must be disjoint (as in [[AsofJoin]]).
  */
object RangeJoin {

  /** The per-interval bucket bound: a wider interval raises an error. */
  private val MaxBucketsPerInterval = 1000000L

  def pointInInterval(left: DataFrame, pointCol: String,
                      right: DataFrame, loCol: String, hiCol: String,
                      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0 && !bucketWidth.isInfinite, "bucketWidth must be positive and finite")
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    require(overlap.isEmpty,
      s"range-join sides must not share column names, got: ${overlap.mkString(", ")}")
    require(!(left.columns ++ right.columns).contains("__bucket"),
      "range join reserves the internal column name __bucket")
    val l = left.withColumn("__bucket",
      floor(col(pointCol) / bucketWidth).cast("long"))
    // Fail FAST on intervals that would explode into absurd bucket counts
    // (hi = +inf, or hi−lo ≫ bucketWidth from a mis-picked width): the
    // sequence() would otherwise build the giant array per row and die
    // mid-job with an opaque executor error. The guard is folded INTO the
    // bucket expression (a dropped assert column would be pruned as dead
    // code), so it evaluates exactly when the sequence would.
    // The span check runs on the raw DOUBLE ratios, BEFORE any floor:
    // Spark's floor(double) returns a saturating BIGINT (floor(+inf) =
    // Long.MaxValue, floor(NaN) = 0), so a long-typed `ub - lb` check
    // ANSI-overflows on hi=+inf with a negative lb — an opaque
    // ArithmeticException instead of this message. In double arithmetic
    // hi=+inf / lo=-inf make the span +inf and NaN makes it NaN; both
    // fail the `<` and raise. The magnitude bound routes huge-but-finite
    // bounds (whose floor would silently saturate) here too.
    val lbRatio = col(loCol).cast("double") / bucketWidth
    val ubRatio = col(hiCol).cast("double") / bucketWidth
    val spanOk = (ubRatio - lbRatio < lit(MaxBucketsPerInterval.toDouble)) &&
      abs(lbRatio) < lit(4.0e18) && abs(ubRatio) < lit(4.0e18)
    val raiseExpr = raise_error(concat(
      lit(s"range-join interval spans >= $MaxBucketsPerInterval buckets of width $bucketWidth: ["),
      col(loCol), lit(", "), col(hiCol),
      lit(") — raise bucketWidth")))
    val lb = when(spanOk, floor(lbRatio)).otherwise(raiseExpr).cast("long")
    val ub = when(spanOk, floor(ubRatio)).otherwise(raiseExpr).cast("long")
    val r = right
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull && col(loCol) <= col(hiCol))
      .withColumn("__bucket", explode(sequence(lb, ub)))
    l.join(r, Seq("__bucket"))
      .filter(col(pointCol) >= col(loCol) && col(pointCol) < col(hiCol))
      .drop("__bucket")
  }
}
