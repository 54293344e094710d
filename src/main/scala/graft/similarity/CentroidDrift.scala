package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group embedding-centroid drift card — each group's mean vector
  * compared to the corpus mean by cosine and euclidean distance. The
  * semantic sibling of the lexical drift cards (m55/m116): release-to-
  * release or source-to-source, the group whose centroid swings away
  * from the corpus mixture is the one whose upstream encoder, crawler
  * or preprocessing changed — standard embedding-drift monitoring
  * (centroid tracking is the textbook first moment; m78's outlier
  * report is the per-point view, this is the per-group view).
  *
  * Determinism: group and corpus centroids are double means (the
  * m49/m78 convention — ulp-level partition noise absorbed by the 6-dp
  * oracle gate, so this card is deliberately NOT in the
  * partition-invariance suite); every fold over dimensions runs on the
  * pos-sorted collected array (dim-bounded), so given the means the
  * cosine/distance arithmetic is order-pinned and replayable.
  *
  * Scale shape (100 TB): ONE corpus-sized exchange — the (group, pos)
  * partial sum/count aggregate (vectors posexplode map-side; the
  * exchange carries groups×dim summary rows per partition, never
  * vectors). The pinned summary feeds both the group centroids and the
  * corpus centroid (derived by re-aggregating the summary — no second
  * pass over vectors); everything after is (groups×dim)-bounded with
  * the dim-row corpus centroid broadcast. Zero collects.
  */
object CentroidDrift {

  /** (label, n_vecs, cos_to_global, dist_to_global) per group. Cosine is
    * null when either centroid has zero norm (the /0 → null contract);
    * a single-group corpus reports dist exactly 0.
    *
    * FIXED-DIMENSION CONTRACT: every vector in the input is assumed to
    * share one dimensionality (the embeddings-table invariant every
    * similarity operator here relies on). n_vecs is the count of vectors
    * with a 0th component — exact under the contract and for any ragged
    * input whose vectors are non-empty; per-dimension means over RAGGED
    * vectors would still average over differing denominators, which is a
    * caller error, not a supported mode. */
  def report(vectors: DataFrame): DataFrame = {
    val c = vectors
      .filter(col("label").isNotNull && col("vec").isNotNull)
      .select(col("label"), posexplode(col("vec")).as(Seq("pos", "val")))
    // The only corpus-sized aggregate, pinned: two consumers (group
    // centroids + corpus centroid) must not re-explode the vectors.
    val sums = graft.Snapshot.pin(
      c.groupBy("label", "pos")
        .agg(count(lit(1)).as("cnt"), sum("val").as("sv")),
      eager = true)
    val lbl = sums.select(col("label"), col("pos"), col("cnt"),
      (col("sv") / col("cnt").cast("double")).as("m"))
    val glob = sums.groupBy("pos")
      .agg((sum("sv") / sum("cnt").cast("double")).as("mg"))
    val joined = lbl.join(broadcast(glob), Seq("pos"))
      .groupBy("label")
      // count at pos = 0, not max over per-pos counts: the max is only
      // the vector count when all vectors share a length, and the fixed
      // dimension contract should not be what keeps the COUNT honest.
      .agg(max(when(col("pos") === 0, col("cnt"))).as("n_vecs"),
        collect_list(struct(col("pos"), col("m"), col("mg"))).as("bs"))
      .withColumn("bs", array_sort(col("bs")))
    def fold(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
      aggregate(col("bs"), lit(0.0), (acc, x) => acc + f(x.getField("m"), x.getField("mg")))
    val dot = fold((m, g) => m * g)
    val n2 = fold((m, _) => m * m)
    val g2 = fold((_, g) => g * g)
    val d2 = fold((m, g) => (m - g) * (m - g))
    joined.select(col("label"), col("n_vecs"),
      when(n2 > 0.0 && g2 > 0.0, dot / (sqrt(n2) * sqrt(g2)))
        .as("cos_to_global"),
      sqrt(d2).as("dist_to_global"))
  }
}
