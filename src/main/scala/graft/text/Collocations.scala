package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PMI collocations (m58): pointwise mutual information over adjacent
  * token bigrams — the statistic that separates genuine collocations
  * ("palo alto") from merely-frequent pairs ("of the"), and the standard
  * first pass when mining a corpus for multi-word vocabulary entries or
  * tokenizer merge candidates. m22's raw top-bigram counts rank by
  * frequency; PMI normalizes by the unigram marginals:
  * pmi(x,y) = ln( P(x,y) / (P(x)·P(y)) ) = ln( c_xy·N / (c_x·c_y) ).
  *
  * Scale shape (100 TB):
  *  - bigram generation is a per-document projection (zip_with over the
  *    token array — no posexplode self-join), and counts partial-agg
  *    map-side, so the only big exchange carries (w1, w2, partial count),
  *    never text;
  *  - the unigram marginal joins are left to AQE: vocabulary-sized is
  *    small for a curated corpus (broadcast) but NOT for a raw crawl
  *    (misspellings/URLs/ids) — no forced hint either way;
  *  - the bigram-mass total N is a 1-row broadcast cross join;
  *  - `minCount` prunes the long singleton tail BEFORE the marginal
  *    joins, which is what bounds the output at corpus scale.
  *
  * The PMI expression is association-identical to the DuckDB oracle
  * (c_xy·N first, marginal product second, one ln), so both engines run
  * the same IEEE expression tree over identical integer counts.
  */
object Collocations {

  /** (w1, w2, c_xy, c_x, c_y, pmi) for all adjacent-token bigrams with
    * c_xy ≥ minCount. Unigram counts include every token (document-final
    * tokens too) — the textbook marginal, mirrored by the oracle. */
  def pmiBigrams(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    require(minCount >= 1, "minCount must be >= 1")
    val toks = docs.filter(col("text").isNotNull)
      .select(split(lower(trim(col("text"))), " +").as("t"))
    val bigrams = toks.select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val unigrams = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nBigrams = toks
      .select((greatest(size(col("t")) - 1, lit(0))).cast("long").as("nb"))
      .agg(sum(col("nb")).cast("double").as("nb"))
    // No forced broadcast on the marginals: the unigram table is
    // vocabulary-sized, and a 100 TB crawl's vocabulary (misspellings,
    // URLs, ids) is NOT small — AQE broadcasts when runtime stats allow
    // and falls back to a shuffled join when they don't (the LineDedup
    // lesson: a forced hint here would OOM the driver).
    bigrams
      .join(unigrams.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(unigrams.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(nBigrams))
      .withColumn("pmi",
        log(col("c_xy").cast("double") * col("nb") /
          (col("c_x").cast("double") * col("c_y").cast("double"))))
      .select("w1", "w2", "c_xy", "c_x", "c_y", "pmi")
  }
}
