package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** Cross-source overlap matrix (m60): for every pair of sources, how much
  * of their distinct word-shingle mass is shared — the corpus-level dial
  * that exposes mirror sites, syndicated feeds, and one crawl ingested
  * twice under two names. Document-level dedup ([[MinHashLSH]], m17's
  * clusters) answers "which docs collide"; this answers "which SOURCES
  * are secretly the same corpus", which is what you read before deciding
  * whether a whole source should be dropped or down-weighted in the mix.
  *
  * Shingles are [[NgramJaccard.forEachWordShingle]]'s walk (the ONE
  * shared tokenization, hashed 64-bit FNV) — identical counts to the
  * oracle's string-shingle replay up to 2^-64 collisions, the m14/m25
  * argument.
  *
  * Scale shape (100 TB):
  *  - the corpus is scanned ONCE: the shingle walk feeds a single
  *    groupBy(gram) whose partial collect_set dedups (source, gram)
  *    map-side, so the only corpus-sized exchange carries 8-byte hashes
  *    with the per-partition source sets already collapsed (a gram's set
  *    is bounded by n_sources, not by its occurrence count);
  *  - everything downstream of that exchange is gram-sized, not
  *    corpus-sized: per-source totals fall out of exploding the source
  *    sets (map-side partial count → n_sources rows), and pair counts
  *    come from expanding each set's C(k,2) ≤ C(n_sources,2)
  *    combinations — the join-free replacement for the earlier self-join
  *    on gram, which paid the shingle walk and the gram exchange for
  *    BOTH join sides plus the count pass (three corpus reads; this
  *    shape pays one);
  *  - the per-source totals table is source-sized and BROADCAST into the
  *    final enrich joins.
  */
object SourceOverlap {

  /** (source_a, source_b, grams_a, grams_b, n_shared, jaccard) for every
    * source pair sharing ≥1 distinct word 3-shingle; source_a < source_b.
    * jaccard = |A∩B| / |A∪B| over the distinct-shingle sets. */
  def overlapMatrix(docs: DataFrame): DataFrame = {
    // One corpus pass: gram → sorted distinct source set. Pinned so the
    // totals and pair expansions below don't re-run the shingle walk.
    // Null sources are excluded EXPLICITLY: collect_set would silently
    // drop them from the gram sets anyway (so they could never appear in
    // a pair), but without this filter the per-source totals would also
    // silently lose the null slice — make the exclusion a stated
    // contract, not a side effect of collect_set's null handling.
    val bySources = docs
      .filter(col("source").isNotNull)
      .select(col("source"),
        explode(NgramJaccard.wordShingleHashSet(col("text"), lit(3))).as("gram"))
      .groupBy("gram")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .select("ss")
      .pinned(true)
    val counts = bySources
      .select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    // Each gram contributes one hit to every ordered source pair in its
    // set: explode the C(k,2) combinations (k ≤ n_sources) and count.
    val pairs = bySources
      .filter(size(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), (a, i) =>
        transform(slice(col("ss"), i + 2, size(col("ss"))), b =>
          struct(a.as("source_a"), b.as("source_b")))))).as("p"))
      .groupBy(col("p.source_a").as("source_a"), col("p.source_b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n").as("grams_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n").as("grams_b"))), Seq("source_b"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("grams_a") + col("grams_b") - col("n_shared")).cast("double"))
      .select("source_a", "source_b", "grams_a", "grams_b", "n_shared", "jaccard")
  }
}
