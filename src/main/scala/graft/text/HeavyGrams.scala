package graft.text

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Corpus-wide heavy-hitter word n-grams — the "which boilerplate
  * phrases are over-represented" curation diagnostic (license headers,
  * nav bars, templated passages show up here long before any dedup
  * pass), via the Misra–Gries frequent-items summary (Misra & Gries
  * 1982; merge rule from Agarwal et al. 2012 "Mergeable Summaries" —
  * public literature).
  *
  * The q40 certified-sketch recipe: the SKETCH only proposes, an EXACT
  * pass disposes. Per-partition MG summaries (capacity k) merge on the
  * driver — the merged summary provably contains every gram with true
  * count > N/(k+1) whatever the partitioning or merge order — then one
  * broadcast semi-join recounts the ≤k candidates EXACTLY and keeps
  * those at or above the threshold floor(N/(k+1)) + 1. The output is
  * therefore a pure function of the corpus (the superset guarantee
  * makes sketch-internal nondeterminism unobservable), deterministic
  * under any partitioning (PartitionInvarianceSpec) and exactly
  * replayable in SQL (the oracle recomputes the same thresholded set
  * with no sketch at all).
  *
  * Scale shape: one projection explodes grams; per-partition summaries
  * are k-bounded (k ≤ 1000 entries of gram text — the ONLY place gram
  * strings leave a task, 32 summaries × k rows, driver-side); the exact
  * recount broadcasts the candidate set and partial-aggregates below
  * its single exchange. No corpus-sized collect anywhere.
  */
object HeavyGrams {

  private type Summary = scala.collection.mutable.HashMap[String, Long]

  /** Classic MG update: amortized O(1) — every decrement-all is paid
    * for by k prior increments. */
  private def update(m: Summary, g: String, k: Int): Unit = {
    m.get(g) match {
      case Some(c) => m(g) = c + 1
      case None if m.size < k => m(g) = 1L
      case None =>
        val dead = scala.collection.mutable.ArrayBuffer.empty[String]
        m.mapValuesInPlace((_, v) => v - 1)
        m.foreach { case (key, v) => if (v <= 0) dead += key }
        dead.foreach(m.remove)
    }
  }

  /** Mergeable-summaries combine: add counters; if over capacity,
    * subtract the (k+1)-th largest value from all and drop ≤ 0. The
    * merged error stays ≤ N/(k+1). */
  private def merge(a: Summary, b: Summary, k: Int): Summary = {
    b.foreach { case (g, c) => a(g) = a.getOrElse(g, 0L) + c }
    if (a.size > k) {
      val cut = a.values.toArray.sorted(Ordering[Long].reverse).apply(k)
      val dead = scala.collection.mutable.ArrayBuffer.empty[String]
      a.mapValuesInPlace((_, v) => v - cut)
      a.foreach { case (key, v) => if (v <= 0) dead += key }
      dead.foreach(a.remove)
    }
    a
  }

  /** (gram, n, total_grams, threshold) — every word 3-gram whose EXACT
    * corpus count reaches floor(N/(k+1)) + 1, where N is the total gram
    * occurrence count. Tokenization is the corpus contract
    * ([[TextOps.tokens]]); docs shorter than 3 words contribute nothing. */
  def heavyGrams(docs: DataFrame, k: Int = 1000): DataFrame = {
    val w = 3
    val spark = docs.sparkSession
    import spark.implicits._
    val t = TextOps.tokens(col("text"))
    val grams: Dataset[String] = docs.filter(col("text").isNotNull)
      .select(t.as("t"))
      .select(explode(when(size(col("t")) >= w,
        transform(sequence(lit(1), size(col("t")) - w + 1),
          i => array_join(slice(col("t"), i, lit(w)), " ")))
        .otherwise(array().cast("array<string>"))).as("gram"))
      .as[String]
    val kB = k
    // ≤ numPartitions summaries of ≤ k entries each — driver merge is
    // (partitions × k)-bounded, never corpus-bounded
    val partials = grams.mapPartitions { it =>
      val m = new Summary
      it.foreach(update(m, _, kB))
      Iterator.single(m.toSeq)
    }.collect()
    val merged = partials.foldLeft(new Summary) { (acc, s) =>
      val other = new Summary; other ++= s
      merge(acc, other, kB)
    }
    val candidates = merged.keys.toSeq.sorted.toDF("gram")
    val totals = grams.groupBy().agg(count(lit(1)).as("total_grams"))
    // exact recount of the bounded candidate set: the semi-join
    // broadcasts, the count partial-aggregates below its one exchange
    grams.toDF("gram")
      .join(broadcast(candidates), Seq("gram"), "left_semi")
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(totals))
      .withColumn("threshold",
        (floor(col("total_grams") / (kB + 1)) + 1).cast("long"))
      .filter(col("n") >= col("threshold"))
  }
}
