package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared word-frequency sufficient-statistic builder for the tokenizer
  * trainers ([[Bpe.trainDistributed]], [[UnigramLm.train]]) — ONE
  * implementation of the corpus contract both depend on, so the
  * tokenization, the count-bound cap and the no-silent-caps drop report
  * can never drift apart between the two families (review r15).
  *
  * The table is the corpus tokenized by the house rule
  * (`split(lower(trim(text)), " +")`, empties dropped), aggregated to
  * (word, count) — a vocabulary-bounded exchange after map-side
  * partials; the corpus is touched exactly once. It is PERSISTED for
  * the duration of `body` so extra vocabulary-bounded derivations
  * (UnigramLm's required-char closure, the cap report) never re-scan
  * the corpus.
  */
private[text] object WordTables {

  /** The production word-table cap of every tokenizer trainer. */
  val MaxWords: Int = 1 << 16

  /** Run `body` with (the persisted UNCAPPED word-frequency frame, the
    * collected top-`maxWords` rows in (count desc, word asc) order —
    * uncapped when `maxWords` ≤ 0). When the cap binds, reports the
    * dropped vocabulary size and frequency mass to stderr under `tag`
    * before `body` runs. */
  def withCapped[T](docs: DataFrame, maxWords: Int,
                    tag: String)
                   (body: (DataFrame, Array[(String, Long)]) => T): T = {
    val wf = docs.filter(col("text").isNotNull)
      .select(explode(split(lower(trim(col("text"))), " +")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("f"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val capped =
        if (maxWords > 0) wf.orderBy(col("f").desc, col("w").asc).limit(maxWords)
        else wf
      val table = capped.collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // No-silent-caps rule: exactly maxWords rows collected is the only
      // way the limit can have dropped anything — then pay one aggregate
      // over the CACHED vocab-bounded table to say what the Zipf tail it
      // cut amounted to. Cap not binding costs nothing extra.
      if (maxWords > 0 && table.length == maxWords) {
        val t = wf.agg(count(lit(1)).as("v"), sum(col("f")).as("m")).head()
        val (vocab, mass) = (t.getLong(0), t.getLong(1))
        val kept = table.iterator.map(_._2).sum
        if (vocab > maxWords)
          System.err.println(
            s"[$tag] maxWords=$maxWords bound: dropped ${vocab - maxWords} " +
              s"of $vocab vocabulary words (${mass - kept} of $mass " +
              f"occurrences, ${(mass - kept).toDouble / mass * 100}%.3f%% of word mass)")
      }
      body(wf, table)
    } finally { wf.unpersist(blocking = false); () }
  }
}
