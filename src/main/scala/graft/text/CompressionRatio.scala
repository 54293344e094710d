package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deflate compression ratio (m71) — the zero-model quality heuristic the
  * big crawl pipelines (CCNet, RedPajama, Gopher rules) all carry: text
  * that compresses too WELL is repetitive boilerplate/spam (low entropy),
  * text that barely compresses is often binary junk or encoding noise —
  * natural prose sits in a recognizable band. One number per document,
  * no vocabulary, no model, robust across languages.
  *
  * Runs as mapPartitions with ONE Deflater reused (reset) per row — the
  * zlib context allocation amortizes across a partition instead of
  * paying per document. A Scala UDF would also allocate per call; this
  * is the [[graft.multimodal.Multimodal]] codec pattern.
  *
  * Scale shape (100 TB): a pure per-row map — no shuffle, no state, and
  * the output is 3 numbers per doc. The deflate pass is CPU-bound at
  * ~100 MB/s/core, which is why it rides the same scan as the other
  * per-doc features rather than a separate pass in production.
  *
  * No oracle by design: DuckDB has no deflate; CompressionRatioSpec pins
  * the ordering invariant (repetitive ≪ natural), byte accounting, the
  * empty-doc contract and run-to-run determinism (fixed level, fixed
  * strategy, reset per row).
  */
object CompressionRatio {

  /** (doc_id, n_raw_bytes, n_deflated_bytes, compression_ratio) with
    * ratio = deflated/raw at deflate level 6 (empty docs report ratio
    * 1.0). */
  def ratios(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text").as("t")).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6, false)
        val buf = new Array[Byte](1 << 16)
        val mapped = it.map { case (id, text) =>
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          val ratio = if (raw.length == 0) 1.0 else n.toDouble / raw.length
          (id, raw.length.toLong, n, ratio)
        }
        // end() the deflater when the partition is exhausted — its native
        // zlib buffers are off-heap and otherwise live until finalization,
        // which accumulates on long-lived executors.
        new Iterator[(Long, Long, Long, Double)] {
          private var ended = false
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h && !ended) { deflater.end(); ended = true }
            h
          }
          def next(): (Long, Long, Long, Double) = mapped.next()
        }
      }
      .toDF("doc_id", "n_raw_bytes", "n_deflated_bytes", "compression_ratio")
  }
}
