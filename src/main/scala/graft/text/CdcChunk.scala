package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-defined chunking: chunk boundaries are decided by the CONTENT
  * (a token whose hash lands in the boundary class starts a new chunk),
  * not by position — so an insertion or deletion only perturbs the chunk
  * it lands in, and every later chunk re-aligns byte-identically. That is
  * the property chunk-level dedup needs (fixed sliding windows shift ALL
  * downstream chunks after one edit; see the robustness spec), and the
  * token-level analogue of Rabin/CDC file chunking.
  *
  * Boundary rule, engine-portable: first hex nibble of md5(token) ∈
  * {0, 1} — probability 1/8, so expected chunk length is 8 tokens —
  * replayed verbatim by the DuckDB oracle via substr(md5(tok), 1, 1).
  *
  * Scale shape: one compiled pass per document (UDF → explode), no
  * shuffle; output rows ≈ n_tokens / 8 per doc. Empty/whitespace-only
  * docs yield no chunks (the corpus-wide empty-content policy). */
object CdcChunk {

  final case class Piece(chunk_idx: Long, chunk_text: String, n_tokens: Long)

  private def isBoundary(md: java.security.MessageDigest, tok: String): Boolean = {
    md.reset()
    val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (d(0) & 0xff) < 0x20 // first hex char '0' or '1'
  }

  private lazy val cdcUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      val lower = text.toLowerCase(java.util.Locale.ROOT)
      var s = 0; var e = lower.length
      while (s < e && lower.charAt(s) == ' ') s += 1
      while (e > s && lower.charAt(e - 1) == ' ') e -= 1
      val toks = lower.substring(s, e).split(" +", -1)
      val md = java.security.MessageDigest.getInstance("MD5")
      val out = scala.collection.mutable.ArrayBuffer.empty[Piece]
      val cur = new java.lang.StringBuilder
      var curN = 0L
      var idx = 0L
      var i = 0
      while (i < toks.length) {
        // A boundary token STARTS a new chunk (never an empty leading one).
        if (i > 0 && isBoundary(md, toks(i))) {
          out += Piece(idx, cur.toString, curN)
          idx += 1; cur.setLength(0); curN = 0
        }
        if (curN > 0) cur.append(' ')
        cur.append(toks(i))
        curN += 1
        i += 1
      }
      if (curN > 0) out += Piece(idx, cur.toString, curN)
      out.toSeq
    }

  /** (doc_id, chunk_idx, chunk_text, n_tokens) per content-defined chunk. */
  def chunks(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull && trim(col("text")) =!= "")
      .select(col("doc_id"), explode(cdcUdf(col("text"))).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk_text").as("chunk_text"), col("c.n_tokens").as("n_tokens"))
}
