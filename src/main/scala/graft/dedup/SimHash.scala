package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection: 64-bit locality-sensitive fingerprint
  * per document; near-dups are pairs within a small Hamming distance.
  *
  * The signature is one compact Scala UDF (per-row, no state); candidate
  * generation is native: the 64-bit simhash is split into 4 16-bit chunks,
  * and by pigeonhole any pair with Hamming distance ≤ 3 agrees on at least
  * one chunk — so an equi-join per chunk finds all such pairs without a
  * cross join. Hamming verification is codegen'd `bit_count(a XOR b)`.
  *
  * Scale: one shuffle on (chunk_idx, chunk_value) — uniform 16-bit keys —
  * carrying only doc_ids; the 64-bit signatures rejoin by doc_id for the
  * Hamming verify. `bucketCap` drops pathological chunk buckets (e.g. all
  * null/empty texts hash to simhash 0 and would otherwise self-join
  * quadratically) without ever materializing them (capped aggregation
  * buffer), the same recall trade [[MinHashLSH.candidatePairs]] makes.
  */
object SimHash {

  /** 64-bit simhash over whitespace tokens (term-frequency weighted). */
  val simhash64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { text: String =>
      if (text == null) 0L
      else {
        val acc = new Array[Int](64)
        text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty).foreach { tok =>
          // Deterministic 64-bit token hash (char-variant FNV-1a).
          val h = graft.functions.Fnv.chars(tok)
          var b = 0
          while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
        }
        var sig = 0L
        var b = 0
        while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
        sig
      }
    }

  def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhash64(col("text")).as("simhash"))

  private def chunk(sim: Column, idx: Int): Column =
    shiftrightunsigned(sim, idx * 16).bitwiseAND(lit(0xFFFFL))

  /** Pairs (doc_a < doc_b) with Hamming distance ≤ maxDist (≤ 3 for full
    * recall with 4 chunks; larger maxDist trades recall as usual).
    * Buckets larger than `bucketCap` are dropped (recall trade, see class
    * doc), and the cap also bounds the aggregation BUFFER (cappedIdSigs
    * stops at cap+1), so the all-empty-texts bucket at chunk value 0
    * never materializes.
    *
    * The bucket list carries (doc_id, signature) pairs, so Hamming
    * verification runs INSIDE the bucket expansion and only verified
    * survivors are deduplicated. The earlier shape distinct()ed the full
    * candidate set and re-joined signatures twice — on a chunk-saturated
    * corpus (small vocabulary → every 16-bit chunk bucket near the cap)
    * that exchanged the O(bucket²) candidate volume three times; the
    * sf1 scale run measured it at 57× the base shuffle for 10× the rows.
    * Now the only exchanges are the bucket build (16 B/entry) and the
    * tiny survivor distinct; a pair sharing several chunks is verified
    * up to 4× redundantly, which is a bit_count each — CPU traded for
    * the candidate shuffle. */
  def nearDuplicates(docs: DataFrame, maxDist: Int = 3,
                     bucketCap: Int = 1000): DataFrame =
    nearDuplicatesFromSigs(signatures(docs), maxDist, bucketCap)

  /** The chunk-bucket + in-bucket Hamming-verify chain over ANY 64-bit
    * signature column (doc_id, simhash) — shared by the token simhash
    * path above and the perceptual-hash path
    * ([[graft.multimodal.Multimodal.dHashes]], m120): the pairing
    * machinery is signature-agnostic, only the fingerprint changes. */
  def nearDuplicatesFromSigs(sigs: DataFrame, maxDist: Int = 3,
                             bucketCap: Int = 1000): DataFrame = {
    val chunked = sigs.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i => chunk(col("simhash"), i)): _*))
        .as(Seq("chunk_idx", "chunk_val")))
    val capped = chunked
      .groupBy("chunk_idx", "chunk_val")
      .agg(graft.functions.CappedCollect
        .cappedIdSigs(bucketCap)(col("doc_id"), col("simhash")).as("ms"))
      .filter(col("ms").isNotNull && size(col("ms")) >= 2)
    capped
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }
}
