package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PII redaction — regex masking of emails, IPv4 addresses, and phone
  * numbers, the standard scrubbing pass before corpus text reaches a
  * training shard.
  *
  * Scale shape: pure per-row projection (three codegen'd regexp_replace
  * passes + three regexp_count), no shuffle — scan-bound at any scale.
  * The match counts ride along so a downstream audit query can report
  * redaction volume per source without re-scanning.
  *
  * The patterns deliberately stick to syntax with identical semantics in
  * Java regex (Spark) and RE2 (DuckDB oracle): explicit ASCII classes,
  * bounded repetition, `\b` ASCII word boundaries — no lookaround, no
  * backreferences (which RE2 lacks).
  *
  * Replacement order matters and is fixed: emails first (so an address is
  * consumed whole before the IP pass could nibble a dotted-quad-looking
  * domain), then IPs, then phones (whose character class could otherwise
  * overlap digits inside an IP).
  */
object PiiRedact {

  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re: String =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  /** North-American dial format `+C (AAA) XXX-XXXX` — the deterministic
    * format the fixtures plant; a production deployment would widen this
    * list, the operator shape does not change. */
  val PhoneRe: String = "\\+[0-9]{1,2} \\([0-9]{3}\\) [0-9]{3}-[0-9]{4}"

  /** The masked text as a column expression (exposed for pipeline
    * composition — e.g. scrub BEFORE exact dedup, so per-document PII
    * variance collapses to identical placeholders and true content
    * duplicates stay exact duplicates). */
  def redactedText(t: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Append redaction columns to an arbitrary frame (streaming-safe pure
    * projection — no reshaping, so upstream columns like event time
    * survive for watermarking). Counts are RAW-text match counts (an
    * email whose host embeds a dotted quad counts under both n_emails and
    * n_ips) — audit volume, not replacement count. Null text is excluded
    * up front (corpus contract, as in Repetition). */
  def withRedaction(docs: DataFrame): DataFrame = {
    val t = col("text")
    docs.filter(t.isNotNull)
      .withColumn("n_emails", regexp_count(t, lit(EmailRe)).cast("long"))
      .withColumn("n_ips", regexp_count(t, lit(Ipv4Re)).cast("long"))
      .withColumn("n_phones", regexp_count(t, lit(PhoneRe)).cast("long"))
      .withColumn("text_redacted", redactedText(t))
  }

  /** Per-document redaction projection: (doc_id, counts, masked text). */
  def redact(docs: DataFrame): DataFrame =
    withRedaction(docs).select(
      col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
      col("text_redacted"))
}
