package graft.io

import graft.schema.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers (SURVEY §2.1 scans).
  *
  * All production paths take an explicit schema — `inferSchema` is a
  * dev-only convenience (mirroring the reference's pandas inference) that a
  * 100 TB ingest must never pay: inference reads the data twice and lets a
  * bad file widen types silently.
  */
object Sources {

  /** S1 — day-partitioned raw event CSV
    * (reference retail_pipeline_assets.py:36-41). The reference pulls one
    * S3 object per day; here the day directory is the unit, so one call
    * scans one partition and a glob scans the history. */
  def rawEventsCsv(spark: SparkSession, root: String, date: String): DataFrame =
    spark.read.options(RawEventOptions).schema(Schemas.rawEvent)
      .csv(s"$root/Day_Wise/$date/event.csv")

  /** All days at once (used by backfills and the streaming parity test). */
  def rawEventsCsvAll(spark: SparkSession, root: String): DataFrame =
    spark.read.options(RawEventOptions).schema(Schemas.rawEvent)
      .csv(s"$root/Day_Wise/*/event.csv")

  /** The raw event CSV's reader options — every raw-event reader (batch
    * day, batch history, stream) parses the feed identically. */
  private val RawEventOptions = Map(
    "header" -> "true", "timestampFormat" -> "yyyy-MM-dd HH:mm:ssXXX")

  /** Dev-mode permissive ingest (SURVEY §1.2) — the pandas-`read_csv`
    * inference experience for exploring a NEW feed whose schema isn't in
    * [[Schemas]] yet: header + type inference + a quarantine column for
    * rows that don't parse. Production never calls this: inference costs
    * an extra full pass over the files, a single malformed file silently
    * widens a column for the whole load, and PERMISSIVE keeps bad rows
    * (flagged in `_corrupt_record`) instead of failing the day. The
    * output's printed schema is exactly what you then freeze into
    * [[Schemas]] to graduate the feed to [[rawEventsCsv]].
    *
    * Two reads by construction: the quarantine column only materializes
    * when it is part of an EXPLICIT schema, so the first pass infers and
    * the second re-reads with (inferred + _corrupt_record) — even the
    * dev path ends in an explicit schema, just a derived one. */
  def devInferCsv(spark: SparkSession, path: String): DataFrame = {
    def reader = spark.read
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ssXXX")
      .option("mode", "PERMISSIVE")
    val inferred = reader.option("inferSchema", "true").csv(path).schema
    reader
      .schema(inferred.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
  }

  /** S8 — legacy local CSV scan with head-n sample (pyc .281473178407232:
    * `pd.read_csv(path).head(n)`). */
  def legacyEventsCsv(spark: SparkSession, path: String, limit: Option[Int] = None): DataFrame = {
    val df = spark.read
      .schema(Schemas.legacyEvent)
      .option("header", "true")
      .csv(path)
    limit.fold(df)(df.limit)
  }

  /** S2 — empty-input guard (retail_pipeline_assets.py:42-43). `isEmpty`
    * plans a LocalLimit(1) probe — it does NOT scan the full input. */
  def requireNonEmpty(df: DataFrame, what: String): DataFrame = {
    if (df.isEmpty) throw new IllegalStateException(s"No data found in $what")
    df
  }

  /** Corpus documents as JSONL — the interchange format external text
    * corpora usually arrive in. Same schema policy as every production
    * reader (explicit, from the [[graft.schema.Document]] contract — no
    * inference pass over 100 TB of JSON), with malformed lines quarantined
    * into `_corrupt_record` instead of failing the load: at corpus scale
    * a handful of truncated lines per shipment is normal, and the audit
    * query over the quarantine column decides whether to fail the batch.
    *
    * Audit contract: Spark DISALLOWS queries whose only referenced column
    * is the internal corrupt-record column on a raw JSON source — cache
    * the frame (or land it in a table) before filtering on
    * `_corrupt_record` alone, as the spec does. */
  def documentsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(org.apache.spark.sql.Encoders.product[graft.schema.Document].schema
        .add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** §2.9 — Structured Streaming file source over the same Day_Wise tree.
    * At most 10 files per micro-batch (`maxFilesPerTrigger`); pair with
    * `Trigger.AvailableNow` for catch-up-then-stop semantics (the idiomatic
    * equivalent of the reference's daily scheduled pulls). */
  def rawEventsStream(spark: SparkSession, root: String): DataFrame =
    spark.readStream.options(RawEventOptions).schema(Schemas.rawEvent)
      .option("maxFilesPerTrigger", 10)
      .csv(s"$root/Day_Wise/*/event.csv")
}
