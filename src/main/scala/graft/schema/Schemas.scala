package graft.schema

import org.apache.spark.sql.types._

/** Authoritative schemas (SURVEY.md §1.2-1.3).
  *
  * The reference infers schemas on every ingest (`pd.read_csv` with no dtype
  * spec, reference dags/retail_pipeline_assets.py:41) and lets replace-mode
  * `to_sql` re-derive warehouse DDL from pandas dtypes. At 100 TB,
  * schema-on-write drift is an outage: we declare one `StructType` per table
  * and pass it to every reader, so a malformed day-partition fails fast
  * instead of silently widening types across 1000 executors.
  */
object Schemas {

  /** Raw retail event CSV (reference data/raw/Day_Wise/&#42;/event.csv header;
    * DDL at reference scripts/table_creation.sql:3-15). */
  val rawEvent: StructType = StructType(Seq(
    StructField("event_time", TimestampType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("product_id", LongType, nullable = false),
    StructField("category_id", LongType, nullable = false),
    StructField("category_code", StringType, nullable = true), // ~31% null
    StructField("brand", StringType, nullable = true),         // ~13% null
    StructField("price", DoubleType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("user_session", StringType, nullable = false),
    StructField("event_date", DateType, nullable = false)
  ))

  /** Legacy RetailRocket-shaped events (reference
    * dags/__pycache__/retail_pipeline_assets.cpython-312.pyc.281473178407232):
    * epoch-ms timestamp, visitorid/itemid, event in {view,addtocart,transaction}. */
  val legacyEvent: StructType = StructType(Seq(
    StructField("timestamp", LongType, nullable = false),
    StructField("visitorid", LongType, nullable = true),
    StructField("event", StringType, nullable = false),
    StructField("itemid", LongType, nullable = true),
    StructField("transactionid", LongType, nullable = true)
  ))
}

// Typed boundary for the synthetic corpus (Dataset[T] where type safety helps).
final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String)
final case class Document(doc_id: Long, text: String, lang: String,
                          source: String, n_chars: Long)
