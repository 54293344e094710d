package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Seeded input derivation. The base tables are the sf0.1-sized output of
  * `graft.tools.GenData`; a workload seed re-keys every id domain with a
  * seeded affine permutation of [0, n) (foreign keys use their primary
  * key's permutation, so joins still match) and shuffles row order by a
  * seeded hash. Row counts, value ranges and distributions are unchanged.
  * The program only ever sees the derived files.
  */
object Inputs {

  /** Row key and id-domain columns of each table the workloads read. */
  private val layout: Map[String, (Seq[String], Map[String, String])] = Map(
    "events" -> (Seq("event_id"), Map("event_id" -> "event", "user_id" -> "user")),
    "orders" -> (Seq("o_orderkey"), Map("o_orderkey" -> "order", "o_custkey" -> "cust")),
    "lineitem" -> (Seq("l_orderkey", "l_linenumber"),
      Map("l_orderkey" -> "order", "l_partkey" -> "part", "l_suppkey" -> "supp")),
    "customer" -> (Seq("c_custkey"), Map("c_custkey" -> "cust")),
    "part" -> (Seq("p_partkey"), Map("p_partkey" -> "part")),
    "supplier" -> (Seq("s_suppkey"), Map("s_suppkey" -> "supp")),
    "nation" -> (Seq("n_nationkey"), Map.empty),
    "region" -> (Seq("r_regionkey"), Map.empty),
    "documents" -> (Seq("doc_id"), Map("doc_id" -> "doc")))

  val QueryTables: Seq[String] =
    Seq("events", "orders", "lineitem", "customer", "part", "supplier", "nation", "region")

  /** Domain sizes (`<domain> <n>` per line), written next to the base tables. */
  def domains(base: String): Map[String, Long] =
    scala.io.Source.fromFile(s"$base/domains.txt").getLines()
      .map(_.trim).filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v.toLong }.toMap

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** k -> (a*k + b) mod n with gcd(a, n) = 1: a bijection on [0, n). */
  def permute(c: Column, seed: Long, domain: String, n: Long): Column = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + domain.hashCode)
    var a = 1L + r.nextLong(math.max(1L, n - 1))
    while (gcd(a, n) != 1L) a += 1
    pmod(c * lit(a) + lit(r.nextLong(math.max(1L, n))), lit(n))
  }

  def rekey(df: DataFrame, table: String, seed: Long, dom: Map[String, Long]): DataFrame = {
    val (rowKey, keyed) = layout(table)
    val cols = df.schema.fields.toSeq.map { f =>
      val c = keyed.get(f.name) match {
        case Some(d) => permute(col(f.name), seed, d, dom(d)).cast(f.dataType)
        case None if f.dataType == TimestampType => col(f.name).cast("timestamp_ntz")
        case None => col(f.name)
      }
      c.as(f.name)
    }
    df.select(cols: _*)
  }

  /** Rows in seeded-hash order within `parts` partitions (one file per
    * table for the query tables, as the sf0.1 tables are stored). */
  private def shuffled(df: DataFrame, seed: Long, rowKey: Seq[String], parts: Int = 1): DataFrame = {
    val h = xxhash64((lit(seed) +: rowKey.map(col)): _*)
    df.repartition(parts, h).sortWithinPartitions(h)
  }

  def writeTable(spark: SparkSession, base: String, out: String, table: String,
                 seed: Long, dom: Map[String, Long]): Unit = {
    val src = if (table == "events") graft.Tables.events(spark, base)
      else spark.read.parquet(s"$base/$table.parquet")
    shuffled(rekey(src, table, seed, dom), seed, layout(table)._1)
      .write.parquet(s"$out/$table.parquet")
  }

  /** The retail feed: seeded events, ×`copies` distinct-user copies (user
    * ids offset by copy × 10⁹, sessions suffixed, as the backfill probe
    * amplifies a day), exported as a Day_Wise CSV tree. Returns the days. */
  def dayWise(spark: SparkSession, base: String, raw: String, seed: Long,
              dom: Map[String, Long], copies: Int): Int = {
    val ev = rekey(graft.Tables.events(spark, base), "events", seed, dom)
    val copy = col("__copy")
    val amped = ev.crossJoin(broadcast(spark.range(copies).select(col("id").as("__copy"))))
      .select(col("event_id"), col("ts"),
        (col("user_id") + copy * lit(1000000000L)).as("user_id"),
        col("event_type"), col("value"),
        when(copy === 0L, col("props"))
          .otherwise(concat(col("props"), lit("-c"), copy.cast("string"))).as("props"))
    graft.streaming.StreamingIngest.exportDayWiseCsv(
      shuffled(amped, seed, Seq("event_id", "user_id"), spark.sparkContext.defaultParallelism), raw)
  }
}
