package graft.pipeline

import graft.SparkSpec
import graft.io.Sources
import graft.operators.RetailOps
import org.apache.spark.sql.functions._

/** Goldens against the REFERENCE'S OWN raw data (read-only at
  * /root/reference/data/raw/Day_Wise). Numbers come from the reference's
  * committed run logs and profiling (BASELINE.md): this proves the S1
  * source reads the real files byte-for-byte compatibly and the operator
  * semantics reproduce the observed pipeline outputs, not just our
  * fixtures. */
class ReferenceDataSpec extends SparkSpec {

  private val root = "/root/reference/data/raw"

  test("S1 reads the real 2019-10-23 day: 16,159 rows (ingest log golden)") {
    val df = Sources.rawEventsCsv(spark, root, "2019-10-23")
    df.count() shouldBe 16159 // logs/dag_id=load_raw_data_from_s3/...: "Loaded 16159 records"
    // schema contract holds on real data: no corrupt/null keys
    df.filter(col("event_time").isNull || col("user_id").isNull).count() shouldBe 0
  }

  test("2019-10-05 profile goldens: users/products/brands/categories/event mix") {
    val df = Sources.rawEventsCsv(spark, root, "2019-10-05").cache()
    try {
      df.count() shouldBe 15750
      df.select("user_id").distinct().count() shouldBe 14073
      df.select("product_id").distinct().count() shouldBe 7422
      // BASELINE's "975 brands" counted null as a value (pandas
      // nunique(dropna=False)); ground truth non-null distinct is 974.
      df.filter(col("brand").isNotNull).select("brand").distinct().count() shouldBe 974
      df.select(coalesce(col("brand"), lit("")).as("b")).distinct().count() shouldBe 975
      // as with brands, the profile's 116 includes null; non-null is 115.
      df.filter(col("category_code").isNotNull)
        .select("category_code").distinct().count() shouldBe 115
      df.select(coalesce(col("category_code"), lit("")).as("c"))
        .distinct().count() shouldBe 116
      val mix = df.groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      mix("view") shouldBe 15034
      mix("cart") shouldBe 456
      mix("purchase") shouldBe 260
    } finally df.unpersist()
  }

  test("star-schema dims over the real day match DISTINCT cardinalities") {
    val staged = RetailOps.fillNa(
      Sources.rawEventsCsv(spark, root, "2019-10-05"),
      Map("category_code" -> "Unknown", "brand" -> "Generic"))
    // dim_product grain = product_id after deterministic dedup
    val dimProduct = RetailOps.dedupKeepFirst(
      staged.select("product_id", "category_id", "category_code", "brand", "price").distinct(),
      Seq("product_id"), Seq(col("price").asc, col("brand").asc))
    dimProduct.count() shouldBe 7422
    // hierarchy split: every product has exactly 3 non-null levels
    val parts = RetailOps.splitHierarchy(col("category_code"))
    dimProduct.select(parts(0).as("c"), parts(1).as("s1"), parts(2).as("s2"))
      .filter(col("c").isNull || col("s1").isNull || col("s2").isNull)
      .count() shouldBe 0
  }

  test("fact build over the real day: revenue only from purchases, grain holds") {
    val staged = Sources.rawEventsCsv(spark, root, "2019-10-05")
    val fact = RetailOps.factBuild(staged, Seq("product_id", "user_id"), "price")
    val total = fact.agg(
      sum("total_events").as("e"),
      sum(when(col("event_type") =!= "purchase", col("total_revenue")).otherwise(0.0)).as("nonpurchase_rev"))
      .collect()(0)
    total.getAs[Long]("e") shouldBe 15750 // grains partition the events
    total.getAs[Double]("nonpurchase_rev") shouldBe 0.0
  }
}
