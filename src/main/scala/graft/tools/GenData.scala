package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic-table generator for scale testing BEYOND the driver-provided
  * SFs (sf0.001/0.01/0.1 are read-only inputs; this produces the same
  * schema and distribution shapes at any multiple, e.g. sf1 for the
  * super-linearity check).
  *
  * Faithfulness: schemas match the driver tables exactly; distributions
  * are matched to the observed ones (30-day event window with ordered
  * timestamps, exponential event values with mean ≈ 50, 31-word document
  * vocabulary over src0..19 with the 40/15×4 language mix, uniform 8..103
  * word lengths, label-clustered 64-dim embeddings, TPC-H-ish key ranges
  * with ~4 lineitems per order). Everything derives from xxhash64 of the
  * row id — deterministic under any partitioning, no driver-side loops,
  * no RNG state: the generation itself is the 100 TB shape (a fleet can
  * produce any slice independently).
  *
  * Usage: runMain graft.tools.GenData <outDir> <multiplier> [zipf]
  * (multiplier 1.0 = sf0.1 sizes; 10.0 = sf1). The optional third arg
  * `zipf` switches the DOCUMENT SOURCE MIX from uniform over src0..19
  * to a Zipf(s ≈ 1.54) law — P(src_k) ∝ 1/(k+1)^s, head:tail ratio
  * 20^s = 100:1 — the skewed-source fixture for the scale sweep: every
  * uniform-source claim (per-source aggregations, DSIR's source
  * weighting, the drift cards) re-measured under the source imbalance a
  * real crawl mix actually has. Same text/lang/dup-family generation,
  * same row counts — ONLY the source label distribution moves, so a
  * bench row's delta vs the uniform run isolates the skew response.
  */
object GenData {

  private def u(salt: Int): Column =
    (pmod(xxhash64(col("id"), lit(salt)), lit(1000000L)).cast("double") / 1e6)

  private def pick(salt: Int, vs: Seq[String]): Column =
    element_at(array(vs.map(lit): _*),
      (pmod(xxhash64(col("id"), lit(salt)), lit(vs.size)) + 1).cast("int"))

  /** Zipf source picker: inverse-CDF over the 20 cumulative masses
    * (driver-side constants, exponent 1.54), applied to the same u(33)
    * uniform the uniform mix hashes from — deterministic per doc id. */
  private def zipfSource(uCol: Column): Column = {
    val nSrc = 20
    val mass = (1 to nSrc).map(k => 1.0 / math.pow(k, 1.54))
    val total = mass.sum
    val cum = mass.scanLeft(0.0)(_ + _).tail.map(_ / total)
    // src0 gets the head mass; the final otherwise catches u up to 1.0
    var c: Column = when(uCol < cum(0), "src0")
    (1 until nSrc - 1).foreach(k => c = c.when(uCol < cum(k), s"src$k"))
    c.otherwise(s"src${nSrc - 1}")
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-sf1")
    val mult = args.lift(1).map(_.toDouble).getOrElse(10.0)
    val zipf = args.lift(2).contains("zipf")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def n(base: Long): Long = (base * mult).toLong

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gendata] $name written")
    }

    // -- dims -------------------------------------------------------------
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", spark.range(5).select(
      col("id").cast("int").as("r_regionkey"),
      element_at(array(regions.map(lit): _*), col("id").cast("int") + 1).as("r_name")))
    write("nation", spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    write("supplier", spark.range(n(1000)).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pmod(xxhash64(col("id"), lit(1)), lit(25)).cast("int").as("s_nationkey"),
      round(u(2) * 11000.0 - 1000.0, 2).as("s_acctbal")))
    write("customer", spark.range(n(15000)).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(xxhash64(col("id"), lit(3)), lit(25)).cast("int").as("c_nationkey"),
      round(u(4) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      pick(5, Seq("AUTOMOBILE", "MACHINERY", "BUILDING", "HOUSEHOLD", "FURNITURE"))
        .as("c_mktsegment")))
    val adjs = Seq("large", "hot", "blue", "old", "cold", "new", "small", "red")
    val nouns = Seq("ring", "bolt", "plate", "gear", "wheel", "case", "pin", "cap")
    write("part", spark.range(n(20000)).select(
      col("id").as("p_partkey"),
      concat(pick(6, adjs), lit(" "), pick(7, nouns)).as("p_name"),
      concat(lit("Brand#"), pmod(xxhash64(col("id"), lit(8)), lit(25))).as("p_brand"),
      pick(9, Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE", "STANDARD")).as("p_type"),
      (pmod(xxhash64(col("id"), lit(10)), lit(50)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + (col("id") % 1000).cast("double") / 10.0, 1).as("p_retailprice")))

    // -- facts ------------------------------------------------------------
    val nOrders = n(150000)
    val nCust = n(15000)
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(11)), lit(nCust)).as("o_custkey"),
      pick(12, Seq("O", "P", "F")).as("o_orderstatus"),
      round(u(13) * 499000.0 + 1000.0, 2).as("o_totalprice"),
      // 1995-01-01 .. 2001-08-01, day granularity, as timestamp
      to_timestamp(date_add(lit("1995-01-01").cast("date"),
        pmod(xxhash64(col("id"), lit(14)), lit(2405)).cast("int"))).as("o_orderdate"),
      pick(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    write("orders", orders)

    // ~4 lines per order: 1 + hash%7 lines, line numbers 1..k. Derives from
    // the orders frame so the keys join; all line attributes hash off
    // (orderkey, linenumber) so the explode stays a pure map.
    val li = orders.select(col("o_orderkey").as("id"), col("o_orderdate"))
      .select(col("id"), col("o_orderdate"),
        explode(sequence(lit(1), (pmod(xxhash64(col("id"), lit(16)), lit(7)) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("lid", xxhash64(col("id"), col("l_linenumber")))
    def lu(salt: Int): Column =
      (pmod(xxhash64(col("lid"), lit(salt)), lit(1000000L)).cast("double") / 1e6)
    write("lineitem", li.select(
      col("id").as("l_orderkey"),
      pmod(xxhash64(col("lid"), lit(17)), lit(n(20000))).as("l_partkey"),
      pmod(xxhash64(col("lid"), lit(18)), lit(n(1000))).as("l_suppkey"),
      col("l_linenumber"),
      (pmod(xxhash64(col("lid"), lit(19)), lit(50)) + 1).cast("double").as("l_quantity"),
      round(lu(20) * 104100.0 + 900.0, 2).as("l_extendedprice"),
      (pmod(xxhash64(col("lid"), lit(21)), lit(11)).cast("double") / 100.0).as("l_discount"),
      (pmod(xxhash64(col("lid"), lit(22)), lit(9)).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(xxhash64(col("lid"), lit(23)), lit(3)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pmod(xxhash64(col("lid"), lit(24)), lit(2)) + 1).cast("int")).as("l_linestatus"),
      to_timestamp(date_add(col("o_orderdate").cast("date"),
        (pmod(xxhash64(col("lid"), lit(25)), lit(95)) + 1).cast("int"))).as("l_shipdate")))

    // -- events: 30 ordered days, exponential value (mean 50), JSON props --
    val nEvents = n(100000)
    val stepUs = (30L * 86400L * 1000000L) / nEvents
    write("events", spark.range(nEvents).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + // 2024-01-01T00:00:00Z
        col("id") * stepUs +
        pmod(xxhash64(col("id"), lit(26)), lit(stepUs))).as("ts"),
      pmod(xxhash64(col("id"), lit(27)), lit(n(15000) / 10)).as("user_id"),
      pick(28, Seq("view", "click", "purchase", "signup", "error")).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u(29)), 2).as("value"),
      concat(lit("{\"k\": "), pmod(xxhash64(col("id"), lit(30)), lit(100)), lit("}"))
        .as("props")))

    // -- documents: 31-word vocab, 40/15x4 lang mix, src0..19 --------------
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data",
      "dup", "fast", "filter", "group", "hash", "join", "key", "line",
      "merge", "order", "part", "query", "row", "scan", "slow", "small",
      "sort", "spark", "stream", "table", "the", "value", "vector", "window")
    val vocabCol = array(vocab.map(lit): _*)
    val langCol = when(u(31) < 0.4, "en").when(u(31) < 0.55, "fr")
      .when(u(31) < 0.7, "es").when(u(31) < 0.85, "de").otherwise("zh")
    val textCol = array_join(
      transform(sequence(lit(1), (pmod(xxhash64(col("id"), lit(32)), lit(96)) + 8).cast("int")),
        i => element_at(vocabCol, (pmod(xxhash64(col("id"), i), lit(31)) + 1).cast("int"))),
      " ")
    // Planted near-dup FAMILIES, proportional to corpus size (~1% of the
    // corpus in families of 4). Each family speaks its own 40-token
    // vocabulary ("f<fam>w<k>"), so its 3-gram shingles have df = family
    // size << the dfCap=50 stop-gram cap NO MATTER how large the organic
    // corpus grows — the sf1-dilution fix: with the shared 31-word vocab
    // every organic gram's df crosses the cap as the corpus grows, and the
    // round-8 sf1 run's pair graph came out empty, leaving the dedup tier
    // unexercised at scale. Family-private vocab is also the realistic
    // shape: real near-dup shingles are rare precisely because real
    // vocabularies are huge. Member 0 is the base; members 1..3 perturb
    // one distinct word slot each → base-member Jaccard (L−5)/(L+1) ≈
    // 0.85, member-member (L−8)/(L+4) ≈ 0.73, all above the 0.6 pair
    // threshold → 6 pairs + one 4-clique cluster per family, linear in
    // the multiplier.
    val nDocs = n(5000)
    val famSize = 4
    val nFams = math.max(1L, nDocs / 100 / famSize)
    val famWords = 40
    val famDocs = spark.range(nFams * famSize).select(
      (col("id") + nDocs).as("doc_id"),
      expr(s"id div $famSize").as("fam"),
      (col("id") % famSize).cast("int").as("member"))
      .select(
        col("doc_id"),
        array_join(transform(sequence(lit(1), lit(famWords)), i =>
          when(col("member") > 0 && i === (col("member") * 7) % famWords + 1,
            concat(lit("member"), col("member")))
            .otherwise(concat(lit("f"), col("fam"), lit("w"),
              pmod(xxhash64(col("fam"), i), lit(famWords))))), " ").as("text"),
        lit("en").as("lang"),
        (if (zipf)
          zipfSource(pmod(xxhash64(col("doc_id"), lit(33)), lit(1000000L))
            .cast("double") / 1e6)
        else concat(lit("src"), pmod(xxhash64(col("doc_id"), lit(33)), lit(20))))
          .as("source"))
      .withColumn("n_chars", length(col("text")))
    write("documents", spark.range(nDocs).select(
      col("id").as("doc_id"),
      textCol.as("text"),
      langCol.as("lang"),
      (if (zipf) zipfSource(u(33))
       else concat(lit("src"), pmod(xxhash64(col("id"), lit(33)), lit(20))))
        .as("source"))
      .withColumn("n_chars", length(col("text")))
      .unionByName(famDocs))

    // -- embeddings: 64-dim, 10 label clusters (centroid + noise) ----------
    // Matched to the observed structure: near-isotropic gaussian noise
    // (σ ≈ 0.125 per dim, Box–Muller) over a FAINT per-(label, dim)
    // centroid (σ ≈ 0.014) — the real table's label signal is weak.
    val dim = 64
    val emb = transform(sequence(lit(1), lit(dim)), d => {
      val lbl = pmod(xxhash64(col("id"), lit(34)), lit(10))
      def uh(c: Column): Column =
        pmod(c, lit(1000000L)).cast("double") / 1e6
      val c = (uh(xxhash64(lbl, d)) - 0.5) * 0.05
      val g = sqrt(lit(-2.0) * log(lit(1.0) - uh(xxhash64(col("id"), d, lit(35))))) *
        cos(lit(2.0 * math.Pi) * uh(xxhash64(col("id"), d, lit(36))))
      (c + g * 0.125).cast("float")
    })
    write("embeddings", spark.range(n(2000)).select(
      col("id").as("vec_id"),
      emb.as("embedding"),
      pmod(xxhash64(col("id"), lit(34)), lit(10)).cast("int").as("label")))

    println(s"[gendata] done: $outDir (multiplier $mult)")
    spark.stop()
  }
}
