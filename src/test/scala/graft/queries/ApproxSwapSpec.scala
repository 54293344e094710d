package graft.queries

import graft.SparkSpec

/** The exact→approx percentile swap (m35/m69) is a library argument, not
  * a rewrite: `approx = true` switches every median/MAD to
  * percentile_approx (bounded-memory, mergeable t-digest) with the same
  * plan shape, and the answers stay within discretization tolerance of the
  * exact interpolated quantiles. */
class ApproxSwapSpec extends SparkSpec {

  private val docs = graft.Tables.documents(spark, sf("sf0.01"))

  test("m35: approx median tracks the exact interpolated median per source") {
    def medians(approx: Boolean): Map[String, Double] =
      CorpusQueries.corpusReportOver(docs, approx).collect()
        .map(r => r.getString(0) -> r.getDouble(r.fieldIndex("median_tokens"))).toMap
    val exact = medians(approx = false)
    val appr = medians(approx = true)
    appr.keySet shouldBe exact.keySet
    exact.foreach { case (src, e) =>
      // exact interpolates between the two middle members; approx returns a
      // member — the gap is bounded by one inter-element step
      math.abs(appr(src) - e) should be <= 3.0
    }
  }

  test("m69: approx med/MAD keep schema and flag sane outlier rates") {
    val exact = CorpusQueries.lengthOutliersOver(docs, approx = false)
    val appr = CorpusQueries.lengthOutliersOver(docs, approx = true)
    appr.schema shouldBe exact.schema
    val e = exact.collect().map(r => r.getString(0) ->
      (r.getDouble(2), r.getDouble(3))).toMap
    appr.collect().foreach { r =>
      val (em, emad) = e(r.getString(0))
      math.abs(r.getDouble(2) - em) should be <= 3.0
      math.abs(r.getDouble(3) - emad) should be <= 3.0
    }
  }
}
