package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GopherRulesSpec extends SparkSpec {
  import spark.implicits._

  private def rules(rows: (Long, String)*) =
    TextOps.gopherRules(rows.toDF("doc_id", "text"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap

  test("each rule trips on its own planted violation") {
    val good = "the quick brown fox jumps over a lazy dog and it runs far away today"
    val out = rules(
      1L -> good,                                             // passes all
      2L -> "too few words here",                             // word count
      3L -> ("the a an of to in it is " * 4 + "on as"),       // mean len < 3
      4L -> ("the of " + Seq.fill(20)("12345").mkString(" ")), // alpha < 80%
      5L -> "zzz qqq www rrr ttt yyy uuu iii ooo ppp aaa sss") // < 2 stopwords… but 'a'? no: tokens are zzz…
    out(1L) shouldBe ((1L, 1L, 1L, 1L, 1L))
    out(2L)._1 shouldBe 0L // r_word_count
    out(3L)._2 shouldBe 0L // r_mean_word_len
    out(4L)._3 shouldBe 0L // r_alpha_words
    out(5L)._4 shouldBe 0L // r_stopwords
    // verdict is the AND of the bits
    out.values.foreach { case (a, b, c, d, p) =>
      p shouldBe (if (a == 1L && b == 1L && c == 1L && d == 1L) 1L else 0L)
    }
  }

  test("line rules: each rule trips on its own planted violation") {
    val out = TextOps.lineRules(Seq(
      // clean: 4 distinct plain lines
      1L -> "alpha line\nbeta line\ngamma line\ndelta line",
      // 2/4 lines end in "..." → ellipsis_frac 0.5 > 0.25
      2L -> "read more...\nalpha line\nloading...\nbeta line",
      // 2/4 bullet lines → bullet_frac 0.5 > 0.25 ("- ", "* ", "• " all count)
      3L -> "- item one\n* item two\nalpha line\nbeta line",
      // one line repeated → dup_line_frac 1/4 = 0.25 > 0.1
      4L -> "alpha line\nbeta line\nalpha line\ngamma line")
      .toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    out(1L) shouldBe ((1L, 1L, 1L, 1L))
    out(2L)._1 shouldBe 0L // r_ellipsis_lines
    out(3L)._2 shouldBe 0L // r_bullet_lines
    out(4L)._3 shouldBe 0L // r_dup_lines
    out.values.foreach { case (a, b, c, p) =>
      p shouldBe (if (a == 1L && b == 1L && c == 1L) 1L else 0L)
    }
  }

  test("line rules: the synthetic noise corpus exercises both branches of every rule") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val out = graft.queries.CorpusQueries.gopherLineRules(spark, sf("sf0.001"))
    out.count() shouldBe docs.filter(col("text").isNotNull).count()
    // a rule that only ever passes (or only ever fails) on the fixture
    // is not being tested by the oracle gate at all
    Seq("r_ellipsis_lines", "r_bullet_lines", "r_dup_lines", "pass").foreach { c =>
      withClue(c) {
        out.filter(col(c) === 1L).count() should be > 0L
        out.filter(col(c) === 0L).count() should be > 0L
      }
    }
  }

  test("repetition rules: top and duplicate n-gram fractions trip on planted violations") {
    // doc 1: 60 distinct words — no repeated gram at any n, and long
    // enough that a single n-gram is a small character share (short docs
    // trivially fail the top-gram rules: 1 trigram of a 12-word doc is
    // already ~25% of its characters — the paper gates on word count
    // first, which is m91's job)
    // doc 2: one bigram dominating ("buy now" x5 of 11 words)
    // doc 3: a 6-token phrase repeated 3x — duplicate mass for n=5,6 high
    val out = TextOps.repetitionRules(Seq(
      1L -> (0 until 60).map(i => s"word$i").mkString(" "),
      2L -> "buy now buy now buy now buy now buy now again",
      3L -> ("one two three four five six " * 3 + "tail marker words"))
      .toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val c = out(1L).schema.fieldNames.zipWithIndex.toMap
    // doc 1 passes everything
    out(1L).getLong(c("pass")) shouldBe 1L
    // doc 2: top-2-gram fraction = 5*len("buy now")/total > 0.2
    out(2L).getLong(c("r_top_2")) shouldBe 0L
    out(2L).getLong(c("pass")) shouldBe 0L
    // doc 3: duplicate 5-gram and 6-gram mass over threshold
    out(3L).getLong(c("r_dup_5")) shouldBe 0L
    out(3L).getLong(c("r_dup_6")) shouldBe 0L
    out(3L).getLong(c("pass")) shouldBe 0L
    // fractions stay in [0, 1] (the cap is real)
    out.values.foreach { r =>
      Seq("top_2", "top_3", "top_4", "dup_5", "dup_10").foreach { f =>
        r.getDouble(c(f)) should be >= 0.0
        r.getDouble(c(f)) should be <= 1.0
      }
    }
  }

  test("repetition rules: the planted-noise corpus exercises both branches") {
    val out = graft.queries.CorpusQueries.repetitionRules(spark, sf("sf0.001"))
    // the dup rules fire exactly on the %4 planted docs; top rules fire
    // naturally — both branches of the AND verdict must exist
    Seq("r_dup_5", "r_dup_10", "pass").foreach { cc =>
      withClue(cc) {
        out.filter(col(cc) === 1L).count() should be > 0L
        out.filter(col(cc) === 0L).count() should be > 0L
      }
    }
  }

  test("null text is excluded; the pass verdict matches a manual recompute on corpus data") {
    val docs = spark.read.parquet(sf("sf0.001") + "/documents.parquet")
    val out = TextOps.gopherRules(docs)
    out.count() shouldBe docs.filter(col("text").isNotNull).count()
    // no rule column leaves the {0,1} domain
    Seq("r_word_count", "r_mean_word_len", "r_alpha_words", "r_stopwords", "pass")
      .foreach { c => out.filter(col(c) =!= 0L && col(c) =!= 1L).count() shouldBe 0L }
  }
}
