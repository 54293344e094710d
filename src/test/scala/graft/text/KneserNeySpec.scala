package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KneserNeySpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // Hand-computed reference: corpus {"a b a", "a b c"}.
  // Bigrams: (a,b)×2, (b,a), (b,c) → 3 types, N1+(··)=3.
  // Counts-of-counts: n1=2 (ba, bc), n2=1 (ab) → D = 2/(2+2) = 0.5.
  // T = |{b,a,c}| = 3 distinct continuations; V = |{a,b,c}| = 3.
  // N1+(·x) = 1 for each of a, b, c →
  //   p_cont(x) = (1−0.5)/3 + 0.5·3/3·(1/3) = 1/3 for every x (uniform).
  // Contexts: c(a·)=2 with N1+(a·)=1; c(b·)=2 with N1+(b·)=2.
  //   p(b|a) = (2−0.5)/2 + 0.5·1/2·(1/3) = 3/4 + 1/12 = 5/6
  //   p(a|b) = (1−0.5)/2 + 0.5·2/2·(1/3) = 1/4 + 1/6  = 5/12
  //   p(c|b) = 5/12 (same counts as (b,a))
  private val pAB = 5.0 / 6
  private val pBA = 5.0 / 12
  private val pBC = 5.0 / 12

  test("self-perplexity matches the hand-computed interpolated KN model") {
    val d = docs((1L, "a b a"), (2L, "a b c"))
    val out = KneserNey.scoreAgainst(d, NgramLm.bigramCounts(d))
      .orderBy("doc_id").collect()
    val h1 = -(math.log(pAB) + math.log(pBA)) / 2
    val h2 = -(math.log(pAB) + math.log(pBC)) / 2
    out(0).getAs[Long]("n_bigrams") shouldBe 2
    out(0).getAs[Double]("cross_entropy") shouldBe h1 +- 1e-12
    out(0).getAs[Double]("perplexity") shouldBe math.exp(h1) +- 1e-12
    out(1).getAs[Double]("cross_entropy") shouldBe h2 +- 1e-12
  }

  test("each seen context's distribution sums to exactly 1 over the vocabulary") {
    // Σ_b p(b|a) = 1 for every seen context a — the property the
    // discount/interpolation algebra exists to guarantee. Enumerate
    // the full V×V grid by scoring every 2-token doc "x y".
    val corpus = docs((1L, "a b a"), (2L, "a b c"))
    val lm = NgramLm.bigramCounts(corpus)
    val vocab = Seq("a", "b", "c")
    val grid = for {
      (x, i) <- vocab.zipWithIndex; (y, j) <- vocab.zipWithIndex
    } yield ((i * vocab.size + j).toLong, s"$x $y")
    val p = KneserNey.scoreAgainst(docs(grid: _*), lm)
      .select(col("doc_id"), exp(-col("cross_entropy")).as("p"))
      .as[(Long, Double)].collect().toMap
    for ((x, i) <- vocab.zipWithIndex) {
      val mass = vocab.indices.map(j => p((i * vocab.size + j).toLong)).sum
      withClue(s"context $x: ") { mass shouldBe 1.0 +- 1e-12 }
    }
    // The continuation level sums to 1 too: unseen contexts score
    // p_cont directly, and here p_cont is uniform 1/3 by symmetry.
    val pcont = KneserNey.scoreAgainst(docs((99L, "z a")), lm)
      .select(exp(-col("cross_entropy"))).as[Double].head()
    pcont shouldBe 1.0 / 3 +- 1e-12
  }

  test("held-out backoff ladder: unseen bigram, unseen context, OOV continuation") {
    val lm = NgramLm.bigramCounts(docs((1L, "a b a"), (2L, "a b c")))
    // "a c": seen context a, unseen bigram → λ(a)·p_cont(c) = 0.5·1/2·1/3 = 1/12.
    // "z a": unseen context → p_cont(a) = 1/3.
    // "a z": OOV continuation → λ(a)·(uniform leak) = 1/4 · (0.5·3/3/3) = 1/24.
    val out = KneserNey.scoreAgainst(
      docs((1L, "a c"), (2L, "z a"), (3L, "a z")), lm)
      .select(col("doc_id"), exp(-col("cross_entropy")).as("p"))
      .as[(Long, Double)].collect().toMap
    out(1L) shouldBe 1.0 / 12 +- 1e-12
    out(2L) shouldBe 1.0 / 3 +- 1e-12
    out(3L) shouldBe 1.0 / 24 +- 1e-12
  }

  test("n2 = 0 edge: discount 1 drops singleton mass to backoff, stays finite") {
    // Corpus "x y": one bigram type, count 1 → n1=1, n2=0, D=1.
    // p_cont(y) = max(1−1,0)/1 + 1·1/1·(1/2) = 1/2;
    // p(y|x)   = max(1−1,0)/1 + 1·1/1·(1/2) = 1/2.
    val d = docs((1L, "x y"))
    val out = KneserNey.scoreAgainst(d, NgramLm.bigramCounts(d)).collect()
    out.length shouldBe 1
    out(0).getAs[Double]("cross_entropy") shouldBe -math.log(0.5) +- 1e-12
  }

  test("KN separates boilerplate from novel text like the add-α gate") {
    val corpus = docs(
      (1L, "buy now buy now buy now buy now"),
      (2L, "buy now buy now buy now buy now"),
      (3L, "buy now buy now buy now buy now"),
      (4L, "quarterly glacier permits lapsed unexpectedly"))
    val byDoc = KneserNey.scoreAgainst(corpus, NgramLm.bigramCounts(corpus))
      .select("doc_id", "perplexity").as[(Long, Double)].collect().toMap
    byDoc(1L) should be < byDoc(4L)
    byDoc.values.foreach(_ should be >= 1.0)
  }

  test("scores are invariant to input partitioning") {
    val corpus = docs(
      (1L, "the cat sat on the mat"), (2L, "the dog sat on the log"),
      (3L, "a cat and a dog"), (4L, "on and on and on"))
    val base = KneserNey.scoreAgainst(corpus, NgramLm.bigramCounts(corpus))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    val parts = corpus.repartition(7)
    val re = KneserNey.scoreAgainst(parts, NgramLm.bigramCounts(parts))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    re.keySet shouldBe base.keySet
    base.foreach { case (k, v) => re(k) shouldBe v +- 1e-12 }
  }

  test("docs with fewer than two tokens are absent (the m43 contract)") {
    val d = docs((1L, "solo"), (2L, ""), (3L, "a pair here"))
    val out = KneserNey.scoreAgainst(d, NgramLm.bigramCounts(d))
      .select("doc_id").as[Long].collect()
    out.toSet shouldBe Set(3L)
  }

  test("scoring against an EMPTY model yields empty output, never NaN") {
    // held-out docs arrive through the LEFT gram join, so without the
    // dd > 0 scalar-frame filter every score would be NaN (review r16)
    val emptyLm = NgramLm.bigramCounts(docs())
    KneserNey.scoreAgainst(docs((1L, "a b c")), emptyLm).count() shouldBe 0
    KneserNey.modifiedScoreAgainst(docs((1L, "a b c")), emptyLm).count() shouldBe 0
  }

  test("held-out n1=0 edge behaves exactly as documented: unseen continuation scores +Inf, seen grams stay ML-finite") {
    // Training corpus with NO singleton bigram types: "x y x y x y" →
    // (x,y):3, (y,x):2 → n1 = 0, n2 = 1 → D = 0/(0+2) = 0. Zero
    // discount = zero freed mass, so the unigram leak is gone — the
    // inherent estimator edge the object doc pins (advice r17):
    val lm = NgramLm.bigramCounts(docs((1L, "x y x y x y")))
    val out = KneserNey.scoreAgainst(
      docs((10L, "x y"), (11L, "x z")), lm)
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    // seen bigram: undiscounted ML — p(y|x) = 3/3 = 1 → ce = 0, finite
    out(10L) shouldBe 0.0 +- 1e-12
    // z never appears in the final slot → p = 0 → +Inf, NOT NaN
    out(11L).isPosInfinity shouldBe true
    // the silent-skip trap this edge guards (Spark log(0) is NULL and
    // avg SKIPS nulls): a MIXED doc — one seen gram, one impossible —
    // must also be +Inf, never a finite average over its survivors
    val mixed = KneserNey.scoreAgainst(docs((12L, "x y x z")), lm)
      .select("cross_entropy").as[Double].head()
    mixed.isPosInfinity shouldBe true
    // and the documented pre-emption works: minCount keeps the corpus
    // out of the degenerate branch only when singletons exist — the
    // caller's real fallback is the add-α NgramLm, which stays finite
    val addAlpha = graft.text.NgramLm.scoreAgainst(
      docs((11L, "x z")), lm)
    addAlpha.count() shouldBe 1
    val ce = addAlpha.select("cross_entropy").as[Double].head()
    ce.isNaN shouldBe false
    ce.isInfinite shouldBe false
  }

  // ---- modified KN (m142) ----

  // Same 2-doc fixture under Chen & Goodman's per-count discounts:
  // n1=2, n2=1, n3=n4=0 → Y=0.5, D1 = 1−2·0.5·(1/2) = 0.5,
  // D2 = 2−3·0.5·(0/1) = 2 (the doubleton fully discounts — no mass
  // evidence above count 2), D3+ falls back to Y (n3=0 guard).
  // λ(a) = D2·1/2 = 1 → p(b|a) = 0 + 1·(1/3) = 1/3;
  // λ(b) = D1·2/2 = 0.5 → p(a|b) = (1−0.5)/2 + 0.5·(1/3) = 5/12.
  test("modified KN matches the hand-computed per-count discounts") {
    val d = docs((1L, "a b a"), (2L, "a b c"))
    val out = KneserNey.modifiedScoreAgainst(d, NgramLm.bigramCounts(d))
      .orderBy("doc_id").collect()
    val h = -(math.log(1.0 / 3) + math.log(5.0 / 12)) / 2
    out(0).getAs[Double]("cross_entropy") shouldBe h +- 1e-12
    out(1).getAs[Double]("cross_entropy") shouldBe h +- 1e-12
  }

  test("modified KN sums to exactly 1 per seen context, including the D2 clip branch") {
    // counts: (a,a):4 (a,b):3 (b,a):2 (a,c):1 (c,b):1 (b,c):1 (d,a):1
    // (a,d):1 → n1=5 n2=1 n3=1 n4=1, Y=5/7, D1=5/7,
    // D2 = 2−3·(5/7) = −1/7 → CLIPPED to 0, D3+ = 3−4·(5/7) = 1/7.
    val corpus = docs((1L, "a a a a a"), (2L, "a b a b a b"),
      (3L, "a c b c"), (4L, "d a d"))
    val lm = NgramLm.bigramCounts(corpus)
    val vocab = Seq("a", "b", "c", "d")
    val grid = for {
      (x, i) <- vocab.zipWithIndex; (y, j) <- vocab.zipWithIndex
    } yield ((i * vocab.size + j).toLong, s"$x $y")
    val p = KneserNey.modifiedScoreAgainst(docs(grid: _*), lm)
      .select(col("doc_id"), exp(-col("cross_entropy")).as("p"))
      .as[(Long, Double)].collect().toMap
    for ((x, i) <- vocab.zipWithIndex) {
      val mass = vocab.indices.map(j => p((i * vocab.size + j).toLong)).sum
      withClue(s"context $x: ") { mass shouldBe 1.0 +- 1e-12 }
    }
  }

  test("on an all-singleton corpus modified KN equals interpolated KN (both discounts = 1)") {
    val corpus = docs((1L, "p q r"), (2L, "s t u"), (3L, "v w x"))
    val a = KneserNey.scoreAgainst(corpus, NgramLm.bigramCounts(corpus))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    val b = KneserNey.modifiedScoreAgainst(corpus, NgramLm.bigramCounts(corpus))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    b.keySet shouldBe a.keySet
    a.foreach { case (k, v) => b(k) shouldBe v +- 1e-12 }
  }

  // ---- trigram KN (m144) ----

  // Hand-computed on "a b a b a": trigrams (a,b,a)×2, (b,a,b) →
  // n1=1, n2=1 → D₃ = 1/3. Continuation table c' = {(b,a):1, (a,b):1}
  // → D₂ = 1 (all singletons), t2 = 2, V = 2, p_c(·) = 0.5 uniform,
  // p₂(a|b) = p₂(b|a) = 0 + 1·0.5 = 0.5.
  //   p₃(a|ab) = (2−1/3)/2 + (1/3)(1/2)·0.5 = 11/12
  //   p₃(b|ba) = (1−1/3)/1 + (1/3)(1/1)·0.5 = 5/6
  test("trigram KN matches the hand-computed order-3 recursion") {
    val d = docs((1L, "a b a b a"))
    val out = KneserNey.trigramScoreAgainst(d, KneserNey.trigramCounts(d)).collect()
    out.length shouldBe 1
    val h = -(math.log(11.0 / 12) + math.log(5.0 / 6) + math.log(11.0 / 12)) / 3
    out(0).getAs[Long]("n_trigrams") shouldBe 3
    out(0).getAs[Double]("cross_entropy") shouldBe h +- 1e-12
    out(0).getAs[Double]("perplexity") shouldBe math.exp(h) +- 1e-12
  }

  test("trigram KN sums to exactly 1 per seen (a,b) context") {
    val corpus = docs((1L, "a b a b a"))
    val lm = KneserNey.trigramCounts(corpus)
    // Σ_c p₃(c|ab) over V = {a,b}: seen continuation 11/12 + backed-off
    // 1/12 (λ₃·p₂(b|b) = (1/6)·0.5) = 1; same for context (b,a).
    val p = KneserNey.trigramScoreAgainst(
      docs((1L, "a b a"), (2L, "a b b"), (3L, "b a a"), (4L, "b a b")), lm)
      .select(col("doc_id"), exp(-col("cross_entropy")).as("p"))
      .as[(Long, Double)].collect().toMap
    (p(1L) + p(2L)) shouldBe 1.0 +- 1e-12
    (p(3L) + p(4L)) shouldBe 1.0 +- 1e-12
  }

  test("trigram backoff ladder: unseen trigram context → p₂; unseen bigram context → continuation") {
    val lm = KneserNey.trigramCounts(docs((1L, "a b a b a")))
    val p = KneserNey.trigramScoreAgainst(
      docs((1L, "x a b"), (2L, "x y a")), lm)
      .select(col("doc_id"), exp(-col("cross_entropy")).as("p"))
      .as[(Long, Double)].collect().toMap
    p(1L) shouldBe 0.5 +- 1e-12 // p₂(b|a)
    p(2L) shouldBe 0.5 +- 1e-12 // p_c(a)
  }

  test("trigram KN: docs with fewer than three tokens are absent; empty model → empty") {
    val lm = KneserNey.trigramCounts(docs((1L, "a b a b a")))
    KneserNey.trigramScoreAgainst(docs((1L, "a b"), (2L, "solo")), lm)
      .count() shouldBe 0
    KneserNey.trigramScoreAgainst(docs((1L, "a b c")),
      KneserNey.trigramCounts(docs())).count() shouldBe 0
  }

  test("trigram KN is invariant to input partitioning") {
    val corpus = docs((1L, "the cat sat on the mat"), (2L, "the dog sat on the log"),
      (3L, "a cat and a dog sat"), (4L, "on and on and on it went"))
    val base = KneserNey.trigramScoreAgainst(corpus, KneserNey.trigramCounts(corpus))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    val parts = corpus.repartition(7)
    val re = KneserNey.trigramScoreAgainst(parts, KneserNey.trigramCounts(parts))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    re.keySet shouldBe base.keySet
    base.foreach { case (k, v) => re(k) shouldBe v +- 1e-12 }
  }

  test("modified KN is invariant to input partitioning") {
    val corpus = docs((1L, "a a a a a"), (2L, "a b a b a b"),
      (3L, "a c b c"), (4L, "d a d"))
    val base = KneserNey.modifiedScoreAgainst(corpus, NgramLm.bigramCounts(corpus))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    val parts = corpus.repartition(7)
    val re = KneserNey.modifiedScoreAgainst(parts, NgramLm.bigramCounts(parts))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    base.foreach { case (k, v) => re(k) shouldBe v +- 1e-12 }
  }

  // ---- trigram MODIFIED KN (m145) + per-order discount edges ----

  // Hand-computed on "a b a b a": trigram counts (a,b,a):2, (b,a,b):1 →
  // n1=1, n2=1, n3=n4=0 → Y = 1/3, D1 = 1−2·(1/3)·(1/1) = 1/3,
  // D2 = 2−3·(1/3)·(0/1) = 2, D3+ = Y = 1/3 (the n3=0 fallback).
  // Context (a,b): c=2, one doubleton type → λ = D2·1/2 = 1 →
  //   p(a|ab) = max(2−2,0)/2 + 1·p₂(a|b) = 0.5  (lower levels = m144's).
  // Context (b,a): c=1, one singleton type → λ = D1·1/1 = 1/3 →
  //   p(b|ba) = (1−1/3)/1 + (1/3)·0.5 = 5/6.
  test("trigram modified KN matches the hand-computed D-ladder") {
    val d = docs((1L, "a b a b a"))
    val out = KneserNey.modifiedTrigramScoreAgainst(d, KneserNey.trigramCounts(d))
      .collect()
    out.length shouldBe 1
    val h = -(math.log(0.5) + math.log(5.0 / 6) + math.log(0.5)) / 3
    out(0).getAs[Long]("n_trigrams") shouldBe 3
    out(0).getAs[Double]("cross_entropy") shouldBe h +- 1e-12
    out(0).getAs[Double]("perplexity") shouldBe math.exp(h) +- 1e-12
  }

  test("trigram modified KN sums to exactly 1 per seen (a,b) context") {
    val lm = KneserNey.trigramCounts(docs((1L, "a b a b a")))
    // Σ_c p(c|ab) = 0.5 (seen a) + λ(ab)·p₂(b|b) = 0.5 + 1·0.5 = 1;
    // Σ_c p(c|ba) = 5/6 + λ(ba)·p₂(a|a) = 5/6 + (1/3)·0.5 = 1.
    val p = KneserNey.modifiedTrigramScoreAgainst(
      docs((1L, "a b a"), (2L, "a b b"), (3L, "b a a"), (4L, "b a b")), lm)
      .select(col("doc_id"), exp(-col("cross_entropy")).as("p"))
      .as[(Long, Double)].collect().toMap
    (p(1L) + p(2L)) shouldBe 1.0 +- 1e-12
    (p(3L) + p(4L)) shouldBe 1.0 +- 1e-12
  }

  test("discount edges n1=0 and n4=0: Y=0 zeroes D1, D3+ = 3 fully discounts count-3 grams") {
    // "a b a b a b a": trigram counts (a,b,a):3, (b,a,b):2 → n1=0 (Y=0,
    // D1:=0 — no singleton types), n2=1 (D2 = 2−0 = 2), n3=1, n4=0
    // (D3+ = 3−0 = 3). Every realized trigram is then FULLY discounted
    // (c − D_c = 0 at c = 2 and 3), λ = 1 for both contexts, and the
    // score is pure backoff: p₂ = 0.5 everywhere → ce = ln 2, finite.
    val d = docs((1L, "a b a b a b a"))
    val out = KneserNey.modifiedTrigramScoreAgainst(d, KneserNey.trigramCounts(d)).collect()
    out.length shouldBe 1
    out(0).getAs[Double]("cross_entropy") shouldBe math.log(2.0) +- 1e-12
  }

  test("discount edge n2=0 at the top level: Y=1, D2:=0, full backoff stays finite") {
    // "p q r s": both trigrams singletons → n1=2, n2=0 → Y = 1,
    // D1 = 1−2·1·(0/2) = 1, D2 := 0 (guard), D3+ = Y = 1. Singleton
    // contexts: λ = D1 = 1 → pure backoff to the (all-singleton) bigram
    // level, itself fully discounted → the continuation/uniform floor.
    val d = docs((1L, "p q r s"))
    val out = KneserNey.modifiedTrigramScoreAgainst(d, KneserNey.trigramCounts(d))
      .collect()
    out.length shouldBe 1
    val ce = out(0).getAs[Double]("cross_entropy")
    ce.isNaN shouldBe false
    ce.isInfinite shouldBe false
    out(0).getAs[Double]("perplexity") should be >= 1.0
  }

  test("trigram modified KN is invariant to input partitioning") {
    val corpus = docs((1L, "the cat sat on the mat"), (2L, "the dog sat on the log"),
      (3L, "a cat and a dog sat"), (4L, "on and on and on it went"))
    val base = KneserNey.modifiedTrigramScoreAgainst(corpus, KneserNey.trigramCounts(corpus))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    val parts = corpus.repartition(7)
    val re = KneserNey.modifiedTrigramScoreAgainst(parts, KneserNey.trigramCounts(parts))
      .select("doc_id", "cross_entropy").as[(Long, Double)].collect().toMap
    re.keySet shouldBe base.keySet
    base.foreach { case (k, v) => re(k) shouldBe v +- 1e-12 }
  }

  // ---- order-n reachability (the unified recursion one octave up) ----

  test("order 4 is reachable: sums to 1 per seen context, both discount styles") {
    // "a b a b a b": 4-grams (a,b,a,b):2, (b,a,b,a):1 — the m144
    // fixture's shape one order up. Σ_w p₄(w|aba) over V = {a,b} = 1.
    val corpus = docs((1L, "a b a b a b"))
    for (modified <- Seq(false, true)) {
      val lm = KneserNey.ngramCounts(corpus, 4)
      val held = docs((1L, "a b a a"), (2L, "a b a b"))
      val scored = KneserNey.scoreAgainstN(corpus, lm, 4, modified).collect()
      scored.length shouldBe 1
      scored(0).getAs[Long]("n_4grams") shouldBe 3
      scored(0).getAs[Double]("perplexity") should be >= 1.0
      withClue(s"modified=$modified: ") {
        val p = KneserNey.scoreAgainstN(held, lm, 4, modified)
          .select(col("doc_id"), exp(-col("cross_entropy")).as("p"))
          .as[(Long, Double)].collect().toMap
        (p(1L) + p(2L)) shouldBe 1.0 +- 1e-12
      }
    }
  }
}
