package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kneser–Ney n-gram LM — ONE order-parameterized recursion (Chen &
  * Goodman 1998's uniform formulation; Kneser & Ney 1995 — public)
  * serving every registered smoothing tier: interpolated bigram (m138),
  * modified bigram (m142), interpolated trigram (m144) and modified
  * trigram (m145 — the order-3 entry point of KenLM's production
  * default), with any higher order reachable through [[scoreAgainstN]]
  * (spec-pinned at order 4). Round 16 carried these as three parallel
  * implementations with triplicated statistics plumbing; the recursion
  * is uniform in order, so now it is written once.
  *
  * Model (order n, interpolated KN; Chen & Goodman eq. 16/26):
  *   p_k(w|h)  = max(c_k(hw) − D_k, 0)/c_k(h·) + D_k·N1+(h·)/c_k(h·) · p_{k−1}
  *   p_1(w)    = max(N1+(·w) − D_2, 0)/N1+(··) + D_2·T/N1+(··) · 1/V
  *   D_k       = n1_k / (n1_k + 2·n2_k)      (counts-of-counts of level k)
  * where level n's table is the RAW n-gram counts and every level below
  * runs on CONTINUATION counts — c_{k}(v_1..v_k) = N1+(·v_1..v_k) =
  * |{u : c_{k+1}(u v_1..v_k) > 0}| — each a one-step re-aggregation of
  * the level above, so no statistic anywhere touches text twice. An
  * unseen context at level k backs off to p_{k−1} outright
  * (interpolation weight 1); T = |{w : N1+(·w) > 0}| and V (the full
  * token vocabulary over every raw-table slot) supply the uniform base
  * the recursion terminates at. Every level sums to exactly 1 over its
  * support (spec-pinned): the clip never bites below zero on realized
  * counts (c ≥ 1 ≥ D) and λ redistributes exactly the discounted mass.
  *
  * MODIFIED KN (Chen & Goodman §3, the KenLM default) swaps the TOP
  * level's single discount for per-count discounts:
  *   Y  = n1/(n1 + 2·n2)
  *   D1 = 1 − 2Y·n2/n1,  D2 = 2 − 3Y·n3/n2,  D3+ = 3 − 4Y·n4/n3
  *   λ(h) = (D1·N1(h·) + D2·N2(h·) + D3+·N3+(h·)) / c(h·)
  * with each undefined ratio degrading deterministically: n1 = 0 →
  * D1 := 0 (no singleton types for it to apply to), n2 = 0 → D2 := 0,
  * n3 = 0 with c ≥ 3 types present → D3+ := Y (the single-discount
  * estimate — a documented engineering fallback for tiny corpora; Chen &
  * Goodman assume n3 > 0). Discounts clip at 0 and λ redistributes
  * exactly what the clips removed, so Σ_w p(w|h) = 1 holds for EVERY
  * guard branch (spec-pinned). Levels below the top keep the single
  * interpolated discount — modified discounts at the top level only, a
  * documented simplification (full mKN also modifies lower orders).
  *
  * Edges (documented, spec-pinned): n2_k = 0 makes D_k = 1 — singleton
  * grams then carry zero direct mass and back off entirely, the
  * estimator's own verdict; a training corpus with NO singleton types
  * at level 2 (n1_2 = 0, so D_2 = 0) leaves the unigram level without
  * its uniform leak, and a HELD-OUT token never seen in the final slot
  * then scores exactly 0 → cross_entropy +Inf. That edge is inherent to
  * the estimator (zero discount means zero freed mass to redistribute),
  * is unreachable under self-scoring (every gram realized), and is the
  * caller's to pre-empt for held-out scoring on degenerate corpora
  * (minCount > 1 reintroduces singletons; or fall back to the add-α
  * [[NgramLm]]). Fully out-of-vocabulary tokens take the same 1/V
  * uniform (improper by Σ ≤ 1 + V'/V, the standard open-vocabulary
  * concession — KenLM's explicit <unk> plays this role). An EMPTY count
  * table yields empty scores (the dd > 0 cross-join gate below), not
  * NaNs through the left joins.
  *
  * Scale shape (100 TB) — identical at every order, by construction:
  * the corpus is touched twice (count pass + score pass, the documented
  * recompute-over-materialize call shared with m32/m43 — and the count
  * pass itself is served from the shared `asset:ngramcounts` store,
  * [[graft.pipeline.DedupAssets.ngramCounts]], so the LM tier pays it
  * once per corpus fingerprint, not once per query); every KN statistic
  * — continuation tables, context masses, N1+ tables, counts-of-counts
  * discounts, T, V — is a re-aggregation of the COUNT table, never of
  * text; the scalar statistics ride one broadcast 1-row frame; and the
  * score joins' broadcast-vs-shuffle choice is left to AQE (the
  * LineDedup lesson: a minCount-pruned LM broadcasts, a raw crawl's
  * full table must not be forced to).
  */
object KneserNey {

  /** Per-doc n-gram stream (doc_id, g1..gn) — the order-n
    * [[NgramLm.gramsOf]]: one zip_with fold over n shifted slices,
    * codegen projection, no window. Tokenization is the house rule
    * (trim → lower → split on space runs); docs with < n tokens carry
    * no grams and are absent. */
  private[text] def gramsOfN(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 2, s"n-gram order must be >= 2, got $n")
    val toks = split(lower(trim(col("text"))), " +")
    def sl(i: Int) = slice(col("t"), lit(i), size(col("t")) - (n - 1))
    val first = transform(sl(1), x => struct(x.as("g1")))
    val zipped = (2 to n).foldLeft(first) { (acc, i) =>
      zip_with(acc, sl(i), (s, x) =>
        struct((1 until i).map(j => s.getField(s"g$j").as(s"g$j")) :+
          x.as(s"g$i"): _*))
    }
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(zipped).as("g"))
      .select(col("doc_id") +: (1 to n).map(i => col(s"g.g$i").as(s"g$i")): _*)
      // slots can never be null (zip_with over equal-length slices) —
      // stated so every consumer branch carries the SAME predicate and
      // AQE's stage cache shares the count exchange (the NgramLm note)
      .filter((1 to n).map(i => col(s"g$i").isNotNull).reduce(_ && _))
  }

  /** Raw order-n count table (g1..gn, cnt) — the LM sufficient
    * statistic. */
  def ngramCounts(docs: DataFrame, order: Int): DataFrame =
    gramsOfN(docs, order)
      .groupBy((1 to order).map(i => col(s"g$i")): _*)
      .agg(count(lit(1)).as("cnt"))

  /** The single interpolated-discount estimate D = n1/(n1 + 2·n2),
    * 0-guarded (no 0/0 under ANSI). */
  private def singleDiscount(n1: Column, n2: Column): Column =
    when(n1 + lit(2.0) * n2 > 0.0, n1 / (n1 + lit(2.0) * n2))
      .otherwise(lit(0.0))

  /** The unified order-n scorer. `raw` must carry (g1..g_order, cnt).
    * Output: (doc_id, n_bigrams|n_trigrams|n_<k>grams, cross_entropy,
    * perplexity); docs with < order tokens are absent. */
  private def knScore(docs: DataFrame, raw: DataFrame, order: Int,
                      modifiedTop: Boolean): DataFrame = {
    require(order >= 2, s"KN order must be >= 2, got $order")
    val n = order

    // Level tables: tbl(n) = raw counts; tbl(k) = continuation counts
    // N1+(· v_1..v_k), a one-step re-aggregation of tbl(k+1).
    val tbl = new Array[DataFrame](n + 1)
    tbl(n) = raw
    for (k <- (n - 1) to 2 by -1)
      tbl(k) = tbl(k + 1)
        .select((2 to k + 1).map(i => col(s"g$i").as(s"g${i - 1}")): _*)
        .groupBy((1 to k).map(i => col(s"g$i")): _*)
        .agg(count(lit(1)).as("cnt"))

    // Per-context statistics of each conditional level: mass c_k(h·)
    // and distinct continuations N1+(h·); the modified top level also
    // needs per-context type counts at c = 1 / 2 / ≥3.
    def ctxOf(k: Int): DataFrame = {
      val keys = (1 until k).map(i => col(s"g$i"))
      val base = Seq(sum("cnt").as(s"ca$k"), count(lit(1)).as(s"nf$k"))
      val extra =
        if (k == n && modifiedTop) Seq(
          sum(when(col("cnt") === 1L, 1L).otherwise(0L)).cast("double").as("tm1"),
          sum(when(col("cnt") === 2L, 1L).otherwise(0L)).cast("double").as("tm2"),
          sum(when(col("cnt") >= 3L, 1L).otherwise(0L)).cast("double").as("tm3"))
        else Seq.empty
      tbl(k).groupBy(keys: _*).agg(base.head, (base.tail ++ extra): _*)
    }
    val ctx = (2 to n).map(k => k -> ctxOf(k)).toMap

    // The unigram continuation table N1+(·w) over tbl(2)'s final slot.
    val cont = tbl(2).groupBy(col("g2")).agg(count(lit(1)).as("nb"))

    // Scalar statistics, one 1-row broadcast frame: per level the
    // counts-of-counts (n3/n4 only where the modified top needs them),
    // level 2 additionally the type total dd = N1+(··) and T, and the
    // raw-table vocabulary V — assembled top-down then × vocab (the
    // m138/m144 assembly order).
    def scalarsOf(k: Int): DataFrame = {
      val cc = Seq(
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).cast("double").as(s"n1_$k"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).cast("double").as(s"n2_$k")) ++
        (if (k == n && modifiedTop) Seq(
          sum(when(col("cnt") === 3L, 1L).otherwise(0L)).cast("double").as(s"n3_$k"),
          sum(when(col("cnt") === 4L, 1L).otherwise(0L)).cast("double").as(s"n4_$k"))
        else Seq.empty) ++
        (if (k == 2) Seq(
          count(lit(1)).cast("double").as("dd"),
          countDistinct(col("g2")).cast("double").as("t"))
        else Seq.empty)
      tbl(k).agg(cc.head, cc.tail: _*)
    }
    val vocab = raw
      .select(explode(array((1 to n).map(i => col(s"g$i")): _*)).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    val scalars = (n to 2 by -1).map(scalarsOf)
      .reduceLeft(_.crossJoin(_))
      .crossJoin(vocab)
    // Discount columns: every level's single interpolated estimate,
    // plus the per-count D1/D2/D3+ ladder when the top is modified.
    val withD = (n to 2 by -1).foldLeft(scalars) { (df, k) =>
      df.withColumn(s"d$k", singleDiscount(col(s"n1_$k"), col(s"n2_$k")))
    }
    val glob =
      if (!modifiedTop) withD
      else {
        val y = col(s"d$n") // Y IS the top level's single-discount estimate
        withD
          .withColumn("md1",
            when(col(s"n1_$n") > 0.0,
              greatest(lit(1.0) - lit(2.0) * y * col(s"n2_$n") / col(s"n1_$n"),
                lit(0.0))).otherwise(lit(0.0)))
          .withColumn("md2",
            when(col(s"n2_$n") > 0.0,
              greatest(lit(2.0) - lit(3.0) * y * col(s"n3_$n") / col(s"n2_$n"),
                lit(0.0))).otherwise(lit(0.0)))
          .withColumn("md3",
            when(col(s"n3_$n") > 0.0,
              greatest(lit(3.0) - lit(4.0) * y * col(s"n4_$n") / col(s"n3_$n"),
                lit(0.0))).otherwise(y))
      }

    // Score join chain: level k's table joins on the gram suffix
    // (g_{n−k+1}..g_n), its context stats one slot shorter — exactly
    // the m138/m144 join order, generalized.
    def renameTo(df: DataFrame, k: Int): DataFrame =
      df.select(df.columns.toIndexedSeq.map { c =>
        if (c.startsWith("g") && c.drop(1).forall(_.isDigit))
          col(c).as(s"g${c.drop(1).toInt + (n - k)}")
        else col(c)
      }: _*)
    var joined = gramsOfN(docs, n)
      .join(raw.withColumnRenamed("cnt", s"cnt$n"),
        (1 to n).map(i => s"g$i"), "left")
      .join(renameTo(ctx(n), n), (1 to (n - 1)).map(i => s"g$i"), "left")
    for (k <- (n - 1) to 2 by -1) {
      joined = joined
        .join(renameTo(tbl(k).withColumnRenamed("cnt", s"cnt$k"), k),
          (n - k + 1 to n).map(i => s"g$i"), "left")
        .join(renameTo(ctx(k), k), (n - k + 1 to n - 1).map(i => s"g$i"), "left")
    }
    joined = joined
      .join(cont.withColumnRenamed("g2", s"g$n"), Seq(s"g$n"), "left")
      // empty model → empty scores: filtering the 1-row scalar frame
      // collapses the cross join (and the output) to zero rows instead
      // of NaN-ing every held-out score through the left joins
      .crossJoin(broadcast(glob.filter(col("dd") > 0.0)))

    // The probability ladder, unigram continuation level up to the top.
    val du = col("d2")
    var p: Column =
      greatest(coalesce(col("nb").cast("double"), lit(0.0)) - du, lit(0.0)) / col("dd") +
        du * col("t") / col("dd") / col("v")
    for (k <- 2 to n) {
      val caD = col(s"ca$k").cast("double")
      val cD = coalesce(col(s"cnt$k").cast("double"), lit(0.0))
      val (dSel, lam) =
        if (k == n && modifiedTop) {
          val dOfC = when(cD === 0.0, lit(0.0))
            .when(cD === 1.0, col("md1"))
            .when(cD === 2.0, col("md2"))
            .otherwise(col("md3"))
          (dOfC,
            (col("md1") * col("tm1") + col("md2") * col("tm2") +
              col("md3") * col("tm3")) / caD * p)
        } else
          (col(s"d$k"), col(s"d$k") * col(s"nf$k").cast("double") / caD * p)
      p = when(col(s"ca$k").isNotNull, greatest(cD - dSel, lit(0.0)) / caD + lam)
        .otherwise(p)
    }

    val nCol = n match {
      case 2 => "n_bigrams"
      case 3 => "n_trigrams"
      case k => s"n_${k}grams"
    }
    // Spark's log(0) is NULL and avg SKIPS nulls — without the explicit
    // -Inf branch, a held-out doc mixing one impossible gram (the
    // documented n1=0 edge) with seen grams would score a FINITE
    // average over its survivors, silently dropping the impossible
    // event. p = 0 must poison the whole doc: ln 0 = -Inf, ce = +Inf
    // (the object doc's contract, spec-pinned). Self-scoring never
    // takes the branch (every gram realized ⇒ p > 0).
    val lnP = when(p > 0.0, log(p)).otherwise(lit(Double.NegativeInfinity))
    joined.groupBy("doc_id")
      .agg(count(lit(1)).as(nCol), (-avg(lnP)).as("cross_entropy"))
      .withColumn("perplexity", exp(col("cross_entropy")))
  }

  /** Rename a public count table (a, b[, c], cab|cabc) to the internal
    * (g1..gn, cnt) form. */
  private def toRaw(counts: DataFrame, order: Int): DataFrame =
    counts.toDF((1 to order).map(i => s"g$i") :+ "cnt": _*)

  /** Score `docs` against a trained bigram count table (a, b, cab):
    * (doc_id, n_bigrams, cross_entropy, perplexity) under interpolated
    * KN. Docs with < 2 tokens have no bigrams and are absent (the m43
    * contract). See the object doc for the held-out n1 = 0 edge. */
  def scoreAgainst(docs: DataFrame, counts: DataFrame): DataFrame =
    knScore(docs, toRaw(counts, 2), 2, modifiedTop = false)

  /** MODIFIED KN over a bigram count table (a, b, cab) — per-count
    * top-level discounts (the object doc's D1/D2/D3+ ladder). */
  def modifiedScoreAgainst(docs: DataFrame, counts: DataFrame): DataFrame =
    knScore(docs, toRaw(counts, 2), 2, modifiedTop = true)

  /** Trigram count table (a, b, c, cabc) — the order-3 LM sufficient
    * statistic ([[ngramCounts]] under the public column names). */
  def trigramCounts(docs: DataFrame): DataFrame =
    ngramCounts(docs, 3).toDF("a", "b", "c", "cabc")

  /** TRIGRAM interpolated KN over a count table (a, b, c, cabc) — the
    * order-3 recursion: trigram discounts over the raw table, the
    * bigram level on CONTINUATION counts c'(bc) = N1+(·bc), the m138
    * unigram level, uniform 1/V termination. */
  def trigramScoreAgainst(docs: DataFrame, counts3: DataFrame): DataFrame =
    knScore(docs, toRaw(counts3, 3), 3, modifiedTop = false)

  /** TRIGRAM MODIFIED KN (m145) — order 3 with the per-count D1/D2/D3+
    * ladder at the trigram level: the entry point of the configuration
    * public KenLM actually defaults to (modified KN at order 3–5). */
  def modifiedTrigramScoreAgainst(docs: DataFrame, counts3: DataFrame): DataFrame =
    knScore(docs, toRaw(counts3, 3), 3, modifiedTop = true)

  /** Score held-out docs against an order-n count table in the
    * [[ngramCounts]] (g1..gn, cnt) form — the generic entry point that
    * makes the order-4/5 configurations reachable without new
    * plumbing. */
  def scoreAgainstN(docs: DataFrame, counts: DataFrame, order: Int,
                    modified: Boolean = false): DataFrame =
    knScore(docs, counts, order, modified)
}
