package graft.queries

import graft.Tables
import graft.dedup.{ExactDedup, MinHashLSH, NgramJaccard, SimHash}
import graft.multimodal.Multimodal
import graft.similarity.{Ann, Vectors}
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** Training-data pipeline queries over the documents/embeddings corpus.
  *
  * The shipped corpus is all-distinct (no natural near-duplicates), so the
  * dedup queries run over [[withSyntheticDups]] — a deterministic
  * augmentation that adds exact copies and lightly-mutated copies of the
  * first docs. That keeps every dedup query's output non-empty and actually
  * demonstrates detection, while staying a pure function of the input (the
  * oracle can reproduce the exact-dup half in SQL).
  */
object CorpusQueries {

  /** Synthetic-id offset for planted fixtures: the smallest power of ten
    * clearing the table's real id range, floored at 10000 — so every
    * driver SF (≤ 5000 docs / 2000 vectors) keeps the historical
    * 10000/20000/30000 boundaries the SQL oracles encode byte-for-byte,
    * while GENERATED larger corpora (tools/GenData) never leak organic
    * ids into the synthetic ranges. The round-9 sf1 stats sweep caught
    * m72 treating 40k organic docs as the "new batch" (6 GB of spill)
    * because 10000 was hardcoded against a 50k-id corpus. Cached per
    * (dir, table): one narrow max() scan per JVM — fixture plumbing, not
    * a production operator. `df` is by name: a warm key builds no frame,
    * so it runs no parquet schema job either. */
  private val offsets = new graft.Memo[Long]
  private def synthOffset(df: => DataFrame, key: String, idCol: String): Long =
    offsets(key) {
      val mx = Option(df.agg(max(col(idCol))).head().get(0))
        .fold(0L)(_.asInstanceOf[Long])
      var off = 10000L
      while (off <= mx) off *= 10
      off
    }
  private[graft] def docOff(s: SparkSession, dir: String): Long =
    synthOffset(Tables.documents(s, dir), s"$dir::documents", "doc_id")

  private[graft] def vecOff(s: SparkSession, dir: String): Long =
    synthOffset(Tables.embeddings(s, dir), s"$dir::embeddings", "vec_id")

  /** +50 exact copies (doc_id + 2·off) and +50 mutated copies
    * (doc_id + off, first word replaced) of the lowest-id documents. */
  def withSyntheticDups(docs: DataFrame, off: Long = 10000L): DataFrame = {
    val exact = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + (2 * off))
    val mutated = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + off)
      .withColumn("text", concat(lit("zz"), substring(col("text"), 3, 1000000)))
    docs.unionByName(exact).unionByName(mutated)
  }

  /** The dup-augmented corpus every dedup-tier query runs on — the one
    * fixture spelling shared with [[graft.pipeline.DedupAssets]]. */
  def augmentedDocs(s: SparkSession, dir: String): DataFrame =
    withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))

  // ---- text analysis --------------------------------------------------

  def textStats(s: SparkSession, dir: String): DataFrame =
    TextOps.textStats(Tables.documents(s, dir))

  def langQualityFilter(s: SparkSession, dir: String): DataFrame =
    TextOps.langQualityGate(Tables.documents(s, dir))

  /** Sliding-window chunking (50-token windows, stride 40). */
  def chunkDocuments(s: SparkSession, dir: String): DataFrame =
    TextOps.chunk(Tables.documents(s, dir))

  /** Content-defined chunking (m30) — edit-robust chunk boundaries from
    * token hashes; the chunk-dedup companion to m16's fixed windows. */
  def cdcChunkDocuments(s: SparkSession, dir: String): DataFrame =
    graft.text.CdcChunk.chunks(Tables.documents(s, dir))

  /** Consecutive-duplicate-token collapse + repetition metrics (m19). */
  def repetitionCollapse(s: SparkSession, dir: String): DataFrame =
    graft.text.Repetition.collapseRuns(Tables.documents(s, dir))

  /** Deterministic PII augmentation: every doc gains an email, an IPv4 and
    * a phone number derived from doc_id, so the redaction query has
    * guaranteed matches and the oracle can rebuild the identical input. */
  def withSyntheticPii(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).withColumn("text",
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10.1."),
        (col("doc_id") % 256).cast("string"),
        lit(".7 call +1 (555) 010-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))

  /** PII scrub over the PII-augmented corpus (m20). */
  def piiRedact(s: SparkSession, dir: String): DataFrame =
    graft.text.PiiRedact.redact(
      Tables.spread(withSyntheticPii(Tables.documents(s, dir)), "doc_id", Tables.CorpusSpread))

  /** Deterministic card-number augmentation for m141 — a pure function
    * of doc_id (the withSyntheticPii recipe), replayed verbatim in the
    * oracle SQL: a Luhn-VALID test PAN with space separators (doc_id ≡ 0
    * mod 3), the same PAN's last digit bumped → Luhn-INVALID with
    * hyphens (≡ 1), or a digit run below candidate length (≡ 2) — so
    * the corpus carries positives, checksum-negatives and
    * length-negatives in known proportion. */
  def withSyntheticCards(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" pay 4111 1111 1111 1111 today"))
          .when(col("doc_id") % 3 === 1, lit(" ref 4111-1111-1111-1112 attached"))
          .otherwise(lit(" order 123456 confirmed"))))

  /** Luhn-verified card detection (m141): per doc, digit runs in the
    * 13–19-digit range and the Luhn-valid subset — the Dolma/ROOTS-style
    * PII tier beyond m20's regex scrub (checksum validation kills the
    * order-id/serial false positives). Zero-exchange projection. */
  def ccLuhn(s: SparkSession, dir: String): DataFrame =
    graft.text.Luhn.cardCounts(
      Tables.spread(withSyntheticCards(Tables.documents(s, dir)), "doc_id", Tables.CorpusSpread))

  /** Per-source quota sample, cap 7 (m21) — two-phase pruned sampler. */
  def sourceQuotaSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.QuotaSample.quotaSample(
      Tables.documents(s, dir), groupCol = "source", keyCol = "doc_id", cap = 7)

  /** Corpus-wide top-k token bigrams — generate → partial-agg →
    * term exchange → TakeOrderedAndProject; the bigram exchange carries
    * (gram, partial count) only, never document text. */
  def topBigramsOver(docs: DataFrame, k: Int = 20): DataFrame = {
    val toks = split(lower(trim(col("text"))), " +")
    docs.filter(col("text").isNotNull)
      .select(toks.as("t"))
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(k)
  }

  /** Top-20 bigrams over the documents table (m22). */
  def topBigrams(s: SparkSession, dir: String): DataFrame =
    topBigramsOver(Tables.documents(s, dir))

  /** Deterministic multi-line augmentation for m31: the corpus text is
    * single-line, so wrap each document in the boilerplate a web crawl
    * carries — an alternating header, a newsletter plug, a unique ref
    * line (guaranteed kept), and a copyright footer. A pure function of
    * the input, so the oracle rebuilds the identical corpus in SQL. */
  def withSyntheticLines(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).withColumn("text",
      concat_ws("\n",
        when(col("doc_id") % 2 === 0,
          lit("this site uses cookies accept to continue"))
          .otherwise(lit("home products about contact")),
        col("text"),
        lit("subscribe to our newsletter for updates"),
        concat(lit("ref "), col("doc_id").cast("string")),
        lit("copyright all rights reserved")))

  /** Line-level boilerplate dedup (m31) over the line-augmented corpus:
    * lines shared by ≥ 10 documents are struck, content survives. */
  def lineDedup(s: SparkSession, dir: String): DataFrame =
    graft.text.LineDedup.dedupLines(
      withSyntheticLines(Tables.documents(s, dir)), minDocs = 10)

  /** m92's corpus: [[withSyntheticLines]] plus deterministic per-doc line
    * NOISE, so every line-level Gopher rule fires both ways — bullet
    * scrapings on doc_id ≡ 0 (mod 3), "read more..." truncation markers
    * on ≡ 0 (mod 5), a repeated boilerplate line on ≡ 0 (mod 7). Pure
    * function of the input; the oracle rebuilds the identical corpus. */
  def withSyntheticLineNoise(docs: DataFrame): DataFrame =
    withSyntheticLines(docs).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\n- sale item one\n- sale item two")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\nread more...\nloading more results...")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("\nsubscribe to our newsletter for updates")).otherwise(lit(""))))

  /** Line-level Gopher rule card (m92): ellipsis-line / bullet-line /
    * duplicate-line fractions over the noise-augmented multi-line corpus
    * — the rules the single-line battery (m91) cannot express. One
    * projection pass, no shuffle. */
  def gopherLineRules(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.lineRules(
      withSyntheticLineNoise(Tables.documents(s, dir)))

  /** m93's corpus: a spam phrase repeated 3× appended to doc_id ≡ 0
    * (mod 4) — the corpus vocabulary is too small for natural
    * duplicate-5-gram mass (measured 0 across all of sf0.01), so the
    * duplicate-n-gram rules need planted repetition to fire both ways;
    * the top-n-gram rules already trip naturally (2–28% per n). Pure
    * function of the input; the oracle rebuilds the identical corpus. */
  def withSyntheticRepetition(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 4 === 0,
          repeat(lit(" limited time offer click here to claim your" +
            " exclusive reward now today"), 3)).otherwise(lit(""))))

  /** Repetition rule card (m93): top n-gram (n=2..4) and duplicate
    * n-gram (n=5..10) character fractions with the MassiveText
    * thresholds — the third Gopher family, completing m91 (word rules)
    * and m92 (line rules). */
  def repetitionRules(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.repetitionRulesCompiled(
      Tables.spread(withSyntheticRepetition(Tables.documents(s, dir)), "doc_id",
        Tables.CorpusSpread))

  /** Heavy-hitter 3-grams (m111) over the m93 repetition fixture (the
    * planted spam phrase is exactly the boilerplate the diagnostic
    * exists to surface): Misra–Gries proposes ≤ k candidates, an exact
    * recount keeps those at/above floor(N/(k+1)) + 1 — deterministic
    * under any partitioning by the mergeable-summaries superset
    * guarantee, so the oracle replays it sketch-free. */
  def heavyGrams(s: SparkSession, dir: String): DataFrame =
    graft.text.HeavyGrams.heavyGrams(
      Tables.spread(withSyntheticRepetition(Tables.documents(s, dir)), "doc_id",
        Tables.CorpusSpread))

  /** Paper-exact position-union repetition card (m109): same families,
    * thresholds and fixture as m93, but a character counts at most once
    * however many duplicated n-grams cover it — both semantics certified
    * side by side. */
  def repetitionRulesUnion(s: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.repetitionRulesUnion(
      Tables.spread(withSyntheticRepetition(Tables.documents(s, dir)), "doc_id",
        Tables.CorpusSpread))

  /** m94's corpus: [[withSyntheticLines]] plus the deterministic noise
    * every C4 rule needs to fire both ways — the base boilerplate lines
    * carry no terminal punctuation (struck by the line filter), so:
    * a five-sentence kept line on even ids (the sentence floor splits
    * even/odd), an enable-javascript banner on ≡ 0 (mod 3), a lorem-
    * ipsum plug on ≡ 0 (mod 5), a curly-brace code fragment on ≡ 0
    * (mod 7), a blocklist line on ≡ 0 (mod 11), and a too-short
    * punctuated line on ≡ 0 (mod 13). Pure function of the input; the
    * oracle rebuilds the identical corpus in SQL. */
  def withSyntheticC4Noise(docs: DataFrame): DataFrame =
    withSyntheticLines(docs).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 2 === 0,
          lit("\nthe quick brown fox jumps over the lazy dog. " +
            "it runs fast. it never stops. we watch it daily. " +
            "the end is near.")).otherwise(lit("")),
        when(col("doc_id") % 3 === 0,
          lit("\nplease enable javascript to view this page."))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          lit("\nlorem ipsum dolor sit amet.")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit("\nconst config = { theme: dark }")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\nwin big at the casino tonight.")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit("\nok fine.")).otherwise(lit(""))))

  /** C4 rule card (m94): terminal-punctuation / min-words / javascript
    * line rewrite plus the lorem-ipsum / brace / blocklist / sentence-
    * floor page gate — the fourth rule family, the line-REWRITING
    * counterpart to the Gopher scoring battery (m91–m93). */
  def c4Rules(s: SparkSession, dir: String): DataFrame =
    graft.text.C4Rules.c4Rules(
      Tables.spread(withSyntheticC4Noise(Tables.documents(s, dir)), "doc_id", Tables.CorpusSpread))

  /** m95's corpus: a six-word domain phrase appended to doc_id ≡ 0,1
    * (mod 10) — the corpus vocabulary is uniform across sources, so
    * without a planted domain the target and raw bigram distributions
    * differ only by sampling noise and the importance ranking, while
    * still deterministic, separates nothing. The phrase-bearing docs ARE
    * the target set; they also stay in the raw pool (DSIR's raw is the
    * full crawl). Pure function of the input; the oracle rebuilds the
    * identical corpus. */
  def withSyntheticDomain(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 10 < 2,
          lit(" quantum flux entangled qubit lattice coherence"))
          .otherwise(lit(""))))

  /** DSIR importance weights (m95): hashed-bigram log p_target − log
    * p_raw per doc + top-20% selection — the importance-resampling data
    * selector, scored against the planted-domain target set.
    *
    * The heavy-tier entrypoint applies the EXECUTABLE shuffle-sizing
    * rule (round-16 ask #4, [[graft.operators.ScalePartitions]]): the
    * gen-300 probe measured this operator's aggregates spilling
    * 10.2/68.5 GB at the fixed 32-partition cap, and the rule — a pure
    * function of the corpus row count and Dsir's measured per-doc
    * exchange footprint — widens both corpus-sized exchanges when the
    * estimate outgrows the session floor. Below the threshold (every
    * committed bench scale) the plan is byte-identical to before. */
  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ScalePartitions
    val docs = withSyntheticDomain(Tables.documents(s, dir))
    graft.text.Dsir.importanceWeights(
      Tables.spread(docs, "doc_id", Tables.CorpusSpread),
      isTarget = col("doc_id") % 10 < 2,
      shufflePartitions = ScalePartitions.forShuffle(
        ScalePartitions.sourceRows(docs), graft.text.Dsir.ShuffleBytesPerDoc,
        floor = ScalePartitions.sessionFloor(s)))
  }

  /** Global keep-first line dedup (m96) over the m92 noise corpus (its
    * shared boilerplate exercises cross-doc races; its mod-7 repeated
    * plug exercises within-doc strikes) — the Lee-et-al keep-one policy
    * at line granularity, complementing m31's strike-everywhere
    * frequency policy. */
  def keepFirstLineDedup(s: SparkSession, dir: String): DataFrame =
    graft.text.LineDedup.keepFirstLines(
      withSyntheticLineNoise(Tables.documents(s, dir)))

  /** Bigram-frequency novelty scores (m32) — rareMax 25 puts ~25% of the
    * sf0.01 corpus's bigram occurrences under the rare line, so both
    * branches of the gate are exercised. */
  def bigramNovelty(s: SparkSession, dir: String): DataFrame =
    // scan spread (round 21 A/B): the bigram count + per-doc score walks
    // are CPU-dense and ran at single-row-group scan parallelism; all
    // consumers are aggregation-based (partition-invariant)
    graft.text.NgramNovelty.bigramNovelty(
      Tables.documentsSpread(s, dir), rareMax = 25)

  /** Temperature-smoothed mix rebalance (m34) over a deterministically
    * SKEWED grouping — the corpus's sources are uniform, so the group key
    * is the decimal-digit count of doc_id (sizes 10/90/400 at 500 docs),
    * making the downsampling observable: the big group shrinks toward
    * √(n·min) while the small group is kept whole. */
  def temperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.QuotaSample.temperatureRebalance(
      Tables.documents(s, dir).withColumn("domain",
        concat(lit("d"), length(col("doc_id").cast("string")))),
      groupCol = "domain")

  /** UniMax budget allocation (m100) over the m34 skewed grouping (the
    * corpus's real sources are uniform — uniform sources waterfill
    * trivially to budget/k and exercise nothing): 80% of the corpus's
    * tokens, epoch cap 2.0. At the fixture's 10/90/400-doc skew the two
    * small groups saturate (contribute every token twice) and the big
    * group lands on the waterline — all three operator states exercised.
    * The one corpus-sized stage is the token-count aggregate; the
    * waterfill itself is source-count-bounded. */
  def unimaxMix(s: SparkSession, dir: String): DataFrame = {
    val sizes = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(concat(lit("src_"),
          length(col("doc_id").cast("string"))).as("source"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    graft.operators.UniMax.allocateFrac(sizes, budgetFrac = 0.8, epochCap = 2.0)
  }

  /** Temperature-weighted mix card (m110) over the same skewed m34
    * grouping as m100 (uniform sources make every α look alike): α = 0.3,
    * 80% token budget — the `p ∝ n^α` companion to UniMax's waterfill,
    * so a mix dashboard can compare cap-based and exponent-based
    * smoothing on identical inputs. */
  def alphaMixWeights(s: SparkSession, dir: String): DataFrame = {
    val sizes = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(concat(lit("src_"),
          length(col("doc_id").cast("string"))).as("source"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    graft.operators.TemperatureMix.allocate(sizes, alpha = 0.3,
      budgetFrac = 0.8)
  }

  /** Source-drift card (m116): KL(P_group ‖ P_corpus) in bits over the
    * corpus top-256 tokens + tail bucket, grouped by `lang` — the corpus's
    * `source` column is uniform (all groups share one token distribution,
    * KL ≈ 0 everywhere), while languages have genuinely disjoint
    * vocabularies, so the drift signal is real and every code path
    * (vocab hits, tail mass, near-zero and large KL) is exercised.
    * Differs from m55 ([[sourceDivergence]]): that one sums the full
    * vocabulary; this is the bounded top-V + tail form whose per-source
    * state is (V+1) rows regardless of corpus size. */
  def boundedKlDrift(s: SparkSession, dir: String): DataFrame =
    graft.text.SourceDivergence.klBySource(
      Tables.documents(s, dir), sourceCol = "lang", vocab = 256)

  /** DoReMi domain reweighting (m117): one multiplicative-weights step on
    * the domain mixture from per-domain excess loss under the corpus's
    * own bigram LM, grouped by `lang` — the axis whose LM fit genuinely
    * differs (languages share one model, so the rarer ones score worse
    * than the pooled average and get up-weighted, exactly the DRO
    * dynamic), while `source` is distribution-uniform in this corpus. */
  def doremiWeights(s: SparkSession, dir: String): DataFrame =
    // adaptive scan spread (round 21): the two bigram-LM walks (count
    // pass + score pass) are CPU-dense and ran as single-task jobs
    // (0.28 s + 0.36 s — JobProfile); per-doc grams never leave their
    // row, so the spread is result-invariant as everywhere
    graft.operators.DoremiWeights.weights(
      Tables.documentsSpread(s, dir))

  /** Neyman audit allocation (m115): minimum-variance per-source sample
    * sizes for a 100-doc manual audit of char mass, over the same m34
    * skewed digit-count grouping as m100/m110 (so stratum sizes differ
    * and the N_h·σ_h product is observable). The third allocation law in
    * the mix-card family: m100 caps epochs, m110 smooths by n^α, m115
    * sizes audit samples by stratum variance. */
  def neymanAlloc(s: SparkSession, dir: String): DataFrame = {
    val perDoc = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(concat(lit("src_"),
          length(col("doc_id").cast("string"))).as("source"),
        length(col("text")).as("n_chars"))
    graft.operators.NeymanAlloc.allocate(perDoc, "source", "n_chars", k = 100)
  }

  /** Priority sample (m114): k = 100 docs drawn ∝ char mass with the
    * Duffield–Lund–Thorup unbiased subset-sum estimator — the
    * weighted-sampling companion to m34/m100/m110's mix cards (those
    * decide how much each SOURCE contributes; this picks the actual
    * DOCUMENTS, certainty-including any megadoc whose weight exceeds the
    * threshold). Weight = max(length, 1) so empty-but-present docs stay
    * sampleable. Every arithmetic step is IEEE-exact (see
    * [[graft.operators.PrioritySample]]), so the oracle replays the
    * priorities bit-for-bit. */
  def prioritySample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        greatest(length(col("text")), lit(1)).cast("long").as("weight"))
    graft.operators.PrioritySample.sample(docs, "doc_id", "weight", k = 100)
  }

  /** Per-source corpus composition report (m35): doc/token/char mass and
    * an exact interpolated median — what a mix dashboard reads. One
    * partial-aggregated exchange of (source, counters); the median is the
    * only non-decomposable statistic and rides the same narrow rows.
    *
    * The registered query is exact (the driver oracle replays
    * interpolated quantile_cont semantics). The 100 TB swap is the
    * library call `corpusReportOver(docs, approx = true)`: every
    * median/MAD in m35/m69 becomes `percentile_approx` (bounded-memory
    * t-digest sketch, mergeable in partial aggregation) with the
    * identical plan shape — ApproxSwapSpec pins exact≈approx at test
    * scale. */
  def corpusReport(s: SparkSession, dir: String): DataFrame =
    corpusReportOver(Tables.documents(s, dir))

  private def median(c: org.apache.spark.sql.Column, approx: Boolean) =
    if (approx) percentile_approx(c, lit(0.5), lit(10000))
    else percentile(c, lit(0.5))

  def corpusReportOver(docs: DataFrame, approx: Boolean = false): DataFrame = {
    val d = docs.filter(col("text").isNotNull)
      .select(col("source"),
        length(col("text")).cast("long").as("n_chars_c"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("n_tokens"))
    d.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("total_tokens"),
      min("n_tokens").as("min_tokens"),
      max("n_tokens").as("max_tokens"),
      (sum(col("n_tokens")).cast("double") / count(lit(1))).as("mean_tokens"),
      median(col("n_tokens"), approx).cast("double").as("median_tokens"),
      sum("n_chars_c").as("total_chars"))
  }

  /** Per-source distribution divergence (m55): KL(source ‖ corpus) over
    * the token unigram distributions — the mix-drift statistic a corpus
    * dashboard alarms on (a source whose language suddenly shifts shows
    * up here before it shows up in eval loss). Counts are exact longs;
    * the one floating-point reduction (Σ p·ln(p/q)) folds a TERM-SORTED
    * array inside each source row, so the sum order is deterministic and
    * the oracle hash-matches — a plain double-sum aggregate would be
    * partial-aggregation-order-dependent.
    *
    * Scale shape: one (source, term) partial-agg exchange (vocab-bounded,
    * never document text), corpus term mass broadcast back; the
    * per-source term list is vocab-sized by construction. */
  def sourceDivergenceOver(docs: DataFrame): DataFrame = {
    val st = docs.filter(col("text").isNotNull)
      .select(col("source"),
        explode(split(lower(trim(col("text"))), " +")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("source", "term").agg(count(lit(1)).as("n_st"))
    val sTot = st.groupBy("source").agg(sum("n_st").as("n_s"))
    val tTot = st.groupBy("term").agg(sum("n_st").as("n_t"))
    val nAll = st.agg(sum("n_st").as("n_all"))
    val p = col("n_st").cast("double") / col("n_s")
    val q = col("n_t").cast("double") / col("n_all")
    st.join(sTot, Seq("source"))
      .join(tTot, Seq("term"))  // term marginals: vocab-sized, AQE decides
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("term"), col("n_st"),
        (p * log(p / q)).as("contrib"))
      .groupBy("source")
      .agg(sum("n_st").as("n_tokens"),
        count(lit(1)).as("n_terms"),
        aggregate(
          array_sort(collect_list(struct(col("term"), col("contrib")))),
          lit(0.0), (acc, s) => acc + s.getField("contrib")).as("kl_vs_corpus"))
  }

  /** KL mix-drift report over the documents table (m55). */
  def sourceDivergence(s: SparkSession, dir: String): DataFrame =
    sourceDivergenceOver(Tables.documents(s, dir))

  /** Deterministic global shuffle into 8 training shards (m36). */
  def shuffleShards(s: SparkSession, dir: String): DataFrame =
    graft.operators.ShuffleShards.shuffleShards(
      Tables.documents(s, dir), numShards = 8)

  /** The split fractions shared by the m39 query and its oracle. */
  val SplitFractions: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Deterministic 80/10/10 train/val/test assignment (m39): per-key hash
    * thresholds, so growing the corpus never reassigns a surviving doc —
    * the property that keeps eval sets stable across ingests. */
  def trainValTestSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.HashSplit.assign(
      Tables.documents(s, dir).select("doc_id", "source"),
      keyCol = "doc_id", fractions = SplitFractions)

  /** BPE tokenizer-token accounting (m40): train merges on the corpus
    * word table (distributed — one word-count exchange, see
    * [[graft.text.Bpe.trainDistributed]]), then count real tokenizer
    * tokens per document — the number a
    * token-budget mix builder actually needs (m27's whitespace count is
    * the estimate). The merge budget is sized BELOW the corpus's ~31-word
    * vocabulary's full-merge point so the output shows genuine subword
    * structure (200 merges would collapse every word to one token and
    * prove nothing). The TRAINING loop stays spec-pinned (BpeSpec pins
    * the textbook merge sequence and round-trip); the finished run's
    * merge list is captured so the oracle replays greedy ENCODE itself in
    * a DuckDB recursive CTE ([[graft.OracleModelSql.bpeTokenStats]]) —
    * the q40/m53 captured-model recipe. */
  def bpeTokenStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = bpeModel(s, dir)
    graft.OracleCapture.put("m40_bpe_tokens", model.merges)
    graft.text.Bpe.tokenStats(docs, model)
  }

  /** Tokenizer vocabulary-usage report (m88): per realized BPE token, its
    * corpus count, frequency rank, share and cumulative share — the
    * coverage curve ("how many tokens cover 90% of the corpus", "which
    * merges never fire"). Same shared model as m40/m79; the oracle
    * replays encode via the recursive-CTE chain and re-derives the whole
    * curve. */
  def tokenCoverage(s: SparkSession, dir: String): DataFrame = {
    val model = bpeModel(s, dir)
    graft.OracleCapture.put("m88_token_coverage", model.merges)
    graft.text.Bpe.tokenCoverage(Tables.documents(s, dir), model)
  }

  /** One trained BPE model per corpus per JVM ([[graft.Memo]]): m40 and
    * m79 share the same
    * tokenizer (the production contract — fertility is a property OF a
    * tokenizer, so retraining per report would both double the bounded
    * driver train and risk auditing a different model than the one that
    * tokenized the corpus). Trained DISTRIBUTED since round 14: one
    * corpus word-count exchange feeds the merge loop, so the pair
    * statistics track the whole corpus as it grows instead of a fixed
    * 4096-doc sample (BpeSpec pins trainDistributed ≡ train when the
    * sample covers the corpus — which also means the captured-model
    * oracles were unaffected by the switch at fixture scale). */
  private[graft] val bpeModels = new graft.Memo[graft.text.Bpe.Model]
  private def bpeModel(s: SparkSession, dir: String): graft.text.Bpe.Model =
    bpeModels(dir) {
      graft.text.Bpe.trainDistributed(Tables.documents(s, dir), 40)
    }

  /** WordPiece tokenizer-token accounting (m139): train likelihood-scored
    * merges on the corpus word table (distributed — the shared
    * [[graft.text.WordTables]] contract), then count MaxMatch tokens and
    * [UNK] fallbacks per document — the closed-vocabulary budget card
    * the BERT-family pipelines read. The merge budget sits below the
    * fixture vocabulary's full-merge point (the m40 sizing rule) so the
    * output shows genuine subword structure. TRAINING stays spec-pinned
    * (WordPieceSpec — likelihood merge order, MaxMatch, the UNK path);
    * the finished run's piece vocabulary is captured so the oracle
    * replays greedy longest-match encode itself in a DuckDB recursive
    * CTE ([[graft.OracleModelSql.wordPieceStats]]). */
  def wordPieceTokenStats(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = wpModel(s, dir)
    graft.OracleCapture.put("m139_wordpiece_tokens", model.pieces)
    graft.text.WordPiece.tokenStats(docs, model)
  }

  /** Per-source WordPiece fertility + UNK rate (m143): the m79/m136
    * report for the third tokenizer family, under the SAME shared model
    * as m139 — fertility is a property OF a tokenizer (the m40/m79
    * contract), and the UNK rate is the closed-vocabulary signal the
    * other two families don't have: a source with rising unk_rate is
    * drifting outside the trained alphabet. One partial-agg source
    * exchange over m139's shuffle-free encode. */
  def wordPieceFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = wpModel(s, dir)
    graft.OracleCapture.put("m143_wordpiece_fertility", model.pieces)
    graft.text.WordPiece.tokenStats(docs, model)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        sum(col("n_wp_tokens")).as("total_wp_tokens"),
        sum(col("n_unk_words")).as("total_unk_words"),
        when(sum(col("n_words")) === 0L, lit(0.0))
          .otherwise(sum(col("n_wp_tokens")).cast("double") /
            sum(col("n_words")).cast("double")).as("fertility"),
        when(sum(col("n_words")) === 0L, lit(0.0))
          .otherwise(sum(col("n_unk_words")).cast("double") /
            sum(col("n_words")).cast("double")).as("unk_rate"))
  }

  /** One trained WordPiece model per corpus per JVM ([[graft.Memo]]) —
    * the third tokenizer family. */
  private[graft] val wpModels = new graft.Memo[graft.text.WordPiece.Model]
  private def wpModel(s: SparkSession, dir: String): graft.text.WordPiece.Model =
    wpModels(dir) {
      graft.text.WordPiece.trainDistributed(Tables.documents(s, dir), 30)
    }

  /** One trained unigram-LM tokenizer per corpus per JVM ([[graft.Memo]])
    * — the OTHER tokenizer family. Training
    * is deterministic (sorted word-table EM fold), so the memo serves
    * every consumer the weights a private train would produce. */
  private[graft] val uniModels = new graft.Memo[graft.text.UnigramLm.Model]
  private def uniModel(s: SparkSession, dir: String): graft.text.UnigramLm.Model =
    uniModels(dir)(graft.text.UnigramLm.train(Tables.documents(s, dir)))

  /** Unigram-LM tokenizer accounting (m135): per-document Viterbi token
    * counts under the EM-trained SentencePiece-style unigram model
    * (Kudo 2018) — the m40 report shape for the OTHER tokenizer family,
    * so a mix builder can budget T5/Llama-style corpora next to
    * GPT-style ones. The run's (piece, cost) table is captured and the
    * oracle replays the Viterbi DP bit-for-bit
    * ([[graft.OracleModelSql.unigramTokenStats]]). */
  def unigramTokens(s: SparkSession, dir: String): DataFrame = {
    val model = uniModel(s, dir)
    graft.OracleCapture.put("m135_unigram_tokens", model.pieces)
    graft.text.UnigramLm.tokenStats(Tables.documents(s, dir), model)
  }

  /** Unigram-tokenizer fertility report (m136): per-source
    * tokens-per-word and chars-per-token under the m135 shared unigram
    * model — the m79 report for the other tokenizer family, so the two
    * tokenizers' per-source budgets sit side by side. Reads the shared
    * per-corpus model, captures it under its OWN key (the
    * no-shared-capture convention). One partial-agg exchange on source;
    * the encode pass is m135's memoized map. */
  def unigramFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = uniModel(s, dir)
    graft.OracleCapture.put("m136_unigram_fertility", model.pieces)
    fertilityOver(graft.text.UnigramLm.tokenStats(docs, model), docs,
      tokCol = "n_uni_tokens", totalName = "total_uni_tokens")
  }

  /** Shared per-source fertility aggregation for the two tokenizer
    * families (m79 BPE, m136 unigram): tokens-per-word and
    * chars-per-token from a per-doc (n_words, n_chars, tokCol) stats
    * frame. 0/0 guards (ADVICE r15): a source of all-whitespace docs has
    * zero words/tokens, and NaN rows hash/compare inconsistently in the
    * verify gate — report 0.0, mirrored in the oracle SQL
    * ([[graft.OracleModelSql.bpeFertility]]/[[graft.OracleModelSql.unigramFertility]]). */
  private[graft] def fertilityOver(stats: DataFrame, docs: DataFrame,
                                   tokCol: String, totalName: String): DataFrame =
    stats.join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        sum(col(tokCol)).as(totalName),
        when(sum(col("n_words")) === 0L, lit(0.0))
          .otherwise(sum(col(tokCol)).cast("double") /
            sum(col("n_words")).cast("double")).as("fertility"),
        when(sum(col(tokCol)) === 0L, lit(0.0))
          .otherwise(sum(col("n_chars")).cast("double") /
            sum(col(tokCol)).cast("double")).as("chars_per_token"))

  /** Salted skew join (m80): the events table joined to a per-type stats
    * dim THROUGH [[graft.operators.SkewJoin.saltedJoin]] — event_type
    * has 4 values over millions of rows, the textbook viral key. The
    * driver hash-compare against a PLAIN SQL join proves the salting is
    * semantically invisible (its whole contract): the hot key's rows
    * spread over n tasks, the result is byte-identical. */
  def saltedEventJoin(s: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(s, dir).select(col("event_id"), col("event_type"))
    val dim = e.groupBy("event_type").agg(count(lit(1)).as("type_count"))
    graft.operators.SkewJoin.saltedJoin(e, dim, Seq("event_type"), n = 8)
  }

  /** Tokenizer fertility report (m79): per-source tokens-per-word and
    * chars-per-token under the trained BPE (m40's model) — the tokenizer
    * QA table. A source whose fertility spikes is misspelled, foreign to
    * the vocabulary, or noise — it will silently cost that many more
    * training FLOPs per word. One partial-agg exchange on source; the
    * encode pass is m40's memoized per-partition map.
    *
    * CorpusQueriesSpec pins fertility ≥ 1, arithmetic consistency and
    * merge-count monotonicity here; [[tokenizerFertility]] is this report
    * with the merge list captured for the oracle replay. */
  def tokenizerFertilityRaw(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    fertilityOver(graft.text.Bpe.tokenStats(docs, bpeModel(s, dir)), docs,
      tokCol = "n_bpe_tokens", totalName = "total_bpe_tokens")
  }

  /** m79 driver query: the RAW fertility report, fully hash-checked —
    * round 11's recursive-CTE encode replay (the m40 flip) made the
    * BPE-dependent token totals themselves DuckDB-recomputable, so the
    * interim certificate form (exact companions + `fertility_ok`) is
    * superseded; the oracle now recomputes fertility/chars_per_token from
    * the captured merge list ([[graft.OracleModelSql.bpeFertility]]). */
  def tokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    graft.OracleCapture.put("m79_tokenizer_fertility", bpeModel(s, dir).merges)
    tokenizerFertilityRaw(s, dir)
  }

  /** Cross-doc repeated 30-token windows (m42) over the augmented corpus
    * — the exact-substring dedup signal at window granularity. */
  def repeatedWindows(s: SparkSession, dir: String): DataFrame =
    graft.text.RepeatedWindows.flag(
      withSyntheticDups(Tables.documents(s, dir), docOff(s, dir)), w = 30)

  /** Repeated-span REMOVAL (m82): m42's flagged windows actually cut out
    * of every document — the exact-substring dedup rewrite a training
    * pipeline ships. Same augmented corpus and window width as m42, so
    * the two queries audit the same repetition mass from both sides
    * (what was flagged vs what the scrubbed corpus no longer contains). */
  def spanScrub(s: SparkSession, dir: String): DataFrame =
    graft.text.SpanScrub.scrub(
      withSyntheticDups(Tables.documents(s, dir), docOff(s, dir)), w = 30)

  /** Keep-first exact-substring dedup (m97) over the same dup-augmented
    * corpus as m82 — the keep-one-copy policy: the (doc_id, window_idx)-
    * earliest occurrence of every repeated window survives, every later
    * copy is cut. Against this fixture the base doc (lowest id) keeps its
    * text verbatim, its exact copy scrubs to '' and its mutated copy
    * keeps only the changed head — where m82 erases all three. */
  def keepFirstSpans(s: SparkSession, dir: String): DataFrame =
    graft.text.SpanScrub.keepFirstSpans(
      withSyntheticDups(Tables.documents(s, dir), docOff(s, dir)), w = 30)

  /** Length-unbounded maximal repeated spans (m133) over the same
    * dup-augmented corpus as m42/m82/m97 — the suffix-array dedup tier
    * (Lee et al. 2021) at w = 10: boilerplate the 30-token window form
    * cannot see (10–29 tokens) is caught, and every longer repeat is
    * attributed at its FULL extent as one (start, length) span instead
    * of a pile of overlapping window rows. */
  def maximalRepeats(s: SparkSession, dir: String): DataFrame =
    // stays UNSPREAD (round-21 A/B: flat control-normalized — the span
    // walk already overlaps its downstream count stages)
    graft.text.MaximalRepeats.spans(
      withSyntheticDups(Tables.documents(s, dir), docOff(s, dir)), w = 10)

  /** One trained quality-classifier model per corpus per JVM
    * ([[graft.Memo]]): training is deterministic (exact
    * fixed-point gradient sums, weights a pure function of the corpus),
    * so the four consumers (m83 scoring, m86 ROC, m98 calibration,
    * m101/m118 gate fusion) share one train instead of re-running the
    * full GD loop each. Trained DISTRIBUTED since round 15: each
    * iteration's gradient is one partition-bounded aggregate over the
    * full cached feature frame, so the model sees EVERY document as the
    * corpus grows instead of a 4096-doc sample
    * (QualityClassifierSpec pins trainDistributed ≡ train when the
    * sample covers the corpus, and partition-invariant). The
    * no-shared-CAPTURE convention is untouched: every query still puts
    * the (identical) weights under its OWN key, so each oracle replays
    * exactly its run's model.
    *
    * Memo durability: the [[graft.Memo]] contract (MemoSpec; the
    * DedupAssetsSpec model-memo tests pin it per model) — exactly one
    * same-corpus caller trains, a FAILED train never poisons the memo,
    * and staleness is per-JVM ([[resetModelMemos]] ≙ new process →
    * retrain sees the current corpus). */
  private[graft] val qcModels = new graft.Memo[graft.text.QualityClassifier.Model]
  private def qcModel(s: SparkSession, dir: String): graft.text.QualityClassifier.Model =
    qcModels(dir)(graft.text.QualityClassifier.trainDistributed(Tables.documentsSpread(s, dir)))

  /** Test hook (DedupAssetsSpec): drop the per-JVM model memos so a spec
    * can observe retrain-on-fresh-process semantics. */
  private[graft] def resetModelMemos(): Unit =
    Seq(qcModels, bpeModels, uniModels, langModels, wpModels, labeledModels)
      .foreach(_.clear())

  /** The planted per-language labeled set (m137/m67): 300 docs, 60 per
    * language, text = trim(repeat(phrase ∥ ' ', 1 + i % 3)) over
    * [[graft.text.LangId.PlantedPhrases]] — deterministic and replayed
    * verbatim by the oracle's range()-generated CTE. The fixture role of
    * a curated labeled corpus (Wikipedia/Tatoeba-style) in a real
    * deployment. Callers pass [[langOff]] (3·docOff) as the id base:
    * [[withSyntheticDups]] plants its copies at [docOff, docOff+50) and
    * [2·docOff, 2·docOff+50), so the 300-doc block at 3·docOff is the
    * first range no other fixture occupies (review r16). */
  private[graft] def syntheticLangDocs(s: SparkSession, off: Long): DataFrame = {
    import s.implicits._
    val phrases = graft.text.LangId.PlantedPhrases
    (0 until graft.text.LangId.PlantedCount).map { i =>
      val (lang, phrase) = phrases(i % phrases.size)
      (off + i, lang, ((phrase + " ") * (1 + i % 3)).trim)
    }.toDF("doc_id", "lang", "text")
  }

  /** The planted language block's id base: the first fixture range
    * [[withSyntheticDups]] does not occupy (it uses docOff and
    * 2·docOff). */
  private[graft] def langOff(s: SparkSession, dir: String): Long =
    3 * docOff(s, dir)

  /** One trained language-ID model per corpus per JVM ([[graft.Memo]] —
    * training is deterministic, so the two consumers
    * (m137 scoring, m67 confusion card) share one distributed train). */
  private val langModels = new graft.Memo[graft.text.LangId.Model]
  private def langModel(s: SparkSession, dir: String): graft.text.LangId.Model =
    langModels(dir)(graft.text.LangId.train(syntheticLangDocs(s, langOff(s, dir))))

  /** The m137/m67 scoring corpus: every real doc plus the planted
    * labeled block. */
  private def langCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir).select("doc_id", "lang", "text")
      .unionByName(syntheticLangDocs(s, langOff(s, dir)))

  private def langCapture(s: SparkSession, dir: String,
                          key: String): graft.text.LangId.Model = {
    val model = langModel(s, dir)
    graft.OracleCapture.put(key,
      (model.classes.toSeq, model.quantized.map(_.toSeq).toSeq, langOff(s, dir)))
    model
  }

  /** Trained language-ID scoring (m137): the char-n-gram multinomial LR
    * ([[graft.text.LangId]]) over real + planted docs — (doc_id, lang,
    * pred_lang, margin, n_grams). The run's quantized weights are
    * captured so the oracle replays scoring end-to-end from the parquet
    * (the m83 recipe, K classes wide). */
  def langIdScore(s: SparkSession, dir: String): DataFrame = {
    val model = langCapture(s, dir, "m137_langid_score")
    graft.text.LangId.score(langCorpus(s, dir), model)
  }

  // ---- the EXTERNAL labeled-set contract (m146/m147, round-16 ask #7) ----

  /** Labeled docs in the external set: 600, 120 per language. */
  private[graft] val LabeledCount = 600

  /** The labeled block's id base: 4·docOff — the next fixture range
    * after withSyntheticDups (docOff, 2·docOff) and the planted block
    * (3·docOff). */
  private[graft] def labeledOff(s: SparkSession, dir: String): Long =
    4 * docOff(s, dir)

  /** The external labeled set's rows — doc i: language i % 5, text =
    * the language's word list ROTATED by (block % 5) words where block
    * = i / 5, repeated 1 + i % 2 times. The rotation index cycles with
    * the SAME period as the 80/20 block split, so train blocks carry
    * exactly rotations 0–3 and holdout blocks exactly rotation 4 — the
    * held-out texts are unseen by the trainer BY CONSTRUCTION for
    * every class (review r17: a |words|-period rotation leaked ~17/24
    * de and es holdout docs into the train split because 38 and 36 are
    * coprime to 5). Pure formula both engines reconstruct (DuckDB:
    * list slicing + repeat); fields follow the
    * [[graft.schema.Document]] contract. */
  private[graft] def labeledLangRows(off: Long): Seq[(Long, String, String, String, Long)] =
    (0 until LabeledCount).map { i =>
      val phrases = graft.text.LangId.PlantedPhrases
      val (lang, phrase) = phrases(i % phrases.size)
      val words = phrase.split(" ")
      val k = (i / phrases.size) % 5
      val rot = (words.drop(k) ++ words.take(k)).mkString(" ")
      val text = ((rot + " ") * (1 + i % 2)).trim
      (off + i, text, lang, "labeled", text.length.toLong)
    }

  /** Write the labeled set as JSONL once per corpus per JVM and hand
    * back the file path — m146/m147 read it through the PRODUCTION
    * reader ([[graft.io.Sources.documentsJsonl]]: explicit schema,
    * PERMISSIVE quarantine), which is the point of the contract: the
    * trainer's input arrives the way external labeled corpora
    * (Wikipedia/Tatoeba-style) actually ship. One deliberately
    * truncated line exercises the quarantine path end-to-end — the
    * reader must shed it into `_corrupt_record`, not fail the load
    * (spec-pinned; the all-null quarantined row falls to the
    * doc_id-null filter in [[labeledSet]]). */
  private val labeledJsonlPaths = new graft.Memo[String]

  /** Minimal JSON string escaper (\\, ", and control chars < 0x20):
    * the labeled JSONL is built by interpolation, so a planted phrase
    * containing a quote or backslash must become a VALID escaped
    * string, not a silently quarantined line that shrinks the labeled
    * set and desyncs the trainer from the oracle's formula replay. */
  private[graft] def jsonStr(s: String): String = {
    val b = new StringBuilder(s.length + 2)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '"'  => b.append("\\\"")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.toString
  }

  private[graft] def labeledJsonlPath(s: SparkSession, dir: String): String =
    labeledJsonlPaths(dir) {
      val p = java.nio.file.Files.createTempDirectory("graft-labeled-jsonl")
      val lines = labeledLangRows(labeledOff(s, dir)).map {
        case (id, text, lang, source, n) =>
          s"""{"doc_id":$id,"text":"${jsonStr(text)}","lang":"${jsonStr(lang)}","source":"${jsonStr(source)}","n_chars":$n}"""
      } :+ """{"doc_id":"""  // the truncated shipment line
      val f = p.resolve("labeled.jsonl")
      java.nio.file.Files.write(f,
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f.toString
    }

  /** The labeled set as the trainer sees it: JSONL → production reader
    * → quarantine shed → (doc_id, lang, text). */
  private[graft] def labeledSet(s: SparkSession, dir: String): DataFrame =
    graft.io.Sources.documentsJsonl(s, labeledJsonlPath(s, dir))
      .filter(col("doc_id").isNotNull) // quarantined lines are all-null
      .select("doc_id", "lang", "text")

  /** Train/holdout split of the labeled set: 80/20 on the id formula —
    * by 5-doc BLOCK ((doc_id − off) / 5 mod 5 < 4), not raw id mod,
    * because each block holds one doc per language: a raw mod-10 split
    * would hold out only the last two classes. Both engines draw the
    * identical line (DuckDB: (doc_id − off) // 5). Result: 96 train /
    * 24 holdout docs per class, disclosed by Model.classCounts. */
  private[graft] def labeledTrainFilter(off: Long) =
    ((col("doc_id") - lit(off)) / lit(5)).cast("long") % 5 < 4

  /** One labeled-set-trained model per corpus per JVM ([[graft.Memo]])
    * — trained ONLY on the 80% train split; m146
    * scores the held-out 20%, m147 calibrates over the full set. */
  private val labeledModels = new graft.Memo[graft.text.LangId.Model]
  private[graft] def labeledModel(s: SparkSession, dir: String): graft.text.LangId.Model =
    labeledModels(dir)(graft.text.LangId.train(
      labeledSet(s, dir).filter(labeledTrainFilter(labeledOff(s, dir)))))

  /** Held-out labeled-set scoring (m146): the m137 scorer under a REAL
    * labeled-data contract — the model trains on the external set's
    * 80% train split (arriving as JSONL through the production reader)
    * and is evaluated on the 20% it never saw, the Wikipedia/Tatoeba
    * shape of a production LID deployment. Captured weights replay the
    * holdout scoring in the oracle. */
  def langIdLabeled(s: SparkSession, dir: String): DataFrame = {
    val off = labeledOff(s, dir)
    val model = labeledModel(s, dir)
    graft.OracleCapture.put("m146_langid_labeled",
      (model.classes.toSeq, model.quantized.map(_.toSeq).toSeq, off))
    graft.text.LangId.score(
      labeledSet(s, dir).filter(!labeledTrainFilter(off)), model)
  }

  /** Per-class calibration card (m147): the m98 ECE recipe over the
    * labeled-set model's POSTERIORS — per (predicted class, confidence
    * decile): support, hits, mean confidence vs observed accuracy, the
    * gap, and the class-weighted ECE term. The card a deployment reads
    * before using m137-style confidences as routing thresholds.
    * Determinism: conf is quantized ONCE per doc to an integer
    * ([[graft.text.LangId.scoreCalibrated]]); bins and Σq are integer
    * arithmetic from there; ratios divide in fixed operand order. */
  def langIdCalibration(s: SparkSession, dir: String): DataFrame = {
    val off = labeledOff(s, dir)
    val model = labeledModel(s, dir)
    graft.OracleCapture.put("m147_langid_calibration",
      (model.classes.toSeq, model.quantized.map(_.toSeq).toSeq, off))
    val scored = graft.text.LangId.scoreCalibrated(labeledSet(s, dir), model)
    val binned = scored
      .select(col("pred_lang"),
        least(floor(col("conf_q") / lit(100000000L)).cast("long"), lit(9L)).as("bin"),
        (col("pred_lang") === col("lang")).cast("long").as("hit"),
        col("conf_q"))
      .groupBy("pred_lang", "bin")
      .agg(count(lit(1)).as("n"), sum("hit").as("n_correct"),
        sum("conf_q").as("sum_q"))
    val totals = binned.groupBy("pred_lang").agg(sum("n").as("class_total"))
    binned.join(broadcast(totals), Seq("pred_lang"))
      .select(col("pred_lang"), col("bin"), col("n"), col("n_correct"),
        (col("sum_q").cast("double") / lit(1e9) / col("n")).as("mean_conf"),
        (col("n_correct").cast("double") / col("n")).as("frac_correct"),
        col("class_total"))
      .withColumn("gap", abs(col("mean_conf") - col("frac_correct")))
      .withColumn("ece_term",
        col("gap") * col("n").cast("double") / col("class_total"))
      .drop("class_total")
  }

  /** Learned quality filter (m83): logistic regression distilled from the
    * m02 gate — bounded deterministic training sample, literal-weights
    * scoring pass; the run's weights are captured so the oracle replays
    * scoring end-to-end from the parquet. */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val model = qcModel(s, dir)
    graft.OracleCapture.put("m83_quality_classifier", model.w.toSeq)
    graft.text.QualityClassifier.score(Tables.documents(s, dir), model)
  }

  /** Classifier operating curve (m86): confusion counts + TPR/FPR/
    * precision per logit threshold — how a rollout picks the cut. Reads
    * the shared per-corpus model ([[qcModel]] — training is
    * deterministic, so the weights are identical to a private train) but
    * captures them under its OWN key per the no-shared-capture
    * convention, and fans each scored row out to the 9-point threshold
    * grid inside its partition. */
  def classifierRoc(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = qcModel(s, dir)
    graft.OracleCapture.put("m86_classifier_roc", model.w.toSeq)
    graft.text.QualityClassifier.rocReport(docs, model)
  }

  /** Calibration / reliability card (m98): per predicted-probability
    * decile, mean predicted p vs observed positive rate + per-bin ECE
    * contribution — certifies whether m83's scores are usable as
    * SAMPLING WEIGHTS (the ROC (m86) only certifies the ranking). Reads
    * the shared per-corpus model, captured under its own key (the
    * no-shared-capture convention), so the oracle replays scoring +
    * binning from this run's exact weights. */
  def calibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = qcModel(s, dir)
    graft.OracleCapture.put("m98_calibration", model.w.toSeq)
    graft.text.QualityClassifier.calibrationReport(docs, model)
  }

  /** Snapshot diff (m44): the current corpus plays the NEW snapshot; the
    * OLD one is derived deterministically so every status is exercised —
    * doc_id%10==7 absent from old ("added"), %10==3 text-mutated in old
    * ("changed"), and 25 old-only rows at doc_id+30000 ("removed"; the
    * offset clears every SF's id range). A pure function of the input, so
    * the oracle rebuilds the identical snapshots in SQL. */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val older = docs.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text", when(col("doc_id") % 10 === 3,
        concat(lit("zz"), substring(col("text"), 3, 1000000)))
        .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") + (3 * docOff(s, dir))))
    graft.operators.SnapshotDiff.diff(older, docs, keyCol = "doc_id")
  }

  /** Three-version snapshot merge (m61): v1 = m44's older snapshot
    * (%10==7 absent, %10==3 mutated, +25 extra rows), v2 = the shipped
    * corpus, v3 = corpus with %10==5 mutated ("qq" marker) and %10==1
    * dropped — exercising added / removed / changed / re-add transitions
    * with first_seen preserved. Pure function of the input, so the
    * oracle rebuilds all three snapshots in SQL. */
  def snapshotMerge(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val v1 = docs.filter(col("doc_id") % 10 =!= 7)
      .withColumn("text", when(col("doc_id") % 10 === 3,
        concat(lit("zz"), substring(col("text"), 3, 1000000)))
        .otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") + (3 * docOff(s, dir))))
    val v3 = docs.filter(col("doc_id") % 10 =!= 1)
      .withColumn("text", when(col("doc_id") % 10 === 5,
        concat(lit("qq"), substring(col("text"), 3, 1000000)))
        .otherwise(col("text")))
    graft.operators.SnapshotMerge.mergeAll(
      Seq((1L, v1), (2L, docs), (3L, v3)))
  }

  /** Deterministic Unicode augmentation for m50: the corpus is ASCII, so
    * append a suffix exercising every canonicalization path — precomposed
    * é, NBSP, ï, a tab, a combining acute (e+U+0301 → NFC é), runs of
    * spaces, a combining diaeresis, and a trailing space. A pure function
    * of the input; the oracle rebuilds it with chr() escapes. */
  def withSyntheticUnicode(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).withColumn("text",
      concat(col("text"),
        lit("  caf\u00e9\u00a0na\u00efve\te\u0301cole  zu\u0308rich ")))

  /** Unicode canonicalization (m50): NFC → unaccent → NBSP → whitespace
    * collapse, as codegen'd expressions over the augmented corpus. */
  def canonicalize(s: SparkSession, dir: String): DataFrame =
    graft.text.Canonical.canonicalized(
      withSyntheticUnicode(Tables.documents(s, dir)))

  /** Deterministic HTML augmentation for m51: the corpus is plain text,
    * so wrap each document in the markup a crawl page carries — head/title,
    * a style block, nav boilerplate, the body paragraph, an entity
    * paragraph exercising every supported entity INCLUDING the
    * double-decode trap (`&amp;lt;` must come out `&lt;`, not `<`), a
    * script block, a comment, and a footer. A pure function of the input,
    * so the oracle rebuilds the identical page in SQL. */
  def withSyntheticMarkup(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull).withColumn("text",
      concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>body { color: #000; }</style></head>" +
          "<body><nav>home | products | about</nav><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><p>Tom &amp; Jerry say &quot;hi&quot; &#39;s &lt;3" +
          " literal &amp;lt; stays</p><script type=\"text/javascript\">var id = "),
        col("doc_id").cast("string"),
        lit("; track(id);</script><!-- rendered "), col("doc_id").cast("string"),
        lit(" --><footer>&nbsp;copyright</footer></body></html>")))

  /** Markup strip (m51): HTML → plain text over the markup-augmented
    * corpus — drop script/style/comments, tags become word boundaries,
    * named entities decode once, whitespace collapses. */
  def markupStrip(s: SparkSession, dir: String): DataFrame =
    graft.text.MarkupStrip.stripMarkup(
      withSyntheticMarkup(Tables.documents(s, dir)))

  /** Per-doc TF-IDF top-3 terms (m45) — document keyword extraction. */
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame =
    graft.text.TfIdf.topTerms(Tables.documents(s, dir), k = 3)

  /** Bigram-LM self-perplexity (m43): add-α cross-entropy per document —
    * the statistic CCNet-style quality gates threshold on. minCount stays
    * 1 here so the oracle replays exactly; at 100 TB the singleton tail
    * would be pruned (the α backoff absorbs the pruned mass).
    *
    * SERVED FROM THE SHARED COUNT ASSET since round 17 (`asset:
    * ngramcounts2`, [[graft.pipeline.DedupAssets.ngramCounts]]): the
    * whole LM tier (m43/m89/m124/m138/m142/m144/m145) reads one stored
    * count table per (corpus fingerprint, order) instead of each query
    * re-tokenizing and re-counting the corpus — counts are exact
    * longs/strings, so every consumer's hash is unchanged (pinned
    * stored ≡ direct in DedupAssetsSpec). */
  def lmPerplexity(s: SparkSession, dir: String): DataFrame =
    graft.text.NgramLm.scoreAgainst(Tables.documentsSpread(s, dir),
      graft.pipeline.DedupAssets.ngramCounts(s, dir, 2))

  /** Interpolated Kneser–Ney self-perplexity (m138): the smoothing the
    * public perplexity-filter canon ships (CCNet's KenLM models) —
    * continuation-count backoff with the counts-of-counts discount, one
    * tier above m43's add-α. minCount stays 1 so the oracle replays the
    * full count table (the m43 convention); counts from the shared
    * asset (the m43 note). */
  def kneserNeyPerplexity(s: SparkSession, dir: String): DataFrame =
    graft.text.KneserNey.scoreAgainst(Tables.documentsSpread(s, dir),
      graft.pipeline.DedupAssets.ngramCounts(s, dir, 2))

  /** MODIFIED Kneser–Ney self-perplexity (m142): the KenLM default —
    * per-count discounts D1/D2/D3+ from the counts-of-counts (Chen &
    * Goodman 1998), one tier above m138's single-discount form. */
  def modifiedKnPerplexity(s: SparkSession, dir: String): DataFrame =
    graft.text.KneserNey.modifiedScoreAgainst(Tables.documentsSpread(s, dir),
      graft.pipeline.DedupAssets.ngramCounts(s, dir, 2))

  /** Trigram interpolated KN self-perplexity (m144): the order the
    * public KenLM configurations actually start at — trigram discounts
    * over the trigram table, lower order on CONTINUATION counts
    * (c'(bc) = N1+(·bc)), terminating at the m138 unigram level. */
  def trigramKnPerplexity(s: SparkSession, dir: String): DataFrame =
    graft.text.KneserNey.trigramScoreAgainst(Tables.documentsSpread(s, dir),
      graft.pipeline.DedupAssets.ngramCounts(s, dir, 3))

  /** Trigram MODIFIED KN self-perplexity (m145): order 3 with the
    * per-count D1/D2/D3+ discount ladder at the trigram level — the
    * configuration public KenLM actually defaults to (modified KN at
    * order 3–5), now one flag on the unified order-n recursion. */
  def modifiedTrigramKnPerplexity(s: SparkSession, dir: String): DataFrame =
    graft.text.KneserNey.modifiedTrigramScoreAgainst(Tables.documentsSpread(s, dir),
      graft.pipeline.DedupAssets.ngramCounts(s, dir, 3))

  /** HLL cardinality card (m140): per-source distinct 3-shingle count by
    * HyperLogLog sketch vs exact — the error card certifying the sketch
    * the 100 TB tier substitutes for exact distinct (groups × 4096
    * integer registers on the wire instead of every distinct hash). The
    * exact side rides the same 48-bit md5 hash so both engines count
    * the identical value set. */
  def hllCardinality(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HyperLogLog
    val hashed = Tables.documentsSpread(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        explode(graft.dedup.NgramJaccard.wordShingleSet(col("text"), lit(3))).as("gram"))
      .filter(col("gram") =!= "")
      .select(col("source"), HyperLogLog.hash48(col("gram")).as("h"))
    val est = HyperLogLog.estimate(
      HyperLogLog.registers(hashed, Seq("source"), col("h")), Seq("source"))
    val exact = hashed.groupBy("source")
      .agg(countDistinct(col("h")).as("exact_distinct"))
    exact.join(est, Seq("source"))
      .select(col("source"), col("exact_distinct"), col("registers_hit"),
        col("hll_estimate"),
        ((col("hll_estimate") - col("exact_distinct")) / col("exact_distinct"))
          .as("rel_err"))
  }

  /** HLL union card (m148): the sketch's MERGE PATH under real use —
    * m140 certifies the estimator; this card consumes it where exact
    * distinct is the scale problem: per-source distinct-shingle
    * sketches are UNIONED into the corpus-wide cardinality by pointwise
    * register max, without a second pass over the shingle stream (the
    * number [[graft.dedup.LshPlanner]]'s sizing wants at 100 TB, where
    * per-source sketches arrive from separate ingestion runs). Output:
    * one row per source plus the merged 'ALL' row — the ALL estimate is
    * derived ONLY from the per-source register tables (merge
    * associativity makes it bit-identical to a from-scratch global
    * sketch; spec-pinned, and the oracle recomputes the merge the same
    * way). Exchange bound: sources × 4096 register rows in, ≤ 4096 out. */
  def hllUnionCard(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HyperLogLog
    val hashed = Tables.documentsSpread(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        explode(graft.dedup.NgramJaccard.wordShingleSet(col("text"), lit(3))).as("gram"))
      .filter(col("gram") =!= "")
      .select(col("source"), HyperLogLog.hash48(col("gram")).as("h"))
    val regs = HyperLogLog.registers(hashed, Seq("source"), col("h"))
    val perSource = HyperLogLog.estimate(regs, Seq("source"))
      .select(col("source").as("scope"), col("registers_hit"), col("hll_estimate"))
    val merged = HyperLogLog.estimate(HyperLogLog.merge(regs), Seq.empty)
      // a GLOBAL aggregate emits one row even over zero registers —
      // the empty-corpus contract wants an empty card, not (ALL, 0,
      // null); any non-empty corpus hits ≥ 1 register
      .filter(col("registers_hit") > 0)
      .select(lit("ALL").as("scope"), col("registers_hit"), col("hll_estimate"))
    perSource.unionByName(merged)
  }

  /** The full (non-distinct) per-source 3-shingle OCCURRENCE stream —
    * the frequency sketch's input (m149; [[hllCardinality]]'s stream is
    * the DISTINCT set, which is the other sketch's semantics). The
    * CASE keeps short docs as one whole-text gram, mirroring the m140
    * oracle construction token-for-token. */
  private def shingleOccurrences(s: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    def at(i: org.apache.spark.sql.Column) = element_at(t, i)
    Tables.documentsSpread(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), split(lower(trim(col("text"))), " +").as("t"))
      .select(col("source"), explode(
        when(size(t) < 3, array(concat_ws(" ", t)))
          .otherwise(transform(sequence(lit(1), size(t) - 2),
            i => concat_ws(" ", at(i), at(i + 1), at(i + 2))))).as("gram"))
      .filter(col("gram") =!= "")
  }

  /** Count-Min frequency card (m149): the sketch triad's FREQUENCY leg
    * under real use — per-source 4×1024 Count-Min counters over the
    * shingle occurrence stream, MERGED corpus-wide by elementwise add
    * (the m148 union story for frequencies), probed with the exact
    * top-20 shingles and certified one-sided: estimate ≥ exact always,
    * overcount ≤ εN (spec-pinned ≥ 0 per row). At 100 TB the exact
    * side is the corpus-sized count this sketch replaces; the counter
    * exchange stays ≤ sources × 4096 integer rows. */
  def cmsFrequencyCard(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val occ = shingleOccurrences(s, dir)
    val merged = CountMin.merge(CountMin.counters(occ, Seq("source"), col("gram")))
    val top = occ.groupBy("gram").agg(count(lit(1)).as("exact_count"))
      .orderBy(col("exact_count").desc, col("gram")).limit(20)
    CountMin.estimate(merged, top, "gram")
      .join(top, Seq("gram"))
      .select(col("gram"), col("exact_count"), col("cms_estimate"),
        (col("cms_estimate") - col("exact_count")).as("overcount"))
  }

  /** Production (certificate-off) frequency card (m155, verdict r19
    * #4): what m149 costs once its exact top-20 certificate — the
    * corpus-sized count the sketch exists to replace — is dropped at
    * 100 TB. The surviving work: the per-source counter build (ONE
    * exchange bounded at sources × 4×1024 integer rows), the corpus
    * merge, and point probes for a BOUNDED watchlist. The watchlist
    * stands in for the planner's query set and is deterministic
    * without any corpus-sized aggregate: the first document's (min
    * doc_id — a scalar partial-agg fold) distinct shingles, first
    * 20 by gram order. m149 stays the estimate-quality gate;
    * this row's oracle replays the identical counters + watchlist, so
    * the production path is hash-checked in its own right. */
  def cmsFrequencyProduction(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CountMin
    val occ = shingleOccurrences(s, dir)
    val merged = CountMin.merge(
      CountMin.counters(occ, Seq("source"), col("gram")))
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val watch = docs
      .join(broadcast(docs.agg(min(col("doc_id")).as("doc_id"))), Seq("doc_id"))
      .select(explode(
        graft.dedup.NgramJaccard.wordShingleSet(col("text"), lit(3))).as("gram"))
      .filter(col("gram") =!= "")
      .distinct()
      .orderBy("gram").limit(20)
    CountMin.estimate(merged, watch, "gram")
      .select(col("gram"), col("cms_estimate"))
  }

  /** Production (certificate-off) prune policy (m156, verdict r19 #4):
    * the decision path m152's exact-df leg certifies and 100 TB drops.
    * The merged counters are ≤ 4×1024 integer cells at ANY corpus
    * size, so they are collected once and folded into four dense
    * array LITERALS — the policy below is then a pure map-side
    * projection over the (doc, gram) stream: no df aggregate, no
    * per-gram state, and the summary's only exchange beyond the
    * bounded counter build is the scalar partial-agg fold of the two
    * counts. Emits one row: (tau, n_pairs, n_pairs_pruned) — the
    * candidate-pair stream size and how much of it the sketch policy
    * prunes. m152 remains the certificate surface (missed_prunes ≡ 0);
    * this row's oracle recomputes the same counters and policy
    * exactly, so the production decision is hash-checked too. */
  def cmsPruneProduction(s: SparkSession, dir: String,
                         tau: Long = 8L): DataFrame = {
    import graft.operators.CountMin
    val gd = Tables.documentsSpread(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.dedup.NgramJaccard.wordShingleSet(col("text"), lit(3))).as("gram"))
      .filter(col("gram") =!= "")
    // DELIBERATELY not pinned (unlike m153/m154's distinct stream): the
    // shingle walk feeds the counter build (run eagerly by the collect
    // below) and the policy count, but it is a CORPUS-SIZED exploded
    // stream and both consumers are narrow pipelined scans — paying the
    // walk twice is the 100 TB-correct trade. The first cut pinned it
    // and measured the consequence at gen-1000 (5M docs, ~150M (doc,
    // gram) rows): the localCheckpoint's storage squeezed execution
    // memory to an UNABLE_TO_ACQUIRE_MEMORY task failure, while the
    // unpinned double-scan completes. Snapshot state must stay bounded
    // (sketches, not streams) — the same rule the store tier follows.
    val sketch = CountMin.merge(CountMin.counters(gd, Seq.empty, col("gram")))
    val dense: IndexedSeq[Array[Long]] = {
      val a = IndexedSeq.fill(CountMin.Depth)(Array.fill(CountMin.Width)(0L))
      sketch.collect().foreach { row =>
        a(row.getAs[Int]("r"))(row.getAs[Long]("bucket").toInt) =
          row.getAs[Long]("cnt")
      }
      a
    }
    // try_element_at, not element_at: ANSI throws on out-of-bounds, and
    // while bucketOf is provably mod-Width, the null path also makes
    // the empty-corpus zero-sketch read as estimate 0 rather than a
    // special case
    val est = least((0 until CountMin.Depth).map { j =>
      coalesce(
        try_element_at(typedlit(dense(j).toSeq),
          (CountMin.bucketOf(j, col("gram")) + 1).cast("int")),
        lit(0L))
    }: _*)
    gd.select(est.as("e"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("e") > tau, 1L).otherwise(0L)).as("n_pairs_pruned"))
      // empty-corpus contract: the global aggregate's one row over zero
      // pairs must not survive (the m148/m152 gate)
      .filter(col("n_pairs") > 0)
      .select(lit(tau).as("tau"), col("n_pairs"), col("n_pairs_pruned"))
  }

  /** KMV cross-source overlap card (m153): the set-OPERATION sketch —
    * per-source k-minimum-values sketches over distinct 3-shingle
    * hashes (the m140/m148 stream), pairwise Jaccard ESTIMATES from
    * sketches alone, certified against the exact pairwise overlap (the
    * m60 semantics) per pair. This is the capability HLL cannot give
    * the planner: HLL unions but never intersects; KMV's k-smallest
    * state supports union, intersection and Jaccard between any two
    * scopes — at 100 TB the mirror-site detector reads |sources|²
    * sketch pairs of k longs each instead of the exact pairwise
    * shingle join, and the exact side of THIS card is that join,
    * documented as the thing dropped at scale. Every statistic is a
    * pure function of the item set (no order/partition sensitivity),
    * so the whole chain is hash-certified cross-engine. */
  def kmvSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{HyperLogLog, KmvSketch}
    val k = KmvSketch.DefaultK
    val hashed = Tables.documentsSpread(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        explode(graft.dedup.NgramJaccard.wordShingleSet(col("text"), lit(3))).as("gram"))
      .filter(col("gram") =!= "")
      .select(col("source"), HyperLogLog.hash48(col("gram")).as("h"))
    // The shingle walk is the dominant cost and FOUR consumers read its
    // distinct stream (sketches, sizes, both sides of the intersection
    // join) — pin it once (review r18; the harness frees snapshots
    // between queries). kMin is duplicate-insensitive (spec-pinned), so
    // the sketch builds from the same distinct stream.
    val gd = hashed.distinct().pinned(true)
    val sk = gd.groupBy("source").agg(KmvSketch.kMin(k)(col("h")).as("sk"))
    val pairs = sk.select(col("source").as("src_a"), col("sk").as("ska"))
      .crossJoin(broadcast(
        sk.select(col("source").as("src_b"), col("sk").as("skb"))))
      .filter(col("src_a") < col("src_b"))
    val nd = gd.groupBy("source").agg(count(lit(1)).as("nd"))
    val inter = gd.as("x")
      .join(gd.as("y"), col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(broadcast(nd.select(col("source").as("src_a"), col("nd").as("nd_a"))), Seq("src_a"))
      .join(broadcast(nd.select(col("source").as("src_b"), col("nd").as("nd_b"))), Seq("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .select(col("src_a"), col("src_b"),
        size(KmvSketch.unionSketch(col("ska"), col("skb"), k)).cast("long").as("k_used"),
        KmvSketch.jaccardEstimate(col("ska"), col("skb"), k).as("est_jaccard"),
        (col("n_inter").cast("double") /
          (col("nd_a") + col("nd_b") - col("n_inter")).cast("double")).as("exact_jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("exact_jaccard")))
  }

  /** KMV k-way union card (m154): the MULTI-source consumer the m153
    * pair card stops short of — "how many unique shingles does the
    * combined corpus have", answered by folding EVERY source's sketch
    * into one corpus sketch (verdict r18 #4). The fold re-aggregates
    * sketch CONTENTS through the same k-min aggregator: semantically
    * the k-way sorted-array merge (the k smallest of a union are always
    * inside the union of the per-set k smallest), spec-pinned ≡ a
    * pairwise [[graft.operators.KmvSketch.unionSketch]] chain in any
    * association order. The exact corpus-wide distinct count rides
    * along as the certificate — the full-corpus distinct aggregate this
    * sketch replaces at 100 TB, where the planner reads |sources| × k
    * longs instead. Exchange budget: sources × k longs for the fold,
    * one count-distinct exchange for the certificate leg only. */
  def kmvCorpusUnionCard(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{HyperLogLog, KmvSketch}
    val k = KmvSketch.DefaultK
    val hashed = Tables.documentsSpread(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        explode(graft.dedup.NgramJaccard.wordShingleSet(col("text"), lit(3))).as("gram"))
      .filter(col("gram") =!= "")
      .select(col("source"), HyperLogLog.hash48(col("gram")).as("h"))
    // one distinct pass feeds all three consumers (sketches, source
    // count, exact certificate) — the m153 pin-once discipline
    val gd = hashed.distinct().pinned(true)
    val sk = gd.groupBy("source").agg(KmvSketch.kMin(k)(col("h")).as("sk"))
    // the k-way merge: every source sketch's entries re-aggregated
    // through kMin — duplicate-insensitive sorted-set state, so this IS
    // the sorted-array k-way merge, distributed (≤ sources × k longs)
    val folded = sk.select(col("source"), explode(col("sk")).as("h"))
      .agg(KmvSketch.kMin(k)(col("h")).as("sk"),
        count_distinct(col("source")).as("n_sources"))
    val exact = gd.agg(count_distinct(col("h")).as("exact_distinct"))
    folded.crossJoin(broadcast(exact))
      .select(col("n_sources"),
        size(col("sk")).cast("long").as("k_used"),
        KmvSketch.distinctEstimate(col("sk"), k).as("est_distinct"),
        col("exact_distinct"),
        (abs(KmvSketch.distinctEstimate(col("sk"), k) -
          col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double")).as("rel_err"))
      // empty-corpus contract: a global aggregate emits one row even
      // over zero sources — the card must be EMPTY then (m148/m152 gate)
      .filter(col("n_sources") > 0)
  }

  /** CMS-planned stop-gram pruning (m152): the frequency sketch
    * CONSUMED in the dedup planner's real decision — which grams are
    * viral enough to prune before posting lists exist ([[graft.dedup
    * .NgramJaccard.invertedIndexPairs]]'s dfCap rule, m14). The exact
    * rule needs a full df aggregate over every (doc, gram) pair; the
    * sketch rule reads point estimates off the merged Count-Min
    * counters — and because CMS error is ONE-SIDED (estimate ≥ true
    * df always), the sketch policy prunes a SUPERSET of the exact
    * policy: it can never under-prune a viral gram, only over-prune a
    * borderline one. `missed_prunes` is that guarantee as a certified
    * output column (always 0); `false_prunes` prices the trade; the
    * pair budgets (Σ df·(df−1)/2 over KEPT grams — the candidate-join
    * cost the planner is protecting) show what each policy admits.
    * One summary row; every column an exact integer. At 100 TB the
    * exact df side is the certificate that gets dropped — the decision
    * path is sketch-only, bounded at 4×1024 counters. */
  def cmsPrunePlan(s: SparkSession, dir: String, tau: Long = 8L): DataFrame = {
    import graft.operators.CountMin
    val gd = Tables.documentsSpread(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.dedup.NgramJaccard.wordShingleSet(col("text"), lit(3))).as("gram"))
      .filter(col("gram") =!= "") // per-doc DISTINCT by construction (set semantics)
    val sketch = CountMin.merge(CountMin.counters(gd, Seq.empty, col("gram")))
    val dfT = gd.groupBy("gram").agg(count(lit(1)).as("df"))
    val est = CountMin.estimate(sketch, dfT.select("gram"), "gram")
    dfT.join(est, Seq("gram"))
      .select(col("df"), col("cms_estimate"),
        (col("df") > tau).as("pe"), (col("cms_estimate") > tau).as("pc"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("pe"), 1L).otherwise(0L)).as("exact_pruned"),
        sum(when(col("pc"), 1L).otherwise(0L)).as("cms_pruned"),
        sum(when(col("pc") && !col("pe"), 1L).otherwise(0L)).as("false_prunes"),
        sum(when(col("pe") && !col("pc"), 1L).otherwise(0L)).as("missed_prunes"),
        // div, not / — Spark's / on longs is true (double) division;
        // the oracle's // is integer, and the hash gate sees the type
        sum(when(!col("pe"), expr("df * (df - 1) div 2")).otherwise(0L))
          .as("pair_budget_exact"),
        sum(when(!col("pc"), expr("df * (df - 1) div 2")).otherwise(0L))
          .as("pair_budget_cms"))
      // a global aggregate emits one row even over zero grams — the
      // empty-corpus contract wants an empty card (the m148 gate)
      .filter(col("n_grams") > 0)
      .select(lit(tau).as("tau"), col("n_grams"), col("exact_pruned"),
        col("cms_pruned"), col("false_prunes"), col("missed_prunes"),
        col("pair_budget_exact"), col("pair_budget_cms"))
  }

  /** Histogram quantile-sketch card (m150): the triad's QUANTILE leg —
    * per-source 1024-bucket integer histograms over per-doc token
    * counts, merged corpus-wide by elementwise add, quantiles p50/p90/
    * p99 read off the merged sketch and certified against the exact
    * nearest-rank values with the sketch's own deterministic bound:
    * 0 ≤ est − exact ≤ ceil(R/1024) (spec-pinned per row). The
    * corpus-wide sort the exact side needs is what the sketch replaces
    * at 100 TB; everything here is integer arithmetic, so the card is
    * bit-deterministic cross-engine. */
  def histogramQuantileCard(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HistogramSketch
    val vals = Tables.documentsSpread(s, dir)
      .filter(col("text").isNotNull)
      .select(col("source"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("v"))
    val range = HistogramSketch.valueRange(vals, col("v"))
    val merged = HistogramSketch.merge(
      HistogramSketch.counters(vals, Seq("source"), col("v"), range))
    val qs = Seq(0.5, 0.9, 0.99)
    val est = HistogramSketch.quantiles(merged, range, qs)
    val exact = HistogramSketch.exactQuantiles(
      vals.groupBy("v").agg(count(lit(1)).as("cnt")), qs)
    est.join(exact, Seq("q", "n"))
      .crossJoin(broadcast(range))
      .select(col("q"), col("n"), col("est"), col("exact"),
        (col("est") - col("exact")).as("abs_err"),
        expr(s"(r + ${graft.operators.HistogramSketch.Width - 1}) div " +
          s"${graft.operators.HistogramSketch.Width}").as("bound"))
  }

  /** Sketch-served per-source length caps (m151): the m150 histogram
    * sketch CONSUMED in a real decision — m132's per-source token-count
    * quantile card re-served from MERGED shard sketches instead of the
    * exact per-group nearest-rank pass, with the p90 row being the
    * per-source truncation cap the mix tier reads. The lineage contains
    * a genuine merge: per-(source, shard) sketches are built first and
    * folded with [[graft.operators.HistogramSketch.merge]] — the DuckDB
    * oracle computes per-source buckets DIRECTLY, so the hash gate
    * itself proves merge-path ≡ direct arithmetic (the m148 HLL-union
    * pattern, now for quantiles). Certificate columns: exact
    * nearest-rank value and the deterministic 0 ≤ est − exact ≤
    * ceil(R/W) bound per row. At 100 TB the exact side is what the
    * sketch replaces: the sketch read is |sources|·1024 integer rows;
    * the exact side needs every realized (source, value) pair. All
    * sources share ONE range frame — sketches are only mergeable on a
    * common bucketing. */
  def sketchSourceQuantiles(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.HistogramSketch
    val vals = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("v"))
    val range = HistogramSketch.valueRange(vals, col("v"))
    val sharded = HistogramSketch.counters(
      vals.withColumn("shard_", pmod(col("doc_id"), lit(2L))),
      Seq("source", "shard_"), col("v"), range)
    val merged = HistogramSketch.merge(sharded, keepCols = Seq("source"))
    val qs = Seq(0.25, 0.5, 0.75, 0.9)
    val est = HistogramSketch.quantilesBy(merged, range, qs, Seq("source"))
    val exact = HistogramSketch.exactQuantilesBy(
      vals.groupBy("source", "v").agg(count(lit(1)).as("cnt")),
      qs, Seq("source"))
    est.join(exact, Seq("source", "q", "n"))
      .crossJoin(broadcast(range))
      .select(col("source"), col("q"), col("n"), col("est"), col("exact"),
        (col("est") - col("exact")).as("abs_err"),
        expr(s"(r + ${graft.operators.HistogramSketch.Width - 1}) div " +
          s"${graft.operators.HistogramSketch.Width}").as("bound"))
  }

  /** Gopher rule card (m91): the MassiveText per-document rule battery —
    * rule bits + AND verdict, one projection pass. */
  def gopherRules(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(Tables.documentsSpread(s, dir))

  /** Perplexity buckets (m89): the CCNet head/middle/tail cut — per
    * source, rank docs by LM self-perplexity and split into terciles
    * (head = most fluent third; tail = the noise candidates a pipeline
    * drops or down-weights). Buckets are RANK-based with integer cuts
    * (rk·3 vs n) over an INTEGER sort key, floor(ppl·1e6) as bigint —
    * both engines compute an IEEE multiply and floor on the identical
    * double (the m43 hash check proves they share the ppl values), so
    * the key is bit-identical cross-engine. round(ppl, 6) was NOT:
    * Spark rounds via exact BigDecimal HALF_UP while DuckDB multiplies
    * by 10^6 in floats, so a value a hair from a .5e-6 boundary could
    * round differently and flip a near-tie doc's tercile.
    * Scale shape: the m43 scoring chain plus one per-source rank window
    * (the m73/m87 pattern) and a broadcast count table.
    *
    * SERVED FROM THE STORED ASSET since round 14 (the m14/m11
    * convention): three queries consume these buckets (m89 itself, m101's
    * gate agreement, m118's Dawid–Skene fusion) and each paid the full
    * LM chain per run. [[pplBucketsDirect]] is the build body — the
    * partition-invariance and plan contracts run IT, so neither check
    * goes vacuous against the memoized stored copy; DedupAssetsSpec pins
    * stored ≡ direct. Perplexity is stored as the raw double (parquet
    * doubles round-trip exactly), so the oracle hash is unchanged. */
  def pplBuckets(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.DedupAssets.pplBuckets(s, dir)

  /** The direct, un-memoized LM + tercile chain — the asset's build body
    * and the invariance/plan contract target. */
  private[graft] def pplBucketsDirect(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // the LM counts come from the shared asset (the m43 note) — the
    // bucket build re-scans the corpus once for scoring, never to count
    val scored = graft.text.NgramLm.scoreAgainst(docs,
        graft.pipeline.DedupAssets.ngramCounts(s, dir, 2))
      .select(col("doc_id"), col("perplexity"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(floor(col("perplexity") * lit(1e6)).cast("long"), col("doc_id"))
    // per-source size via a frame-less window over the SAME partitioning —
    // one source exchange serves rank AND count, and the LM scoring chain
    // is evaluated exactly once (a separate groupBy-count branch would
    // re-derive the whole chain: measured 12 duplicate scans)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    scored
      .withColumn("rk", (row_number().over(w) - 1).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("bucket",
        when(col("rk") * 3 < col("n"), "head")
          .when(col("rk") * 3 < col("n") * 2, "middle")
          .otherwise("tail"))
      .select("doc_id", "source", "perplexity", "bucket")
  }

  /** Gate-agreement matrix (m101): Cohen's κ between the three quality
    * gates the filtering tier ships — the m02 rule gate, the m83 learned
    * classifier and the CCNet perplexity gate (m89's head+middle
    * terciles). The report a curator reads before composing gates: high
    * κ means a gate is redundant, κ near 0 means it cuts an independent
    * axis. One row per gate pair with the confusion marginals, observed
    * and chance agreement, and κ. Scale shape: the classifier scoring is
    * a literal projection, the LM chain is m89's (shared exchange), and
    * everything after the doc_id join is ONE single-row aggregate fanned
    * out to three pair rows — nothing corpus-sized past the join. */
  def gateAgreement(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = qcModel(s, dir)
    graft.OracleCapture.put("m101_gate_agreement", model.w.toSeq)
    val cls = graft.text.QualityClassifier.score(docs, model)
      .select(col("doc_id"), col("label").as("g_rule"), col("pred").as("g_cls"))
    val ppl = pplBuckets(s, dir)
      .select(col("doc_id"), (col("bucket") =!= "tail").cast("long").as("g_ppl"))
    val agg = cls.join(ppl, Seq("doc_id")).agg(
      count(lit(1)).as("n"),
      sum("g_rule").as("pos_rule"), sum("g_cls").as("pos_cls"),
      sum("g_ppl").as("pos_ppl"),
      sum((col("g_rule") === col("g_cls")).cast("long")).as("agree_rule_cls"),
      sum((col("g_rule") === col("g_ppl")).cast("long")).as("agree_rule_ppl"),
      sum((col("g_cls") === col("g_ppl")).cast("long")).as("agree_cls_ppl"))
    val pairs = agg.select(explode(array(
      struct(lit("rule_vs_cls").as("pair"), col("n"), col("pos_rule").as("pos_a"),
        col("pos_cls").as("pos_b"), col("agree_rule_cls").as("n_agree")),
      struct(lit("rule_vs_ppl").as("pair"), col("n"), col("pos_rule").as("pos_a"),
        col("pos_ppl").as("pos_b"), col("agree_rule_ppl").as("n_agree")),
      struct(lit("cls_vs_ppl").as("pair"), col("n"), col("pos_cls").as("pos_a"),
        col("pos_ppl").as("pos_b"), col("agree_cls_ppl").as("n_agree")))).as("s"))
      .select("s.*")
      .filter(col("n") > 0) // empty corpus degrades to empty, not 3 null rows
    val pO = col("n_agree").cast("double") / col("n")
    val pE = (col("pos_a").cast("double") * col("pos_b") +
      (col("n") - col("pos_a")).cast("double") * (col("n") - col("pos_b"))) /
      (col("n").cast("double") * col("n"))
    pairs.select(col("pair"), col("n"), col("pos_a"), col("pos_b"),
      col("n_agree"), pO.as("p_o"), pE.as("p_e"),
      // κ undefined when chance agreement is total (both gates constant)
      when(pE < 1.0, (pO - pE) / (lit(1.0) - pE)).as("kappa"))
  }

  /** Dawid–Skene gate fusion (m118): m101's three gate votes (rule /
    * learned / perplexity) pooled by majority-init + one EM step —
    * per-gate sensitivity/specificity against the majority, then every
    * doc re-scored by posterior odds. m101 reports whether the gates
    * agree; this decides each doc when they don't. The votes frame is
    * pinned: the stats aggregate and the posterior projection are two
    * consumers of one corpus-sized gate computation. */
  def dawidSkene(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val model = qcModel(s, dir)
    graft.OracleCapture.put("m118_dawid_skene", model.w.toSeq)
    val cls = graft.text.QualityClassifier.score(docs, model)
      .select(col("doc_id"), col("label").as("g_rule"), col("pred").as("g_cls"))
    val ppl = pplBuckets(s, dir)
      .select(col("doc_id"), (col("bucket") =!= "tail").cast("long").as("g_ppl"))
    val votes = graft.Snapshot.pin(cls.join(ppl, Seq("doc_id")), eager = true)
    graft.operators.DawidSkene.fuse(votes, Seq("g_rule", "g_cls", "g_ppl"))
  }

  /** JL projection norm card (m102): per-embedding squared norms before
    * and after the ±1-sign random projection (64 → 16 dims) — the
    * distance-preservation certificate for using projected vectors in
    * the ANN tier. Matrix is a plan literal; one projection pass. */
  def jlNormCard(s: SparkSession, dir: String): DataFrame =
    graft.similarity.JlProjection.normCard(
      Tables.embeddingsSpread(s, dir), d = 64, k = 16)

  /** BM25 top-k retrieval (m103): the lexical half of a hybrid retrieval
    * stack. Queries are the first-8-distinct-term bags of docs 0–9 (the
    * ANN tier's query convention, m08); scores quantize each term partial
    * to floor(s·10⁶) before summing, so the aggregate is exact integer
    * arithmetic and the DuckDB oracle replays it bit-for-bit. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(s, dir)
    val bags = graft.text.Bm25.queryBags(
      docs.filter(col("doc_id") < 10), maxTerms = 8)
    graft.text.Bm25.topK(docs, bags)
  }

  /** The m113 fixture: [[augmentedDocs]] plus QUOTE docs (doc_id + 4·off,
    * the first 15 tokens of docs 0–24 re-joined single-spaced) — true
    * subsets whose symmetric Jaccard is low but whose containment in the
    * original is exactly 1.0, the case the asymmetric tier exists for. */
  def quotedAugmentedDocs(s: SparkSession, dir: String): DataFrame = {
    val off = docOff(s, dir)
    val quotes = Tables.documents(s, dir).filter(col("doc_id") < 25)
      .withColumn("doc_id", col("doc_id") + (4 * off))
      .withColumn("text",
        array_join(slice(split(lower(trim(col("text"))), " +"), 1, 15), " "))
    augmentedDocs(s, dir).unionByName(quotes)
  }

  /** Asymmetric containment pairs (m113): Broder containment over the
    * quote-augmented corpus — quotes/excerpts score ~1.0 in their
    * contained direction where the symmetric m14 tier is blind. */
  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.NgramJaccard.containmentPairs(
      // the gated posting pin (NgramJaccard doc) applies: the posting
      // build and the per-doc co-occurrence count keep its width
      Tables.spread(quotedAugmentedDocs(s, dir), "doc_id", Tables.CorpusSpread))

  /** Stored-index BM25 probe (m112): same queries, same k as m103, but
    * served from the persisted term-sorted postings asset instead of
    * re-tokenizing the corpus — contractually BYTE-identical to m103
    * (shared scoring tail, df-over-pruned ≡ global df), so it shares
    * m103's oracle, the m25/m46 discipline. */
  def bm25StoredProbe(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bags = graft.text.Bm25.queryBags(
      docs.filter(col("doc_id") < 10), maxTerms = 8)
    val (post, stats) = graft.text.Bm25Assets.index(s, dir)
    graft.text.Bm25.topKStored(post, stats, bags, k = 10)
  }

  /** Hybrid retrieval via reciprocal-rank fusion (m104): BM25 top-20
    * (lexical) fused with brute-force cosine top-20 (semantic) over the
    * aligned doc_id/vec_id space — rank-only fusion, no score
    * calibration, exact BIGINT fused scores. */
  def rrfHybrid(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val bags = graft.text.Bm25.queryBags(
      docs.filter(col("doc_id") < 10), maxTerms = 8)
    // lexical leg serves from the stored index (m112): byte-identical to
    // the fresh path, one less corpus tokenization in the fusion query
    val (post, stats) = graft.text.Bm25Assets.index(s, dir)
    val lexical = graft.text.Bm25.topKStored(post, stats, bags, k = 20)
      .select("query_id", "rank", "doc_id")
    val all = vectors(s, dir)
    val semantic = Ann.bruteForceTopK(all.filter(col("id") < 10), all, k = 20)
      .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
    graft.similarity.RrfFusion.fuse(lexical, semantic, k = 10)
  }

  /** Marginal-novelty curve (m105): new distinct 3-shingles contributed
    * by each ingestion-order decile of the corpus — the "is another crawl
    * snapshot still worth it" scaling diagnostic. */
  def noveltyCurve(s: SparkSession, dir: String): DataFrame =
    // stays UNSPREAD (round-21 A/B: flat-to-worse control-normalized —
    // the md5 walk overlaps the PrefixSum rank chain, so parallelizing
    // it doesn't move the critical path; the m18/m28 mid-pipeline
    // finding again)
    graft.dedup.NoveltyCurve.curve(Tables.documents(s, dir))

  /** Duplicate-family size histogram (m106) over the planted-dup corpus
    * and the STORED cluster asset — the dedup-payoff plot. */
  def dupFamilyHistogram(s: SparkSession, dir: String): DataFrame =
    graft.dedup.DupStats.familyHistogram(
      augmentedDocs(s, dir), graft.pipeline.DedupAssets.clusters(s, dir))

  /** The m107 fixture: the planted EXACT copies re-sourced to 'mirror' —
    * a simulated mirror site re-shipping the originals. Text and ids are
    * byte-identical to [[augmentedDocs]], so the stored pair/cluster
    * assets (which never read `source`) remain exactly valid. */
  def mirroredAugmentedDocs(s: SparkSession, dir: String): DataFrame = {
    val off = docOff(s, dir)
    augmentedDocs(s, dir).withColumn("source",
      when(col("doc_id") >= 2 * off && col("doc_id") < 2 * off + 50,
        lit("mirror")).otherwise(col("source")))
  }

  /** Per-source duplicate mass with cross-source attribution (m107):
    * which sources re-ship content whose canonical copy lives elsewhere
    * — the mirror-site accounting card. */
  def sourceDupMass(s: SparkSession, dir: String): DataFrame =
    graft.dedup.DupStats.sourceDupMass(
      mirroredAugmentedDocs(s, dir), graft.pipeline.DedupAssets.clusters(s, dir))

  /** Flesch reading-ease / FK-grade card (m108) — the formula-based
    * readability proxy next to the rule batteries and the learned gate. */
  def readability(s: SparkSession, dir: String): DataFrame =
    graft.text.Readability.card(Tables.documentsSpread(s, dir))

  /** Corpus-law fit (m57): Zipf slope/intercept/r² over globally-ranked
    * term frequencies plus the Heaps exponent across per-source
    * (tokens, distinct-terms) points — one-row corpus health report. */
  def corpusLaws(s: SparkSession, dir: String): DataFrame =
    graft.text.CorpusLaws.lawsReport(Tables.documents(s, dir))

  /** Cross-source overlap matrix (m60): pairwise shared-shingle mass
    * between sources — the mirror-site / double-ingest detector. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SourceOverlap.overlapMatrix(Tables.documentsSpread(s, dir))

  /** PMI collocations (m58): adjacent-bigram pointwise mutual information
    * with unigram marginals — m22's frequency ranking normalized into an
    * association score. minCount 5 prunes the singleton tail. */
  def pmiCollocations(s: SparkSession, dir: String): DataFrame =
    graft.text.Collocations.pmiBigrams(Tables.documents(s, dir), minCount = 5L)

  /** Winnowing fingerprints over the documents table (m23). */
  def winnowFingerprints(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Winnowing.fingerprints(Tables.documentsSpread(s, dir))

  /** Rare-token quality scoring against a corpus vocabulary (m24):
    * per-doc out-of-vocabulary rate and mean log corpus-frequency of
    * in-vocab tokens — the cheap perplexity proxy quality gates threshold
    * on when no language model is on the cluster.
    *
    * Scale shape: the vocabulary (top-V terms) is tiny by construction and
    * BROADCAST, so the token→vocab lookup never shuffles the token stream;
    * the per-doc aggregation collapses map-side because explode keeps a
    * document's tokens inside one partition — the doc_id exchange carries
    * one row per document, not per token. At 100 TB the vocab would come
    * from a sampled or cached pass rather than a same-query scan; the
    * lookup/score shape is unchanged. */
  def vocabQualityOver(docs: DataFrame, vocabSize: Int): DataFrame = {
    val terms = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), " +")).as("term"))
      .filter(col("term") =!= "")
    val vocab = terms.groupBy("term").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("term").asc).limit(vocabSize)
    terms.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tf").isNull, 1L).otherwise(0L)).as("n_oov"),
        (sum(when(col("tf").isNull, 1.0).otherwise(0.0)) / count(lit(1)))
          .as("oov_rate"),
        avg(log(col("tf"))).as("mean_log_tf"))
  }

  /** Vocab-quality scores, top-25 vocab (m24 — the corpus has ~31 distinct
    * terms, so a 25-term vocab makes the OOV path observable). */
  def vocabQuality(s: SparkSession, dir: String): DataFrame =
    vocabQualityOver(Tables.documents(s, dir), vocabSize = 25)

  /** Benchmark decontamination (m25): the originals with doc_id < 50 play
    * the evaluation set; the augmented corpus (their exact and mutated
    * copies among the rest) is checked against it — every planted copy
    * must flag, organically-similar docs may. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val aug = withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))
    graft.dedup.Decontaminate.contaminated(
      corpus = aug.filter(col("doc_id") >= 50),
      benchmark = aug.filter(col("doc_id") < 50))
  }

  /** Benchmark leakage report (m126): m25's fixture split, inverted —
    * per EVAL item, how much of it leaked into the corpus and how widely
    * (the report an eval owner reads to retire compromised items).
    * Planted exact copies drive their bench docs to leaked_frac 1.0. */
  def benchmarkLeakage(s: SparkSession, dir: String): DataFrame = {
    val aug = withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))
    graft.dedup.Decontaminate.benchmarkLeakage(
      corpus = aug.filter(col("doc_id") >= 50),
      benchmark = aug.filter(col("doc_id") < 50))
  }

  /** Span-level decontamination (m90): m25's fixture split, but the
    * contaminated span is CUT (m82's coverage-union rewrite) instead of
    * the document dropped — the surgical policy for docs that merely
    * quote an eval item. */
  def decontaminateSpans(s: SparkSession, dir: String): DataFrame = {
    val aug = withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))
    graft.dedup.Decontaminate.exciseSpans(
      corpus = aug.filter(col("doc_id") >= 50),
      benchmark = aug.filter(col("doc_id") < 50))
  }

  /** Bloom-prefiltered decontamination (m46): m25's exact semantics —
    * same split, same output, same oracle — through the bitset-prefilter
    * plan for benchmark sets too large to broadcast as hash relations. */
  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val aug = withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))
    graft.dedup.BloomDecontaminate.contaminated(
      corpus = aug.filter(col("doc_id") >= 50),
      benchmark = aug.filter(col("doc_id") < 50))
  }

  /** Token-budget mix sampling (m27): per-source 500-token budgets in
    * deterministic md5 order — the mix builder that balances sources by
    * token mass rather than document count (m21's sibling). */
  def tokenBudgetSample(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("n_tokens"))
    graft.operators.QuotaSample.tokenBudgetSample(n, budget = 500L)
  }

  /** Token-offset sequence packing (m26): assign each doc its global
    * token start offset (distributed prefix sum — no single-partition
    * window) and the 2048-token training shard that offset lands in. */
  def sequencePack(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("n_tokens"))
    graft.operators.PrefixSum.exclusiveRunningTotals(n, "doc_id", "n_tokens")
      .select(col("doc_id"), col("n_tokens"),
        col("running").as("start_offset"),
        floor(col("running") / 2048).cast("long").as("shard"))
  }

  /** Token-mass-balanced curriculum shards (m52): order the corpus by
    * quality (best first, doc_id tie-break) and cut it into 8 CONTIGUOUS
    * shards of ~equal token mass — the layout a curriculum-training run
    * reads (shard 0 = the highest-quality token budget; equal token mass,
    * not equal doc count, because training cost is tokens). Built on the
    * generalized distributed prefix sum — no single-partition window —
    * with the shard cut in exact integer math ((cum*S) div total) so the
    * oracle replays it without float-rounding hazards. */
  def curriculumShards(s: SparkSession, dir: String): DataFrame = {
    val numShards = 8
    val d = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.text.TextOps.qualityScore(col("text")).as("quality"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("n_tokens"))
    val ranked = graft.operators.PrefixSum
      .exclusiveRunningTotalsBy(d, Seq(col("quality").desc, col("doc_id").asc), "n_tokens")
    // Total token mass = the last row's exclusive prefix + its own mass —
    // aggregated over the prefix sum's pinned snapshot, NOT a separate
    // corpus scan re-running the quality profile.
    val total = ranked.agg(max(col("running") + col("n_tokens")).as("total_tokens"))
    ranked
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("running").as("cum_before"),
        expr(s"CAST((running * $numShards) DIV total_tokens AS BIGINT)").as("shard"))
  }

  /** Sequence-packing segment map (m56): where m26 assigns each doc its
    * global token offset, this emits what the dataloader actually reads —
    * one row per (doc, training sequence) overlap, with the doc-relative
    * span and the in-sequence position. A doc straddling a 2048-token
    * boundary yields one row per sequence it touches (`sequence()` +
    * explode — generated from each row, never a shuffle); every sequence
    * is exactly full except the last. All integer math on top of the
    * distributed prefix sum, so the oracle replays it exactly. */
  def packSegments(s: SparkSession, dir: String): DataFrame = {
    val L = 2048L
    val n = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("n_tokens"))
    graft.operators.PrefixSum.exclusiveRunningTotals(n, "doc_id", "n_tokens")
      .select(col("doc_id"), col("n_tokens"), col("running").as("start"),
        explode(sequence(expr(s"running DIV $L"),
          expr(s"(running + n_tokens - 1) DIV $L"))).as("seq_id"))
      .select(col("doc_id"), col("seq_id"),
        (greatest(col("start"), col("seq_id") * L) - col("start")).as("doc_from"),
        (least(col("start") + col("n_tokens"), (col("seq_id") + 1) * L)
          - col("start")).as("doc_to"),
        (greatest(col("start"), col("seq_id") * L)
          - col("seq_id") * L).as("seq_from"),
        (least(col("start") + col("n_tokens"), (col("seq_id") + 1) * L)
          - greatest(col("start"), col("seq_id") * L)).as("n_seg_tokens"))
  }

  /** Packed-sequence split-leak audit (m77): join m56's doc→sequence
    * segment map with m39's hash split and flag every packed training
    * sequence that spans MORE THAN ONE split — the quiet leak of naive
    * packing (a val document's tokens riding inside a train sequence).
    * This is why production packing runs per split; the audit proves the
    * naive layout leaks. One groupBy on seq_id over the segment map;
    * the split column is m39's shuffle-free codegen'd CASE. */
  def packSplitLeaks(s: SparkSession, dir: String): DataFrame = {
    val segs = packSegments(s, dir).select("doc_id", "seq_id")
    val split = graft.operators.HashSplit.assign(
      segs.select("doc_id").distinct(), keyCol = "doc_id",
      fractions = SplitFractions)
    segs.join(split, Seq("doc_id"))
      .groupBy("seq_id").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        array_join(array_sort(collect_set(col("split"))), ",").as("splits"))
      .withColumn("mixed", col("n_splits") > 1)
  }

  // ---- dedup ----------------------------------------------------------

  def exactDedupGroups(s: SparkSession, dir: String): DataFrame =
    ExactDedup.groups(withSyntheticDups(Tables.documents(s, dir), docOff(s, dir)))

  def exactDedup(s: SparkSession, dir: String): DataFrame =
    ExactDedup.dedup(withSyntheticDups(Tables.documents(s, dir), docOff(s, dir)))
      .select("doc_id", "lang", "source", "n_chars")

  /** m05/m07 share the stored candidate table: generation (the banded
    * shuffle) runs once per corpus; each query pays only its verify
    * style. Oracles replay the full chains independently. */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    MinHashLSH.verifiedPairsOver(augmentedDocs(s, dir),
      graft.pipeline.DedupAssets.minhashCandidates(s, dir), threshold = 0.5)

  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    SimHash.nearDuplicates(withSyntheticDups(Tables.documents(s, dir), docOff(s, dir)), maxDist = 3)

  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    NgramJaccard.scorePairs(augmentedDocs(s, dir),
        graft.pipeline.DedupAssets.minhashCandidates(s, dir))
      .filter(col("jaccard") >= 0.6)

  /** Inverted-index word-shingle Jaccard — the SQL-exact near-dup path
    * (string grams, relational pruning), hash-checked against a DuckDB
    * oracle that replays the identical algorithm. Served from the STORED
    * pair asset (built once per corpus at the loose threshold; this is
    * the ≥ 0.6 slice): the oracle recomputes the whole chain
    * independently, and DedupAssetsSpec pins the stored slice
    * row-identical to the direct [[NgramJaccard.invertedIndexPairs]]
    * run — so the asset read IS the chain's output, at a parquet scan's
    * cost for every curation consumer. */
  def gramIndexJaccard(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.DedupAssets.pairs(s, dir)

  /** LSH recall audit (m85): the QA dial every probabilistic-dedup rollout
    * needs before trusting its miss rate — measure the banded-minhash
    * pipeline's recall against the exact inverted-index reference, per
    * similarity band. Truth = [[NgramJaccard.invertedIndexPairs]] (every
    * pair sharing a surviving word-shingle, exact Jaccard); detected =
    * [[MinHashLSH.verifiedPairs]] (what the 16-band/64-hash signatures
    * actually surfaced), both at θ = 0.5 over the same corpus. Output:
    * per 0.1-wide Jaccard band, truth-pair count, detected count, recall
    * — the measured S-curve (recall should climb toward 1 as jaccard →
    * 1; the 0.5–0.6 band is where banding theory predicts the misses).
    * Scale shape: both inputs are pair-id tables (the corpus never joins
    * by text); the audit join and band aggregation exchange (long, long)
    * pairs only. */
  def lshRecallAudit(s: SparkSession, dir: String): DataFrame = {
    // truth comes from the STORED loose pair asset — the audit reads the
    // same artifact the curation tier stores, instead of re-shingling the
    // corpus (the oracle still replays the whole chain independently)
    val docs = augmentedDocs(s, dir)
    bandedRecall(graft.pipeline.DedupAssets.pairsLoose(s, dir),
      MinHashLSH.verifiedPairsOver(docs,
        graft.pipeline.DedupAssets.minhashCandidates(s, dir), threshold = 0.5))
  }

  def lshRecallAuditOver(docs: DataFrame): DataFrame =
    bandedRecall(NgramJaccard.invertedIndexPairs(docs, threshold = 0.5, dfCap = 50),
      MinHashLSH.verifiedPairs(docs))

  /** LSH candidate PRECISION audit (m99) — the other half of the m85
    * dial: m85 asks "which true pairs did banding miss", this asks "how
    * much verification work do the candidates waste". Every stored LSH
    * candidate pair is exactly verified (n-gram shingle Jaccard, no
    * threshold) and banded by its true similarity; `prec_at_band` is the
    * fraction of ALL candidates at or above each band — the curve a
    * rollout reads to budget the verify stage. Scale shape: candidates
    * and shingle sets exchange by id (the corpus never joins by text);
    * the band rollup and the 10-row cumulative window are band-bounded. */
  def lshPrecisionAudit(s: SparkSession, dir: String): DataFrame =
    bandedPrecision(MinHashLSH.verifiedPairsOver(augmentedDocs(s, dir),
      graft.pipeline.DedupAssets.minhashCandidates(s, dir), threshold = 0.0))

  /** Direct (asset-free) chain for the invariance contract. */
  def lshPrecisionAuditOver(docs: DataFrame): DataFrame =
    bandedPrecision(MinHashLSH.verifiedPairsOver(docs,
      MinHashLSH.candidatePairs(docs), threshold = 0.0))

  private def bandedPrecision(scored: DataFrame): DataFrame = {
    val banded = scored
      .select(least(floor(col("jaccard") * 10.0) / 10.0, lit(0.9)).as("band"))
      .groupBy("band").agg(count(lit(1)).as("n_cand"))
    val total = banded.agg(sum("n_cand").as("n_total"))
    // single-partition window over ≤ 10 post-aggregate rows — band-
    // bounded, never corpus-sized (the PrefixSum rule's small-frame case)
    val cum = org.apache.spark.sql.expressions.Window
      .orderBy(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    banded.crossJoin(broadcast(total))
      .withColumn("n_ge", sum(col("n_cand")).over(cum))
      .select(col("band"), col("n_cand"),
        (col("n_cand").cast("double") / col("n_total")).as("frac_cand"),
        col("n_ge"),
        (col("n_ge").cast("double") / col("n_total")).as("prec_at_band"))
  }

  private def bandedRecall(truth: DataFrame, detected: DataFrame): DataFrame = {
    val det = detected.select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    truth.join(det, Seq("doc_a", "doc_b"), "left")
      .select(least(floor(col("jaccard") * 10.0) / 10.0, lit(0.9)).as("band"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_truth"), sum(col("hit")).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_truth"))
  }

  /** Corpus vocabulary with TF/DF/IDF — the classic explode-shuffle-topk
    * shape (generator → hash agg on term → TakeOrdered). At 100 TB the
    * term exchange is the dominant cost; partial aggregation collapses
    * per-partition term counts before the shuffle. */
  def vocabulary(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val terms = docs.select(col("doc_id"),
        explode(split(lower(trim(col("text"))), " +")).as("term"))
      .filter(col("term") =!= "")
    terms.groupBy("term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(n))
      .withColumn("idf", log((col("n_docs") + 1.0) / (col("df") + 1.0)))
      .select("term", "tf", "df", "idf")
      .orderBy(col("tf").desc, col("term").asc)
      .limit(100)
  }

  // ---- similarity search ----------------------------------------------

  private[graft] def vectors(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      Vectors.toDouble(col("embedding")).as("vec"))

  /** nlist ≈ corpus / 512-vector target cell — the FAISS/SemDeDup sizing.
    * Quantizer-cell occupancy must stay BOUNDED as the corpus grows:
    * corpus×corpus consumers (within-cell pair verification, batch k-NN)
    * do O(|cell|) work per row, so a fixed nlist turns linear data growth
    * into quadratic total work — the gen-3.0 sweep measured m33 at 5.7×
    * time for 3× rows before this derived nlist. Floored at 16 so every
    * driver-SF corpus (≤ ~8k vectors) trains the exact nlist the captured
    * oracles replay; capped so the driver-side Lloyd's state stays a few
    * MB of centroids. */
  private[graft] def scaledNlist(n: Long): Int =
    math.max(16, math.min(8192, (n / 512).toInt))

  /** Sign-LSH plane count targeting ~512 vectors per bucket:
    * 2^planes buckets at FIXED planes means bucket occupancy — and the
    * in-bucket pairwise scoring — grows linearly with n, turning linear
    * data growth into quadratic total work (the scaledNlist argument).
    * Floored at 8 = the value the seeded-hyperplane oracles inline for
    * every driver SF (first change at n > 128k vectors).
    * ScaledKnobsSpec exercises the above-floor regime. */
  private[graft] def scaledPlanes(n: Long): Int =
    math.max(8, math.ceil(math.log(n / 512.0) / math.log(2.0)).toInt)

  /** SQ8 scalar quantization (m59): per-dimension affine 8-bit codes +
    * reconstruction error over the embeddings table. */
  def sq8Quantize(s: SparkSession, dir: String): DataFrame =
    graft.similarity.ScalarQuantizer.sq8(Tables.embeddings(s, dir))

  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    Ann.bruteForceTopK(all.filter(col("id") < 10), all, k = 5)
  }

  /** Labeled vectors for the contrastive-mining queries. */
  private def labeledVectors(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id").as("id"),
      Vectors.toDouble(col("embedding")).as("vec"), col("label"))

  /** Per-source quality calibration (m121): each doc's quality score
    * rank-normalized WITHIN its source — percent_rank over an integer
    * sort key (floor(q·1e6), doc_id — the m89 cross-engine move). A raw
    * threshold means different things in different sources (a clean
    * source's 0.3 is its trash, a noisy one's 0.3 its median); the
    * percentile makes one corpus-wide cut comparable across sources —
    * the FineWeb-style per-source calibration step. Scale: ONE source
    * exchange serves rank and count (the m89 single-window shape);
    * percent_rank is codegen'd and tie-free under the doc_id break. */
  def qualityPercentiles(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.text.TextOps.profile(col("text")).getField("quality").as("quality"))
    // percent_rank via the range-partitioned GroupedRanks pass (round 16;
    // was Window.partitionBy(source) — the zipf-fixture head-task cliff).
    // The (floor(q·1e6), doc_id) order is total (doc_id unique), so RANK
    // ≡ row_number ≡ rk+1 and percent_rank = rk / (n−1) divides the
    // identical integers Spark's window form divides — byte-identical
    // (QualityPercentilesSpec pins it); n = 1 → 0.0, Spark's convention.
    graft.operators.GroupedRanks.withRankAndCount(docs, "source",
        Seq(floor(col("quality") * lit(1e6)).cast("long"), col("doc_id")),
        rankCol = "__qp_rk", countCol = "__qp_n")
      .select(col("doc_id"), col("source"), col("quality"),
        when(col("__qp_n") === 1L, lit(0.0))
          .otherwise(col("__qp_rk").cast("double") /
            (col("__qp_n") - 1L).cast("double")).as("pct_rank"))
  }

  /** Clean-holdout mining (m129): certify which documents share NO
    * 30-token window with any other document — the dedup tier's inverse:
    * dedup finds copies to drop, this finds the provably-isolated docs
    * an eval owner can carve into a held-out set knowing the training
    * corpus cannot contain their text at window granularity (the
    * document-level complement of m126's benchmark-side accounting).
    * Runs on the dup-augmented corpus so the planted copy families are
    * guaranteed NON-isolated. Scale shape: the window fingerprint stream
    * is pinned (three consumers: per-fp document frequency, per-doc
    * shared-window counts, per-doc totals); exchanges carry 16-byte fps
    * and doc ids only; the fp-frequency join is corpus-sized on both
    * sides (the m42 shape — legitimately a shuffle join). */
  def cleanHoldout(s: SparkSession, dir: String): DataFrame = {
    val aug = augmentedDocs(s, dir)
    val wf = graft.Snapshot.pin(
      graft.text.RepeatedWindows.windowFingerprintsRaw(aug, w = 30),
      eager = true)
    val rep = wf.groupBy("fp")
      .agg(count_distinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select("fp")
    val shared = wf.join(rep, Seq("fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_windows"))
    wf.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_shared_windows"), lit(0L)).as("n_shared_windows"),
        (coalesce(col("n_shared_windows"), lit(0L)) === 0L).as("isolated"))
  }

  /** LSH banding planner (m128): for the house MinHash budget (128
    * hashes) at the dedup threshold 0.8, every (bands, rows) split with
    * its S-curve false-positive/false-negative areas and the weighted
    * argmin — the design card the audit tier (m85/m98/m99) validates
    * after the fact. */
  def lshPlan(s: SparkSession, dir: String): DataFrame =
    graft.dedup.LshPlanner.plan(s)

  /** LSH bucketCap drop card (m130): per (cap, band), how many buckets
    * and how much row mass the viral-bucket cap drops — the observability
    * row for [[graft.dedup.MinHashLSH.candidatePairs]]'s one deliberate
    * recall trade ("no silent caps" applied to recall, not just output
    * size). Swept at the production cap (1000 — drops nothing at fixture
    * scale, which the card PROVES rather than assumes) and a tight
    * what-if cap (3 — exercises nonzero drops on the planted-dup corpus,
    * whose largest band bucket holds 5 docs). m128's planner and m85's
    * recall audit bracket this card: plan → observe drops → audit
    * realized recall. */
  def lshBucketDrops(s: SparkSession, dir: String): DataFrame =
    graft.dedup.MinHashLSH.bucketDropReport(
      Tables.spread(augmentedDocs(s, dir), "doc_id", Tables.CorpusSpread),
      bucketCaps = Seq(3, 1000))

  /** Per-source token-count quantile card (m132): exact p0/p25/p50/p75/
    * p90/p100 of document token counts per source, by nearest-rank
    * selection over a hash-partitioned window
    * ([[graft.operators.GroupQuantiles]]) — the scale-correct form of
    * the distribution card: m35's exact median rides a percentile
    * AGGREGATE whose buffer holds every group value (fine for its
    * source-sized card, a scale bug for billion-doc groups); this one
    * never materializes a value array anywhere. Ties broken by doc_id,
    * so each reported value is a pure function of the data. */
  def sourceTokenQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.GroupQuantiles.nearestRank(
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          size(split(lower(trim(col("text"))), " +")).cast("long").as("n_tokens")),
      groupCol = "source", valueCol = "n_tokens", tieCol = "doc_id",
      qs = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0))

  /** Edit-similarity verify (m131): the ORDER-AWARE third verify style
    * over the same stored LSH candidates m05/m07 probe — Levenshtein
    * similarity over 512-char prefixes at θ = 0.7. Planted exact copies
    * score 1.0; the 'zz'-mutated near-dups land just under; reordered
    * bag-of-words twins (which Jaccard cannot separate) score LOW here,
    * which is the point of the tier. */
  def editSimilarityPairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.EditSimilarity.scorePairs(
      Tables.spread(augmentedDocs(s, dir), "doc_id", Tables.CorpusSpread),
      graft.pipeline.DedupAssets.minhashCandidates(s, dir))

  /** Kolmogorov–Smirnov drift test (m127): per source, the KS statistic
    * between the source's quality-score distribution and the pooled
    * corpus distribution — sup |F_source − F_corpus| over the sample
    * points (Smirnov's two-sample statistic, public — the F_c − F_s
    * direction evaluates F_c just below the point, where that sup is
    * attained, so the statistic is exactly sup|F_s − F_c| over the
    * (key, doc_id) total order), with the classical
    * α=0.05 critical value 1.36·√((n+N)/(n·N)) as the reference line
    * (stated caveat: source ⊂ pooled overlap makes the line
    * conservative-reference, not an exact test). The hypothesis-test
    * companion to the KL drift cards (m55/m116): KL says how far the
    * token mixture drifted; KS says whether the SCORE distribution shift
    * is larger than chance.
    *
    * Determinism: both ECDFs are ratios of exact integer ranks over the
    * (floor(q·1e6), doc_id) total order — global rank from the
    * range-partitioned distributed prefix sum (NEVER a single-partition
    * window, the m52/m77 machinery), per-source rank from a per-source
    * window; max over exact-int-derived doubles is order-free.
    *
    * Scale shape: one range-partition exchange (the prefix-sum sort) +
    * one source window exchange; the exchanges carry (doc_id, source,
    * key) only; the final aggregate is source-sized. */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        floor(graft.text.TextOps.profile(col("text")).getField("quality") * lit(1e6))
          .cast("long").as("key"),
        lit(1L).as("one"))
    val ranked = graft.operators.PrefixSum.exclusiveRunningTotalsBy(
      docs, Seq(col("key"), col("doc_id")), "one") // running = 0-based global rank
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("key"), col("doc_id"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val totals = ranked.agg(count(lit(1)).as("n_total"))
    val r = ranked
      .withColumn("rs", row_number().over(w).cast("long") - 1L)
      .withColumn("ns", count(lit(1)).over(wAll))
      .crossJoin(broadcast(totals))
    val fs1 = (col("rs") + 1L).cast("double") / col("ns").cast("double")
    val fs0 = col("rs").cast("double") / col("ns").cast("double")
    val fc = (col("running") + 1L).cast("double") / col("n_total").cast("double")
    // F_c just BELOW the evaluated point for the F_c − F_s direction:
    // that sup is attained just below a source point (F_s constant, F_c
    // rising between source points), so pairing at-point fc with
    // just-below fs0 would overshoot by the point's own 1/n_total pooled
    // mass (round-13 advice). fs1 − fc stays at-point/at-point.
    val fcBelow = col("running").cast("double") / col("n_total").cast("double")
    val agg = r.groupBy("source").agg(
      max("ns").as("n_docs"), max("n_total").as("n_total"),
      max(greatest(fs1 - fc, fcBelow - fs0)).as("ks_stat"))
    agg.select(col("source"), col("n_docs"), col("ks_stat"),
      (col("ks_stat") > lit(1.36) * sqrt(
        (col("n_docs").cast("double") + col("n_total").cast("double")) /
          (col("n_docs").cast("double") * col("n_total").cast("double"))))
        .as("drifted"))
  }

  /** Good–Turing unseen-mass card (m125): per source, the probability
    * mass of tokens NOT yet seen, estimated by the Good–Turing identity
    * P(unseen) ≈ n₁/N (hapax count over token count — Good 1953, public).
    * The corpus-planning statistic: a source with high unseen mass still
    * yields new vocabulary per crawl (keep crawling); one near zero is
    * saturated. Reported with vocab size and type-token ratio — the
    * empirical companion to m57's fitted Heaps law. All counts exact
    * longs; ratios fixed-order. Scale: one (source, token) partial-agg
    * exchange, one source-sized re-aggregation. */
  def unseenMass(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("source"),
        explode(split(lower(trim(col("text"))), " +")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("hapax"),
        (col("hapax").cast("double") / col("n_tokens").cast("double"))
          .as("unseen_mass"),
        (col("vocab").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"))
  }

  /** Cross-corpus perplexity (m124): the actual CCNet setup — the bigram
    * LM trains on a clean REFERENCE corpus (docs < 100 play Wikipedia)
    * and scores the rest; documents unlike the reference land in the
    * high-perplexity tail. Unlike m43's self-scoring (every gram seen),
    * this genuinely exercises the unseen-gram/unseen-context backoff:
    * α-smoothing and the coalesce-to-zero join path carry real load. */
  def crossPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(s, dir)
    graft.text.NgramLm.scoreAgainst(
      docs.filter(col("doc_id") >= 100),
      graft.pipeline.DedupAssets.refBigramCounts(s, dir))
  }

  /** Token burstiness card (m123): for the corpus top-100 tokens by
    * collection frequency, the dispersion ratio cf/df (mean occurrences
    * per CONTAINING doc — Church & Gale 1995's burstiness, public): a
    * high-burstiness low-df token concentrates in few documents, the
    * signature of template/boilerplate text that raw frequency ranking
    * (m13) cannot distinguish from genuinely common words. All counts
    * exact longs; ratios in fixed operand order; top-100 tie-broken on
    * the token string. Scale: one (doc_id, token) partial-agg exchange,
    * one (token) re-aggregation, a 100-row TakeOrderedAndProject —
    * nothing downstream is corpus-sized. */
  def tokenBurstiness(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
    val perDoc = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), " +")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    perDoc.groupBy("tok")
      .agg(sum("c").as("cf"), count(lit(1)).as("df"))
      .orderBy(desc("cf"), col("tok")).limit(100)
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), col("cf"), col("df"),
        (col("cf").cast("double") / col("df").cast("double")).as("burstiness"),
        (col("df").cast("double") / col("n_docs").cast("double")).as("df_frac"))
  }

  /** Perceptual-hash image near-dups (m120): the dup-augmented corpus is
    * packed as REAL PNG bytes (the m11 encoder), each image decoded and
    * dHashed on the executors, and pairs found by the token-simhash
    * chunk-bucket machinery — media dedup through the same pairing
    * spine as text. Planted exact copies land at Hamming 0; the
    * 'zz'-mutated copies perturb only the raster cells that sample byte
    * positions 0/1 mod L, exercising the near-miss band. Blank docs are
    * excluded (every blank renders the same all-zero image — a
    * degenerate clique, the ingest gate's job to drop).
    *
    * The decode + dHash pass reads the stored per-corpus fingerprint
    * asset ([[graft.pipeline.DedupAssets.imageDHashes]]) — round 13
    * re-rasterized every PNG per run (pure codec CPU, the sweep's worst
    * growth row); steady state is now the pair join over two longs per
    * image. */
  def imageNearDups(s: SparkSession, dir: String): DataFrame =
    graft.dedup.SimHash.nearDuplicatesFromSigs(
      graft.pipeline.DedupAssets.imageDHashes(s, dir), maxDist = 4)

  /** Label-noise margins (m122): every labeled vector scored by cosine to
    * its own class centroid vs the best other centroid — negative margin
    * flags the likely-mislabeled examples a curator reviews first. */
  def labelNoiseMargins(s: SparkSession, dir: String): DataFrame =
    graft.similarity.LabelNoise.marginReport(labeledVectors(s, dir))

  /** Embedding-centroid drift card (m119): per-label centroid vs the
    * corpus centroid by cosine and euclidean distance — the semantic
    * sibling of the lexical drift cards (m55 full-vocab KL, m116
    * bounded KL). */
  def centroidDrift(s: SparkSession, dir: String): DataFrame =
    graft.similarity.CentroidDrift.report(labeledVectors(s, dir))

  /** Hard-negative mining (m48): per query, top-5 nearest vectors with a
    * different label — contrastive-training data prep. Exact (broadcast
    * queries, one corpus scan), so the oracle replays it in SQL. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val all = labeledVectors(s, dir)
    Ann.hardNegatives(all.filter(col("id") < 10), all, k = 5)
  }

  /** Label-centroid confusion map (m49): each label's nearest other
    * class prototype by centroid cosine — label-noise triage. */
  def labelConfusions(s: SparkSession, dir: String): DataFrame =
    graft.similarity.LabelCentroids.confusions(labeledVectors(s, dir))

  /** Two-stage retrieval (m47): IVF-PQ candidates re-ranked by exact
    * cosine — the billion-scale serving shape (compressed index nominates,
    * raw vectors re-rank). Rows-only by design (quantizer internals);
    * RerankSpec pins stage-2 exactness and recall ≥ raw ADC. */
  def annRerank(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    val model = graft.similarity.IvfPq.train(all, nlist = 16, m = 8, ksub = 16)
    graft.OracleCapture.put("m47_ann_rerank", model)
    graft.similarity.Rerank.ivfPqRerank(
      all.filter(col("id") < 10), all,
      graft.similarity.IvfPq.encode(all, model), model,
      k = 5, nprobe = 4, candMult = 5)
  }

  /** MMR diversified retrieval (m53) over the perturbed-dup corpus: the
    * re-rank that stops a near-dup-heavy corpus answering every query
    * with five copies of one document. λ=0.7 keeps relevance primary;
    * the planted ≈0.999-cosine copies make the diversity term
    * observable. MmrSpec pins λ=1 ≡ brute force and duplicate demotion.
    *
    * CERTIFIED like q40: the greedy loop isn't SQL, but a finished run's
    * certificate is — the picked sequence (bounded: n_queries·k = 50
    * rows) is collected and captured, and the oracle replays in DuckDB
    * that each step's pick maximizes λ·sim − (1−λ)·max-sim-to-prior-
    * picks over the recomputed candidate pool
    * ([[graft.OracleModelSql.mmrCertificate]]). `opt_ok` is the engine's
    * by-construction claim (the loop IS the argmax); the oracle computes
    * the same column from the replay, so a non-optimal pick
    * hash-mismatches. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val off = vecOff(s, dir)
    val all = withPerturbedDups(vectors(s, dir), off)
    val res = graft.similarity.Mmr.mmrTopK(
      all.filter(col("id") < 10), all, k = 5, lambda = 0.7)
    // Bounded collect (≤ 50 rows): the certificate needs the selected
    // sequence as SQL literals, and returning the collected rows avoids
    // running the distributed selection twice.
    val picks = res.orderBy("query_id", "rank").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    graft.OracleCapture.put("m53_mmr_rerank",
      (picks.map(p => (p._1, p._2, p._3)).toSeq, off))
    import s.implicits._
    picks.toSeq.toDF("query_id", "rank", "neighbor_id", "sim", "mmr_score")
      .withColumn("opt_ok", lit(true))
  }

  /** Per-dimension embedding winsorization stats (m54): clip every
    * component to its dimension's exact [p05, p95] band — the outlier
    * control before quantizer training. Exact percentile here ≡ the
    * oracle's quantile_cont; at 100 TB the same shape runs on
    * approx_percentile. */
  def embedWinsorize(s: SparkSession, dir: String): DataFrame =
    graft.similarity.Winsorize.clipStats(vectors(s, dir), qLo = 0.05, qHi = 0.95)

  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    Ann.lshTopK(all.filter(col("id") < 10), all, k = 5, numPlanes = 4)
  }

  /** SemDeDup-style semantic dedup (m33): k-means cells over the
    * perturbed-dup corpus, within-cell cosine ≥ 0.99, drop the non-min id
    * of each near-dup pair. Rows-only by design (quantizer internals are
    * not SQL-expressible); SemanticDedupSpec pins planted-dup recall and
    * precision against the exact brute-force pairs. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val off = vecOff(s, dir)
    val all = withPerturbedDups(vectors(s, dir), off)
    val model = graft.similarity.Ivf.train(
      all, nlist = scaledNlist(all.count()), iters = 2)
    // the fixture offset travels with the model so the SQL replay rebuilds
    // the exact corpus the engine ran on, whatever the organic id range
    graft.OracleCapture.put("m33_semantic_dedup", (model, off))
    // pair side spread (the embeddings-derived frame's footer gates it;
    // measured m33 −23 %): the within-cell cosine scoring
    // ran as 2 AQE-coalesced tasks; per-pair sims + min/max agg are
    // partition-invariant, and the model above trains on the unspread frame
    graft.similarity.SemanticDedup.dropNearDups(
      Tables.spread(all, "id", Tables.CorpusSpread), model)
  }

  /** Product-quantized ADC top-k (m37): train codebooks on the corpus,
    * encode to 8 codes/vector (8 bytes vs 256 raw — the compressed store
    * that fits a 100 TB embedding set in executor memory), search by
    * per-query lookup tables. Rows-only by design (codebook internals are
    * not SQL-expressible); PqSpec pins recall vs the exact baseline. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    val model = graft.similarity.Pq.train(all, m = 8, ksub = 16, iters = 4)
    graft.OracleCapture.put("m37_ann_pq", model)
    graft.similarity.Pq.adcTopK(all.filter(col("id") < 10),
      graft.similarity.Pq.encode(all, model), model, k = 5)
  }

  /** IVF-PQ top-k (m38): the composed billion-scale index — coarse cells
    * bound which rows a probe scans, residual PQ codes bound what each row
    * costs. Rows-only by design; IvfPqSpec pins full-probe recall, the
    * nprobe cell bound, and residual-vs-raw codebook quality. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    val model = graft.similarity.IvfPq.train(all, nlist = 16, m = 8, ksub = 16)
    graft.OracleCapture.put("m38_ann_ivfpq", model)
    graft.similarity.IvfPq.topK(all.filter(col("id") < 10),
      graft.similarity.IvfPq.encode(all, model), model, k = 5, nprobe = 4)
  }

  /** Whole-corpus k-NN graph (m81): EVERY vector retrieves its top-3
    * approximate neighbors through [[graft.similarity.IvfPq.topKBatch]] —
    * the batch-retrieval shape (near-dup graphs, diversity clustering)
    * the serving path's driver-built LUTs are bounded against. No probe
    * state touches the driver: probes expand to (cell, qvec) rows
    * executor-side and cogroup with the encoded corpus by cell. */
  def annIvfPqBatch(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    val model = graft.similarity.IvfPq.train(
      all, nlist = scaledNlist(all.count()), m = 8, ksub = 16)
    graft.OracleCapture.put("m81_ann_ivfpq_batch", model)
    graft.similarity.IvfPq.topKBatch(
      all, graft.similarity.IvfPq.encode(all, model), model, k = 3, nprobe = 2)
  }

  /** Stored-index retrieval (m84): the m38 probe served from the
    * [[graft.similarity.AnnAssets]] persisted IVF-PQ index — train+encode
    * run at most once per (embedding corpus, params) and every later
    * retrieval is a bounded model load plus a cell-clustered parquet
    * scan. Same probe set/params as m38, so the output contract is
    * identical; the oracle replays the search over the LOADED model
    * (captured after the parquet round-trip — a model that did not
    * round-trip bit-exactly would hash-mismatch). */
  def annStoredProbe(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    val (model, enc) = graft.similarity.AnnAssets.ivfPqIndex(
      s, dir, all, nlist = 16, ksub = 16)
    graft.OracleCapture.put("m84_ann_stored_probe", model)
    graft.similarity.IvfPq.topK(all.filter(col("id") < 10), enc, model,
      k = 5, nprobe = 4)
  }

  /** Cluster-balanced sampling (m41): the diversity-preserving downsample
    * — quota per EMBEDDING cluster instead of per source label, so no
    * semantic region of the corpus is wiped out by a count-based cut (the
    * SemDeDup-era sibling of m21's source quota). Pure composition:
    * [[graft.similarity.Ivf]] cells feed [[graft.operators.QuotaSample]]'s
    * pruned sampler; the exchange carries (cell, id, md5) triples only.
    * Rows-only by design (quantizer); the components are each spec-pinned
    * and the composition is shape-checked in ClusterQuotaSpec. */
  def clusterQuotaSample(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    val model = graft.similarity.Ivf.train(all, nlist = 16, iters = 2)
    graft.OracleCapture.put("m41_cluster_quota", model)
    graft.operators.QuotaSample.quotaSample(
      all.select(col("id"), graft.similarity.Ivf.cellId(col("vec"), model).as("cell")),
      groupCol = "cell", keyCol = "id", cap = 10)
  }

  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    val model = graft.similarity.Ivf.train(all, nlist = 16, iters = 2)
    graft.OracleCapture.put("m12_ann_ivf", model)
    graft.similarity.Ivf.topK(all.filter(col("id") < 10), all, model,
      k = 5, nprobe = 4)
  }

  /** IVF recall-vs-nprobe tuning sweep (m74): the curve read before
    * picking a serving nprobe; full probe (nlist) must hit recall 1. */
  def annTuningSweep(s: SparkSession, dir: String): DataFrame = {
    val all = vectors(s, dir)
    val model = graft.similarity.Ivf.train(all, nlist = 16, iters = 2)
    graft.OracleCapture.put("m74_ann_tuning_sweep", model)
    graft.similarity.TuningSweep.ivfRecallCurve(
      all.filter(col("id") < 10), all, model, nprobes = Seq(1, 2, 4, 16))
  }

  /** Embedding outlier report (m78): distance-to-centroid + robust MAD
    * z — flags whole vectors off the cloud (m54's per-dim clip sibling). */
  def embedOutliers(s: SparkSession, dir: String): DataFrame =
    graft.similarity.EmbedOutliers.report(Tables.embeddings(s, dir))

  /** +20 slightly-perturbed copies (id+10000, last component +0.05 — the
    * corpus vectors are unit-norm, so that keeps cosine ≈ 0.999): plants
    * guaranteed near-dup hits ≥ 0.99. */
  def withPerturbedDups(all: DataFrame, off: Long = 10000L): DataFrame = {
    val perturbed = all.filter(col("id") < 20)
      .select((col("id") + off).as("id"),
        transform(col("vec"),
          (x, i) => when(i === size(col("vec")) - 1, x + 0.05).otherwise(x))
          .as("vec"))
    all.unionByName(perturbed)
  }

  /** Embedding near-dups over the perturbed-augmented set. */
  def embeddingNearDups(s: SparkSession, dir: String): DataFrame = {
    // LSH mode — the scale path: only same-bucket pairs are scored.
    // 8 planes × 3 OR-amplified tables ≈ 0.998 recall at cosine 0.999.
    // The bucket space scales with the corpus ([[scaledPlanes]]; recall
    // at cosine 0.999 stays ≥ 0.999 through p = 24 with 3 OR tables).
    val all = withPerturbedDups(vectors(s, dir), vecOff(s, dir))
    // bucket-pair side spread (measured m10 −17 %): hyperplanes are seeded
    // and data-oblivious, within-bucket cosines per-pair exact — the
    // spread only raises the scoring stage's parallelism
    Ann.nearDupPairs(Tables.spread(all, "id", Tables.CorpusSpread),
      numPlanes = scaledPlanes(all.count()), tables = 3)
  }

  /** Connected components over the verified inverted-index pairs —
    * (doc_id, cluster_id = min reachable doc_id) for every doc in any
    * near-dup pair. Oracle replays the closure with a recursive CTE.
    * Consumes the stored pair asset (the production topology: pair
    * verification runs once, [[graft.pipeline.DedupAssets]]); the CC
    * iteration itself runs here for real. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    graft.dedup.DedupClusters.components(
      graft.pipeline.DedupAssets.pairs(s, dir).select("doc_a", "doc_b"))

  /** Per-source pipeline yield funnel (m75): how many documents each
    * source delivers INTO training after the gate and exact dedup —
    * raw → gate-pass → dedup-survivor counts with yield rates, over the
    * dup-augmented corpus so the dedup stage visibly bites. This is the
    * accounting table a curation run publishes ("source X ships 40% of
    * what it ingests"); the stages reuse the m02 gate and the m03/m04
    * keep-first convention (min doc_id per content fingerprint), so the
    * funnel can never drift from the operators it reports on. Three
    * partial-agg exchanges on source; stat joins are source-sized. */
  def pipelineYield(s: SparkSession, dir: String): DataFrame = {
    val aug = withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))
    val gated = aug.join(
      TextOps.langQualityGate(aug).select("doc_id"), Seq("doc_id"))
    val keepers = gated
      .withColumn("fp", md5(coalesce(col("text"), lit(""))))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val raw = aug.groupBy("source").agg(count(lit(1)).as("n_raw"))
    val ng = gated.groupBy("source").agg(count(lit(1)).as("n_gated"))
    val nu = gated.join(keepers, Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("n_unique"))
    raw
      .join(ng, Seq("source"), "left")
      .join(nu, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_gated"), lit(0L)).as("n_gated"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("gate_yield",
        col("n_gated").cast("double") / col("n_raw").cast("double"))
      .withColumn("final_yield",
        col("n_unique").cast("double") / col("n_raw").cast("double"))
  }

  /** Round-robin source interleave (m73): a deterministic global
    * training order where consecutive positions rotate through sources —
    * the order-construction dual of m34/m27's mix SIZING (those decide
    * how much of each source; this decides the sequence, so no source
    * ever forms a long run that skews a training window). pos =
    * within-source-rank · n_sources + source_index is injective, and
    * sorting by it interleaves. Per-source md5 rank is a partitioned
    * window (never global); the source-index table is source-count-sized
    * and broadcast.
    *
    * The corpus is scanned exactly TWICE: once for the distinct source
    * list (map-side partial distinct — the exchange carries n_sources
    * rows) and once for the ranking window. The tiny index is snapshot
    * once and BOTH the idx join and the n_sources count derive from that
    * snapshot — deriving n_sources lazily from the distinct plan would
    * silently re-run the corpus scan a third time. */
  def sourceInterleave(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    val srcIdx = d.select("source").distinct()
      .withColumn("source_idx",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("source")) - 1).cast("long"))
      .pinned(true) // n_sources rows; freed by the session sweep
    val nS = srcIdx.agg(count(lit(1)).as("n_sources"))
    d.withColumn("rk", (row_number().over(w) - 1).cast("long"))
      .join(broadcast(srcIdx), Seq("source"))
      .crossJoin(broadcast(nS))
      .withColumn("pos", col("rk") * col("n_sources") + col("source_idx"))
      .select("doc_id", "source", "rk", "source_idx", "pos")
  }

  /** Exact stratified split (m87): per-source EXACT-count train/val/test.
    * [[graft.operators.HashSplit]] (m39) gives leak-proof but only
    * *expected* fractions — fine for train, wrong for an eval set that
    * must be exactly n·10% rows per stratum. Here each source ranks its
    * docs on the content-independent md5 line (the m73 per-source window
    * — bounded by the largest stratum, never a global single partition)
    * and cuts at floor(n·0.8) / floor(n·0.8)+floor(n·0.1): train and val
    * are exact by construction, test absorbs the remainder. The
    * per-source count table broadcasts back (sources ≪ corpus). Both
    * engines compute the identical IEEE floor(n·f) cuts, so the oracle
    * replays the whole assignment. */
  def stratifiedSplit(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    // per-source n from a frame-less window over the same partitioning —
    // one source exchange serves rank and count; a groupBy-count branch
    // would scan the corpus a second time (the m89 lesson)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val nTrain = floor(col("n") * lit(0.8))
    val nVal = floor(col("n") * lit(0.1))
    d.withColumn("rk", (row_number().over(w) - 1).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("split",
        when(col("rk") < nTrain, "train")
          .when(col("rk") < nTrain + nVal, "val")
          .otherwise("test"))
      .select("doc_id", "source", "rk", "split")
  }

  /** Exact stratified split, RANGE-PARTITIONED form (m134): the
    * documented skew escalation of m87, promoted to a certified query
    * after the round-15 Zipf fixture measured m87's per-source window as
    * the one row whose max task tracks the head source linearly
    * (BENCH_sf1.md "Skewed-source fixture"). Identical semantics and
    * output to m87 — same md5 order, same floor(n·f) cuts, SHARES m87's
    * oracle SQL — but ranks come from
    * [[graft.operators.GroupedRanks.withRankAndCount]]: the head source
    * spans many range partitions instead of owning one sort task, and
    * the per-source count rides out of the same pass (no count window).
    * StratifiedSplitSpec pins the two forms bit-identical, including on
    * a skewed fixture. */
  def stratifiedSplitRanged(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val ranked = graft.operators.GroupedRanks.withRankAndCount(
      d, "source",
      Seq(md5(col("doc_id").cast("string").cast("binary")), col("doc_id")))
    val nTrain = floor(col("n") * lit(0.8))
    val nVal = floor(col("n") * lit(0.1))
    ranked
      .withColumn("split",
        when(col("rk") < nTrain, "train")
          .when(col("rk") < nTrain + nVal, "val")
          .otherwise("test"))
      .select("doc_id", "source", "rk", "split")
  }

  /** Incremental near-dup admission (m72): the planted copies
    * (doc_id ≥ off) arrive as the "new batch" and probe the original
    * corpus's inverted shingle index — only (batch, indexed) pairs. The
    * index is a STORED asset (the admitted corpus below `off` is exactly
    * `documents`, the fingerprinted table), so repeat ingests — later
    * queries this JVM, or any JVM sharing a stable asset root — pay only
    * the batch-sized probe, never the corpus postings exchange. */
  def incrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val aug = withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))
    val off = docOff(s, dir)
    graft.dedup.IncrementalNearDup.probeStoredIndex(s,
      batch = aug.filter(col("doc_id") >= off),
      indexed = aug.filter(col("doc_id") < off),
      indexKey = dir)
  }

  /** Per-doc character Shannon entropy (m76): the exactly-replayable
    * information-density feature next to m71's deflate proxy. */
  def charEntropy(s: SparkSession, dir: String): DataFrame =
    graft.text.CharEntropy.entropy(Tables.documents(s, dir))

  /** Deflate compression-ratio quality signal (m71): the zero-model
    * entropy heuristic — repetitive spam compresses too well, junk
    * barely compresses, prose sits in a band.
    *
    * CERTIFIED (the q40 recipe): DuckDB has no deflate, so the raw
    * deflated size / ratio stay spec-pinned
    * ([[graft.text.CompressionRatio.ratios]] is the engine surface,
    * CompressionRatioSpec the pin) — what the oracle hash-checks is the
    * exact byte accounting (n_raw_bytes = UTF-8 length, independently
    * recomputed by DuckDB's octet_length(encode(text))) and `deflate_ok`,
    * the engine's zlib-stream certificate: deflated size within
    * [8, compressBound(n)] (zlib's documented worst case
    * n + n/4096 + n/16384 + n/2^25 + 13, which includes the 6-byte
    * wrapper; 8 = the empty-stream size) and the reported ratio arithmetic
    * consistent with the reported sizes. A broken deflate pass — zero
    * output, runaway output, or a ratio that doesn't match its own
    * sizes — flips the boolean and hash-mismatches. */
  def compressionRatios(s: SparkSession, dir: String): DataFrame = {
    val r = graft.text.CompressionRatio.ratios(Tables.documents(s, dir))
    val n = col("n_raw_bytes")
    val bound = n + n / 4096L + n / 16384L + n / 33554432L + lit(13L)
    val ratioOk = when(n === 0L, col("compression_ratio") === 1.0)
      .otherwise(col("compression_ratio") ===
        col("n_deflated_bytes").cast("double") / n.cast("double"))
    r.select(col("doc_id"), n,
      (col("n_deflated_bytes") >= 8L && col("n_deflated_bytes") <= bound &&
        ratioOk).as("deflate_ok"))
  }

  /** Robust per-source length-outlier report (m69): median/MAD robust
    * z-scores over token counts — the anomaly dial that catches a source
    * suddenly shipping truncated or concatenated documents, where mean/
    * stddev would be dragged by the very outliers being hunted. Exact
    * `percentile` twice (median, then MAD) with the same quantile_cont
    * parity as m35; the 100 TB swap to `percentile_approx` is the same
    * `approx = true` library call as m35 (identical plan shape,
    * ApproxSwapSpec-pinned). Both per-source stat tables are
    * source-count-sized and broadcast. */
  def lengthOutliers(s: SparkSession, dir: String): DataFrame =
    lengthOutliersOver(Tables.documents(s, dir))

  def lengthOutliersOver(docs: DataFrame, approx: Boolean = false): DataFrame = {
    val d = docs.filter(col("text").isNotNull)
      .select(col("source"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("nt"))
    val med = d.groupBy("source")
      .agg(median(col("nt"), approx).cast("double").as("med"))
    val withMed = d.join(broadcast(med), Seq("source"))
    val mad = withMed.groupBy("source")
      .agg(median(abs(col("nt") - col("med")), approx).cast("double").as("mad"))
    val z = lit(0.6745) * (col("nt") - col("med")) / col("mad")
    withMed.join(broadcast(mad), Seq("source"))
      .withColumn("is_outlier",
        when(col("mad") === 0.0, lit(false)).otherwise(abs(z) > 3.5))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        max(col("med")).as("median_tokens"),
        max(col("mad")).as("mad_tokens"),
        sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_rate",
        col("n_outliers").cast("double") / col("n_docs").cast("double"))
  }

  /** Leakage-safe train/val/test split (m70): m39's hash-stable split
    * keyed by DUPLICATE FAMILY, not document — every member of a near-dup
    * cluster (m17) lands in the same split, so a test document's mutated
    * twin can never sit in train. Singletons key on their own id. The
    * eval-set integrity step a curation pipeline runs between dedup and
    * packing. */
  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    val aug = withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))
    val members = graft.pipeline.DedupAssets.clusters(s, dir)
    val keyed = aug.select(col("doc_id"))
      .join(members, Seq("doc_id"), "left")
      .withColumn("group_key", coalesce(col("cluster_id"), col("doc_id")))
      .select("doc_id", "group_key")
    graft.operators.HashSplit.assign(keyed, "group_key", SplitFractions)
  }

  /** Quality-gate calibration (m68): fixed quality-score buckets
    * (floor(q·10), clamped to 9 — per-row arithmetic, deliberately NOT a
    * global ntile window) crossed with the independent m24 OOV rate —
    * the check that the cheap heuristic gate actually orders documents
    * the way a vocabulary-based score does. Two doc-keyed narrow tables,
    * one equi-join, one partial-agg exchange on bucket. */
  def qualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val q = TextOps.textStats(docs).select(col("doc_id"), col("quality"))
    val oov = vocabQualityOver(docs, vocabSize = 25)
      .select(col("doc_id"), col("oov_rate"))
    q.join(oov, Seq("doc_id"))
      .withColumn("bucket",
        least(floor(col("quality") * 10.0), lit(9.0)).cast("long"))
      .groupBy("bucket").agg(
        count(lit(1)).as("n_docs"),
        avg(col("quality")).as("mean_quality"),
        avg(col("oov_rate")).as("mean_oov_rate"))
  }

  /** Language-ID confusion crosstab (m67): declared `lang` column vs the
    * TRAINED classifier's prediction (re-pointed at m137's model in
    * round 16; previously the en/other stopword heuristic), with
    * per-language share — the QA table for the LID tier: the real
    * corpus rows expose that the declared tags sit on language-free
    * text, the planted rows pin the diagonal. One partial-agg exchange
    * on (lang, pred_lang); the totals join is language-count-sized and
    * broadcast. Reads the shared per-corpus model, captured under its
    * OWN key (the no-shared-capture convention). */
  def langConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val model = langModel(s, dir)
    // m67's capture carries the per-class TRAIN SUPPORT alongside the
    // weights (its own 4-tuple — the no-shared-capture convention)
    graft.OracleCapture.put("m67_lang_confusion",
      (model.classes.toSeq, model.quantized.map(_.toSeq).toSeq,
        langOff(s, dir), model.classCounts.toSeq))
    val p = graft.text.LangId.score(langCorpus(s, dir), model)
      .select(col("lang"), col("pred_lang"))
    val counts = p.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
    val totals = counts.groupBy("lang").agg(sum(col("n_docs")).as("lang_total"))
    // per-PREDICTED-class training support (round-16 ask #7): the card
    // must disclose how many labeled examples back each diagonal —
    // 'unknown' (gram-less docs) is backed by none, coalesced to 0
    val support = model.classes.zip(model.classCounts).toSeq
      .toDF("pred_lang", "pred_train_support")
    counts.join(broadcast(totals), Seq("lang"))
      .join(broadcast(support), Seq("pred_lang"), "left")
      .na.fill(0L, Seq("pred_train_support"))
      .withColumn("share",
        col("n_docs").cast("double") / col("lang_total").cast("double"))
      .select("lang", "pred_lang", "n_docs", "lang_total", "share",
        "pred_train_support")
  }

  /** Padding-waste report (m65): per-source accounting of what naive
    * one-doc-per-sequence batching at seqLen=2048 costs versus packed
    * sequences (m26/m56's layout) — padded/truncated token mass and the
    * utilization of both layouts. The number a training-infra owner
    * reads before deciding the packing pipeline is worth running.
    * One partial-aggregated exchange on source; the token counting is
    * the same codegen'd projection as m35. */
  def paddingWaste(s: SparkSession, dir: String): DataFrame =
    paddingWasteOver(Tables.documents(s, dir), seqLen = 2048L)

  def paddingWasteOver(docs: DataFrame, seqLen: Long): DataFrame = {
    val n = docs.filter(col("text").isNotNull)
      .select(col("source"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("nt"))
      .withColumn("kept", least(col("nt"), lit(seqLen)))
    n.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("nt")).as("total_tokens"),
      sum(col("nt") - col("kept")).as("trunc_tokens"),
      sum(lit(seqLen) - col("kept")).as("pad_tokens"),
      sum(col("kept")).as("kept_tokens"))
      .withColumn("packed_seqs",
        ceil(col("kept_tokens").cast("double") / lit(seqLen.toDouble)).cast("long"))
      .withColumn("padded_util",
        col("kept_tokens").cast("double") /
          (col("n_docs") * lit(seqLen)).cast("double"))
      .withColumn("packed_util",
        col("kept_tokens").cast("double") /
          (col("packed_seqs") * lit(seqLen)).cast("double"))
      .select("source", "n_docs", "total_tokens", "trunc_tokens",
        "pad_tokens", "kept_tokens", "packed_seqs", "padded_util", "packed_util")
  }

  /** Systematic PPS sample (m64): exactly 200 token-mass-proportional
    * sample points over the md5-ordered corpus layout. */
  def systematicSample(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(split(lower(trim(col("text"))), " +")).cast("long").as("n_tokens"))
    graft.operators.SystematicSample.sample(
      n, keyCol = "doc_id", weightCol = "n_tokens", k = 200)
  }

  /** Top principal component of the embedding corpus (m63): distributed
    * power iteration, 8 steps — the anisotropy/whitening diagnostic.
    * Captures (μ, v₇) so the final corpus pass is oracle-replayed. */
  def pcaTopComponent(s: SparkSession, dir: String): DataFrame =
    graft.similarity.PcaPower.topComponent(Tables.embeddings(s, dir),
      captureKey = Some("m63_pca_top_component"))

  /** Similarity-graph PageRank (m62): damped centrality over the m14
    * near-dup pair graph (jaccard ≥ 0.6, symmetrized) — high-rank nodes
    * are the canonical documents of each duplicate family. 10 fixed
    * iterations, d = 0.85. */
  def docPagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.pipeline.DedupAssets.pairs(s, dir).select("doc_a", "doc_b")
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    graft.operators.PageRank.ranks(edges, iterations = 10)
      .select(col("node").as("doc_id"), col("rank"))
  }

  /** Keep-best dedup resolution (m66): the step AFTER clustering — each
    * duplicate family (m17's connected components) keeps its
    * highest-quality member (lowest m24 OOV rate, doc_id tie-break) and
    * drops the rest. This is the policy decision a dedup pipeline
    * actually ships: "zz"-mutated planted copies carry OOV junk tokens,
    * so the pristine originals win their clusters.
    *
    * Scale shape: membership and quality are both doc-keyed narrow
    * tables (text stays below); the survivor pick is a window over
    * cluster_id — partitions are duplicate families, bounded by cluster
    * size, never corpus-sized. */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val aug = withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))
    val members = graft.pipeline.DedupAssets.clusters(s, dir)
    val quality = vocabQualityOver(aug, vocabSize = 25)
      .select(col("doc_id"), col("oov_rate"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("oov_rate").asc, col("doc_id").asc)
    members.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc_id"),
        col("n_members"), col("oov_rate").as("kept_oov_rate"))
  }

  /** Exact cosine near-dup for a probe subset (ids < 100) over the
    * perturbed-augmented corpus — oracle-checkable twin of
    * [[embeddingNearDups]]'s LSH mode. */
  def embedNearDupExact(s: SparkSession, dir: String): DataFrame = {
    val corpus = withPerturbedDups(vectors(s, dir), vecOff(s, dir))
    Ann.bruteForceNearDups(corpus.filter(col("id") < 100), corpus)
  }

  /** End-to-end corpus prep (gate → dedup → cluster → canonical → chunk)
    * over the augmented corpus — one hash-checked composite (m18). */
  def corpusPipeline(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.CorpusPipeline.prepare(
      withSyntheticDups(Tables.documents(s, dir), docOff(s, dir)))

  /** Incremental exact dedup (m29): docs ≥ 400 plus replayed copies of
    * already-ingested content play today's delta; docs < 400 play the
    * running fingerprint index. Genuinely-new documents are admitted,
    * replays are rejected without rescanning the corpus. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val seen = docs.filter(col("doc_id") < 400)
      .select(graft.text.TextOps.fingerprint(col("text")).as("fingerprint"))
      .distinct()
    val delta = docs.filter(col("doc_id") >= 400).select("doc_id", "text")
      .unionByName(docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + (3 * docOff(s, dir))).as("doc_id"), col("text")))
    graft.dedup.ExactDedup.admitNew(delta, seen)
      .select("doc_id", "fingerprint")
  }

  /** The v2 composite (m28): gate → PII scrub → repetition collapse →
    * dedup → cluster → canonical → chunk, over a corpus where every doc
    * (including the planted copies) carries doc_id-distinct PII — so the
    * exact copies are NOT byte-identical until the scrub collapses their
    * PII to placeholders. One hash-checked oracle end-to-end. */
  def corpusPipelineV2(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.CorpusPipeline.prepareV2(
      withSyntheticPii(withSyntheticDups(Tables.documents(s, dir), docOff(s, dir))))

  // ---- multimodal -----------------------------------------------------

  /** Multimodal feature extraction (m11), projected to the columns a SQL
    * oracle can replay exactly: the PNG path's header metadata and pixel
    * luma mean (the encoder renders gray rasters from the text bytes, and
    * integer BT.601 luma of gray (v,v,v) is v, so the mean is a pure
    * function of the text), and the opaque path's byte count and mean
    * (the corpus is ASCII, so bytes are character codes). The
    * encoder-dependent fields (PNG n_bytes, head_hash, thumb) stay
    * spec-pinned in MultimodalSpec — deflate output is not SQL.
    *
    * Reads the stored per-corpus feature asset
    * ([[graft.pipeline.DedupAssets.mediaFeatures]]) — after m120 moved
    * to its phash asset, the per-run decode here was the scale sweep's
    * worst growth row (21.5× at 30×, pure codec CPU); steady state is
    * now a nine-column parquet scan, with the build surfaced as the
    * asset:mediafeat bench row. */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.DedupAssets.mediaFeatures(s, dir)
      .select(col("doc_id"), col("format"), col("width"), col("height"),
        col("channels"), col("luma_mean"),
        when(col("format") === "binary", col("n_bytes")).as("opaque_bytes"),
        when(col("format") === "binary", col("byte_mean")).as("opaque_mean"))
}
