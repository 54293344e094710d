package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, length, lit, xxhash64}
import org.apache.spark.sql.types.{DataType, StructType}

import java.nio.file.{Files, Paths}

/** Materialized dedup assets — the production topology for the near-dup
  * pair graph and its cluster labels.
  *
  * A curation pipeline verifies near-dup pairs ONCE and stores them; every
  * downstream consumer (centrality ranking, keep-best resolution,
  * leakage-safe splits) reads the stored artifact instead of re-shingling
  * the corpus and re-verifying pairs. Before this layer the suite paid the
  * pair-graph build ~5× per run (m14, m17, m62, m66, m70 each rebuilt it)
  * — per-query the plan was fine, but at 100 TB "recompute the dedup graph
  * per report" is the wrong topology: the pair table is the expensive,
  * slowly-changing asset; the reports are cheap reads over it.
  *
  * Shape: each asset is written exactly once per (asset, corpus) per JVM —
  * range-sharded, internally sorted parquet via
  * [[graft.io.Sinks.writeSortedShards]] (disjoint ordered key ranges, the
  * layout a downstream merge-reader wants) — and every consumer gets a
  * plain parquet scan of the stored file. The shard count is a policy
  * knob: 8 covers the test scales; a production deployment sizes it from
  * the pair-table bytes (pairs are two longs + a double per row, orders of
  * magnitude smaller than the corpus).
  *
  * Concurrency: builds coordinate on a PER-PATH latch ([[graft.Memo]]),
  * not an object-wide lock — a caller building the pairs asset for
  * corpus A never blocks a caller building clusters, or corpus B (the
  * Spark job runs outside any global mutex; only callers of the same
  * stored path wait, and exactly one of them builds).
  *
  * Reuse across JVMs is opt-in: with the `graft.dedup.assetRoot` system
  * property pointing at a stable
  * directory, the asset path carries a STALENESS KEY — a corpus
  * fingerprint (count + order-insensitive bit_xor of xxhash64(doc_id,
  * text), one cheap column scan, memoized per JVM) plus a semantics
  * version bumped when the pair-chain operators change — so a production
  * run reuses yesterday's asset iff the corpus and the semantics are
  * unchanged, and anything else rebuilds into a fresh path. Publication
  * is crash- and race-safe: the asset is built into a temp directory with
  * a `_GRAFT_OK` marker (carrying the schema) inside, then atomically
  * renamed into the fingerprint path — the final path never exists
  * half-written, a crashed build leaves only an orphan temp dir, two
  * processes racing on the same fingerprint resolve to whoever renames
  * first, and an empty asset (no near-dup pairs) round-trips through its
  * stored schema instead of failing parquet schema inference. Without the
  * property, assets live in a per-JVM temp dir exactly as before —
  * re-runs rebuild from source.
  */
object DedupAssets {

  /** Bump when the semantics of any materialized asset chain change —
    * stored assets from older versions are then never reused. */
  private val SemanticsVersion = "v2" // v2: pair asset stored at loose θ=0.5

  private case class Asset(path: String, schema: StructType)
  private val assets = new graft.Memo[Asset]
  private val fingerprints = new graft.Memo[String]
  private lazy val tempRoot =
    Files.createTempDirectory("graft-dedup-assets").toString

  private def stableRoot: Option[String] =
    sys.props.get("graft.dedup.assetRoot").filter(_.nonEmpty)

  /** Order-insensitive corpus fingerprint: row count + bit_xor of
    * xxhash64(doc_id, text) over `$dir/documents.parquet`, hex-joined.
    * One narrow scan, memoized per (dir) per JVM. The dir may be a local
    * path or any Hadoop URI (`file://`, `hdfs://`, `s3a://`): existence
    * is asked of the key's own FileSystem. Keys that are not a corpus dir
    * hash textually (generic materialized callers). Assets
    * over a different source table pass `fpTable`/`fpCols` — an ANN
    * index over `embeddings.parquet` must go stale when the EMBEDDINGS
    * change, whether or not the documents did. */
  private def fingerprint(s: SparkSession, key: String,
                          fpTable: String, fpCols: Seq[String]): String =
    // fpCols is part of the memo key: two assets over the same source
    // table but fingerprinting different columns must not share a cached
    // fingerprint (a collision would silently reuse a stale asset).
    fingerprints(s"$key::$fpTable::${fpCols.mkString(",")}") {
      val src = new org.apache.hadoop.fs.Path(key, fpTable)
      if (src.getFileSystem(s.sparkContext.hadoopConfiguration).exists(src)) {
        val r = s.read.parquet(src.toString)
          .agg(count(lit(1)), bit_xor(xxhash64(fpCols.map(col): _*)))
          .head()
        val x = if (r.isNullAt(1)) 0L else r.getLong(1)
        f"${r.getLong(0)}%x-$x%016x"
      } else f"k${key.hashCode}%08x"
    }

  /** Materialize `build` once per (asset, key) per JVM — or once per
    * (asset, corpus-fingerprint, semantics version) across JVMs when a
    * stable asset root is configured; always return a reader over the
    * stored copy.
    *
    * The in-JVM memo is keyed by the FINAL PATH, not the (asset, key)
    * pair: two keys that fingerprint to the same stored path (same corpus
    * reached via two dir spellings) share one latch and one build, or
    * both would build into the shared path concurrently. */
  def materialized(s: SparkSession, asset: String, key: String,
                   sortCols: Seq[String],
                   fpTable: String = "documents.parquet",
                   fpCols: Seq[String] = Seq("doc_id", "text"))
                  (build: => DataFrame): DataFrame = {
    // Fingerprinting runs a (memoized) Spark job — outside the path's
    // latch, so concurrent different-key callers still overlap.
    val (path, stable) = stableRoot match {
      case Some(root) =>
        (s"$root/$asset-${fingerprint(s, key, fpTable, fpCols)}-$SemanticsVersion", true)
      case None =>
        (s"$tempRoot/$asset-${java.lang.Integer.toHexString(key.hashCode)}",
          false)
    }
    val a = assets(path) {
      if (stable)
        loadStored(path).getOrElse(
          writeAsset(path, build, sortCols, overwrite = false))
      else
        // Per-JVM temp root: reset() demands a fresh build, so a
        // leftover path from before the reset is replaced, not
        // reused. No cross-process concern — the root is private.
        writeAsset(path, build, sortCols, overwrite = true)
    }
    s.read.schema(a.schema).parquet(a.path)
  }

  /** A stored asset is reusable iff its completion marker exists; the
    * marker carries the write-time schema JSON. */
  private def loadStored(path: String): Option[Asset] = {
    val marker = Paths.get(path, "_GRAFT_OK")
    if (Files.exists(marker))
      Some(Asset(path, DataType.fromJson(Files.readString(marker))
        .asInstanceOf[StructType]))
    else None
  }

  /** Build into a private temp directory beside the target (same
    * filesystem, so rename is atomic), write the `_GRAFT_OK` marker INSIDE
    * the temp copy, then publish with a single atomic rename. The final
    * path therefore never exists half-written: a reader that resolved it
    * through [[loadStored]] sees either nothing or a complete asset, even
    * with two JVMs racing on the same fingerprint path. Losing the rename
    * race means another process published the identical asset first (the
    * path embeds the corpus fingerprint + semantics version, so contents
    * are interchangeable) — discard ours and reuse theirs. */
  private def writeAsset(path: String, build: => DataFrame,
                         sortCols: Seq[String], overwrite: Boolean): Asset = {
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val df = build
    val tmp = Files.createTempDirectory(
      target.getParent, s".${target.getFileName}.tmp-")
    graft.io.Sinks.writeSortedShards(df, tmp.toString, numShards = 8, sortCols)
    Files.writeString(tmp.resolve("_GRAFT_OK"), df.schema.json)
    if (overwrite) deleteRecursively(target)
    try {
      Files.move(tmp, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Asset(path, df.schema)
    } catch {
      case e: java.nio.file.FileSystemException =>
        deleteRecursively(tmp)
        // Rename can only fail here because the target appeared (another
        // process won) — anything else is a real IO fault: rethrow.
        loadStored(path).getOrElse(throw e)
    }
  }

  /** Shared close-the-walk recursive delete (also used by
    * [[graft.queries.LegacySql]], StreamingCorpus and Bench — keep the
    * single leak-free copy). */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path])
        .forEach(f => { Files.deleteIfExists(f); () })
      finally s.close()
    }

  /** Verified near-dup pairs (doc_a, doc_b, jaccard) over the augmented
    * `documents` corpus of `dir` at the LOOSE θ = 0.5 — m14's
    * inverted-index verification, run once and stored, so every consumer
    * tier shares one artifact: the recall audit (m85) needs the 0.5–0.6
    * band. Jaccard is threshold-independent (the cut is a final filter),
    * so filtering the loose table is row-identical to running the chain at
    * a tighter threshold. */
  def pairsLoose(s: SparkSession, dir: String): DataFrame =
    materialized(s, "pairs", dir, Seq("doc_a", "doc_b"))(
      graft.dedup.NgramJaccard.invertedIndexPairs(
        graft.queries.CorpusQueries.augmentedDocs(s, dir),
        // the gated posting pin (NgramJaccard doc) applies: the pair
        // expansion was the build's dominant single-task stage
        threshold = 0.5, dfCap = 50))

  /** The ≥ 0.6 slice of [[pairsLoose]] that curation reads. */
  def pairs(s: SparkSession, dir: String): DataFrame =
    pairsLoose(s, dir).filter(col("jaccard") >= 0.6)

  /** Banded-minhash CANDIDATE pairs (doc_a, doc_b) — the generation
    * stage's banded shuffle is the expensive half of every LSH query;
    * both verify styles (m05's shingle-hash jaccard, m07's char-gram
    * jaccard) probe the same stored table. */
  def minhashCandidates(s: SparkSession, dir: String): DataFrame =
    materialized(s, "lshcand", dir, Seq("doc_a", "doc_b"))(
      graft.dedup.MinHashLSH.candidatePairs(
        graft.queries.CorpusQueries.augmentedDocs(s, dir)))

  /** Cluster labels (doc_id, cluster_id) — connected components over the
    * stored pair asset, themselves stored once. */
  def clusters(s: SparkSession, dir: String): DataFrame =
    materialized(s, "clusters", dir, Seq("doc_id"))(
      graft.dedup.DedupClusters.components(
        pairs(s, dir).select("doc_a", "doc_b")))

  /** Per-image perceptual hashes (doc_id, simhash) — the PNG decode +
    * 56-bit dHash pass over the packed image corpus, run once and stored.
    * The decode is pure codec CPU and linear in images (the worst
    * wall-clock-growth row of the round-13 scale sweep: 10.1× at 30×
    * data), exactly the profile the asset layer exists for: fingerprints
    * are a slowly-changing per-corpus artifact; every consumer (m120's
    * near-dup pairing today, any future phash dedup tier) reads two longs
    * per image instead of re-rasterizing. Keyed on the documents
    * fingerprint because the fixture's images are packed FROM the text —
    * a real deployment with a media table would pass fpTable/fpCols for
    * it. */
  def imageDHashes(s: SparkSession, dir: String): DataFrame =
    materialized(s, "phash", dir, Seq("doc_id"))(
      graft.multimodal.Multimodal.dHashes(
        graft.multimodal.Multimodal.packImages(
          // adaptive scan spread (Tables.documentsSpread note): the PNG
          // encode+decode is pure codec CPU fused into the scan stage —
          // the round-20 A/B measured this build 4.9 -> 2.9 s once the
          // walk left the single-task scan
          graft.Tables.spread(
            graft.queries.CorpusQueries.augmentedDocs(s, dir)
              .filter(col("text").isNotNull && length(col("text")) > 0),
            "doc_id", graft.Tables.CorpusSpread))))

  /** Per-media feature table (doc_id, n_bytes, byte_mean, head_hash,
    * format, width, height, channels, luma_mean) — the full decode +
    * feature-extraction pass over the packed media corpus, run once and
    * stored. Same rationale as [[imageDHashes]]: after m120 moved to the
    * phash asset, m11's per-run decode became the sweep's worst
    * wall-clock-growth row (21.5× at 30× data, pure codec CPU, linear in
    * media) — exactly the slowly-changing per-corpus artifact this layer
    * exists for. Every consumer reads nine scalar columns per media row
    * instead of re-decoding. */
  def mediaFeatures(s: SparkSession, dir: String): DataFrame =
    materialized(s, "mediafeat", dir, Seq("doc_id"))(
      graft.multimodal.Multimodal.pipeline(s, graft.Tables.documents(s, dir)))

  /** Per-document perplexity terciles (doc_id, source, perplexity,
    * bucket) — the m89 CCNet head/middle/tail chain (bigram-LM
    * self-perplexity + per-source rank terciles), run once and stored.
    * Three consumers (m89, m101's gate agreement, m118's Dawid–Skene)
    * each re-derived the full LM chain per run before this. Perplexity
    * is stored as the raw double: parquet round-trips it exactly, so
    * every consumer (and the m89 oracle hash) sees bit-identical
    * values. */
  def pplBuckets(s: SparkSession, dir: String): DataFrame =
    // fpCols includes SOURCE: the terciles are ranked per source, so a
    // corpus whose source labels change (same doc_id/text) must go
    // stale — the default (doc_id, text) fingerprint would silently
    // serve the old partitioning's buckets from a stable asset root.
    materialized(s, "pplbuckets", dir, Seq("doc_id"),
      fpCols = Seq("doc_id", "text", "source"))(
      graft.queries.CorpusQueries.pplBucketsDirect(s, dir))

  /** Shared raw n-gram count tables (`asset:ngramcounts2`/`3`) — the LM
    * tier's sufficient statistic, built once per (corpus fingerprint,
    * order) and read by every consumer (round-17 verdict ask
    * #2). Before this, m43/m89/m124/m138/m142/m144/m145 each
    * re-tokenized and re-counted the corpus per query — per-query the
    * plan was right, but at 100 TB each redundant count pass is a full
    * corpus scan, and the count table (bounded by the realized gram
    * vocabulary) is exactly the slowly-changing
    * asset the bm25post topology exists for. Counts are exact longs and
    * gram strings — parquet round-trips them bit-identically, so every
    * consumer's oracle hash is unchanged by construction. */
  def ngramCounts(s: SparkSession, dir: String, order: Int): DataFrame = {
    require(order >= 2, s"n-gram order must be >= 2, got $order")
    val name = s"ngramcounts$order"
    val cols = order match {
      case 2 => Seq("a", "b")
      case 3 => Seq("a", "b", "c")
      case n => (1 to n).map(i => s"g$i")
    }
    materialized(s, name, dir, cols)(order match {
      case 2 => graft.text.NgramLm.bigramCounts(graft.Tables.documents(s, dir))
      case 3 => graft.text.KneserNey.trigramCounts(graft.Tables.documents(s, dir))
      case n => graft.text.KneserNey.ngramCounts(graft.Tables.documents(s, dir), n)
    })
  }

  /** m124's clean-REFERENCE bigram LM (docs < 100 play Wikipedia in the
    * CCNet setup) — same topology, its own asset: the reference model
    * retrains only when the corpus does. */
  def refBigramCounts(s: SparkSession, dir: String): DataFrame =
    materialized(s, "ngramcounts2ref", dir, Seq("a", "b"))(
      graft.text.NgramLm.bigramCounts(
        graft.Tables.documents(s, dir).filter(col("doc_id") < 100)))

  /** Test hook: drop the per-JVM memo (and fingerprint memo) so a spec can
    * observe a fresh build. Stored files stay on disk; with a stable root
    * the next call reuses them via the marker. */
  def reset(): Unit = { assets.clear(); fingerprints.clear() }
}
