package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stored IVF-PQ index asset (m84) — the ANN tier's version of the
  * [[graft.pipeline.DedupAssets]] topology: train + encode ONCE per
  * (embedding corpus, index params), persist both halves, and give every
  * later retrieval a plain parquet scan plus a bounded model load.
  *
  * Rationale at 100 TB: the encoded index is the expensive, slowly-
  * changing artifact — building it is a full corpus pass (plus driver
  * Lloyd's over the bounded sample), while a retrieval touches
  * nprobe/nlist of it. Before this layer every ANN query re-trained and
  * re-encoded per run (fine for a benchmark, wrong as a topology —
  * FAISS separates `train/add` from `search` for the same reason). The
  * asset layer already solves the hard parts (corpus-fingerprint
  * staleness, crash-safe atomic publication, cross-process reuse), so
  * the index persists through it rather than reinventing any of that.
  *
  * Two co-published assets, keyed by the EMBEDDINGS fingerprint (an
  * index must go stale when the vectors change, whether or not the
  * document texts did):
  *  - `annmodel-…`: the trained quantizers as rows — ('coarse', cell, 0,
  *    centroid) and ('pq', subspace, code, codebook entry). Doubles
  *    round-trip parquet bit-exactly, so a reloaded model scores
  *    identically to the one that encoded the corpus. nlist/m/ksub ride
  *    in the row shapes; the param string rides in the asset name.
  *  - `annenc-…`: the encoded corpus (id, cell, codes), range-sharded
  *    and sorted by (cell, id) — cell-clustered storage, so a probe
  *    reading nprobe cells touches few row groups instead of all of
  *    them (parquet min/max skipping on the leading sort column).
  *
  * Consistency: the encode build always uses the model INSTANCE loaded
  * from the stored model asset (never a retrain), so a crash between
  * the two publishes rebuilds the encode from the surviving model and
  * the pair can never diverge.
  */
object AnnAssets {

  /** PQ subspaces per vector; part of the asset tag. */
  private val SubSpaces = 8

  /** Stored (model, encoded-index reader) for `vectors` (id, vec) at
    * `dir`'s embeddings table. */
  def ivfPqIndex(s: SparkSession, dir: String, vectors: DataFrame,
                 nlist: Int, ksub: Int): (IvfPq.Model, DataFrame) = {
    val tag = s"n${nlist}m${SubSpaces}k$ksub"
    val modelRows = graft.pipeline.DedupAssets.materialized(
      s, s"annmodel-$tag", dir, Seq("part", "i", "j"),
      fpTable = "embeddings.parquet", fpCols = Seq("vec_id", "embedding")) {
      toRows(s, IvfPq.train(vectors, nlist, SubSpaces, ksub))
    }
    val model = fromRows(modelRows)
    val enc = graft.pipeline.DedupAssets.materialized(
      s, s"annenc-$tag", dir, Seq("cell", "id"),
      fpTable = "embeddings.parquet", fpCols = Seq("vec_id", "embedding")) {
      IvfPq.encode(vectors, model)
    }
    (model, enc)
  }

  private def toRows(s: SparkSession, model: IvfPq.Model): DataFrame = {
    import s.implicits._
    val coarse = model.coarse.centroids.zipWithIndex.map { case (c, i) =>
      ("coarse", i, 0, c)
    }
    val pq = for {
      (cb, sub) <- model.pq.codebooks.zipWithIndex
      (cent, code) <- cb.zipWithIndex
    } yield ("pq", sub, code, cent)
    (coarse ++ pq).toDF("part", "i", "j", "vec")
  }

  /** Bounded load: nlist + m·ksub rows (the same arrays every scoring
    * closure ships — driver state by construction). */
  private def fromRows(rows: DataFrame): IvfPq.Model = {
    val all = rows.select("part", "i", "j", "vec").collect()
    val coarseRows = all.filter(_.getString(0) == "coarse")
      .map(r => (r.getInt(1), r.getSeq[Double](3)))
      .sortBy(_._1)
    coarseRows.map(_._1).zipWithIndex.foreach { case (cell, i) =>
      require(cell == i,
        s"stored ANN model asset: coarse cell indices not contiguous " +
          s"(expected $i, found $cell) — asset is corrupt, rebuild it")
    }
    val coarse = coarseRows.map(_._2)
    val pqRows = all.filter(_.getString(0) == "pq")
      .map(r => (r.getInt(1), r.getInt(2), r.getSeq[Double](3)))
    val bySub = pqRows.groupBy(_._1).toSeq.sortBy(_._1)
    // Validate structure before building: a partially-corrupted asset
    // (one subspace's rows missing) would otherwise silently SHIFT every
    // later codebook index and decode garbage distances. Subspace indices
    // must be contiguous 0..m-1, every codebook the same size with
    // contiguous code indices.
    bySub.map(_._1).zipWithIndex.foreach { case (sub, i) =>
      require(sub == i,
        s"stored ANN model asset: subspace indices not contiguous " +
          s"(expected $i, found $sub) — asset is corrupt, rebuild it")
    }
    val sizes = bySub.map(_._2.size).distinct
    require(sizes.size <= 1,
      s"stored ANN model asset: codebook sizes differ across subspaces " +
        s"($sizes) — asset is corrupt, rebuild it")
    val pq = bySub.map { case (sub, cs) =>
      val sorted = cs.sortBy(_._2)
      sorted.map(_._2).zipWithIndex.foreach { case (code, j) =>
        require(code == j,
          s"stored ANN model asset: code indices not contiguous in " +
            s"subspace $sub (expected $j, found $code) — rebuild it")
      }
      sorted.map(_._3).toSeq
    }
    require(coarse.nonEmpty, "stored ANN model asset has no coarse centroids")
    IvfPq.Model(Ivf.Model(coarse.toSeq), Pq.Model(pq))
  }
}
