package graft.similarity

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Snapshot.SnapshotOps

/** ANN tuning sweep (m74) — the recall-vs-nprobe curve for an IVF index,
  * what FAISS exposes as ParameterSpace: before anyone serves an
  * approximate index, they read this table to pick the cheapest nprobe
  * that clears the recall bar. Recall@k is measured against the exact
  * brute-force top-k on the same queries, per nprobe setting.
  *
  * Scale shape: the exact baseline is computed ONCE (bounded probe set —
  * [[Ann.bruteForceTopK]]'s broadcast-queries contract), and the whole
  * sweep is ONE corpus scan: probe cells are ranked once per query up to
  * max(nprobes), crossed with the settings list (a broadcast of
  * |queries| × maxNp × |settings| rows — bounded), and every (setting,
  * query) top-k comes out of a single cell-equi-join job with one
  * (np, query) window. The previous shape ran one corpus scan PER
  * setting — linear in settings where this is constant, which is the
  * difference between reading 100 TB once and four times (and at bench
  * scale, between 2 jobs and 9 scheduling-bound small jobs). At 100 TB
  * the sweep runs on a sampled query set, same shape.
  */
object TuningSweep {

  /** The k of the recall@k every setting is scored at. */
  private val K = 5

  /** (nprobe, k, n_queries, mean_recall): recall@k of IVF retrieval vs
    * the exact top-k, averaged over the query set, one row per tested
    * nprobe (ascending). */
  def ivfRecallCurve(queries: DataFrame, corpus: DataFrame, model: Ivf.Model,
                     nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), "nprobes must be >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val exact = Ann.bruteForceTopK(queries, corpus, K)
      .select(col("query_id"), col("neighbor_id"))
      .pinned(true)
    val nQ = queries.count()
    val maxNp = math.min(nprobes.max, model.nlist)
    val npDf = nprobes.sorted.map(_.toLong).toDF("np")
    // Probe ranking once per query: pos p (0-based) = the (p+1)-th nearest
    // cell, so setting np probes exactly the cells with p < np.
    val probes = queries
      .withColumn("qnrm", sqrt(GraftFunctions.dot(spark, col("vec"), col("vec"))))
      .select(col("id").as("query_id"), col("vec").as("qvec"), col("qnrm"),
        posexplode(Ivf.probeCells(col("vec"), model, maxNp)).as(Seq("p", "cell")))
      .crossJoin(npDf)
      .filter(col("p") < col("np"))
      .select("np", "query_id", "qvec", "qnrm", "cell")
    val c = corpus
      .withColumn("nrm", sqrt(GraftFunctions.dot(spark, col("vec"), col("vec"))))
      .withColumn("cell", Ivf.cellId(col("vec"), model))
    // One corpus scan scores every (setting, query) pair; a corpus row is
    // scored once per setting that probes its cell (bounded by |settings|).
    val scored = c.join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .select(col("np"), col("query_id"), col("id").as("neighbor_id"),
        (GraftFunctions.dot(spark, col("qvec"), col("vec")) /
          (col("qnrm") * col("nrm"))).as("sim"))
    val w = Window.partitionBy("np", "query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val approx = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("np"), col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    // per-(setting, query) overlap with the exact set, then mean over ALL
    // queries (a query with no approx hits contributes 0 via the left join)
    exact.crossJoin(npDf)
      .join(approx, Seq("np", "query_id", "neighbor_id"), "left")
      .groupBy("np", "query_id")
      .agg((coalesce(sum(col("hit")), lit(0L)).cast("double") /
        count(lit(1))).as("recall"))
      .groupBy("np")
      .agg((sum(col("recall")) / nQ).as("mean_recall"))
      .select(col("np").as("nprobe"), lit(K.toLong).as("k"),
        lit(nQ).as("n_queries"), col("mean_recall"))
      .orderBy("nprobe")
  }
}
