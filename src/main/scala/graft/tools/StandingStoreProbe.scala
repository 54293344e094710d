package graft.tools

import graft.streaming.StreamingCorpus
import org.apache.spark.sql.functions._

/** Standing-sketch-store scale octave (round-20, verdict r19 #3): the
  * HLL/KMV standing stores have bit-identical batch parity
  * (StreamingCorpusSpec) but until this probe had no scale evidence
  * beyond sf0.1's stream:ingest row, while the batch sketch tier has
  * gen-1000 points. This main drives the PRODUCTION shape — a corpus
  * arriving in chunks through ONE long-lived streaming query whose
  * every micro-batch folds into the versioned standing store — at a
  * gen fixture scale, under Bench's executor-stats listener, and
  * records per-chunk what the design claims must hold: the standing
  * state stays register/k-bounded (groups × 4096 ints for HLL,
  * ≤ groups × k longs for KMV) however many chunks fold in, while the
  * per-chunk fold cost tracks the CHUNK, not the accumulated corpus.
  *
  * Mechanics: the fixture's documents table is split into `nChunks`
  * parquet files in a watched dir; files are moved in one at a time
  * and the stream drains between moves (processAllAvailable — the
  * AvailableNow catch-up equivalent with the query kept alive, so the
  * store's k-guard first-batch hoisting and version retirement are
  * exercised across every chunk). After each chunk the newest COMPLETE
  * store version is read back: groups, total state rows, max per-group
  * state — the flat-across-chunks columns for BENCH_sf1.md.
  *
  * Usage: runMain graft.tools.StandingStoreProbe <corpusDir> [nChunks]
  * Prints one `CHUNK {...}` JSON line per chunk per sketch, then a
  * `STORE {...}` summary line per sketch.
  */
object StandingStoreProbe {

  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nChunks = args.lift(1).map(_.toInt).getOrElse(8)
    val spark = Harness.session()
    import graft.operators.HyperLogLog

    val root = java.nio.file.Files.createTempDirectory("graft-standing-probe")
    val listener = new Harness.StatsListener(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      // ---- stage the corpus as nChunks single-file parquet chunks ----
      val staged = s"$root/staged"
      graft.Tables.documents(spark, corpusDir)
        .filter(col("text").isNotNull)
        .select(col("source"), col("text"))
        .repartition(nChunks)
        .write.mode("overwrite").parquet(staged)
      val chunkFiles = {
        val l = java.nio.file.Files.list(java.nio.file.Paths.get(staged))
        try {
          val b = Vector.newBuilder[java.nio.file.Path]
          l.forEach(p => if (p.getFileName.toString.endsWith(".parquet")) b += p)
          b.result().sortBy(_.getFileName.toString)
        } finally l.close()
      }
      val schema = spark.read.parquet(staged).schema

      def drive(sketch: String,
                start: (org.apache.spark.sql.DataFrame, String, String)
                  => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
        val watched = s"$root/$sketch/in"
        val store = s"$root/$sketch/store"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watched))
        val src = spark.readStream.schema(schema).parquet(watched)
        val q = start(src, store, s"$root/$sketch/ckpt")
        var totalRows = 0L
        chunkFiles.zipWithIndex.foreach { case (f, i) =>
          val dst = java.nio.file.Paths.get(watched, s"chunk-$i.parquet")
          java.nio.file.Files.copy(f, dst)
          listener.quiesce(); listener.reset()
          val t0 = System.nanoTime()
          q.processAllAvailable()
          val wall = (System.nanoTime() - t0) / 1e9
          listener.quiesce()
          val stats = listener.snapshot
          // state audit off the committed store, not the query: groups,
          // total bounded-state rows, max per-group state
          val st = StreamingCorpus.latestRegisters(spark, store).get
          val (groups, stateRows, maxGroup) = sketch match {
            case "kmv" =>
              val r = st.agg(count(lit(1)),
                sum(size(col("sk")).cast("long")),
                max(size(col("sk")).cast("long"))).head()
              (r.getLong(0), r.getLong(1), r.getLong(2))
            case _ =>
              // HLL register rows are (group, bucket, rho) — bounded at
              // groups × 4096 by construction
              val r = st.agg(count_distinct(col("source")), count(lit(1)))
                .head()
              (r.getLong(0), r.getLong(1),
                if (r.getLong(0) == 0) 0L else r.getLong(1) / r.getLong(0))
          }
          val chunkRows = spark.read.parquet(dst.toString).count()
          totalRows += chunkRows
          println(
            s"""CHUNK {"sketch":"$sketch","chunk":$i,"chunk_rows":$chunkRows,""" +
              s""""cum_rows":$totalRows,"wall_sec":${f"$wall%.2f"},""" +
              s""""groups":$groups,"state_rows":$stateRows,""" +
              s""""max_group_state":$maxGroup,"stats":$stats}""")
        }
        q.stop()
        println(s"""STORE {"sketch":"$sketch","chunks":${chunkFiles.size},""" +
          s""""total_rows":$totalRows}""")
      }

      drive("kmv", (src, store, ckpt) =>
        StreamingCorpus.kmvSketchStream(
          src, "source", HyperLogLog.hash48(col("text")), store, ckpt))
      drive("hll", (src, store, ckpt) =>
        StreamingCorpus.hllRegisterStream(
          src, "source", HyperLogLog.hash48(col("text")), store, ckpt))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path])
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
    spark.stop()
  }
}
