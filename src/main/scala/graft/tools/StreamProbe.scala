package graft.tools

import graft.Tables
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._

/** stream:ingest cost decomposition (round-17 verdict ask #7): how much
  * of the bench row is the streaming machinery (AvailableNow start/stop,
  * checkpoint/WAL writes, state store) vs the actual aggregation work?
  *
  * Four timings over the SAME exported Day_Wise tree:
  *  1. batch        — the identical read→window-agg→parquet as a plain
  *                    batch job: the "real work" floor;
  *  2. stream_cold  — the bench row itself: AvailableNow from a fresh
  *                    checkpoint (full-tree replay);
  *  3. stream_resume— AvailableNow again on the SAME checkpoint with no
  *                    new files: pure restart overhead (source listing,
  *                    offset log read, no-op commit);
  *  4. batches      — micro-batch count of the cold run (from the
  *                    checkpoint's offset log): complete-mode rewrites
  *                    the sink once per batch, so >1 batch multiplies
  *                    the agg+write cost.
  *
  * Usage: runMain graft.tools.StreamProbe <sfDir> [reps]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    // This probe's decomposition explains the bench's stream:ingest row,
    // so it measures under the same harness session.
    val spark = Harness.session()

    val root = java.nio.file.Files.createTempDirectory("graft-stream-probe")
    try {
      val days = StreamingIngest.exportDayWiseCsv(
        Tables.events(spark, sfDir), root.toString)
      println(s"[probe] exported $days day dirs under $root")

      def time[A](f: => A): (Double, A) = {
        val t0 = System.nanoTime(); val a = f
        ((System.nanoTime() - t0) / 1e9, a)
      }

      for (rep <- 1 to reps) {
        // 1. batch floor: same source glob, same agg, same sink rewrite
        val (tb, _) = time {
          graft.io.Sources.rawEventsCsvAll(spark, root.toString)
            .groupBy(window(col("event_time"), "1 day"), col("event_type"))
            .agg(count(lit(1)).as("n"))
            .select(to_date(col("window.start")).as("event_date"),
              col("event_type"), col("n"))
            .write.mode("overwrite").parquet(s"$root/out_batch")
        }
        // 2. cold stream (the bench row)
        val ckpt = s"$root/ckpt_$rep"
        val (tc, _) = time {
          StreamingIngest.runAvailableNow(
            StreamingIngest.dailyCounts(spark, root.toString),
            s"$root/out_stream", ckpt)
        }
        // 4. micro-batch count from the offset log
        val offsets = java.nio.file.Paths.get(ckpt, "offsets")
        val nBatches =
          if (java.nio.file.Files.exists(offsets)) {
            val l = java.nio.file.Files.list(offsets)
            try l.filter(p => !p.getFileName.toString.startsWith(".")).count()
            finally l.close()
          } else -1L
        // 3. resume on the same checkpoint, nothing new to read
        val (tr, _) = time {
          StreamingIngest.runAvailableNow(
            StreamingIngest.dailyCounts(spark, root.toString),
            s"$root/out_stream", ckpt)
        }
        // 5. A/B: the same cold catch-up in ONE micro-batch
        //    (maxFilesPerTrigger = all files) — the bulk-backfill
        //    batching a production catch-up would choose
        val (t1, _) = time {
          StreamingIngest.runAvailableNow(
            StreamingIngest.dailyCounts(spark, root.toString,
              maxFilesPerTrigger = 10000),
            s"$root/out_stream1", s"$root/ckpt1_$rep")
        }
        println(f"[probe] rep=$rep batch=$tb%.2fs stream_cold=$tc%.2fs " +
          f"stream_cold_1batch=$t1%.2fs stream_resume=$tr%.2fs " +
          f"batches=$nBatches " +
          f"machinery=${tc - tb}%.2fs (${(tc - tb) / tc * 100}%.0f%%)")
      }
    } finally {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path])
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
    spark.stop()
  }
}
