"""Unit tests of tools/trace_jobs.py over a synthetic trace.

Run: python3 -m unittest tools/test_trace_jobs.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import trace_jobs  # noqa: E402

PIN = ("org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)\n"
       "graft.Snapshot$.pin(Snapshot.scala:48)\n"
       "graft.Snapshot$SnapshotOps$.pinned$extension(Snapshot.scala:71)\n"
       "graft.dedup.DedupClusters$.components(DedupClusters.scala:57)\n"
       "perfbench.Main$.corpus$1(Main.scala:224)")
WRITE = ("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)\n"
         "graft.io.Sinks$.writeSortedShards(Sinks.scala:169)\n"
         "graft.pipeline.DedupAssets$.$anonfun$pairsLoose$1(DedupAssets.scala:191)")
AQE = ("org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)\n"
       "java.base/java.lang.Thread.run(Thread.java:840)")


def job(jid, op, start, end, stages, callsite, exec_callsite=""):
    return {"id": jid, "op": op, "start_ms": start, "end_ms": end, "stages": stages,
            "callsite": callsite, "exec_callsite": exec_callsite, "ok": True}


def stage(sid, op, tasks, task_ms, read, write):
    return {"id": sid, "op": op, "attempt": 0, "tasks": tasks, "task_ms": task_ms,
            "shuffle_read": read, "shuffle_write": write}


# op 1 starts at its span (t = 1000 ms); three jobs, the last two overlap
TRACE = {
    "spans": [{"id": 0, "parent": -1, "name": "corpus.prepare_call", "op": 1,
               "start_us": 1_000_000, "end_us": 1_500_000}],
    "jobs": [
        job(11, 1, 1100, 1200, [21], PIN),
        job(12, 1, 1250, 1400, [22, 23], WRITE),
        job(13, 1, 1300, 1350, [24], AQE, exec_callsite=WRITE),
        job(30, 2, 5000, 5010, [40], AQE),
    ],
    "stages": [
        stage(21, 1, 4, 300, 0, 1000),
        stage(22, 1, 4, 200, 1000, 50),
        stage(23, 1, 1, 10, 50, 0),
        stage(24, 1, 2, 40, 0, 0),
        stage(40, 2, 1, 5, 0, 0),
    ],
}


class TraceJobsTest(unittest.TestCase):

    def test_frame_skips_snapshot_and_falls_back_to_the_action(self):
        self.assertEqual(trace_jobs.frame(PIN),
                         "graft.dedup.DedupClusters$.components(DedupClusters.scala:57)")
        self.assertEqual(trace_jobs.frame(AQE, WRITE),
                         "graft.io.Sinks$.writeSortedShards(Sinks.scala:169)")
        self.assertEqual(trace_jobs.frame(AQE), "")

    def test_component_strips_scala_decoration(self):
        self.assertEqual(trace_jobs.component(
            "graft.pipeline.DedupAssets$.$anonfun$pairsLoose$1(DedupAssets.scala:191)"),
            "pipeline.DedupAssets.pairsLoose")
        self.assertEqual(trace_jobs.component(
            "graft.dedup.DedupClusters$.components(DedupClusters.scala:57)"),
            "dedup.DedupClusters.components")
        self.assertEqual(trace_jobs.component(""), "(no graft frame)")

    def test_rows_offsets_walls_gaps_and_stage_sums(self):
        start, jobs, stages = trace_jobs.ops(TRACE)[1]
        self.assertEqual(start, 1000)
        rs = trace_jobs.rows(start, jobs, stages)
        self.assertEqual([r["id"] for r in rs], [11, 12, 13])
        self.assertEqual([r["start"] for r in rs], [100, 250, 300])
        self.assertEqual([r["wall"] for r in rs], [100, 150, 50])
        # the gap counts from the end of every earlier job; an overlap has none
        self.assertEqual([r["gap"] for r in rs], [100, 50, 0])
        self.assertEqual(rs[1]["tasks"], 5)
        self.assertEqual(rs[1]["task_ms"], 210)
        self.assertEqual((rs[1]["read"], rs[1]["write"]), (1050, 50))

    def test_totals_per_component(self):
        start, jobs, stages = trace_jobs.ops(TRACE)[1]
        t = trace_jobs.totals(trace_jobs.rows(start, jobs, stages))
        self.assertEqual(list(t), ["dedup.DedupClusters.components", "io.Sinks.writeSortedShards"])
        self.assertEqual(t["dedup.DedupClusters.components"], [1, 100, 100, 300])
        self.assertEqual(t["io.Sinks.writeSortedShards"], [2, 200, 50, 250])

    def test_report_prints_every_op(self):
        out = trace_jobs.report(TRACE)
        self.assertIn("op 1: 3 jobs, job wall 300 ms, gap 150 ms, task 550 ms", out)
        self.assertIn("op 2: 1 jobs", out)
        self.assertIn("(no graft frame)", out)


if __name__ == "__main__":
    unittest.main()
