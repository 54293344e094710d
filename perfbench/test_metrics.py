"""Tests for the benchmark's own maths: python3 -m unittest perfbench/test_metrics.py"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

# A call site as Spark records it for a job (StageInfo.details): the last
# Spark method first, then the submitting thread's frames outward.
SINK_CALLSITE = """org.apache.spark.sql.DataFrameWriter.saveAsTable(DataFrameWriter.scala:600)
graft.io.Sinks$.upsertDatePartition(Sinks.scala:28)
graft.pipeline.RetailPipeline.ingestDay(RetailPipeline.scala:40)
graft.pipeline.RetailPipeline.runDay(RetailPipeline.scala:140)
perfbench.Main$.day$1(Main.scala:170)"""


def job(op, start_ms, end_ms, callsite=""):
    return {"op": op, "start_ms": start_ms, "end_ms": end_ms, "callsite": callsite}


class PercentileRule(unittest.TestCase):
    def test_thirty_day_runs_give_p66(self):
        value, pct, n = metrics.tail([float(i) for i in range(30, 0, -1)])
        self.assertEqual((value, pct, n), (20.0, 66, 30))

    def test_47_queries_give_p78(self):
        value, pct, n = metrics.tail(list(range(47)))
        self.assertEqual((value, pct, n), (36, 78, 47))
        self.assertEqual(sum(1 for x in range(47) if x > value), 10)

    def test_omitted_below_twenty(self):
        self.assertIsNone(metrics.tail(list(range(19))))
        self.assertEqual(metrics.tail(list(range(20)))[0], 9)


class Spans(unittest.TestCase):
    def test_self_time_subtracts_children_once(self):
        spans = [{"id": 0, "parent": -1, "start_us": 0, "end_us": 100},
                 # two overlapping children cover 10..60
                 {"id": 1, "parent": 0, "start_us": 10, "end_us": 50},
                 {"id": 2, "parent": 0, "start_us": 30, "end_us": 60},
                 {"id": 3, "parent": 1, "start_us": 20, "end_us": 25}]
        st = metrics.self_times(spans)
        self.assertEqual(st, {0: 50, 1: 35, 2: 30, 3: 5})

    def test_child_outside_parent_is_clipped(self):
        spans = [{"id": 0, "parent": -1, "start_us": 0, "end_us": 10},
                 {"id": 1, "parent": 0, "start_us": 5, "end_us": 20}]
        self.assertEqual(metrics.self_times(spans)[0], 5)


class JobUnionAndGap(unittest.TestCase):
    # op window 1.000 s .. 2.000 s (us); jobs in ms
    OP = (1_000_000, 2_000_000)

    def test_union_merges_overlaps_and_clips_to_op(self):
        jobs = [job(0, 1100, 1300), job(0, 1200, 1400),  # overlap: 1100..1400
                job(0, 1600, 1700),
                job(0, 1900, 2500),                       # clipped at 2000
                job(0, 1500, -1)]                          # no end event: ignored
        self.assertAlmostEqual(metrics.job_union_s(jobs, *self.OP), 0.3 + 0.1 + 0.1)

    def test_driver_gap_is_wall_minus_union(self):
        jobs = [job(0, 1100, 1300), job(0, 1200, 1400), job(0, 1600, 1700)]
        self.assertAlmostEqual(metrics.driver_gap_s(jobs, *self.OP), 1.0 - 0.4)
        self.assertAlmostEqual(metrics.driver_gap_s([], *self.OP), 1.0)


class ModuleAttribution(unittest.TestCase):
    def test_first_graft_frame_wins(self):
        self.assertEqual(metrics.module_of(SINK_CALLSITE), "io")

    def test_packages_and_snapshot(self):
        self.assertEqual(metrics.module_of(
            "org.apache.spark.rdd.RDD.count(RDD.scala:1)\n"
            "graft.Snapshot$.pin(Snapshot.scala:45)\n"
            "graft.pipeline.CorpusPipeline$.prepareV2(CorpusPipeline.scala:120)"), "snapshot")
        self.assertEqual(metrics.module_of(
            "org.apache.spark.sql.Dataset.head(Dataset.scala:1)\n"
            "graft.dedup.DedupClusters$.components(DedupClusters.scala:80)"), "dedup")

    def test_spark_thread_job_falls_back_to_its_execution(self):
        aqe = ("org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2"
               "(SQLExecution.scala:329)\n"
               "java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)")
        self.assertEqual(metrics.module_of(aqe), "other")
        self.assertEqual(metrics.module_of(aqe, SINK_CALLSITE), "io")
        self.assertEqual(metrics.module_of(SINK_CALLSITE, "graft.text.TextOps$.chunk(T.scala:1)"),
                         "io")

    def test_no_graft_frame_or_other_package_is_other(self):
        self.assertEqual(metrics.module_of(
            "org.apache.spark.sql.DataFrameWriter.save(DataFrameWriter.scala:1)\n"
            "perfbench.Main$.noop$1(Main.scala:84)"), "other")
        self.assertEqual(metrics.module_of(
            "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n"
            "graft.Tables$.load(Tables.scala:16)"), "other")
        self.assertEqual(metrics.module_of(""), "other")


class PerLayerOnAToyOp(unittest.TestCase):
    def test_layers_and_gap_account_for_the_op(self):
        op = {"id": 0, "phase": "timed", "name": "d", "start_us": 1_000_000, "end_us": 2_000_000,
              "ok": True, "traced": True, "extra": {"codegen_compiles": 3, "history": 0}}
        untraced = dict(op, id=1, start_us=2_000_000, end_us=2_800_000, traced=False)
        record = {"ops": [op, untraced], "trace": {
            "spans": [{"id": 0, "parent": -1, "op": 0, "name": "pipeline.ingest",
                       "start_us": 1_000_000, "end_us": 1_500_000},
                      {"id": 1, "parent": -1, "op": 0, "name": "pipeline.mart",
                       "start_us": 1_500_000, "end_us": 1_900_000}],
            "jobs": [dict(job(0, 1100, 1300, SINK_CALLSITE), stages=[0]),
                     dict(job(0, 1600, 1700, "graft.operators.RetailOps$.topK(R.scala:1)"),
                          stages=[1])],
            "stages": [{"id": 0, "attempt": 0, "op": 0, "tasks": 4, "failed": 0,
                        "task_ms": 400, "task_ms_max": 200, "task_ms_median": 50,
                        "cpu_ns": 3e8, "gc_ms": 10, "shuffle_read": 0, "shuffle_write": 10,
                        "spill": 0, "input": 100, "output": 50}],
            "plans": [{"op": 0, "func": "save", "ms": 30.0}]}}
        m = metrics.per_layer(record, cores=4)
        self.assertAlmostEqual(m["spark.job_s"], 0.3)
        self.assertAlmostEqual(m["driver.gap_s"], 0.7)
        self.assertAlmostEqual(m["spark.job_s"] + m["driver.gap_s"], 1.0)
        self.assertAlmostEqual(m["pipeline.ingest_s"], 0.5)
        self.assertAlmostEqual(m["pipeline.mart_s"], 0.4)
        self.assertAlmostEqual(m["trace.unaccounted_frac"], 0.1)
        self.assertEqual((m["io.jobs"], m["operators.jobs"]), (1, 1))
        self.assertAlmostEqual(m["io.job_s"], 0.2)
        self.assertEqual((m["pipeline.ingest_jobs"], m["pipeline.mart_jobs"]), (1, 1))
        self.assertAlmostEqual(m["exec.slot_busy"], 0.4 / (1.0 * 4))
        self.assertAlmostEqual(m["exec.skew"], 4.0)
        self.assertAlmostEqual(m["plan.s"], 0.03)
        self.assertAlmostEqual(m["trace.overhead_frac"], 1.0 / 0.8 - 1)



class LayerList(unittest.TestCase):
    def test_layers_json_matches_benchmark_json(self):
        """layers.json maps every per-layer metric of BENCHMARK.json, and
        gives a unit only for the ones BENCHMARK.json does not list."""
        with open(os.path.join(metrics.BENCH, "layers.json")) as f:
            layers = json.load(f)
        listed = [m["name"] for m in metrics.benchmark_spec()["per_layer"]]
        own_unit = [k for k, v in layers.items() if "unit" in v]
        self.assertEqual(sorted(layers), sorted(listed + own_unit))
        self.assertFalse(set(listed) & set(own_unit))
        for v in layers.values():
            self.assertTrue(v["moves"] and v["workload"])

    def test_per_layer_reports_every_metric(self):
        record = {"ops": [], "trace": {"spans": [], "jobs": [], "stages": [], "plans": []}}
        names = [k for k, _ in metrics.layer_metrics()]
        self.assertEqual(set(metrics.per_layer(record, cores=4)), set(names))


if __name__ == "__main__":
    unittest.main()
