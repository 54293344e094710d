"""Metric maths over a run record (pure functions; tested in test_metrics.py).

Times in a record: ops and spans in epoch microseconds, Spark jobs and
stages in epoch milliseconds (the listener's clock).
"""
import collections
import json
import math
import os
import re
import statistics

BENCH = os.path.dirname(os.path.abspath(__file__))

MODULES = ["io", "pipeline", "operators", "queries", "dedup", "text", "snapshot", "other"]

# Benchmark-side layer spans, by workload; each is reported per op.
LAYER_SPANS = ["pipeline.ingest", "pipeline.star", "pipeline.mart", "pipeline.notify",
               "query.build", "query.run", "corpus.prepare_call", "corpus.materialize",
               "assets.build", "assets.read"]


def tail(latencies, beyond=10, min_n=20):
    """Latency at the highest percentile with at least `beyond` ops above it.

    Returns (value, percentile, n), or None when n < min_n. Over 30 ops this
    is the 20th smallest (p66); over 47 the 37th (p78).
    """
    xs = sorted(latencies)
    n = len(xs)
    if n < min_n:
        return None
    k = n - beyond - 1
    return xs[k], math.floor(100.0 * (k + 1) / n), n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` [(start, end)], clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start_us, end_us."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_us"], c["end_us"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_us"] - s["start_us"]) - union_length(kids, s["start_us"], s["end_us"])
    return out


def job_union_s(jobs, op_start_us, op_end_us):
    """Seconds of the op window covered by at least one Spark job."""
    iv = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs if j["end_ms"] >= 0]
    return union_length(iv, op_start_us, op_end_us) / 1e6


def driver_gap_s(jobs, op_start_us, op_end_us):
    """Op wall minus the union of its job spans: time no job was running."""
    return (op_end_us - op_start_us) / 1e6 - job_union_s(jobs, op_start_us, op_end_us)


_FRAME = re.compile(r"^\s*(?:at\s+)?graft\.([A-Za-z0-9_$]+)", re.M)


def module_of(callsite, exec_callsite=""):
    """Module of a job: the package of the first graft.* frame in its Spark
    call site (graft.Snapshot counts as `snapshot`). A job submitted from a
    Spark thread (AQE stages, broadcasts) has no program frames; then the
    call site of its SQL execution's action is used. `other` without one."""
    m = _FRAME.search(callsite or "") or _FRAME.search(exec_callsite or "")
    if not m:
        return "other"
    head = m.group(1)
    if head.startswith("Snapshot"):
        return "snapshot"
    return head if head in MODULES else "other"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def linear_slope(xs, ys):
    """Least-squares slope of ys against xs (0 with fewer than 2 points)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


def end_to_end(record):
    """End-to-end metrics of an untraced (or traced) record's timed ops."""
    timed = [o for o in record["ops"] if o["phase"] == "timed"]
    lat = [(o["end_us"] - o["start_us"]) / 1e6 for o in timed]
    ok = [o for o in timed if o["ok"]]
    wall = (record["timed_end_us"] - record["timed_start_us"]) / 1e6
    out = {
        "setup_s": median(record["setup_s"]),
        "setup_cold_s": record["setup_cold_s"],
        "op_p50_s": median(lat),
        "ops_per_s": len(ok) / wall if wall > 0 else 0.0,
        "op_fail_frac": (len(timed) - len(ok)) / len(timed) if timed else 1.0,
        "live_heap_mb": record["live_heap_mb"],
        "stored_bytes_per_input_byte":
            record["stored_bytes"] / record["input_bytes"] if record["input_bytes"] else 0.0,
    }
    t = tail(lat)
    if t:
        out["op_tail_s"] = t[0]
        out["op_tail_pct"] = t[1]
        out["op_tail_n"] = t[2]
    return out


def per_layer(record, cores):
    """Per-op layer metrics over the traced timed ops of a traced record."""
    tr = record["trace"]
    timed = [o for o in record["ops"] if o["phase"] == "timed"]
    traced = [o for o in timed if o["traced"]]
    untraced = [o for o in timed if not o["traced"]]
    n = max(len(traced), 1)
    ids = {o["id"] for o in traced}
    jobs = [j for j in tr["jobs"] if j["op"] in ids]
    stages = [s for s in tr["stages"] if s["op"] in ids]
    spans = [s for s in tr["spans"] if s["op"] in ids]
    selft = self_times(spans)

    m = collections.defaultdict(float)
    walls = {}
    for o in traced:
        wall = (o["end_us"] - o["start_us"]) / 1e6
        walls[o["id"]] = wall
        oj = [j for j in jobs if j["op"] == o["id"]]
        m["spark.job_s"] += job_union_s(oj, o["start_us"], o["end_us"])
        m["driver.gap_s"] += driver_gap_s(oj, o["start_us"], o["end_us"])
        m["codegen.compiles"] += o["extra"].get("codegen_compiles", 0)
        m["io.files_written"] += o["extra"].get("files_written", 0)
        layer_self = sum(selft[s["id"]] for s in spans if s["op"] == o["id"]) / 1e6
        m["trace.unaccounted_frac"] += (wall - layer_self) / wall if wall > 0 else 0.0
        for j in oj:
            mod = module_of(j["callsite"], j.get("exec_callsite", ""))
            m[mod + ".jobs"] += 1
            for s in spans:
                if s["op"] == o["id"] and s["name"].startswith("pipeline.") \
                        and s["start_us"] <= j["start_ms"] * 1000 <= s["end_us"]:
                    m[s["name"] + "_jobs"] += 1
        for mod in MODULES:
            iv = [j for j in oj if module_of(j["callsite"], j.get("exec_callsite", "")) == mod and j["end_ms"] >= 0]
            m[mod + ".job_s"] += job_union_s(iv, o["start_us"], o["end_us"])

    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len({(s["id"], s["attempt"]) for s in stages})
    m["spark.tasks"] = sum(s["tasks"] for s in stages)
    m["tasks.failed"] = sum(s["failed"] for s in stages)
    m["exec.task_s"] = sum(s["task_ms"] for s in stages) / 1e3
    m["exec.cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["exec.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
    m["shuffle.read_bytes"] = sum(s["shuffle_read"] for s in stages)
    m["shuffle.write_bytes"] = sum(s["shuffle_write"] for s in stages)
    m["spill.bytes"] = sum(s["spill"] for s in stages)
    m["io.input_bytes"] = sum(s["input"] for s in stages)
    m["io.output_bytes"] = sum(s["output"] for s in stages)
    m["plan.s"] = sum(p["ms"] for p in tr["plans"] if p["op"] in ids) / 1e3
    for s in spans:
        if s["name"] in LAYER_SPANS:
            m[s["name"] + "_s"] += selft[s["id"]] / 1e6

    out = {name: 0.0 for name, _ in layer_metrics()}
    out.update({k: v / n for k, v in m.items()})
    # sizes, not per-op sums
    out["assets.bytes"] = max([o["extra"].get("assets_bytes", 0) for o in traced] or [0])
    out["snapshot.peak_bytes"] = max([o["extra"].get("snapshot_bytes", 0) for o in traced] or [0])
    total_wall = sum(walls.values())
    out["exec.slot_busy"] = m["exec.task_s"] / (total_wall * cores) if total_wall else 0.0
    out["exec.skew"] = max([s["task_ms_max"] / max(s["task_ms_median"], 1)
                            for s in stages if s["tasks"] >= 2] or [1.0])
    hist = [(o["extra"].get("history", 0), (o["end_us"] - o["start_us"]) / 1e3)
            for o in timed if "history" in o["extra"]]
    out["pipeline.day_slope_ms"] = linear_slope([h for h, _ in hist], [y for _, y in hist])
    lt = median([(o["end_us"] - o["start_us"]) / 1e6 for o in traced])
    lu = median([(o["end_us"] - o["start_us"]) / 1e6 for o in untraced])
    out["trace.overhead_frac"] = lt / lu - 1.0 if lt and lu else 0.0
    return out


def benchmark_spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def layer_metrics():
    """(name, unit) of every per-layer metric: BENCHMARK.json's per_layer
    list, then the layers.json entries that carry their own unit because
    BENCHMARK.json does not list them (they belong to an unlisted workload).
    layers.json maps each name to the end-to-end metric it should move and
    on which workload."""
    with open(os.path.join(BENCH, "layers.json")) as f:
        layers = json.load(f)
    listed = [(m["name"], m["unit"]) for m in benchmark_spec()["per_layer"]]
    return listed + [(k, v["unit"]) for k, v in layers.items() if "unit" in v]
