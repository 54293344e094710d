#!/usr/bin/env python3
"""Per-job breakdown of a perfbench trace.

Reads one `perfbench/.out/<workload>-s<seed>-t1-<stamp>-trace.json` and
prints, for each op it holds, one row per Spark job in start order:

  job id, start offset from the op's start (ms), wall (ms), tasks,
  task time (ms), shuffle read and write (bytes), and the job's first
  `graft.*` call-site frame that is not in `graft.Snapshot` (a pin's
  checkpoint job is charged to the code that pinned). A job that Spark
  submitted from its own threads (AQE stages, broadcasts) has no program
  frame; the call site of its SQL execution's action is used instead.

After the rows come per-component totals: jobs, the summed job wall, and
the driver gap before them (the time between the end of all earlier jobs
of the op and the job's start). A component is the frame's class and
method, with Scala's `$`/`$anonfun$` decoration removed.

Usage: python3 tools/trace_jobs.py <trace.json>
The op's start is the earliest span or job of that op in the trace.
"""
import json
import re
import sys

_GRAFT = re.compile(r"^\s*(?:at\s+)?(graft\.\S+)", re.M)


def frame(callsite, exec_callsite=""):
    """The first graft.* frame outside graft.Snapshot, or '' without one."""
    for text in (callsite or "", exec_callsite or ""):
        for m in _GRAFT.finditer(text):
            if not m.group(1).startswith("graft.Snapshot"):
                return m.group(1)
    return ""


def component(fr):
    """`graft.pipeline.DedupAssets$.$anonfun$pairsLoose$1(DedupAssets.scala:191)`
    → `pipeline.DedupAssets.pairsLoose`."""
    if not fr:
        return "(no graft frame)"
    head = fr.split("(", 1)[0][len("graft."):]
    cls, _, meth = head.rpartition(".")
    cls = cls.replace("$", ".").strip(".")
    meth = re.sub(r"^\$anonfun\$", "", meth).split("$")[0]
    return f"{cls}.{meth}"


def ops(trace):
    """{op id: (start_ms, jobs in start order, {stage id: [stage rows]})}."""
    out = {}
    for op in sorted({j["op"] for j in trace["jobs"]}):
        jobs = sorted((j for j in trace["jobs"] if j["op"] == op),
                      key=lambda j: (j["start_ms"], j["id"]))
        starts = [j["start_ms"] for j in jobs]
        starts += [s["start_us"] / 1000.0 for s in trace.get("spans", []) if s["op"] == op]
        stages = {}
        for s in trace.get("stages", []):
            if s["op"] == op:
                stages.setdefault(s["id"], []).append(s)
        out[op] = (min(starts), jobs, stages)
    return out


def rows(start_ms, jobs, stages):
    """One dict per job, with the driver gap before it."""
    out, busy_until = [], start_ms
    for j in jobs:
        st = [s for sid in j.get("stages", []) for s in stages.get(sid, [])]
        end = j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"]
        out.append({
            "id": j["id"],
            "start": j["start_ms"] - start_ms,
            "wall": end - j["start_ms"],
            "gap": max(0.0, j["start_ms"] - busy_until),
            "tasks": sum(s["tasks"] for s in st),
            "task_ms": sum(s["task_ms"] for s in st),
            "read": sum(s["shuffle_read"] for s in st),
            "write": sum(s["shuffle_write"] for s in st),
            "frame": frame(j.get("callsite", ""), j.get("exec_callsite", "")),
        })
        busy_until = max(busy_until, end)
    return out


def totals(job_rows):
    """{component: [jobs, job wall ms, gap ms, task ms]} in first-seen order."""
    out = {}
    for r in job_rows:
        t = out.setdefault(component(r["frame"]), [0, 0.0, 0.0, 0])
        t[0] += 1
        t[1] += r["wall"]
        t[2] += r["gap"]
        t[3] += r["task_ms"]
    return out


def report(trace):
    lines = []
    for op, (start, jobs, stages) in ops(trace).items():
        rs = rows(start, jobs, stages)
        lines.append(f"op {op}: {len(rs)} jobs, job wall {sum(r['wall'] for r in rs):.0f} ms, "
                     f"gap {sum(r['gap'] for r in rs):.0f} ms, "
                     f"task {sum(r['task_ms'] for r in rs):.0f} ms")
        lines.append(f"{'job':>5} {'start_ms':>9} {'wall_ms':>8} {'tasks':>6} {'task_ms':>8} "
                     f"{'shuf_read':>10} {'shuf_write':>10}  frame")
        for r in rs:
            lines.append(f"{r['id']:>5} {r['start']:>9.0f} {r['wall']:>8.0f} {r['tasks']:>6} "
                         f"{r['task_ms']:>8.0f} {r['read']:>10} {r['write']:>10}  {r['frame']}")
        lines.append(f"  {'component':<48} {'jobs':>5} {'job_ms':>8} {'gap_ms':>8} {'task_ms':>8}")
        for name, (n, wall, gap, task) in totals(rs).items():
            lines.append(f"  {name:<48} {n:>5} {wall:>8.0f} {gap:>8.0f} {task:>8.0f}")
        lines.append("")
    return "\n".join(lines)


def main(argv):
    if len(argv) != 1:
        sys.exit(__doc__)
    with open(argv[0]) as f:
        print(report(json.load(f)))


if __name__ == "__main__":
    main(sys.argv[1:])
