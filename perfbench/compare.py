#!/usr/bin/env python3
"""Compare two sets of run records written by run.py (perfbench/.out/*.json).

    python3 perfbench/compare.py A1.json [A2.json ...] -- B1.json [B2.json ...]

Prints, per workload and metric, each side's median and quartiles and the
change of the medians. Refuses (exit 2) when the records' configs differ:
master, cores, heap, Spark or Java version, run length or trace mode.
"""
import json
import statistics
import sys


def key(rec):
    c = rec["config"]
    return (c["master"], c["cores"], c["heap_max_mb"], c["spark_version"], c["java_version"],
            rec["seconds"], rec["trace"])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    i = argv.index("--")
    sides = [[json.load(open(p)) for p in argv[:i]], [json.load(open(p)) for p in argv[i + 1:]]]
    if not sides[0] or not sides[1]:
        sys.exit(__doc__)
    configs = {key(r) for side in sides for r in side}
    if len(configs) > 1:
        print("refusing to compare records with different configs:", file=sys.stderr)
        for c in sorted(configs):
            print("  ", c, file=sys.stderr)
        sys.exit(2)
    workloads = sorted({r["workload"] for side in sides for r in side})
    for w in workloads:
        a = [r for r in sides[0] if r["workload"] == w]
        b = [r for r in sides[1] if r["workload"] == w]
        if not a or not b:
            print(f"{w}: only on one side, skipped")
            continue
        print(f"{w}: A {len(a)} runs (commit {sorted({r['commit'] for r in a})}), "
              f"B {len(b)} runs (commit {sorted({r['commit'] for r in b})})")
        for m in a[0]["metrics"]:
            va = [r["metrics"][m]["value"] for r in a if m in r["metrics"]]
            vb = [r["metrics"][m]["value"] for r in b if m in r["metrics"]]
            if not va or not vb:
                continue
            qa, qb = quartiles(va), quartiles(vb)
            rel = (qb[1] / qa[1] - 1) if qa[1] else float("nan")
            print(f"  {m:28s} A {qa[1]:.6g} [{qa[0]:.4g}, {qa[2]:.4g}]  "
                  f"B {qb[1]:.6g} [{qb[0]:.4g}, {qb[2]:.4g}]  {rel:+.1%} "
                  f"{a[0]['metrics'][m]['unit']}")


if __name__ == "__main__":
    main(sys.argv[1:])
