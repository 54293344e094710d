#!/usr/bin/env python3
"""End-to-end benchmark of the retail ELT and corpus tiers.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):
  retail_backfill  day runs in date order through RetailPipeline.runDayNotified
  mart_queries     the 47 q* registry queries, warm, seeded order, noop sink
  corpus_prep      DedupAssets.reset + CorpusPipeline.prepareV2 + DedupAssets.clusters

Run from the repository root. The first run builds the program and the
benchmark driver (sbt, perfbench/build.sbt) and generates the sf0.1-sized
base tables with graft.tools.GenData; both are cached under perfbench/.build
and redone when a source file changes. Every run then starts one JVM that
derives its inputs from the seed, runs the workload as a closed loop with one
client, and writes a record; this script checks the outputs against DuckDB,
prints every metric by name and unit, and prints one JSON line last. Records
go to perfbench/.out/. It exits non-zero if the run fails or an output check
fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402

WORKLOADS = ["retail_backfill", "mart_queries", "corpus_prep"]
# Printed but not in the JSON line: never-zero metrics only go there, and
# these are 0 on a healthy run, or exist on some workloads only;
# setup_cold_s is the first set-up of the run, which also loads the classes.
REPORT_ONLY = [("op_tail_s", "s"), ("op_fail_frac", "1"), ("stored_bytes_per_input_byte", "1"),
               ("setup_cold_s", "s")]
HEAP = "3g"
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def run(cmd, cwd, timeout, env=None, out=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(out or os.devnull, "w") as f:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        finally:  # timeout, or this script being stopped
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_hash():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]:
        for d, dirs, files in sorted(os.walk(top)):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                h.update(open(p, "rb").read())
    for p in [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt")]:
        h.update(open(p, "rb").read())
    return h.hexdigest()[:16]


def build(build_dir, deadline):
    """Compile program + driver and generate the base tables, once per source hash."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the program's sources (build.sbt, src/main/scala) are missing")
    stamp = source_hash()
    done = os.path.join(build_dir, "stamp")
    if os.path.exists(done) and open(done).read().strip() == stamp:
        return open(os.path.join(build_dir, "classpath")).read().strip()
    shutil.rmtree(build_dir, ignore_errors=True)
    os.makedirs(build_dir)
    log("building (sbt) ...")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Xmx2g -Dsbt.offline=true -Dsbt.server.autostart=false")
    sbt_log = os.path.join(build_dir, "sbt.log")
    rc = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
             BENCH, deadline - time.time(), env, sbt_log)
    lines = [l for l in open(sbt_log).read().splitlines() if l.strip()]
    if rc != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write("\n".join(l for l in lines[-30:] if l.startswith("[")) + "\n")
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    log("generating base tables (graft.tools.GenData, sf0.1 sizes) ...")
    base = os.path.join(build_dir, "base")
    scratch = os.path.join(build_dir, "gen")
    os.makedirs(os.path.join(scratch, "tmp"))
    rc = run(java(cp, scratch) + ["graft.tools.GenData", base, "1.0"], scratch,
             deadline - time.time(), dict(os.environ, SPARK_GRAFT_CPUS=str(cores())),
             os.path.join(build_dir, "gendata.log"))
    shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0:
        raise SystemExit("perfbench: base table generation failed (see .build/gendata.log)")
    import checks
    checks.write_domains(base)
    with open(os.path.join(build_dir, "classpath"), "w") as f:
        f.write(cp)
    with open(done, "w") as f:
        f.write(stamp)
    return cp


def java(cp, scratch):
    """JVM command line; temp files, Spark scratch and the default warehouse
    all stay under `scratch`."""
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{HEAP}", *opens,
            f"-Djava.io.tmpdir={scratch}/tmp", f"-Dspark.local.dir={scratch}/spark-local",
            f"-Dspark.sql.warehouse.dir={scratch}/spark-warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.callstack.depth=200", "-cp", cp]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    # on SIGTERM unwind through the finally blocks: stop the JVM, delete the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if os.environ.get("GRAFT_DEDUP_ASSET_ROOT"):
        # a stable asset root would serve stored assets and the corpus op would not be cold
        raise SystemExit("perfbench: unset GRAFT_DEDUP_ASSET_ROOT; the benchmark needs cold assets")

    build_dir = os.path.join(BENCH, ".build")
    cp = build(build_dir, t_start + 880)
    base = os.path.join(build_dir, "base")
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm_log = os.path.join(work, "jvm.log")
    try:
        n = cores()
        cmd = java(cp, work) + ["perfbench.Main", "--workload", a.workload,
                                "--seed", str(a.seed), "--seconds", str(a.seconds),
                                "--trace", str(a.trace), "--base", base, "--work", work,
                                "--cores", str(n)]
        # 170 s after the start, or after the build when this run built
        budget = max(170 - (time.time() - t_start), 120)
        t_jvm = time.time()
        rc = run(cmd, work, budget, out=jvm_log)
        for line in open(jvm_log):
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
        log(f"jvm {time.time() - t_jvm:.1f} s")
        rec_path = os.path.join(work, "record.json")
        if rc != 0 or not os.path.exists(rec_path):
            sys.stderr.write(open(jvm_log).read()[-4000:])
            raise SystemExit(f"perfbench: benchmark JVM exited with {rc}")
        record = json.load(open(rec_path))
        import checks
        t_check = time.time()
        check = checks.run(a.workload, record, work)
        log(f"checks {time.time() - t_check:.1f} s")
        result = report(a, record, check, n)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if result["correct"] else 1)


def report(a, record, check, n):
    failed_names = set(check["failed"])
    timed = [o for o in record["ops"] if o["phase"] == "timed"]
    for o in record["ops"]:
        if o["name"] in failed_names or check.get("all_failed"):
            o["ok"] = False
    e2e = metrics.end_to_end(record)
    failed = sum(1 for o in timed if not o["ok"])
    correct = failed == 0 and not check["failed"] and bool(timed)

    cfg = record["config"]
    rev = commit()
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    print(f"config master={cfg['master']} cores={cfg['cores']} heap_max_mb={cfg['heap_max_mb']} "
          f"spark={cfg['spark_version']} java={cfg['java_version']} commit={rev}")
    print(f"canary {record['canary']['plan']} start={record['canary']['start_s']:.4f}s "
          f"end={record['canary']['end_s']:.4f}s")
    print(f"inputs rows={json.dumps(check['rows'])} input_bytes={record['input_bytes']}")
    print(f"checks {check['checked']} outputs checked, {len(check['failed'])} mismatched"
          + (f": {sorted(check['failed'])[:10]}" if check["failed"] else ""))
    print(f"ops attempted={len(timed)} failed={failed} "
          f"timed_wall_s={(record['timed_end_us'] - record['timed_start_us']) / 1e6:.3f}")
    end_to_end = [(m["name"], m["unit"]) for m in metrics.benchmark_spec()["end_to_end"]]
    for name, unit in end_to_end + REPORT_ONLY:
        if name in e2e:
            extra = f" (p{e2e['op_tail_pct']}, n={e2e['op_tail_n']})" if name == "op_tail_s" else ""
            print(f"metric {name} {e2e[name]:.6g} {unit}{extra}")
        elif name == "op_tail_s":
            print(f"metric op_tail_s omitted (n={len(timed)} < 20)")

    out_dir = os.path.join(BENCH, ".out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}"
    if a.trace:
        layer = metrics.per_layer(record, n)
        listed = {m["name"] for m in metrics.benchmark_spec()["per_layer"]}
        for k, u in metrics.layer_metrics():
            print(f"layer {k} {layer[k]:.6g} {u}" + ("" if k in listed else " (not listed)"))
        with open(os.path.join(out_dir, stem + "-trace.json"), "w") as f:
            json.dump(record["trace"], f)
        metrics_out = {k: {"value": layer[k], "unit": u} for k, u in metrics.layer_metrics()
                       if k in listed}
    else:
        metrics_out = {k: {"value": e2e[k], "unit": u} for k, u in end_to_end}
    summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "config": cfg, "commit": rev, "canary": record["canary"],
               "rows": check["rows"], "input_bytes": record["input_bytes"],
               "setup_s": record["setup_s"], "end_to_end": e2e,
               "ops": [[o["phase"], o["name"], (o["end_us"] - o["start_us"]) / 1e6, o["ok"],
                        o["traced"]] for o in record["ops"]],
               "failed_checks": sorted(check["failed"]), "metrics": metrics_out}
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(summary, f, indent=1)
    result = {"correct": correct, "attempted": max(len(timed), 1), "failed": failed,
              "metrics": metrics_out}
    print(json.dumps(result), flush=True)
    return result


def commit():
    """The commit when run from a git checkout; else the hash of the sources."""
    try:
        return subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "src-" + source_hash()


if __name__ == "__main__":
    main()
