#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload slice_analytics --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.py); the first run of each workload also writes the
class-data archive that later runs of it load (class_archive). The harness
drives the engine in one JVM on local[N], N = the CPUs this process may use,
and writes a raw record; this script checks the outputs and prints two JSON
lines: a summary with every end-to-end metric, its unit and sample count, and
the output-check verdict; then the result line. With --trace 1 the result
line carries the per-layer metrics of a traced timed phase run between two
untraced ones, and the spans go to .bench_out/spans-<workload>-<seed>.jsonl.
See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402

WORKLOADS = ["slice_analytics", "stream_ingest"]
RUN_LIMIT_S = 170
MIN_FREE_GIB = 2.0
# the benchmark's own output and build trees, which the tree check skips
SCRATCH = {".bench_build", ".bench_run", ".bench_out", ".git", "target", "__pycache__"}

def data_dir():
    """The sf0.1 tables: $SPARK_GRAFT_SF_DIR, else graft.Bench's default."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
            m = re.search(r'getOrElse\("SPARK_GRAFT_SF_DIR",\s*"([^"]+)"\)', f.read())
        d = m.group(1) if m else ""
    if not os.path.isfile(os.path.join(d, "documents.parquet")):
        raise SystemExit(f"perfbench: no sf0.1 tables at {d!r} (set SPARK_GRAFT_SF_DIR)")
    return d


def tree_snapshot():
    """(path → size, mtime) of the checkout's files outside run scratch."""
    snap = {}
    for dirpath, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if d not in SCRATCH]
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.lstat(p)
            snap[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return snap


def free_gib():
    return shutil.disk_usage(ROOT).free / 2**30


def driver_mem():
    """build.sbt's heap: $SPARK_DRIVER_MEM, else 24g on hosts with at least
    64 GiB of memory and 8g below. It is a cap: without -Xms the heap grows
    only as the run needs."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return os.environ.get("SPARK_DRIVER_MEM", "24g" if phys >= 64 else "8g")


def java(jar, run_dir, main, *args, archive=None):
    """The harness JVM command: build.sbt's module opens and heap, scratch
    in run_dir. With an archive path, classes load from that class-data
    archive if it exists; otherwise this JVM writes it at exit, to
    archive + ".new" (see class_archive)."""
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    # no hsperfdata file: the JVM would write it under /tmp, outside the run
    cmd = ["java", f"-Xmx{driver_mem()}", "-XX:-UsePerfData"]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}" if os.path.isfile(archive)
                   else f"-XX:ArchiveClassesAtExit={archive}.new")
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
                  f"-Dgraft.fixtures.dir={ROOT}/fixtures",
                  "-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
                  main, "--run-dir", run_dir] + [str(a) for a in args]


def class_archive(jar, workload):
    """The workload's class-data archive beside the jar. Loading Spark's and
    the engine's classes from it instead of the jars takes some 3 s off
    session start and more off the first setup steps. The first run of a
    workload in a checkout writes it; a run that fails leaves none."""
    return f"{jar[:-len('.jar')]}-{workload}.jsa"


def tail(lats):
    """Latency at the highest percentile with at least 10 samples beyond it,
    and that percentile. Below 21 samples that percentile would not reach
    the median, so the maximum is reported instead."""
    xs = sorted(lats)
    i = len(xs) - 11 if len(xs) >= 21 else len(xs) - 1
    return xs[i], 100.0 * (i + 1) / len(xs)


# the timed phases of a record: untraced, then with --trace 1 traced and
# untraced again
PHASES = ["untraced", "traced", "untraced_after"]


def phase_stats(phase, failed_gates):
    ops = phase["ops"]
    lats = [o["latency_s"] for o in ops]
    failed = sum(1 for o in ops if o["error"] or o["name"] in failed_gates)
    t, pct = tail(lats)
    return {"n": len(ops), "failed": failed, "ops_per_s": len(ops) / phase["wall_s"],
            "op_p50_s": statistics.median(lats), "op_tail_s": t, "tail_pct": pct,
            "cache_peak_mb": max(o["cache_mb"] for o in ops)}


def run_harness(args, jar, data, cores, run_dir, started, build_s):
    """Runs the JVM harness; returns its raw record."""
    archive = class_archive(jar, args.workload)
    out = os.path.join(run_dir, "record.json")
    spans = os.path.join(ROOT, ".bench_out", f"spans-{args.workload}-{args.seed}.jsonl")
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(
            java(jar, run_dir, "perfbench.Main", "--workload", args.workload,
                 "--seed", args.seed, "--seconds", args.seconds, "--trace", args.trace,
                 "--data", data, "--out", out, "--spans", spans,
                 "--t0-ms", int(time.time() * 1000), "--cores", cores, archive=archive),
            stdout=lf, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            # 10 s kept for the checks; building does not count
            rc = proc.wait(timeout=RUN_LIMIT_S - 10 - (time.time() - started - build_s))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        if os.path.exists(archive + ".new"):
            os.remove(archive + ".new")
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness exited with {rc}")
    if os.path.exists(archive + ".new"):
        os.replace(archive + ".new", archive)
    shutil.copy(out, os.path.join(ROOT, ".bench_out", f"record-{args.workload}-{args.seed}.json"))
    with open(out) as f:
        return json.load(f)


def check_outputs(args, rec, run_dir, data):
    """Verdict per checked output, and the op names to count as failed."""
    warm_errors = {o["name"]: o["error"] for o in rec["warmup"]}
    if rec["stream_check"] is None:
        verdicts = checks.check_gates(args.workload, os.path.join(run_dir, "out"), data,
                                      rec["oracle_sql"], warm_errors, args.record_hashes)
        return verdicts, {g for g, v in verdicts.items() if not v[0]}
    sc = rec["stream_check"]
    verdicts = {"stream_contract": (sc["ok"], "contract", sc["detail"])}
    verdicts.update({n: (False, "error", e) for n, e in warm_errors.items() if e})
    # a wrong pair set fails every micro-batch that fed it
    failed = set() if all(v[0] for v in verdicts.values()) else {
        o["name"] for p in PHASES if rec[p] for o in rec[p]["ops"]}
    return verdicts, failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-hashes", action="store_true",
                    help="write expected/hashes.json from this tree's outputs")
    args = ap.parse_args()

    started = time.time()
    build.require_engine()
    data = data_dir()
    if free_gib() < MIN_FREE_GIB:
        raise SystemExit(f"perfbench: only {free_gib():.1f} GiB free before the run")
    before = tree_snapshot()
    jar = build.build()
    build_s = time.time() - started
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    try:
        rec = run_harness(args, jar, data, cores, run_dir, started, build_s)
        verdicts, failed_gates = check_outputs(args, rec, run_dir, data)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    after = tree_snapshot()
    changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))

    phases = {p: phase_stats(rec[p], failed_gates) for p in PHASES if rec[p]}
    st = phases["untraced"]
    metrics_e2e = {
        "setup_s": (rec["setup_s"], "s", 1),
        "ops_per_s": (st["ops_per_s"], "1/s", st["n"]),
        "op_p50_s": (st["op_p50_s"], "s", st["n"]),
        "op_tail_s": (st["op_tail_s"], "s", st["n"]),
        "failed_frac": (st["failed"] / st["n"], "ratio", st["n"]),
        "cache_peak_mb": (st["cache_peak_mb"], "MB", st["n"]),
        "rss_peak_mb": (rec["rss_peak_mb"], "MB", 1),
    }
    bad_checks = {g: v for g, v in verdicts.items() if not v[0]}
    correct = not bad_checks and not changed and all(p["failed"] == 0 for p in phases.values())
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "metrics": {k: {"value": v, "unit": u, "samples": n}
                    for k, (v, u, n) in metrics_e2e.items()},
        "op_tail_percentile": st["tail_pct"],
        "check": {"verdict": "pass" if not bad_checks else "fail",
                  "checked": len(verdicts),
                  "by": {how: sum(1 for v in verdicts.values() if v[1] == how)
                         for how in sorted({v[1] for v in verdicts.values()})},
                  "failures": {g: f"{v[1]}: {v[2]}" for g, v in bad_checks.items()}},
        "tree_changes": changed,
        "run_s": time.time() - started,
        "disk_free_gib": {"after": round(free_gib(), 2)},
        "setup_parts_s": {"session": rec["session_s"], "stream": rec["stream_s"],
                          "warmup": rec["warmup_s"], **rec["setup_steps"]},
    }))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        metrics = {n: {"value": v, "unit": u}
                   for n, v, u in layer_values(rec, phases, spec["per_layer"])}
    else:
        # the gated ones; failed_frac and rss_peak_mb stay in the summary
        # (see README.md)
        metrics = {m["name"]: {"value": metrics_e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct,
                      "attempted": sum(p["n"] for p in phases.values()),
                      "failed": sum(p["failed"] for p in phases.values()),
                      "metrics": metrics}))


def layer_values(rec, phases, spec):
    """(name, value, unit) of every per-layer metric in spec, in order."""
    layers = dict(rec["traced"]["layers"])
    layers["setup.session_s"] = rec["session_s"]
    layers["setup.stream_s"] = rec["stream_s"]
    layers["setup.warmup_s"] = rec["warmup_s"]
    layers.update({f"setup.{s}_s": v for s, v in rec["setup_steps"].items()})
    layers["log.errors"] = rec["log_errors"]
    # against the untraced phase that follows the traced one: the first
    # untraced phase still runs measurably colder
    tr, after = phases["traced"], phases["untraced_after"]
    for name, k in (("op_p50", "op_p50_s"), ("ops_per_s", "ops_per_s")):
        layers[f"trace.overhead.{name}_pct"] = 100.0 * (tr[k] / after[k] - 1)
    unknown = set(layers) - {m["name"] for m in spec}
    if unknown:
        raise SystemExit(f"perfbench: harness reported unlisted metrics {sorted(unknown)}")
    return [(m["name"], layers.get(m["name"], 0.0), m["unit"]) for m in spec]


if __name__ == "__main__":
    main()
