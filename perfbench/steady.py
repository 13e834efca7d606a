#!/usr/bin/env python3
"""Steadiness check: run a workload once per seed and report, for each
end-to-end metric of BENCHMARK.json, the median and the interquartile
spread as a share of the median (statistics.quantiles(values, n=4)).

    python3 perfbench/steady.py --workload slice_analytics --seeds 1-10

Each run's two output lines are appended to .bench_out/steady-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    first, last = (int(x) for x in args.seeds.split("-"))
    log = os.path.join(ROOT, ".bench_out", f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(first, last + 1):
        out = subprocess.run(
            spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                               "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        with open(log, "a") as f:
            f.write("\n".join(lines[-2:]) + "\n")
        result = json.loads(lines[-1])
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        for k in values:
            values[k].append(result["metrics"][k]["value"])
    for m in spec["end_to_end"]:
        med, sp = spread(values[m["name"]])
        print(f"{m['name']:>14}: median {med:.4g} {m['unit']}, IQR/median {sp:.4f} "
              f"(bound {m['bound']}, a third {m['bound'] / 3:.4f})")


if __name__ == "__main__":
    main()
