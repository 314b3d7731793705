#!/usr/bin/env python3
"""Steadiness self-check: run two sets of untraced runs of the same commit and
say, per workload and end-to-end metric, whether they agree within the bounds
BENCHMARK.json fixes.

For each set it prints the median and quartiles of every metric and the
quartile spread as a share of the median; a spread above the metric's bound
fails. setup_s is exempt from the spread check, as in the benchmark's
acceptance rule: a commit's first query_mix run builds the standing store,
so set-up is uneven by design and only its median is compared. Then it
compares the two medians: they agree when they differ, either way, by at
most the bound as a share of the first.

Usage (from the repository root):
  python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--first-seed 1]
Each run gets its own seed and measures BENCHMARK.json's run_seconds.
Exit code 0 when every check passes.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {res.returncode})")
    out = json.loads(lines[-1])
    if not out["correct"]:
        raise SystemExit(f"{workload} seed {seed}: {out['failed']} of {out['attempted']} checks failed")
    return {k: v["value"] for k, v in out["metrics"].items()}


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description="two-set steadiness check")
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    metrics = spec["end_to_end"]
    ok = True
    seed = a.first_seed
    for workload in a.workloads.split(","):
        sets = []
        for _ in range(2):
            runs = []
            for _ in range(a.runs):
                runs.append(one_run(workload, seed, spec["run_seconds"]))
                print(f"  {workload} seed {seed}: {json.dumps(runs[-1])}", flush=True)
                seed += 1
            sets.append(runs)
        print(f"== {workload}: 2 sets of {a.runs} runs")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            meds = []
            for i, runs in enumerate(sets):
                med, q1, q3, spread = summary([r[name] for r in runs])
                meds.append(med)
                spread_ok = name == "setup_s" or spread <= bound
                ok &= spread_ok
                print(f"  {name:18s} set{i + 1} median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} "
                      f"spread {spread:.3f} (bound {bound}, third {bound / 3:.3f}) "
                      f"{'ok' if spread_ok else 'TOO WIDE'}")
            diff = (meds[1] - meds[0]) / meds[0]
            agree = abs(diff) <= bound
            ok &= agree
            print(f"  {name:18s} second vs first: {diff:+.3f} {'ok' if agree else 'DISAGREE'}")
    print("steady" if ok else "NOT steady")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
