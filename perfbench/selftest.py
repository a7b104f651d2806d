#!/usr/bin/env python3
"""Benchmark self-test: is the benchmark steady enough for its own bounds?

    python3 perfbench/selftest.py [--sets 2] [--seeds 10] [--workload W ...]

Run from the repository root. For each workload it makes `--sets` sets of
`--seeds` runs (each run a different seed, --trace 0, BENCHMARK.json's
run_seconds) and prints, per end-to-end metric:

  spread   (Q3 - Q1) / median of one set's values, per set
  drift    how much worse the last set's median is than the first's

A metric passes when every set's spread is within its bound (setup_s is
exempt: its runs differ in JIT and file-system warm-up by design) and the
drift is within the bound too. The exit code is 1 if any metric fails or
any run fails its output checks.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else None
    if p.returncode != 0 or res is None or not res["correct"]:
        print(f"  {workload} seed {seed}: FAILED (exit {p.returncode})", flush=True)
        return None
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med, statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in spec["workloads"]])
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]

    ok = True
    for w in workloads:
        sets = []
        for s in range(a.sets):
            runs = []
            for i in range(a.seeds):
                seed = 1000 * (s + 1) + i
                m = run(w, seed, spec["run_seconds"])
                if m is None:
                    ok = False
                    continue
                runs.append(m)
                print(f"  {w} set {s + 1} seed {seed}: " +
                      " ".join(f"{k}={v:.4g}" for k, v in sorted(m.items())), flush=True)
            sets.append(runs)
        print(f"{w}:")
        for metric in spec["end_to_end"]:
            name, bound = metric["name"], metric["bound"]
            per_set = [spread([r[name] for r in runs]) for runs in sets if len(runs) >= 2]
            if not per_set:
                continue
            spreads = [sp for sp, _ in per_set]
            first, last = per_set[0][1], per_set[-1][1]
            worse = (last - first) / first if metric["better"] == "lower" else (first - last) / first
            passed = worse <= bound and (name == "setup_s" or max(spreads) <= bound)
            ok &= passed
            print(f"  {name:14s} bound {bound:.3f}  spread " +
                  " ".join(f"{sp:.4f}" for sp in spreads) +
                  f"  (a third of the bound: {bound / 3:.4f})  drift {worse:+.4f}  " +
                  ("ok" if passed else "FAIL"), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
