#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median, quartiles and spread (interquartile distance as a share
of the median), the test the benchmark's bounds are held to.

    python3 graftbench/steady.py --seeds 10 [--workload W ...] [--out FILE]

Run from the repository root. Seeds are 1..N; workloads default to all
of BENCHMARK.json's. Each run's result line is echoed as it finishes.
"""
import argparse
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import stats  # noqa: E402


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload")
    ap.add_argument("--out", help="write the summary as JSON here")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    summary = {}
    for w in workloads:
        values = {}
        for seed in range(1, args.seeds + 1):
            t0 = time.time()
            r = subprocess.run(
                [sys.executable, *spec["command"][1:], "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            print(f"{w} seed={seed} exit={r.returncode} "
                  f"{time.time() - t0:.1f}s {line}", flush=True)
            if r.returncode != 0:
                print(r.stderr[-3000:], file=sys.stderr)
                continue
            res = json.loads(line)
            detail = r.stderr.strip().splitlines()[-1]
            print(f"  detail: {detail}", flush=True)
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        summary[w] = {}
        for name, vs in values.items():
            if len(vs) < 2:
                continue
            q1, q2, q3 = stats.quartiles(vs)
            summary[w][name] = {"n": len(vs), "q1": q1, "median": q2,
                                "q3": q3, "spread": (q3 - q1) / q2,
                                "bound": bounds.get(name)}
            print(f"  {w:16s} {name:16s} median={q2:.4g} q1={q1:.4g} "
                  f"q3={q3:.4g} spread={(q3 - q1) / q2:.3f} "
                  f"(bound {bounds.get(name)})", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
