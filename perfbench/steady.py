#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and report, for
each end-to-end metric, the median and the quartile spread (Q3 - Q1) /
median, and each run's wall time.

    python3 perfbench/steady.py --workload serve --seeds 1-10
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", help="measured seconds per run (default: BENCHMARK.json)")
    a = ap.parse_args()
    if a.seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            a.seconds = str(json.load(f)["run_seconds"])
    values = {}
    for seed in seeds(a.seeds):
        t = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--seconds", a.seconds,
                              "--trace", "0"], capture_output=True, text=True)
        wall = time.time() - t
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stdout[-2000:]}{out.stderr[-2000:]}")
            sys.exit(1)
        result = json.loads(last)
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.6g}"
                                          for k, v in result["metrics"].items())
              + f" (run {wall:.1f} s)", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        summary[k] = {"median": med, "spread": (q3 - q1) / med if med else None, "n": len(vs)}
        print(f"{k}: median {med:.6g}, spread {summary[k]['spread']:.4f} over {len(vs)} runs")
    print(json.dumps({"workload": a.workload, "seeds": a.seeds, "summary": summary}))


if __name__ == "__main__":
    main()
