#!/usr/bin/env python3
"""Run one workload over several seeds and report, per metric, the median
and the quartile spread (Q3 - Q1) / median — the steadiness figure the
bounds in BENCHMARK.json are checked against.

    python3 perfbench/spread.py --workload flatten_nested --seeds 1-10 --seconds 8
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values, times, bad = {}, [], 0
    for seed in range(lo, hi + 1):
        t = time.time()
        p = subprocess.run([sys.executable, run, "--workload", a.workload, "--seed", str(seed),
                            "--seconds", a.seconds, "--trace", a.trace],
                           capture_output=True, text=True)
        times.append(time.time() - t)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print("seed %d: exit %d\n%s" % (seed, p.returncode, p.stderr[-2000:]))
            bad += 1
            continue
        res = json.loads(lines[-1])
        if not res["correct"]:
            bad += 1
        print("seed %d (%.0f s): %s" % (seed, times[-1], lines[-2] if len(lines) > 1 else ""))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else float("nan")
        print("%-34s median %-12.6g spread %.3f" % (k, med, spread))
    print("runs %d, failed %d, run time median %.1f s, max %.1f s"
          % (len(times), bad, statistics.median(times), max(times)))


if __name__ == "__main__":
    main()
