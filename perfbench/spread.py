"""Runs the benchmark on several seeds and reports, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median next to its bound.

    python3 perfbench/spread.py --workload mining --runs 10 [--first-seed 1] [--seconds 15]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    values = {m["name"]: [] for m in bench["end_to_end"]}
    run_s = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                             capture_output=True, text=True, check=True).stdout
        run_s.append(time.time() - t0)
        res = json.loads(out.strip().splitlines()[-1])
        if not res["correct"]:
            print(f"seed {seed}: {res['failed']}/{res['attempted']} failed", flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items())
              + f" run_s={run_s[-1]:.1f}", flush=True)
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        print(f"{m['name']}: median {med:.4g} {m['unit']}, spread {(q3 - q1) / med:.3f} "
              f"(bound {m['bound']})")
    print(f"run_s: median {statistics.median(run_s):.1f} s per run")


if __name__ == "__main__":
    main()
