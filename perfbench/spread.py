#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload NAME --seeds 1 2 3 4 5 [--seconds S]

Runs the benchmark once per seed (untraced) and prints, per metric, the
median and the quartile spread (Q3 - Q1) / median over the runs, next
to the metric's bound in BENCHMARK.json. The aim is a spread below a
third of the bound for every metric, `setup_s` included.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    values = {}
    for seed in a.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, "correct": res["correct"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>14}  median {med:10.4f}  spread {(q3 - q1) / med:.4f}  bound {m['bound']}")


if __name__ == "__main__":
    main()
