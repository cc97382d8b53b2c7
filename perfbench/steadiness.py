#!/usr/bin/env python3
"""Steadiness report: run one workload N times with different seeds and
print, per end-to-end metric, the median, the quartiles and the spread
(interquartile range over the median) against the metric's bound in
BENCHMARK.json. Run from the root of a checkout:

    python3 perfbench/steadiness.py --workload stream_changelog --runs 5
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="append each run's JSON line to this file")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for i in range(a.runs):
        seed = a.first_seed + i
        p = subprocess.run(
            [*bench["command"], "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=900)
        line = p.stdout.strip().split("\n")[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not line.startswith("{"):
            sys.exit(f"seed {seed}: exit {p.returncode}")
        r = json.loads(line)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, **r}) + "\n")
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              flush=True)
        for k in values:
            values[k].append(r["metrics"][k]["value"])
    print(f"\n{a.workload}: {a.runs} runs")
    print(f"{'metric':20} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        flag = "" if spread <= m["bound"] / 3 else (
            "  > bound/3" if spread <= m["bound"] else "  > BOUND")
        print(f"{m['name']:20} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} "
              f"{m['bound']:6.2f}{flag}")


if __name__ == "__main__":
    main()
