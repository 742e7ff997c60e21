#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds N]

Runs perfbench/run.py once per seed (untraced, sequentially) and prints, for
each end-to-end metric, the median, the quartiles (statistics.quantiles,
n=4), the spread (Q3 - Q1) / median and the metric's bound from
BENCHMARK.json. A metric is steady when its spread stays well inside its
bound. Each run's JSON line is appended to --log if given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--log")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    secs = a.seconds or bench["run_seconds"]
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for s in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds", str(secs),
             "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {s}: exit {p.returncode}\n{p.stderr[-2000:]}")
            return 1
        res = json.loads(p.stdout.strip().splitlines()[-1])
        if a.log:
            with open(a.log, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": s, **res}) + "\n")
        print(f"seed {s}: correct {res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']:>14}: median {med:.4g}  Q1 {q1:.4g}  Q3 {q3:.4g}  "
              f"spread {(q3 - q1) / med:.3f}  bound {m['bound']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
