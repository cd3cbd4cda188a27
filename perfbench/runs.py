#!/usr/bin/env python3
"""Runs the benchmark over several seeds and checks run-set agreement.

    python3 perfbench/runs.py --workload export-full --seeds 1-10 --out a.json
    python3 perfbench/runs.py --compare a.json b.json

The first form runs `run.py` once per seed (end-to-end metrics) and
prints each metric's median and spread (interquartile distance over the
median). The second applies the agreement rule of stats.agreement to
two such sets with the bounds in BENCHMARK.json.
"""

import argparse
import json
import os
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def bench_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["end_to_end"]


def run_set(workload, seed_list, seconds):
    values, failures = {}, 0
    for s in seed_list:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(s), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, check=True)
        result = json.loads(out.stdout.decode().strip().splitlines()[-1])
        failures += result["failed"]
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print("seed %d: %s" % (s, {k: round(v["value"], 4)
                                   for k, v in result["metrics"].items()}),
              file=sys.stderr, flush=True)
    return {"workload": workload, "seeds": seed_list, "failed": failures,
            "values": values}


def summary(values):
    for name, vs in values.items():
        print("%-18s median %.4f  spread %.4f  (n=%d)"
              % (name, stats.median(vs), stats.spread(vs), len(vs)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as fh:
                sets.append(json.load(fh)["values"])
        problems = stats.agreement(sets[0], sets[1], bench_metrics())
        for name, problem in problems:
            print("%s: %s" % (name, problem))
        print("agree" if not problems else "disagree")
        sys.exit(1 if problems else 0)
    result = run_set(args.workload, seeds(args.seeds), args.seconds)
    summary(result["values"])
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)


if __name__ == "__main__":
    main()
