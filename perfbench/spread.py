#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds and print, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
of `statistics.quantiles(n=4)`, next to the metric's bound.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds S]

Run from the repository root; each run is a full `run.py` run.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec: str) -> list:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    secs = args.seconds or spec["run_seconds"]
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds(args.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(seed),
                            "--seconds", str(secs), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values[k].append(v["value"])
    print(f"{'metric':<16} {'median':>12} {'spread':>8} {'bound':>6}")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        print(f"{m['name']:<16} {stats.median(xs):12.4f} "
              f"{stats.quartile_spread(xs):8.4f} {m['bound']:6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
