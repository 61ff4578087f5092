#!/usr/bin/env python3
"""Run one workload over several seeds and print, per metric, the median
and the quartile spread ((Q3 - Q1) / median) of the per-run values.

    python3 perfbench/spread.py --workload mwas_batch --seeds 1-10

A metric whose spread exceeds its BENCHMARK.json bound is flagged.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    root = os.path.dirname(HERE)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    seconds = a.seconds or bench["run_seconds"]
    values = {}
    for s in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(s), "--seconds", str(seconds),
             "--trace", str(a.trace)], cwd=root, capture_output=True,
            text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: exit {p.returncode}\n{p.stdout[-2000:]}"
                  f"{p.stderr[-2000:]}")
            continue
        res = json.loads(last)
        wall = [ln for ln in p.stdout.splitlines() if ln.startswith("wall ")]
        print(f"seed {s}: {wall[-1] if wall else ''} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        sp = metrics.quartile_spread(xs)
        b = bounds.get(k)
        flag = "" if b is None or sp < b / 3 else \
            ("  (above a third of bound)" if sp < b else "  (ABOVE BOUND)")
        print(f"{k}: median {statistics.median(xs):.4g} spread {sp:.3f}"
              f" bound {b}{flag}")


if __name__ == "__main__":
    main()
