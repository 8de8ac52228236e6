"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload plant_ingest --seeds 1-10

Runs ``run.py --trace 0`` once per seed, one after another, and prints
per end-to-end metric the median and the quartile spread
(Q3 − Q1) / median, with quartiles from
``statistics.quantiles(values, n=4)`` — the figure the benchmark's
bounds in BENCHMARK.json are set against.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=_seeds, default=_seeds("1-10"))
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"),
              encoding="utf-8") as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds",
             str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, check=True,
            cwd=os.path.dirname(HERE)).stdout
        res = json.loads(out.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, **res}), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"{k}: median {med:.6g} spread {(q3 - q1) / med:.4f} "
              f"bound {bounds.get(k)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
