"""Compare Spark job counts per span between two traced runs.

    python3 perfbench/trace_diff.py A.json B.json

Both files are span dumps from ``run.py --trace 1`` of the same
workload and seed (``.perfbench_work/traces/``). Spans are compared in
order over their common prefix — a timed run may get further in one
file than the other — and every span whose name or job count differs
is printed. Exits 1 when any differ.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

from perfbench.spans import jobs_per_span  # noqa: E402


def main(argv: list[str]) -> int:
    a, b = (jobs_per_span(p) for p in argv[1:3])
    n = min(len(a), len(b))
    diffs = [(i, x, y) for i, (x, y) in enumerate(zip(a[:n], b[:n]))
             if x != y]
    for i, x, y in diffs:
        print(f"span {i}: {x[0]} {x[1]} jobs vs {y[0]} {y[1]} jobs")
    print(f"{n} spans compared, {len(diffs)} differ")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
