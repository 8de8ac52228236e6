"""Benchmark harness: run the suite's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and print ONE JSON
line {"metric", "value", "suite_minima", "unit", "queries", "sf"} —
"value" is THIS run's total (co-tenancy-window-dependent),
"suite_minima" the sum of per-query all-run minima after folding
this run in (the stable cross-round signal; compare rounds on it).

Each query is timed end-to-end (plan + execute) with a noop sink so
every output column is computed but nothing is shipped to the driver.

The final line stays compact (<1.5 KB): "queries" holds per-SUITE
rollups, not the 134-entry per-query map — the driver keeps only the
last 2,000 chars of output, and round 2's full map came back
`parsed: null`. The per-query timings go to BENCH_DETAIL.json next to
this file.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: the warm-up and calibration query; absent from the registry, both
#: are skipped and the calibration is recorded as null
CANARY = "q01_export_long"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from industrial_data_pipeline_spark.session import get_spark
    from industrial_data_pipeline_spark.suite import REGISTRY, SUITE_OF

    spark = get_spark("idp-bench", cores=cpus)

    canary = REGISTRY.get(CANARY)
    if canary is None:
        print(f"[bench] canary query {CANARY} is not registered: "
              "warm-up skipped, calibration recorded as null",
              file=sys.stderr)

    def _run_canary() -> None:
        canary[0](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()

    # warm the JVM/codegen once with the flagship so q01 doesn't pay
    # session startup.
    if canary is not None:
        _run_canary()
    # ... and the parquet-write path, so the first store-backed mgmt
    # query doesn't pay the write codegen warmup for all of them
    import shutil
    import tempfile

    from industrial_data_pipeline_spark.catalog.store import ParquetStore
    _wdir = tempfile.mkdtemp(prefix="idp_bench_warm_")
    _ws = ParquetStore(spark, _wdir)
    _ws.create_database("warm")
    _ws.append_archive("warm", spark.sql(
        "SELECT 1L AS attribute_id, timestamp'2024-01-01' AS timestamp,"
        " 1.0d AS value"))
    _ws.archive_values("warm").count()
    shutil.rmtree(_wdir, ignore_errors=True)

    # co-tenancy canary (optimization r15, VERDICT r14 item 8): the
    # same trivial fixed query timed at suite start and end; its
    # ratio to its own all-runs minimum goes to BENCH_DRIFT.json so
    # a degraded window (which inflates the canary too) is
    # machine-distinguishable from a real regression. Measured
    # OUTSIDE the per-query timings — the bench contract's queries
    # map and one-line JSON output are unchanged.
    def _calibrate() -> float | None:
        if canary is None:
            return None
        t0 = time.perf_counter()
        _run_canary()
        return round(time.perf_counter() - t0, 4)

    cal_start = _calibrate()

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, (fn, _sql) in sorted(REGISTRY.items()):
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001
            # one broken query must not void the whole suite's
            # numbers — record it and keep the JSON line parseable
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"[bench] {name} FAILED: {errors[name]}",
                  file=sys.stderr)

    cal_end = _calibrate()

    total = round(sum(timings.values()), 4)
    rollup: dict[str, float] = {}
    for name, secs in timings.items():
        label = SUITE_OF.get(name, "core")
        rollup[label] = round(rollup.get(label, 0.0) + secs, 4)

    detail = {
        "metric": "suite_total", "value": total, "unit": "sec",
        "sf": sf, "queries": timings,
        "calibration": {"start_sec": cal_start, "end_sec": cal_end},
    }
    if errors:
        detail["errors"] = errors
    here = os.path.dirname(os.path.abspath(__file__))
    # raw per-query timings of THIS run
    with open(os.path.join(here, "BENCH_RUN.json"), "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    # BENCH_DETAIL.json is the per-query MINIMA over all runs (the
    # only round-over-round signal under container noise) — FOLD this
    # run in, never overwrite (round-6 lesson; tools/merge_bench.py).
    detail_path = os.path.join(here, "BENCH_DETAIL.json")
    # sum-of-minima travels WITH the run total (VERDICT r11 item 5):
    # the run total is a co-tenancy-window artifact — twice now a
    # degraded window became the round headline while the stable
    # minima signal lived only in a triage note. None when the fold
    # was skipped (first run / SF mismatch / corrupt detail file).
    minima_total = None
    try:
        from tools.merge_bench import merge, write_drift_report
        with open(detail_path) as fh:
            minima = json.load(fh)
        folded, rep = merge(minima, detail)
        minima_total = round(sum(folded["queries"].values()), 4)
        with open(detail_path, "w") as fh:
            json.dump(folded, fh, indent=1, sort_keys=False)
            fh.write("\n")
        # drift gate: flag >2x-of-minima queries mechanically so the
        # next round's triage starts from a committed report; the
        # calibration canary's ratio vs the canary query's own
        # folded minimum rides along (co-tenancy indicator)
        cal_min = folded["queries"].get(CANARY)
        write_drift_report(rep, detail_path, calibration={
            "query": CANARY,
            "start_sec": cal_start, "end_sec": cal_end,
            "minima_sec": cal_min,
            "start_ratio": (round(cal_start / cal_min, 2)
                            if cal_start and cal_min else None),
            "end_ratio": (round(cal_end / cal_min, 2)
                          if cal_end and cal_min else None),
        })
        if rep["outliers"]:
            print(f"[bench] DRIFT: {rep['n_outliers']} queries >2x "
                  f"their minima: "
                  + ", ".join(f"{q}={r}x" for q, r in
                              sorted(rep["outliers"].items(),
                                     key=lambda kv: -kv[1])),
                  file=sys.stderr)
    except FileNotFoundError:
        # ADVICE r12: mark a from-scratch detail file explicitly —
        # this run's window-dependent total is NOT a stable minima
        # baseline yet, and a deleted/missing detail file mid-history
        # must be distinguishable from a genuine first run. Same
        # sort_keys convention as the merge path so the two writers
        # can't be told apart by key order.
        detail["first_run"] = True
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=False)
            fh.write("\n")
        minima_total = total  # first run IS the (provisional) minima
    except SystemExit as exc:
        # sf mismatch: a local run at another SF must not pollute the
        # sf0.1 minima — keep them untouched
        print(f"[bench] minima fold skipped: {exc}", file=sys.stderr)
    except (ValueError, KeyError, TypeError, AttributeError) as exc:
        # corrupt/hand-edited BENCH_DETAIL.json (JSONDecodeError is a
        # ValueError) must not crash bench AFTER the whole suite ran —
        # skip the fold; BENCH_RUN.json preserves this run's raw
        # timings for a manual re-fold via tools/merge_bench.py
        print(f"[bench] minima fold skipped (bad BENCH_DETAIL.json: "
              f"{exc!r}) — raw timings kept in BENCH_RUN.json",
              file=sys.stderr)

    # n_errors travels with the headline number so a partially failed
    # run (smaller total over fewer queries) can't read as a speedup
    result = {
        "metric": "suite_total",
        "value": total,
        "unit": "sec",
        # the stable cross-round signal: sum of per-query all-run
        # minima after folding this run in — read THIS, not value,
        # when comparing rounds (value is window-dependent)
        "suite_minima": minima_total,
        "queries": rollup,
        "sf": sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "detail": "BENCH_RUN.json (this run); "
                  "BENCH_DETAIL.json (all-runs minima)",
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
