"""Run one benchmark workload against the package in this checkout.

    python3 perfbench/run.py --workload plant_ingest --seed 1 \
        --seconds 20 --trace 0

Prints the machine/configuration, the workload's own metrics (raw wall
times) and every end-to-end metric by name with its unit on ``#``
lines, then one JSON line: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics of an
untraced run. Its latency and throughput metrics are calibrated: each
run times a fixed all-core Spark job (the canary) ten times, after
set-up and after the window, and scales its own times by
``CANARY_REF_S / median(canary)`` — the reading on a machine where the
canary takes ``CANARY_REF_S``. A shared host's speed drifts by tens of
percent over minutes; the canary cancels that drift between runs.
``setup_s`` and ``peak_rss_mb`` stay raw. ``--trace 1`` first
runs the untraced workload in a child process, then the same workload
traced (spans + Spark event log) in this one, and reports the
per-layer metrics plus the tracing overhead (traced minus untraced end
to end); both halves measure ``--seconds / 2``. The span dump of a
traced run lands in ``.perfbench_work/traces/`` for ``trace_diff.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
#: driver heap the benchmark runs with (the session factory's default
#: assumes a 48 GB host)
DRIVER_MEM = "3g"
E2E = {"setup_s": "s", "read_p50_ms": "ms", "write_p50_ms": "ms",
       "bulk_p50_ms": "ms", "items_per_s": "1/s", "peak_rss_mb": "MB"}
#: the workloads' own names for the shared end-to-end metrics
ALIASES = {
    "plant_ingest": {"read_p50_ms": "read_p50_ms",
                     "write_p50_ms": "process_p50_ms",
                     "bulk_p50_ms": "download_p50_ms",
                     "items_per_s": "ingest_rows_per_s"},
    "corpus_index": {"read_p50_ms": "probe_p50_ms",
                     "write_p50_ms": "admit_p50_ms",
                     "bulk_p50_ms": "gate_p50_ms",
                     "items_per_s": "docs_per_s"},
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ALIASES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(run_dir: str) -> None:
    """Pin the time zone, keep temp files inside the checkout, and let
    Spark's Python processes import ``perfbench`` and the package."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def _session_factory(run_dir: str, event_log: str | None):
    def make():
        from industrial_data_pipeline_spark.session import get_spark
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "wh"),
                "spark.local.dir": os.path.join(run_dir, "local")}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": event_log,
                         "spark.eventLog.compress": "false"})
        return get_spark("perfbench", cores=len(os.sched_getaffinity(0)),
                         extra_conf=conf)
    return make


def _workload(name: str):
    if name == "plant_ingest":
        from perfbench.plant import PlantRun
        return PlantRun
    from perfbench.corpus import CorpusRun
    return CorpusRun


def run_workload(args, run_dir: str, traced: bool) -> dict:
    """Set up, measure and check one workload in this process."""
    from perfbench.spans import Tracer
    from perfbench.stats import CANARY_REF_S, canary_s, machine, peak_rss_mb

    tracer = Tracer(enabled=traced)
    event_log = os.path.join(run_dir, "eventlog") if traced else None
    seconds = args.seconds / 2 if traced else args.seconds
    run = _workload(args.workload)(
        args.seed, seconds, run_dir, tracer,
        _session_factory(run_dir, event_log))
    run.write_inputs()
    try:
        setup_s = run.setup()
        config = machine(run.spark, args.seed, args.workload)
        with tracer.span("canary"):
            canary = canary_s(run.spark)
        run.measure()
        with tracer.span("canary"):
            canary += canary_s(run.spark)
        rss = peak_rss_mb(run.spark)
        with tracer.span("check"):
            run.check()
    finally:
        if getattr(run, "spark", None) is not None:
            run.spark.stop()
    raw = run.metrics()
    speed = CANARY_REF_S / statistics.median(canary)  # see module docstring
    config["canary_s"] = canary
    metrics = {k: (v * speed if k.endswith("_ms") else v / speed)
               for k, v in raw.items() if v is not None}
    metrics.update(setup_s=setup_s, peak_rss_mb=rss)
    return {"config": config, "run": run, "tracer": tracer, "raw": raw,
            "metrics": metrics, "event_log": event_log}


def _child_metrics(args) -> dict:
    """The untraced half of a traced run, in its own process."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload",
           args.workload, "--seed", str(args.seed), "--seconds",
           str(args.seconds / 2), "--trace", "0"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                         cwd=ROOT, timeout=170, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])["metrics"]


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(
            ROOT, "industrial_data_pipeline_spark", "__init__.py")):
        print("perfbench: industrial_data_pipeline_spark/ is missing from "
              f"{ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-"
                                 f"{os.getpid()}")
    _environment(run_dir)
    try:
        untraced = _child_metrics(args) if args.trace else None
        res = run_workload(args, run_dir, traced=bool(args.trace))
        report(args, res, untraced)
    except Exception:  # noqa: BLE001 — the entry point reports and exits
        traceback.print_exc()
        return 1
    finally:
        _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


def _stop_jvm() -> None:
    """End the driver JVM (and the Python workers it spawned) and wait
    for it: PySpark leaves it running until this process exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def report(args, res: dict, untraced: dict | None) -> None:
    run, metrics = res["run"], res["metrics"]
    print("# config " + json.dumps(res["config"]))
    summary = run.summary()
    summary["error_rate"] = run.failed / max(run.attempted, 1)
    summary["setup_s"] = metrics["setup_s"]
    for k, v in summary.items():
        print(f"# {args.workload}.{k} = {v}")
    for msg in run.failures[:20]:
        print(f"# failure: {msg}")
    missing = [k for k in E2E if metrics.get(k) is None]
    if missing:
        raise RuntimeError(f"no samples for {missing}")
    if args.trace:
        out = _layer_metrics(args, res, untraced)
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in E2E.items()}
        for k, u in E2E.items():
            alias = ALIASES[args.workload].get(k, k)
            print(f"# {k} ({alias}) = {metrics[k]:.6g} {u}")
    print(json.dumps({"correct": run.failed == 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": out}))


def _layer_metrics(args, res: dict, untraced: dict) -> dict:
    from perfbench import layers
    from perfbench.spans import attribute, read_event_log, self_times

    jobs, execs = read_event_log(res["event_log"])
    spans = res["tracer"].spans
    attribute(spans, jobs, execs)
    for sid, t in self_times(spans).items():
        spans[sid]["self_s"] = t
    vals = layers.compute(spans, jobs, res["run"])
    out = {k: {"value": float(vals[k]), "unit": u}
           for k, (u, _) in layers.PER_LAYER.items()}
    for k, u in E2E.items():
        out[f"trace.overhead.{k}"] = {
            "value": res["metrics"][k] - untraced[k]["value"], "unit": u}
    for k, v in out.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    traces = os.path.join(WORK, "traces")
    os.makedirs(traces, exist_ok=True)
    res["tracer"].dump(
        os.path.join(traces, f"{args.workload}-s{args.seed}-"
                             f"{time.strftime('%Y%m%dT%H%M%S')}.json"),
        jobs, {"config": res["config"], "per_layer": out})
    return out


if __name__ == "__main__":
    sys.exit(main())
