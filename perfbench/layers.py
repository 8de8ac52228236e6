"""Per-layer metrics of a traced run, computed from its spans.

Every name in ``PER_LAYER`` is reported by every traced run; a layer
the workload never calls reads 0 (no calls, no time, no jobs).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from perfbench import gen

#: name → (unit, the end-to-end metric it should move and where).
#: BENCHMARK.json's per_layer list mirrors the names and units.
PER_LAYER = {
    "session.build_s": ("s", "setup_s, both"),
    "api.load_tree.wall_s": ("s", "setup_s, plant_ingest"),
    "api.load_tree.jobs": ("count", "setup_s, plant_ingest"),
    "api.insert_attribute.wall_s": ("s", "setup_s, plant_ingest"),
    "api.insert_attribute.jobs": ("count", "setup_s, plant_ingest"),
    "store.append_archive.wall_s": ("s", "setup_s, plant_ingest"),
    "store.upsert_archive.calls_per_batch": (
        "count", "write_p50_ms and items_per_s, plant_ingest"),
    "store.upsert_archive.wall_ms": ("ms", "write_p50_ms, plant_ingest"),
    "store.upsert_archive.jobs": ("count", "write_p50_ms, plant_ingest"),
    "store.rows_rewritten_per_row_ingested": (
        "ratio", "write_p50_ms and items_per_s, plant_ingest"),
    "store.bytes_written_per_user_byte": (
        "ratio", "write_p50_ms and items_per_s, plant_ingest"),
    "store.archive_files": ("count", "read_p50_ms, plant_ingest"),
    "pi.requests": ("count", "batch_p50_ms (per trigger), plant_ingest"),
    "pi.rows_served": ("count", "batch_p50_ms (per trigger), plant_ingest"),
    "ingest.kept_ratio": ("ratio", "items_per_s, plant_ingest"),
    "derived.process_batch.wall_ms": ("ms", "write_p50_ms, plant_ingest"),
    "derived.process_batch.jobs": ("count", "write_p50_ms, plant_ingest"),
    "derived.formulas_evaluated_per_batch": (
        "count", "write_p50_ms, plant_ingest"),
    "streaming.trigger_overhead_ms": (
        "ms", "batch_p50_ms (per trigger), plant_ingest"),
    "api.get_timeseries.wall_ms": ("ms", "read_p50_ms, plant_ingest"),
    "api.get_timeseries.jobs": ("count", "read_p50_ms, plant_ingest"),
    "api.browse.wall_ms": ("ms", "read_p50_ms, plant_ingest"),
    "api.browse.jobs": ("count", "read_p50_ms, plant_ingest"),
    "api.export.wall_ms": ("ms", "bulk_p50_ms, plant_ingest"),
    "api.export.jobs": ("count", "bulk_p50_ms, plant_ingest"),
    "scan.files_read_per_request": (
        "count", "read_p50_ms and bulk_p50_ms, plant_ingest"),
    "scan.rows_read_per_row_returned": (
        "ratio", "read_p50_ms and bulk_p50_ms, plant_ingest"),
    "lsh.probe.wall_ms": ("ms", "bulk_p50_ms, corpus_index"),
    "lsh.probe.jobs": ("count", "bulk_p50_ms, corpus_index"),
    "lsh.append_frames.wall_ms": ("ms", "write_p50_ms, corpus_index"),
    "lsh.append_frames.jobs": ("count", "write_p50_ms, corpus_index"),
    "bm25.append.wall_ms": ("ms", "write_p50_ms, corpus_index"),
    "bm25.append.jobs": ("count", "write_p50_ms, corpus_index"),
    "ivf.append.wall_ms": ("ms", "write_p50_ms, corpus_index"),
    "ivf.append.jobs": ("count", "write_p50_ms, corpus_index"),
    "hybrid.retrieve.wall_ms": ("ms", "read_p50_ms, corpus_index"),
    "hybrid.retrieve.jobs": ("count", "read_p50_ms, corpus_index"),
    "index.files_before_compact": ("count", "items_per_s, corpus_index"),
    "lsh.compact.wall_ms": ("ms", "items_per_s, corpus_index"),
    "bm25.compact.wall_ms": ("ms", "items_per_s, corpus_index"),
    "ivf.compact.wall_ms": ("ms", "items_per_s, corpus_index"),
    "lsh.build.wall_s": ("s", "setup_s, corpus_index"),
    "bm25.build.wall_s": ("s", "setup_s, corpus_index"),
    "ivf.build.wall_s": ("s", "setup_s, corpus_index"),
    "spark.jobs_per_op": ("count", "every latency metric, both"),
    "spark.in_job_share": ("ratio", "every latency metric, both"),
    "spark.jobs_outside_spans": (
        "count", "batch_p50_ms (per trigger), plant_ingest"),
}

BROWSE = ("op.browse",)
PREVIEW = ("op.preview", "op.dashboard")
#: bytes of one logical archive row: attribute_id, timestamp, value
USER_ROW_BYTES = 24


def _wall(s: dict) -> float:
    return s["end"] - s["start"]


class Spans:
    def __init__(self, spans: list[dict]):
        self.spans = spans

    def named(self, *names) -> list[dict]:
        return [s for s in self.spans if s["name"] in names]

    def median_ms(self, *names) -> float:
        xs = [_wall(s) * 1000.0 for s in self.named(*names)]
        return statistics.median(xs) if xs else 0.0

    def total_s(self, *names) -> float:
        return sum(_wall(s) for s in self.named(*names))

    def mean_jobs(self, *names) -> float:
        xs = [s["jobs"] for s in self.named(*names)]
        return statistics.mean(xs) if xs else 0.0

    def total_jobs(self, *names) -> int:
        return sum(s["jobs"] for s in self.named(*names))


def compute(spans: list[dict], jobs: list[dict], run) -> dict:
    sp = Spans(spans)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["session.build_s"] = sp.total_s("session.build")
    for name in ("api.load_tree", "api.insert_attribute"):
        out[f"{name}.wall_s"] = sp.total_s(name)
        out[f"{name}.jobs"] = sp.total_jobs(name)
    out["store.append_archive.wall_s"] = sp.total_s("store.append_archive")
    for name in ("derived.process_batch", "lsh.append_frames",
                 "bm25.append", "ivf.append"):
        out[f"{name}.wall_ms"] = sp.median_ms(name)
        out[f"{name}.jobs"] = sp.mean_jobs(name)
    for metric, names in (("api.get_timeseries", PREVIEW),
                          ("api.browse", BROWSE),
                          ("api.export", ("op.download",)),
                          ("lsh.probe", ("op.gate",)),
                          ("hybrid.retrieve", ("op.retrieve",))):
        out[f"{metric}.wall_ms"] = sp.median_ms(*names)
        out[f"{metric}.jobs"] = sp.mean_jobs(*names)
    for name in ("lsh", "bm25", "ivf"):
        out[f"{name}.compact.wall_ms"] = sp.median_ms(f"{name}.compact")
        out[f"{name}.build.wall_s"] = sp.total_s(f"{name}.build")

    batches = sp.named("op.batch")
    if batches:
        n = len(batches)
        ups = sp.named("store.upsert_archive")
        ingested = gen.N_TAGS * n
        out["store.upsert_archive.calls_per_batch"] = len(ups) / n
        out["store.upsert_archive.wall_ms"] = sp.median_ms(
            "store.upsert_archive")
        out["store.upsert_archive.jobs"] = sp.mean_jobs(
            "store.upsert_archive")
        out["store.rows_rewritten_per_row_ingested"] = sum(
            s["rows_written"] for s in ups) / ingested
        out["store.bytes_written_per_user_byte"] = sum(
            s["bytes_written"] for s in ups) / (ingested * USER_ROW_BYTES)
        out["derived.formulas_evaluated_per_batch"] = (len(ups) - n) / n
        minutes = {s["minute"] for s in batches}
        calls = [c for c in _pi_calls(run.counter)
                 if minutes.intersection(range(c["minutes"][0],
                                               c["minutes"][1] + 1))]
        served = sum(c["rows"] for c in calls)
        out["pi.requests"] = len(calls) / n
        out["pi.rows_served"] = served / n
        out["ingest.kept_ratio"] = ingested / served if served else 0.0
        over = [r["trigger_ms"] - r["reads_ms"] - r["handler_ms"]
                for r in run.batches.values() if "trigger_ms" in r]
        out["streaming.trigger_overhead_ms"] = (
            statistics.median(over) if over else 0.0)
        out["store.archive_files"] = len(glob.glob(os.path.join(
            run.store_root, "*", "archive", "*", "*.parquet")))
    scans = sp.named(*PREVIEW, "op.download")
    if scans:
        out["scan.files_read_per_request"] = statistics.mean(
            s["files_read"] for s in scans)
        returned = sum(s.get("returned", 0) for s in scans)
        out["scan.rows_read_per_row_returned"] = (
            sum(s["records_read"] for s in scans) / returned
            if returned else 0.0)
    if getattr(run, "compacts", None):
        per_maint = [sum(c["files_before"] for c in run.compacts[i:i + 3])
                     for i in range(0, len(run.compacts), 3)]
        out["index.files_before_compact"] = statistics.mean(per_maint)
    ops = [s for s in spans
           if s["parent"] is None and s["name"].startswith("op.")]
    if ops:
        out["spark.jobs_per_op"] = sum(s["jobs"] for s in ops) / len(ops)
        out["spark.in_job_share"] = (sum(s["job_s"] for s in ops)
                                     / sum(_wall(s) for s in ops))
    out["spark.jobs_outside_spans"] = sum(j["span"] is None for j in jobs)
    return out


def _pi_calls(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]
