"""``plant_ingest``: real-time ingest replay plus the web app's reads.

Set-up builds one site store through the public API: ``load_tree`` on
the generated tree (500 tags on 50 leaves of a ragged hierarchy), a
bulk ``append_archive`` of 12 hours of 1-minute history, a formula
added with ``insert_attribute`` (backfilled over the history) and the
PI mapping from ``build_mapping``.

The measured loop is one client, closed loop. The ``pi_batch`` stream
source (benchmark-owned transport) replays one minute of PI readings
per trigger starting at noon of a day partition already holding 720
minutes, so every ``upsert_archive`` rewrites a half-full day — the
system's main real-time cost. Each trigger runs ``cleanse`` then
``DerivedMaintenance.process_batch``; after it, still inside the
trigger, the same client loads a page (a dashboard preview of the last
hour, a preview and a browse call set from the web app's request
sequence, timed together as one read) and makes a download, against
the same store.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle, pi_transport
from perfbench.stats import median, tail

DB = "site"
MIN_TRIGGERS = 2


class PlantRun:
    def __init__(self, seed: int, seconds: float, work: str, tracer,
                 make_session):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.tracer, self.make_session = tracer, make_session
        self.model = gen.PlantModel(seed)
        self.truth = oracle.PlantTruth(self.model)
        self.cycles = gen.plant_cycles(self.model)
        self.failures: list[str] = []
        self.attempted = self.failed = 0
        self.page_ms: list[float] = []
        self.request_ms: dict[str, list[float]] = {}
        self.batches: dict[int, dict] = {}  # epoch → timings
        self.pending: list = []  # (kind, request, output), checked later

    # ------------------------------------------------------ inputs
    def write_inputs(self) -> None:
        """Benchmark-owned input files (not part of set-up time)."""
        os.makedirs(self.work, exist_ok=True)
        self.tree_path = os.path.join(self.work, "tree.json")
        with open(self.tree_path, "w", encoding="utf-8") as fh:
            fh.write(self.model.tree_json())
        self.hist_dir = os.path.join(self.work, "history")
        os.makedirs(self.hist_dir, exist_ok=True)
        cols = self.model.history_columns()
        pq.write_table(pa.table({
            "attribute_id": cols["attribute_id"],
            "timestamp": pa.array(cols["timestamp"],
                                  pa.timestamp("us", tz="UTC")),
            "value": cols["value"]}),
            os.path.join(self.hist_dir, "part-0.parquet"))
        self.store_root = os.path.join(self.work, "store")
        self.counter = os.path.join(self.work, "pi_requests.jsonl")

    # ------------------------------------------------------ set-up
    def setup(self) -> float:
        from industrial_data_pipeline_spark.api import Pipeline
        from industrial_data_pipeline_spark.sources.mapping import (
            build_mapping, mapping_df)
        from industrial_data_pipeline_spark.sources.pi_datasource import (
            PIBatchDataSource)
        from industrial_data_pipeline_spark.streaming.derived import (
            DerivedMaintenance)

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.build"):
            self.spark = spark = self.make_session()
        self.pipe = pipe = Pipeline(spark, self.store_root)
        with tr.span("api.load_tree"):
            counts = pipe.load_tree(DB, self.tree_path)
        if counts != {"element_count": len(self.model.elements),
                      "attribute_count": gen.N_TAGS}:
            raise RuntimeError(f"load_tree returned {counts}")
        with tr.span("store.append_archive"):
            pipe.store.append_archive(DB, spark.read.parquet(self.hist_dir))
        for f in self.model.formulas:
            with tr.span("api.insert_attribute"):
                aid = pipe.insert_attribute(DB, f["element_id"], f["name"],
                                            formula=f["formula"])
            if aid != f["attribute_id"]:
                raise RuntimeError(f"derived id {aid} != "
                                   f"{f['attribute_id']}")
        with tr.span("sources.build_mapping"):
            mapping = build_mapping(pipe.store.element(DB),
                                    pipe.store.attribute(DB),
                                    server=gen.SERVER)
        want = {self.model.pi_path(i): i + 1 for i in range(gen.N_TAGS)}
        for f in self.model.formulas:
            want[self.model.attribute_pi_path(
                f["element_id"], f["name"])] = f["attribute_id"]
        if mapping != want:
            raise RuntimeError("PI mapping differs from the tree")
        self.mapping = mapping_df(spark, mapping)
        self.maint = DerivedMaintenance(spark, pipe.store, DB)
        spark.dataSource.register(PIBatchDataSource)
        start = gen.minute_ts(gen.REPLAY_START)
        self.stream = (
            spark.readStream.format("pi_batch")
            .option("base_url", "https://pi.bench/piwebapi")
            .option("webids", json.dumps(pi_transport.webids()))
            .option("start", start.isoformat())
            .option("end_bound", gen.minute_ts(
                gen.REPLAY_START + 24 * 60).isoformat())
            .option("max_minutes_per_batch", "0")
            .option("transport_factory",
                    "perfbench.pi_transport:make_transport")
            .option("bench_seed", str(self.seed))
            .option("bench_counter", self.counter)
            .load())
        return time.perf_counter() - t0

    # --------------------------------------------------- the loop
    def measure(self) -> None:
        from industrial_data_pipeline_spark.sources.ingest import cleanse

        tr = self.tracer
        if tr.enabled:
            self._trace_upserts()
            tr.wrap(self.pipe, "get_timeseries", "api.get_timeseries")
            tr.wrap(self.maint, "process_batch", "derived.process_batch")
        done = threading.Event()
        deadline = time.perf_counter() + self.seconds

        def handle(batch, epoch_id: int) -> None:
            # the first MIN_TRIGGERS triggers and their reads always
            # run, so every metric has samples however slow the program
            warm = len(self.batches) < MIN_TRIGGERS
            if time.perf_counter() >= deadline and not warm:
                done.set()
                return
            minute = gen.REPLAY_START + int(epoch_id)
            rec = {"minute": minute}
            self.batches[int(epoch_id)] = rec
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("op.batch", minute=minute):
                    with tr.span("ingest.cleanse"):
                        rows = cleanse(batch, self.mapping,
                                       tz_shift_hours=0)
                    self.maint.process_batch(rows, epoch_id)
            except Exception as exc:  # noqa: BLE001 — counted, reported
                self.failures.append(f"batch {minute}: {exc!r}")
                self.failed += 1
                rec["failed"] = True
                done.set()
                raise
            t1 = time.perf_counter()
            rec["handler_ms"] = (t1 - t0) * 1000.0
            r = self.cycles[len(self.batches) - 1]
            if warm or time.perf_counter() < deadline:
                with tr.span("op.page"):
                    ok = all([self._op("dashboard", self._dashboard(minute)),
                              self._op("preview", r["preview"]),
                              self._op("browse", r["browse"])])
                if ok:
                    self.page_ms.append((time.perf_counter() - t1) * 1000.0)
            if warm or time.perf_counter() < deadline:
                self._op("download", r["download"])
            rec["reads_ms"] = (time.perf_counter() - t1) * 1000.0

        query = (self.stream.writeStream.foreachBatch(handle)
                 .option("checkpointLocation",
                         os.path.join(self.work, "checkpoint"))
                 .outputMode("update").start())
        try:
            while not done.wait(0.1):
                if not query.isActive:
                    break
        finally:
            progress = query.recentProgress
            query.stop()
        for p in progress:
            rec = self.batches.get(p["batchId"])
            if rec is not None and "handler_ms" in rec:
                rec["trigger_ms"] = p["durationMs"]["triggerExecution"]

    def _dashboard(self, minute: int) -> dict:
        """The control-room chart: up to 8 tags of one element over the
        last hour, ending at the minute just ingested."""
        el = self.model.leaves[minute % len(self.model.leaves)]
        return {"tags": el.tags[:8], "start": minute - 59, "end": minute}

    def _op(self, kind: str, req: dict) -> bool:
        """One client request; its latency, or its failure, is recorded
        and its output kept for checking after the window."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}") as rec:
                out = getattr(self, f"_{kind}_call")(req, rec)
        except Exception as exc:  # noqa: BLE001 — counted, reported
            self.failures.append(f"{kind}: {exc!r}")
            self.failed += 1
            return False
        self.request_ms.setdefault(kind, []).append(
            (time.perf_counter() - t0) * 1000.0)
        self.pending.append((kind, dict(req, now=self.last_minute()), out))
        return True

    def _wide(self, req: dict, rec):
        ids = [t + 1 for t in req["tags"]]
        res = self.pipe.get_timeseries(DB, ids, gen.ts_str(req["start"]),
                                       gen.ts_str(req["end"]))
        with self.tracer.span("collect"):
            out = res.collect()
        if rec is not None:
            rec["returned"] = len(out) * len(ids)
        return out

    _dashboard_call = _preview_call = _wide

    def _browse_call(self, req: dict, rec):
        p = self.pipe
        return {
            "exact": p.lookup(DB, req["exact"]).collect(),
            "like": p.lookup(DB, req["like"]).collect(),
            "attributes": p.all_attributes(DB, req["element_id"]).collect(),
            "leaves": p.leaf_elements(DB).collect(),
            "range": p.timestamp_range(DB, req["tag"] + 1),
        }

    def _download_call(self, req: dict, rec):
        path = os.path.join(self.work, "exports", f"dl-{len(self.pending)}")
        res = self.pipe.export(DB, [t + 1 for t in req["tags"]], path,
                               fmt=req["fmt"],
                               start=gen.ts_str(req["start"]),
                               end=gen.ts_str(req["end"]))
        if rec is not None:
            rec["returned"] = res["rows"] * len(req["tags"])
        return dict(res, path=path)

    def last_minute(self) -> int:
        done = [r["minute"] for r in self.batches.values()
                if "handler_ms" in r]
        return max(done) if done else gen.HISTORY_MINUTES - 1

    def _trace_upserts(self) -> None:
        """Span each ``upsert_archive`` and record what it rewrote: the
        rows and bytes of the archive files it left behind."""
        store, tr = self.pipe.store, self.tracer
        fn = store.upsert_archive
        arch = os.path.join(self.store_root, DB, "archive")

        def traced(*args, **kwargs):
            t0 = time.time_ns()
            with tr.span("store.upsert_archive") as rec:
                out = fn(*args, **kwargs)
            rows = size = 0
            for f in glob.glob(f"{arch}/ts_date=*/*.parquet"):
                st = os.stat(f)
                if st.st_mtime_ns >= t0:
                    rows += pq.ParquetFile(f).metadata.num_rows
                    size += st.st_size
            rec.update(rows_written=rows, bytes_written=size)
            return out

        store.upsert_archive = traced

    # --------------------------------------------------- checking
    def check(self) -> None:
        """Compare every output with the independent truth; a wrong
        output counts as a failed operation."""
        processed = sorted(r["minute"] for r in self.batches.values()
                           if "handler_ms" in r and not r.get("failed"))
        self.truth.add_minutes(processed)
        bad_minutes, errs = self.truth.check_archive(
            os.path.join(self.store_root, DB, "archive"))
        self.failures += list(bad_minutes.values()) + errs
        # a wrong live minute fails its batch; the archive-wide checks
        # (history rows, stray minutes) are one more operation
        self.attempted += 1
        self.failed += len(bad_minutes) + bool(errs)
        self.check_outputs()

    def check_outputs(self) -> None:
        for kind, req, out in self.pending:
            msg = self._check_op(kind, req, out)
            if msg:
                self.failures.append(f"{kind}: {msg}")
                self.failed += 1

    def _check_op(self, kind: str, req: dict, out) -> str | None:
        if kind == "download":
            return self._check_download(req, out)
        if kind != "browse":
            return check_wide(out, self.truth.window(
                req["tags"], req["start"], req["end"]),
                gen.minute_ts(req["start"]), gen.minute_ts(req["end"]))
        m = self.model
        want = next(e.element_id for e in m.elements
                    if e.name == req["exact"])
        if [r["element_id"] for r in out["exact"]] != [want]:
            return f"lookup {req['exact']!r}"
        rx = oracle.like_regex(req["like"].lower())
        if len(out["like"]) != sum(1 for e in m.elements
                                   if rx.match(e.name.lower())):
            return f"lookup {req['like']!r}"
        el = m.elements[req["element_id"] - 1]
        if len(out["attributes"]) != len(el.tags) + sum(
                f["element_id"] == el.element_id for f in m.formulas):
            return f"all_attributes {el.element_id}"
        top = max(e.level for e in m.elements)
        if [r["name"] for r in out["leaves"]] != sorted(
                e.name for e in m.elements
                if e.parent_id is None or e.level == top):
            return "leaf_elements"
        if tuple(out["range"]) != (gen.minute_ts(0),
                                   gen.minute_ts(req["now"])):
            return f"timestamp_range {out['range']}"
        return None

    def _check_download(self, req: dict, res: dict) -> str | None:
        want = self.truth.window(req["tags"], req["start"], req["end"])
        cols = len(req["tags"]) + 1
        if res["rows"] != want["rows"] or res["columns"] != cols:
            return (f"returned {res['rows']}x{res['columns']} != "
                    f"{want['rows']}x{cols}")
        if req["fmt"] == "csv":
            import pandas as pd
            (part,) = glob.glob(os.path.join(res["path"], "part-*.csv"))
            vals = pd.read_csv(part).drop(columns=["timestamp"]).to_numpy(
                dtype=float)
        else:
            tbl = pq.read_table(res["path"]).drop(["timestamp"])
            vals = np.column_stack([c.to_numpy(zero_copy_only=False)
                                    .astype(float) for c in tbl.columns])
        if vals.shape != (want["rows"], cols - 1):
            return f"file shape {vals.shape}"
        cells = int(np.count_nonzero(~np.isnan(vals)))
        if cells != want["cells"] or not oracle.close(
                float(np.nansum(vals)), want["sum"]):
            return "file values differ"
        return None

    # --------------------------------------------------- results
    def trigger_ms(self) -> list[float]:
        """Per-trigger duration without the client's reads."""
        return [r["trigger_ms"] - r["reads_ms"]
                for r in self.batches.values()
                if "trigger_ms" in r and "reads_ms" in r]

    def metrics(self) -> dict:
        """The write side is the batch's own work, ``cleanse`` plus
        ``process_batch``: a run sees few triggers, and the first also
        carries the stream's one-off start-up, which the per-trigger
        duration in :meth:`summary` keeps."""
        work = [r["handler_ms"] for r in self.batches.values()
                if "handler_ms" in r]
        return {
            "read_p50_ms": median(self.page_ms),
            "write_p50_ms": median(work),
            "bulk_p50_ms": median(self.request_ms.get("download", [])),
            "items_per_s": (gen.N_TAGS * len(work) / (sum(work) / 1000.0)
                            if work else None),
        }

    def summary(self) -> dict:
        """The workload's own metric names, with sample counts."""
        m, req = self.metrics(), self.request_ms
        return {
            "read_p50_ms": m["read_p50_ms"],
            "read_p90_ms": tail(self.page_ms, 90),
            "preview_p50_ms": median(req.get("dashboard", [])
                                     + req.get("preview", [])),
            "browse_p50_ms": median(req.get("browse", [])),
            "download_p50_ms": m["bulk_p50_ms"],
            "batch_p50_ms": median(self.trigger_ms()),
            "process_p50_ms": m["write_p50_ms"],
            "ingest_rows_per_s": m["items_per_s"],
            "n_pages": len(self.page_ms),
            "n_downloads": len(req.get("download", [])),
            "n_batches": len(self.trigger_ms()),
        }


def check_wide(rows, want: dict, first, last) -> str | None:
    """A collected wide frame against the expected rows, non-NULL cell
    count, value sum and first/last timestamps."""
    if len(rows) != want["rows"]:
        return f"{len(rows)} rows != {want['rows']}"
    if rows and (rows[0][0] != first or rows[-1][0] != last):
        return f"time range {rows[0][0]}..{rows[-1][0]}"
    vals = [v for r in rows for v in list(r)[1:] if v is not None]
    if len(vals) != want["cells"]:
        return f"{len(vals)} cells != {want['cells']}"
    if not oracle.close(float(sum(vals)), want["sum"]):
        return f"sum {sum(vals)} != {want['sum']}"
    return None
