"""Spans around public calls, and Spark jobs attributed to them.

The traced run records one root span per benchmark operation and one
child span per wrapped public call (name, start, end, parent), keeps
them in memory and writes them out at exit. Spark jobs come from the
event log, which only the traced run enables: with one client, each
job's submission time falls inside exactly one innermost span window.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every method a
    pass-through, so the timed run pays nothing for it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {"name": name, "parent": stack[-1] if stack else None,
               "start": time.time(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` (on this instance only) with a version
        that runs inside a span called ``name``."""
        if not self.enabled:
            return
        fn = getattr(obj, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, traced)

    def dump(self, path: str, jobs: list[dict], extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "jobs": jobs, **extra}, fh)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in kids.get(s["id"], [])
            if c["end"] > s["start"] and c["start"] < s["end"])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def depths(spans: list[dict]) -> dict[int, int]:
    d = {}
    for s in spans:  # parents always precede children
        d[s["id"]] = 0 if s["parent"] is None else d[s["parent"]] + 1
    return d


def innermost(spans: list[dict], t_ms: float, depth: dict[int, int],
              slack_ms: float = 1.0) -> int | None:
    """The deepest span whose window holds ``t_ms`` (the event log
    stamps whole milliseconds, hence the slack); the later-starting one
    on a tie. ``depth`` comes from :func:`depths`."""
    best = None
    for s in spans:
        if s["start"] * 1000 - slack_ms <= t_ms <= s["end"] * 1000 + slack_ms:
            key = (depth[s["id"]], s["start"])
            if best is None or key > best[0]:
                best = (key, s["id"])
    return None if best is None else best[1]


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, sql executions) from every event log under ``log_dir``.

    jobs: {job_id, submit_ms, end_ms, records_read, bytes_read};
    executions: {start_ms, files_read}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    execs: dict[int, dict] = {}
    files_acc: set[int] = set()
    acc_updates: list[tuple[int, int, int]] = []

    def scan_plan(node):
        for m in node.get("metrics", []):
            if m.get("name") == "number of files read":
                files_acc.add(m["accumulatorId"])
        for c in node.get("children", []):
            scan_plan(c)

    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "job_id": ev["Job ID"],
                        "submit_ms": ev["Submission Time"],
                        "end_ms": None, "records_read": 0,
                        "bytes_read": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    inp = (ev.get("Task Metrics") or {}).get(
                        "Input Metrics") or {}
                    if job is not None:
                        job["records_read"] += inp.get("Records Read", 0)
                        job["bytes_read"] += inp.get("Bytes Read", 0)
                elif kind == "SparkListenerSQLExecutionStart":
                    execs[ev["executionId"]] = {"start_ms": ev["time"],
                                                "files_read": 0}
                    scan_plan(ev["sparkPlanInfo"])
                elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                    scan_plan(ev["sparkPlanInfo"])
                elif kind == "SparkListenerDriverAccumUpdates":
                    for acc, val in ev["accumUpdates"]:
                        acc_updates.append((ev["executionId"], acc, val))
    for eid, acc, val in acc_updates:
        if acc in files_acc and eid in execs:
            execs[eid]["files_read"] += val
    for j in jobs.values():
        if j["end_ms"] is None:
            j["end_ms"] = j["submit_ms"]
    return sorted(jobs.values(), key=lambda j: j["job_id"]), \
        list(execs.values())


def attribute(spans: list[dict], jobs: list[dict],
              execs: list[dict]) -> None:
    """Set ``span`` on every job and execution (None = outside all
    spans), and per-span ``jobs``/``job_s``/``records_read``/
    ``files_read`` totals over each span's whole subtree."""
    for s in spans:
        s.update(jobs_self=0, jobs=0, job_intervals=[], records_read=0,
                 files_read=0)
    by_id = {s["id"]: s for s in spans}
    depth = depths(spans)

    def ancestors(sid):
        while sid is not None:
            yield by_id[sid]
            sid = by_id[sid]["parent"]

    for j in jobs:
        j["span"] = innermost(spans, j["submit_ms"], depth)
        if j["span"] is None:
            continue
        by_id[j["span"]]["jobs_self"] += 1
        for s in ancestors(j["span"]):
            s["jobs"] += 1
            s["records_read"] += j["records_read"]
            s["job_intervals"].append(
                (max(j["submit_ms"] / 1000.0, s["start"]),
                 min(j["end_ms"] / 1000.0, s["end"])))
    for e in execs:
        e["span"] = innermost(spans, e["start_ms"], depth)
        if e["span"] is not None:
            for s in ancestors(e["span"]):
                s["files_read"] += e["files_read"]
    for s in spans:
        s["job_s"] = union_length(
            (a, b) for a, b in s.pop("job_intervals") if b > a)


def jobs_per_span(path: str) -> list[tuple[str, int]]:
    """(name, subtree job count) per span of a dumped trace, in span
    order — what two traced runs of one seed must agree on."""
    with open(path, encoding="utf-8") as fh:
        return [(s["name"], s["jobs"]) for s in json.load(fh)["spans"]]
