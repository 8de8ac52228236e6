"""Benchmark-owned PI Web API transport for the ``pi_batch`` source.

Named to the data source as ``perfbench.pi_transport:make_transport``;
Spark resolves and calls it in its own Python process, so the plant is
rebuilt here from ``bench_seed`` and every request is counted by
appending one JSON line to ``bench_counter``.
"""

from __future__ import annotations

import json
import re
from datetime import datetime

from perfbench.gen import DAY0, N_TAGS, N_UNMAPPED, PlantModel, minute_ts

_RES = re.compile(r"/streamsets/([^/]+)/interpolated\?startTime=([^&]+)"
                  r"&endTime=([^&]+)")


def _minute(iso: str) -> int:
    t = datetime.fromisoformat(iso.rstrip("Z"))
    return int((t - DAY0).total_seconds() // 60)


def make_transport(options: dict):
    model = PlantModel(int(options["bench_seed"]))
    counter = options["bench_counter"]

    def transport(method: str, url: str, body: dict | None = None):
        if method != "POST" or not url.endswith("/batch"):
            raise ValueError(f"unexpected PI call {method} {url}")
        out, rows, wires, span = {}, 0, {}, None
        for name, req in (body or {}).items():
            webid, lo, hi = _RES.search(req["resource"]).groups()
            span = [_minute(lo), _minute(hi)]
            items = []
            for m in range(span[0], span[1] + 1):
                ts = minute_ts(m).strftime("%Y-%m-%dT%H:%M:%SZ")
                if webid.startswith("X"):
                    k = int(webid[1:])
                    items.append({"Timestamp": ts,
                                  "Value": model.unmapped_value(k, m)})
                    continue
                tag = int(webid[1:])
                if m not in wires:
                    wires[m] = model.wire_minute(m)
                w = wires[m]
                items.append({"Timestamp": ts,
                              "Value": w["primary"][tag]})
                if w["dup"][tag] is not None:
                    items.append({"Timestamp": ts,
                                  "Value": w["dup"][tag]})
            path = (model.unmapped_path(int(webid[1:]))
                    if webid.startswith("X")
                    else model.pi_path(int(webid[1:])))
            rows += len(items)
            out[name] = {"Status": 200, "Content": {"Items": [
                {"Path": path, "Items": items}]}}
        with open(counter, "a", encoding="utf-8") as fh:
            fh.write(json.dumps({"streams": len(out), "rows": rows,
                                 "minutes": span}) + "\n")
        return out

    return transport


def webids() -> dict[str, str]:
    """The tag → WebId map the benchmark hands the source: mapped tags
    are ``W<tag index>``, unmapped spares ``X<k>``."""
    ids = {f"tag{i}": f"W{i}" for i in range(N_TAGS)}
    ids.update({f"spare{k}": f"X{k}" for k in range(N_UNMAPPED)})
    return ids
