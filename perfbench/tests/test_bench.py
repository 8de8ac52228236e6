"""Tests of the benchmark's own machinery (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
from datetime import timedelta

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import gen, oracle  # noqa: E402
from perfbench.corpus import CorpusRun  # noqa: E402
from perfbench.plant import PlantRun  # noqa: E402
from perfbench.spans import Tracer, attribute, self_times  # noqa: E402
from perfbench.stats import tail  # noqa: E402


# ------------------------------------------------- seeded inputs


def _plant_inputs(seed):
    m = gen.PlantModel(seed)
    return (m.tree_json(), m.history_columns()["value"],
            m.wire_minute(gen.REPLAY_START + 3), m.cleansed_minute(
                gen.REPLAY_START), [f["formula"] for f in m.formulas],
            gen.plant_cycles(m, 20))


def test_same_seed_same_plant_inputs():
    a, b, c = _plant_inputs(7), _plant_inputs(7), _plant_inputs(8)
    assert a[0] == b[0] and a[2] == b[2] and a[4:] == b[4:]
    assert np.array_equal(a[1], b[1])
    assert np.array_equal(a[3], b[3], equal_nan=True)
    assert not np.array_equal(a[1], c[1])


def test_wire_has_the_planned_anomalies():
    m = gen.PlantModel(3)
    w = m.wire_minute(gen.REPLAY_START)
    prim = w["primary"]
    assert any(isinstance(v, dict) for v in prim)  # PI error objects
    assert any(v in gen.PI_STATES for v in prim)  # digital states
    assert any(v in ("True", "False") for v in prim)  # booleans
    assert any(d is not None for d in w["dup"])  # re-sent readings
    # the cleansed value keeps the lowest non-NULL duplicate
    i = next(i for i, d in enumerate(w["dup"])
             if d is not None and m.coerce(d) == m.coerce(d)
             and m.coerce(prim[i]) == m.coerce(prim[i]))
    assert m.cleansed_minute(gen.REPLAY_START)[i] == min(
        m.coerce(prim[i]), m.coerce(w["dup"][i]))


def test_same_seed_same_corpus_inputs():
    a, b, c = gen.CorpusModel(5), gen.CorpusModel(5), gen.CorpusModel(6)
    assert a.texts == b.texts and a.batch(1) == b.batch(1)
    assert all(np.array_equal(a.vecs[d], b.vecs[d]) for d in a.vecs)
    qa, qb = a.queries(2, list(range(50))), b.queries(2, list(range(50)))
    assert [q[:2] + q[3:] for q in qa] == [q[:2] + q[3:] for q in qb]
    assert a.texts[0] != c.texts[0]
    planted = [d for d in a.batch(0) if d in a.dup_of]
    assert len(planted) == gen.DUPS_PER_BATCH
    # one substituted token keeps a planted copy above the gate's 0.5
    assert min(oracle.jaccard(oracle.shingles(a.texts[d]),
                              oracle.shingles(a.texts[a.dup_of[d]]))
               for d in planted) > 0.6


# ------------------------------------------------- percentiles


def test_tail_needs_ten_samples_beyond():
    assert tail(range(1, 101), 90) == 90  # 10 samples above rank 90
    assert tail(range(1, 100), 90) is None  # only 9 above
    assert tail(range(1, 41), 75) == 30
    assert tail([], 50) is None


# ------------------------------------------------- spans


def _span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "name": name}


def test_self_time_subtracts_the_union_of_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0),
             _span(2, 0, 2.0, 5.0), _span(3, 0, 8.0, 12.0),
             _span(4, 1, 1.5, 2.5)]
    st = self_times(spans)
    # children cover [1, 5] and [8, 10] (clipped to the parent)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


def test_tracer_nests_and_jobs_land_in_the_innermost_span():
    tr = Tracer(enabled=True)
    with tr.span("op.a"):
        with tr.span("child"):
            pass
    with tr.span("op.b"):
        pass
    a, child, b = tr.spans
    assert child["parent"] == a["id"] and b["parent"] is None
    mid = (child["start"] + child["end"]) / 2 * 1000
    jobs = [{"job_id": 0, "submit_ms": mid, "end_ms": mid + 0.1,
             "records_read": 5},
            {"job_id": 1, "submit_ms": b["end"] * 1000 + 50,
             "end_ms": b["end"] * 1000 + 60, "records_read": 0}]
    attribute(tr.spans, jobs, [])
    assert jobs[0]["span"] == child["id"] and jobs[1]["span"] is None
    assert (a["jobs"], child["jobs"], b["jobs"]) == (1, 1, 0)
    assert a["records_read"] == 5


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("op.x") as rec:
        assert rec is None
    assert tr.spans == []


# ------------------------------------------------- wrong outputs


def _wide_rows(truth, tags, start, end):
    rows = []
    for m in range(start, end + 1):
        vals = [None if np.isnan(v) else float(v)
                for v in truth.raw[m, tags]]
        rows.append(tuple([gen.minute_ts(m)] + vals))
    return rows


def test_wrong_preview_raises_the_error_rate(tmp_path):
    run = PlantRun(2, 1.0, str(tmp_path), Tracer(False), None)
    req = {"tags": [3, 4, 5], "start": 100, "end": 160, "now": 719}
    good = _wide_rows(run.truth, req["tags"], 100, 160)
    bad = list(good)
    bad[7] = bad[7][:1] + (bad[7][1] + 0.5,) + bad[7][2:]
    run.pending = [("preview", req, good), ("dashboard", req, bad)]
    run.attempted = 2
    run.check_outputs()
    assert run.failed == 1 and run.failed / run.attempted == 0.5
    assert "sum" in run.failures[0]


def test_wrong_lexical_candidate_is_caught(tmp_path):
    run = CorpusRun(2, 1.0, str(tmp_path), Tracer(False), None)
    for d in range(gen.N_BASE_DOCS):
        run.bm25_truth.add(d, run.model.texts[d])
    run.live.update(range(gen.N_BASE_DOCS))
    (q, text, _, target), = run.model.queries(0, [11])[:1]
    top = [d for d, _ in run.bm25_truth.topk(text)]
    outsider = next(d for d in range(gen.N_BASE_DOCS) if d not in top)

    def rows(cands):
        return [{"query_id": q, "cand_id": c, "rrf_rank": i + 1,
                 "in_lexical": True} for i, c in enumerate(cands)]

    assert run._check_retrieve([(q, text, None, target)],
                               rows(top)) is None
    assert "BM25" in run._check_retrieve([(q, text, None, target)],
                                         rows(top[:9] + [outsider]))


def test_archive_check_reports_a_wrong_minute(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    m = gen.PlantModel(4)
    truth = oracle.PlantTruth(m)
    truth.add_minutes([gen.REPLAY_START])
    part = tmp_path / "ts_date=2024-03-05"
    part.mkdir()
    n_der = len(m.formulas)
    ids, ts, vals = [], [], []
    for minute in range(gen.REPLAY_START + 1):
        for a in range(gen.N_TAGS + n_der):
            v = (truth.raw[minute, a] if a < gen.N_TAGS
                 else truth.derived[minute, a - gen.N_TAGS])
            if a >= gen.N_TAGS and np.isnan(v):
                continue
            ids.append(a + 1)
            ts.append(gen.DAY0 + timedelta(minutes=minute))
            vals.append(None if np.isnan(v) else float(v))
    def write(values):
        pq.write_table(pa.table({"attribute_id": ids, "timestamp": ts,
                                 "value": values}), part / "part-0.parquet")

    write(vals)
    assert truth.check_archive(str(tmp_path)) == ({}, [])
    write(vals[:-1] + [(vals[-1] or 0.0) + 1.0])  # one wrong live value
    bad, errors = truth.check_archive(str(tmp_path))
    assert errors == [] and list(bad) == [gen.REPLAY_START]


# ------------------------------------------------- the contract file


def test_benchmark_json_lists_what_the_runs_print():
    import json

    from perfbench.layers import PER_LAYER
    from perfbench.run import E2E

    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E
    want = {k: u for k, (u, _) in PER_LAYER.items()}
    want.update({f"trace.overhead.{k}": u for k, u in E2E.items()})
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == want
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
