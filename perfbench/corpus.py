"""``corpus_index``: the stored-index lifecycle of the LLM-data layer.

Set-up builds a stored MinHash-LSH, BM25 and IVF index over a seeded
2,000-document Zipf-vocabulary corpus with topic-clustered 32-d
embeddings. Each step of the closed loop (one client) offers a
100-document batch holding 20 planted near-duplicates:

- gate: ``StoredLshIndex.probe`` against the stored bands;
- admit: the survivors go to all three indexes;
- probe: ``RETRIEVES_PER_STEP`` batches of ``HybridRetriever.retrieve``.

After every step all three indexes compact and retract five
documents.
"""

from __future__ import annotations

import time

from perfbench import gen, oracle
from perfbench.stats import median

RETRIEVES_PER_STEP = 1
GATE_RECALL_FLOOR = 0.8
HIT_RATE_FLOOR = 0.8
DENSE_RECALL_FLOOR = 0.6
SCHEMA = "doc_id long, text string, emb array<double>"


class CorpusRun:
    def __init__(self, seed: int, seconds: float, work: str, tracer,
                 make_session):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.tracer, self.make_session = tracer, make_session
        self.model = gen.CorpusModel(seed)
        self.bm25_truth = oracle.Bm25Truth()
        self.live: set[int] = set()
        self.failures: list[str] = []
        self.attempted = self.failed = 0
        self.gate_ms: list[float] = []
        self.admit_ms: list[float] = []
        self.probe_ms: list[float] = []
        self.maint_ms: list[float] = []
        self.compacts: list[dict] = []
        self.planted = self.planted_found = 0
        self.queries = self.hits = 0

    def write_inputs(self) -> None:
        self.root = f"{self.work}/indexes"

    def _rows(self, ids) -> list[tuple]:
        m = self.model
        return [(int(d), m.texts[d], [float(x) for x in m.vecs[d]])
                for d in ids]

    # ------------------------------------------------------ set-up
    def setup(self) -> float:
        from industrial_data_pipeline_spark.operators.bm25_index import (
            StoredBm25Index)
        from industrial_data_pipeline_spark.operators.lsh_index import (
            StoredLshIndex)
        from industrial_data_pipeline_spark.operators.retrieval import (
            HybridRetriever)
        from industrial_data_pipeline_spark.operators.similarity import (
            StoredIvfIndex)

        base_ids = range(gen.N_BASE_DOCS)
        rows = self._rows(base_ids)
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.build"):
            self.spark = spark = self.make_session()
        corpus = spark.createDataFrame(rows, SCHEMA)
        self.lsh = StoredLshIndex(spark, f"{self.root}/lsh")
        self.bm25 = StoredBm25Index(spark, f"{self.root}/bm25")
        self.ivf = StoredIvfIndex(spark, f"{self.root}/ivf",
                                  id_col="doc_id", vec_col="emb")
        for name, idx in (("lsh", self.lsh), ("bm25", self.bm25),
                          ("ivf", self.ivf)):
            with tr.span(f"{name}.build"):
                idx.build(corpus)
        self.hybrid = HybridRetriever(self.bm25, self.ivf)
        setup_s = time.perf_counter() - t0
        for d in base_ids:
            self.bm25_truth.add(d, self.model.texts[d])
        self.live.update(base_ids)
        return setup_s

    # --------------------------------------------------- the loop
    def measure(self) -> None:
        deadline = time.perf_counter() + self.seconds
        step = 0
        self.step_s = 0.0
        self.offered = 0
        # the first step always runs, so every metric has a sample
        # however slow the program gets
        while time.perf_counter() < deadline or step == 0:
            t0 = time.perf_counter()
            self._step(step)
            self._maintain(step)
            self.step_s += time.perf_counter() - t0
            step += 1
        self.steps = step

    def _timed(self, name: str, sink: list, fn):
        """Run one operation; its latency lands in ``sink`` unless it
        raised (then it counts as failed and returns None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{name}"):
                out = fn()
        except Exception as exc:  # noqa: BLE001 — counted, reported
            self.failures.append(f"{name}: {exc!r}")
            self.failed += 1
            return None
        sink.append((time.perf_counter() - t0) * 1000.0)
        return out

    def _step(self, step: int) -> None:
        from pyspark.sql import functions as F

        spark, tr, m = self.spark, self.tracer, self.model
        ids = m.batch(step)
        batch = spark.createDataFrame(self._rows(ids), SCHEMA)
        self.offered += len(ids)

        def gate():
            with tr.span("lsh.probe"):
                res = self.lsh.probe(batch)
            with tr.span("collect"):
                return res.collect()

        pairs = self._timed("gate", self.gate_ms, gate)
        if pairs is None:
            return
        self._check_gate(ids, pairs)
        flagged = {r["new_id"] for r in pairs}
        survivors = [d for d in ids if d not in flagged]
        sdf = batch.where(F.col("doc_id").isin(survivors))

        def admit():
            with tr.span("lsh.signature_frames"):
                bands, shingles = self.lsh.signature_frames(sdf)
            with tr.span("lsh.append_frames"):
                self.lsh.append_frames(bands, shingles)
            with tr.span("bm25.append"):
                self.bm25.append(sdf)
            with tr.span("ivf.append"):
                self.ivf.append(sdf)
            return True

        if self._timed("admit", self.admit_ms, admit) is None:
            return
        for d in survivors:
            self.bm25_truth.add(d, m.texts[d])
        self.live.update(survivors)
        targets = sorted(d for d in self.live
                         if not (gen.N_BASE_DOCS - gen.RETRACT_POOL
                                 <= d < gen.N_BASE_DOCS))
        for r in range(RETRIEVES_PER_STEP):
            qs = m.queries(step * RETRIEVES_PER_STEP + r, targets)
            self._retrieve(qs)

    def _retrieve(self, qs) -> None:
        qdict = {q: text for q, text, _, _ in qs}
        qv = self.spark.createDataFrame(
            [(q, [float(x) for x in v]) for q, _, v, _ in qs],
            "doc_id long, emb array<double>")

        def retrieve():
            with self.tracer.span("hybrid.retrieve"):
                res = self.hybrid.retrieve(qdict, qv, k=10)
            with self.tracer.span("collect"):
                return res.collect()

        out = self._timed("retrieve", self.probe_ms, retrieve)
        if out is None:
            return
        msg = self._check_retrieve(qs, out)
        if msg:
            self.failures.append(f"retrieve: {msg}")
            self.failed += 1
        self.last_queries = qs

    def _maintain(self, k: int) -> None:
        tr = self.tracer
        doomed = [d for d in self.model.retractions(k) if d in self.live]

        def maintain():
            for name, idx in (("lsh", self.lsh), ("bm25", self.bm25),
                              ("ivf", self.ivf)):
                with tr.span(f"{name}.compact"):
                    self.compacts.append(idx.compact())
            for name, idx in (("lsh", self.lsh), ("bm25", self.bm25),
                              ("ivf", self.ivf)):
                with tr.span(f"{name}.retract"):
                    idx.retract(doomed)
            return True

        if self._timed("maintain", self.maint_ms, maintain) is None:
            return
        for d in doomed:
            self.bm25_truth.remove(d)
            self.live.discard(d)

    # --------------------------------------------------- checking
    def _check_gate(self, ids: list[int], pairs) -> None:
        m = self.model
        bad = []
        for r in pairs:
            new, old, sim = r["new_id"], r["old_id"], r["jaccard_sim"]
            want = round(oracle.jaccard(oracle.shingles(m.texts[new]),
                                        oracle.shingles(m.texts[old])), 6)
            if (new not in ids or old not in self.live
                    or abs(sim - want) > 1e-6 or sim < 0.5):
                bad.append((new, old, sim, want))
        if bad:
            self.failures.append(f"gate: wrong pairs {bad[:3]}")
            self.failed += 1
        flagged = {r["new_id"] for r in pairs}
        planted = [d for d in ids if d in m.dup_of]
        self.planted += len(planted)
        self.planted_found += sum(d in flagged for d in planted)

    def _check_retrieve(self, qs, out) -> str | None:
        by_q: dict[int, list] = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, text, _, target in qs:
            rows = sorted(by_q.get(q, []), key=lambda r: r["rrf_rank"])
            if [r["rrf_rank"] for r in rows] != list(
                    range(1, len(rows) + 1)) or not rows:
                return f"query {q}: ranks {[r['rrf_rank'] for r in rows]}"
            cands = {r["cand_id"] for r in rows}
            if cands - self.live:
                return f"query {q}: dead docs {sorted(cands - self.live)}"
            lex = {d for d, _ in self.bm25_truth.topk(text)}
            wrong = {r["cand_id"] for r in rows if r["in_lexical"]} - lex
            if wrong:
                return f"query {q}: not in the BM25 top-10 {sorted(wrong)}"
            self.queries += 1
            self.hits += target in cands
        return None

    def check(self) -> None:
        """Untimed, on the final index state: the lexical leg exactly,
        the dense leg's recall@10 and the run's planted-duplicate recall
        and retrieval hit rate against their floors."""
        qs = getattr(self, "last_queries", None)
        self.attempted += 2
        if qs is None:
            self.failures.append("no retrieval completed")
            self.failed += 2
            return
        got = {}
        for r in self.bm25.probe({q: t for q, t, _, _ in qs},
                                 k=10).collect():
            got.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["bm25"]))
        for q, text, _, _ in qs:
            have = [(d, s) for _, d, s in sorted(got.get(q, []))]
            if not oracle.same_ranking(have, self.bm25_truth.topk(text)):
                self.failures.append(f"lexical leg differs for query {q}")
                self.failed += 1
                break
        qv = self.spark.createDataFrame(
            [(q, [float(x) for x in v]) for q, _, v, _ in qs],
            "doc_id long, emb array<double>")
        dense = {}
        for r in self.ivf.probe_batch(qv, k=10).collect():
            dense.setdefault(r["query_id"], set()).add(r["vec_id"])
        vecs = {d: self.model.vecs[d] for d in self.live}
        found = total = 0
        for q, _, v, _ in qs:
            exact = oracle.cosine_topk(vecs, v)
            found += len(dense.get(q, set()) & set(exact))
            total += len(exact)
        self.dense_recall = found / total
        if self.dense_recall < DENSE_RECALL_FLOOR:
            self.failures.append(f"dense recall {self.dense_recall:.2f}")
            self.failed += 1
        for name, got_, n, floor in (
                ("planted-duplicate recall", self.planted_found,
                 self.planted, GATE_RECALL_FLOOR),
                ("retrieval hit rate", self.hits, self.queries,
                 HIT_RATE_FLOOR)):
            self.attempted += 1
            if n == 0 or got_ / n < floor:
                self.failures.append(f"{name} {got_}/{n} < {floor}")
                self.failed += 1

    # --------------------------------------------------- results
    def metrics(self) -> dict:
        return {
            "read_p50_ms": median(self.probe_ms),
            "write_p50_ms": median(self.admit_ms),
            "bulk_p50_ms": median(self.gate_ms),
            "items_per_s": (self.offered / self.step_s
                            if self.step_s else None),
        }

    def summary(self) -> dict:
        return {
            "gate_p50_ms": median(self.gate_ms),
            "admit_p50_ms": median(self.admit_ms),
            "probe_p50_ms": median(self.probe_ms),
            "maintain_p50_ms": median(self.maint_ms),
            "docs_per_s": self.metrics()["items_per_s"],
            "n_steps": self.steps,
            "n_retrievals": len(self.probe_ms),
            "planted_recall": (self.planted_found / self.planted
                               if self.planted else None),
            "hit_rate": self.hits / self.queries if self.queries else None,
            "dense_recall": getattr(self, "dense_recall", None),
        }
