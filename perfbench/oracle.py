"""Independent expected outputs (numpy / DuckDB / plain Python).

Nothing here calls the package: plant expectations come from the
generator's known values and the cleansing/formula rules restated in
numpy; corpus expectations from exact Jaccard, BM25 and cosine.
"""

from __future__ import annotations

import calendar
import glob
import math
import re

import numpy as np

from perfbench.gen import (
    DAY0,
    HISTORY_MINUTES,
    N_TAGS,
    REPLAY_START,
    PlantModel,
)

REL_TOL = 1e-9


def close(a: float, b: float, rel: float = REL_TOL,
          abs_tol: float = 1e-6) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=abs_tol)


def like_regex(pattern: str) -> re.Pattern:
    """SQL LIKE (``%`` any run, ``_`` one char), anchored."""
    out = "".join(".*" if c == "%" else "." if c == "_" else re.escape(c)
                  for c in pattern)
    return re.compile(out + r"\Z", re.S)


class PlantTruth:
    """Known archive content: history plus every replayed minute."""

    def __init__(self, model: PlantModel):
        self.model = model
        minutes = np.arange(HISTORY_MINUTES)
        self.raw = model.clean_values(np.arange(N_TAGS)[None, :],
                                      minutes[:, None])
        self.derived = model.derived_values(self.raw)
        self.live_minutes: list[int] = []

    def add_minutes(self, minutes: list[int]) -> None:
        """Extend the truth by live minutes, which must continue the
        history without gaps."""
        for m in minutes:
            if m != HISTORY_MINUTES + len(self.live_minutes):
                raise ValueError(f"live minute {m} is not contiguous")
            row = self.model.cleansed_minute(m)[None, :]
            self.raw = np.vstack([self.raw, row])
            self.derived = np.vstack(
                [self.derived, self.model.derived_values(row)])
            self.live_minutes.append(m)

    def window(self, tags: list[int], start: int, end: int) -> dict:
        """Expected wide result of raw ``tags`` over [start, end]: rows,
        non-NULL cell count and value sum."""
        block = self.raw[start:end + 1, tags]
        return {"rows": block.shape[0],
                "cells": int(np.count_nonzero(~np.isnan(block))),
                "sum": float(np.nansum(block))}

    # ------------------------------------------------ final archive
    def check_archive(self, archive_dir: str
                      ) -> tuple[dict[int, str], list[str]]:
        """Compare the stored archive (read with DuckDB, not Spark)
        with the truth. Returns ({live minute: what is wrong}, [errors
        of the archive as a whole])."""
        import duckdb

        files = glob.glob(f"{archive_dir}/ts_date=*/*.parquet")
        con = duckdb.connect()
        try:
            rel = con.execute(
                "SELECT attribute_id, "
                "  (epoch(CAST(timestamp AS TIMESTAMP)) - ?) // 60 AS m,"
                "  value "
                "FROM read_parquet(?, hive_partitioning = true)",
                [calendar.timegm(DAY0.timetuple()), files]).fetchnumpy()
        finally:
            con.close()
        ids = rel["attribute_id"].astype(np.int64)
        mins = rel["m"].astype(np.int64)
        vals = np.asarray(rel["value"], dtype=np.float64)
        if np.ma.isMaskedArray(rel["value"]):
            vals = np.where(rel["value"].mask, np.nan,
                            rel["value"].filled(0.0))
        errors, bad_minutes = [], {}
        n_hist = int(np.count_nonzero(mins < REPLAY_START))
        want_hist = REPLAY_START * (N_TAGS + self.derived.shape[1])
        if n_hist != want_hist:
            errors.append(f"history rows {n_hist} != {want_hist}")
        live = mins >= REPLAY_START
        extra = set(mins[live]) - set(self.live_minutes)
        if extra:
            errors.append(f"rows at unprocessed minutes {sorted(extra)}")
        n_der = self.derived.shape[1]
        for m in self.live_minutes:
            sel = live & (mins == m)
            got = dict(zip(ids[sel].tolist(), vals[sel].tolist()))
            want = {i + 1: self.raw[m, i] for i in range(N_TAGS)}
            for k in range(n_der):
                if not np.isnan(self.derived[m, k]):
                    want[N_TAGS + 1 + k] = self.derived[m, k]
            bad = set(got) ^ set(want)
            for aid, w in want.items():
                g = got.get(aid)
                if g is None:
                    continue
                if np.isnan(w) != np.isnan(g) or (
                        not np.isnan(w) and not close(g, w)):
                    bad.add(aid)
            if bad:
                bad_minutes[m] = (f"minute {m}: {len(bad)} wrong "
                                  f"attributes, e.g. {sorted(bad)[:5]}")
        return bad_minutes, errors


# ------------------------------------------------------------ corpus


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct word k-grams (whitespace tokens, case kept)."""
    toks = text.split()
    if len(toks) <= k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


class Bm25Truth:
    """Okapi BM25 (k1 = 1.2, b = 0.75) over the live document set, with
    per-term contributions and the sum rounded to 6 places and ties
    broken by the lower doc id."""

    def __init__(self, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.docs: dict[int, list[str]] = {}
        self.postings: dict[str, dict[int, int]] = {}

    def add(self, doc_id: int, text: str) -> None:
        toks = text.lower().split()
        self.docs[doc_id] = toks
        for t in set(toks):
            self.postings.setdefault(t, {})[doc_id] = toks.count(t)

    def remove(self, doc_id: int) -> None:
        for t in set(self.docs.pop(doc_id, [])):
            self.postings[t].pop(doc_id, None)

    def topk(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        n = len(self.docs)
        avgdl = sum(len(d) for d in self.docs.values()) / n
        scores: dict[int, float] = {}
        for t in sorted(set(query.lower().split())):
            post = self.postings.get(t, {})
            if not post:
                continue
            df = len(post)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d, tf in post.items():
                dl = len(self.docs[d])
                c = round(idf * (tf * (self.k1 + 1.0))
                          / (tf + self.k1 * (1.0 - self.b
                                             + self.b * dl / avgdl)), 6)
                scores[d] = scores.get(d, 0.0) + c
        ranked = sorted(((round(s, 6), d) for d, s in scores.items()),
                        key=lambda x: (-x[0], x[1]))
        return [(d, s) for s, d in ranked[:k]]


def same_ranking(got: list[tuple[int, float]],
                 want: list[tuple[int, float]], eps: float = 2e-6) -> bool:
    """Equal doc lists, allowing swaps only between scores within
    ``eps`` (the last rounding quantum) of each other."""
    if len(got) != len(want):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if abs(gs - ws) > eps:
            return False
        if gd != wd and not any(d == gd and abs(s - ws) <= eps
                                for d, s in want):
            return False
    return True


def cosine_topk(vecs: dict[int, np.ndarray], q: np.ndarray,
                k: int = 10) -> list[int]:
    ids = np.array(sorted(vecs))
    mat = np.stack([vecs[i] for i in ids])
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -sims))
    return ids[order[:k]].tolist()
