"""Seeded input generators for every benchmark workload.

Everything here is pure Python/numpy and a function of ``--seed`` only:
the plant tree, tag histories, the PI wire batches (with garbage,
booleans, duplicates and unmapped tags), the derived formulas, the web
client's request sequence, and the text corpus with planted
near-duplicates. Per-(tag, minute) values come from a counter-based
hash rather than a stateful RNG, so the PI transport (which runs in a
Spark-owned Python process) and the output checks compute identical
values for any minute without sharing state.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np

# ------------------------------------------------------------ hashing

def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def unit_hash(seed: int, salt: int, a, b) -> np.ndarray:
    """Uniform [0, 1) per (seed, salt, a, b), broadcast over a and b."""
    a = np.asarray(a, dtype=np.uint64)
    b = np.asarray(b, dtype=np.uint64)
    with np.errstate(over="ignore"):
        k = _mix(np.uint64(seed) * np.uint64(0x100000001B3)
                 + np.uint64(salt))
        h = _mix(_mix(k ^ a) + b * np.uint64(0xD6E8FEB86659FD93))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


# ------------------------------------------------------------- plant

#: first history minute: the history fills one day partition up to
#: noon, where the replay starts
DAY0 = datetime(2024, 3, 5)
HISTORY_MINUTES = 720
REPLAY_START = HISTORY_MINUTES
SERVER = "SRV"
N_TAGS = 300
N_LEAVES = 30
N_UNMAPPED = 20
GARBAGE_P = 0.02
DUPLICATE_P = 0.01
DIGITAL_SHARE = 0.03
PI_STATES = ("Bad Input", "I/O Timeout", "Comm Fail", "Scan Off",
             "Pt Created")
#: (template, numpy twin) — ``$a``/``$b``/``$c`` are source slots
FORMULAS = (
    ("($a - $b) * $c / 100 + 32", lambda a, b, c: (a - b) * c / 100.0
     + 32.0),
)
TAG_KINDS = ("TT", "PT", "FT", "LT", "AT", "ST", "JT", "VT")


def minute_ts(m: int) -> datetime:
    return DAY0 + timedelta(minutes=int(m))


def ts_str(m: int) -> str:
    return minute_ts(m).strftime("%Y-%m-%d %H:%M:%S")


@dataclass
class Element:
    element_id: int
    name: str
    level: int
    parent_id: int | None
    path: list[str]
    tags: list[int] = field(default_factory=list)  # tag indexes


class PlantModel:
    """The generated plant: ragged tree, tag parameters, formulas.

    Tag index ``i`` (0-based) is catalog attribute id ``i + 1``: ids are
    assigned in depth-first preorder over leaves, and tags are numbered
    in that same order here. Derived attributes follow as ids
    ``N_TAGS + 1 ...`` in insertion order.
    """

    def __init__(self, seed: int):
        self.seed = int(seed)
        self._build_tree(np.random.default_rng([self.seed, 1]))
        rng = np.random.default_rng([self.seed, 2])
        n = N_TAGS
        self.digital = rng.random(n) < DIGITAL_SHARE
        self.base = rng.uniform(10.0, 500.0, n)
        self.amp = rng.uniform(0.5, 20.0, n)
        self.phase = rng.uniform(0.0, 2 * np.pi, n)
        self.sd = self.amp / 10.0
        self._build_formulas(np.random.default_rng([self.seed, 4]))

    # ------------------------------------------------------ tree
    def _build_tree(self, rng) -> None:
        areas = []
        leaves = 0
        while leaves < N_LEAVES:
            a = len(areas) + 1
            units = []
            for u in range(1, int(rng.integers(3, 7)) + 1):
                if leaves >= N_LEAVES:
                    break
                n_eq = int(rng.integers(0, 5))  # 0 → the unit is a leaf
                n_eq = min(n_eq, N_LEAVES - leaves)
                units.append((u, n_eq))
                leaves += max(n_eq, 1)
            areas.append((a, units))
        sizes = rng.integers(6, 15, N_LEAVES).astype(float)
        sizes = np.floor(sizes * N_TAGS / sizes.sum()).astype(int)
        sizes[: N_TAGS - sizes.sum()] += 1
        self.root_name = "Plant"
        doc = {"name": self.root_name, "webid": "E0", "children": []}
        leaf_specs = []
        for a, units in areas:
            an = {"name": f"A{a}", "webid": f"EA{a}", "children": []}
            for u, n_eq in units:
                un = {"name": f"A{a}-U{u}", "webid": f"EA{a}U{u}",
                      "children": []}
                if n_eq == 0:
                    leaf_specs.append(un)
                for e in range(1, n_eq + 1):
                    en = {"name": f"A{a}-U{u}-E{e}",
                          "webid": f"EA{a}U{u}E{e}", "children": []}
                    un["children"].append(en)
                    leaf_specs.append(en)
                an["children"].append(un)
            doc["children"].append(an)
        self.tag_names: list[str] = []
        for leaf, k in zip(leaf_specs, sizes):
            leaf["attributes"] = []
            for j in range(int(k)):
                kind = TAG_KINDS[int(rng.integers(len(TAG_KINDS)))]
                name = f"{kind}-{100 + j}"
                kks = f"{leaf['webid'][1:]}{kind}{j:03d}"
                leaf["attributes"].append({"name": name, "kks": kks})
        self.tree_doc = doc
        # independent preorder walk (same rule as the reference loader:
        # element and attribute ids dense from 1 in depth-first order)
        self.elements: list[Element] = []

        def walk(node, level, parent_id, path):
            el = Element(len(self.elements) + 1, node["name"], level,
                         parent_id, path + [node["name"]])
            self.elements.append(el)
            for attr in node.get("attributes") or []:
                el.tags.append(len(self.tag_names))
                self.tag_names.append(attr["name"])
            for child in node["children"]:
                walk(child, level + 1, el.element_id, el.path)

        walk(doc, 0, None, [])
        assert len(self.tag_names) == N_TAGS
        self.leaves = [e for e in self.elements if e.tags]
        self.tag_element = np.zeros(N_TAGS, dtype=np.int64)
        for e in self.leaves:
            self.tag_element[e.tags] = e.element_id

    def tree_json(self) -> str:
        return json.dumps(self.tree_doc)

    def pi_path(self, tag: int) -> str:
        return self.attribute_pi_path(int(self.tag_element[tag]),
                                      self.tag_names[tag])

    def attribute_pi_path(self, element_id: int, name: str) -> str:
        """``\\\\SERVER\\Root\\...\\Element|Attribute``, the key the PI
        batch response carries."""
        el = self.elements[element_id - 1]
        return "\\\\" + SERVER + "\\" + "\\".join(el.path) + "|" + name

    def unmapped_path(self, k: int) -> str:
        return f"\\\\{SERVER}\\{self.root_name}\\Spare|SP-{k}"

    # -------------------------------------------------- formulas
    def _build_formulas(self, rng) -> None:
        analog = np.flatnonzero(~self.digital)
        self.formulas: list[dict] = []
        for k, (tmpl, fn) in enumerate(FORMULAS):
            src = [int(t) for t in rng.choice(analog, 3, replace=False)]
            text = (tmpl.replace("$a", f"${src[0] + 1}")
                    .replace("$b", f"${src[1] + 1}")
                    .replace("$c", f"${src[2] + 1}"))
            used = sorted({int(x) - 1 for x in re.findall(r"\$(\d+)",
                                                           text)})
            self.formulas.append({
                "attribute_id": N_TAGS + 1 + k, "formula": text,
                "name": f"CALC-{k + 1}",
                "element_id": int(self.tag_element[src[0]]),
                "sources": src, "used": used, "fn": fn})

    # ---------------------------------------------------- values
    def clean_values(self, tags, minutes) -> np.ndarray:
        """The true (archived) value of each tag at each minute,
        broadcast over ``tags`` × ``minutes``."""
        tags = np.asarray(tags, dtype=np.int64)
        minutes = np.asarray(minutes, dtype=np.int64)
        u = unit_hash(self.seed, 11, tags, minutes)
        analog = (self.base[tags]
                  + self.amp[tags] * np.sin(
                      2 * np.pi * (minutes % 1440) / 1440.0
                      + self.phase[tags])
                  + self.sd[tags] * (2.0 * u - 1.0))
        return np.where(self.digital[tags], np.floor(u * 2.0),
                        np.round(analog, 3))

    def history_columns(self) -> dict[str, np.ndarray]:
        """The raw-tag history as archive columns (minute-major)."""
        minutes = np.arange(HISTORY_MINUTES, dtype=np.int64)
        vals = self.clean_values(np.arange(N_TAGS)[None, :],
                                 minutes[:, None])
        ts = (np.datetime64(DAY0, "us")
              + minutes.astype("timedelta64[m]").astype("timedelta64[us]"))
        return {
            "attribute_id": np.tile(np.arange(1, N_TAGS + 1,
                                              dtype=np.int64),
                                    HISTORY_MINUTES),
            "timestamp": np.repeat(ts, N_TAGS),
            "value": vals.reshape(-1),
        }

    def derived_values(self, raw: np.ndarray) -> np.ndarray:
        """Derived values (rows = minutes, cols = formulas) from a raw
        minute × tag matrix whose NaN marks a NULL reading; NaN where
        any source is NULL (the formula then yields no row)."""
        out = np.empty((raw.shape[0], len(self.formulas)))
        for k, f in enumerate(self.formulas):
            a, b, c = (raw[:, s] for s in f["sources"])
            v = f["fn"](a, b, c)
            bad = np.zeros(raw.shape[0], dtype=bool)
            for s in f["used"]:
                bad |= np.isnan(raw[:, s])
            out[:, k] = np.where(bad, np.nan, v)
        return out

    # ---------------------------------------------------- the wire
    def wire_minute(self, m: int) -> dict:
        """Anomalies of one live minute: per tag the primary wire value
        (str, dict error object, or None) and an optional duplicate."""
        tags = np.arange(N_TAGS)
        clean = self.clean_values(tags, m)
        g = unit_hash(self.seed, 21, tags, m)
        d = unit_hash(self.seed, 22, tags, m)
        pick = unit_hash(self.seed, 23, tags, m)
        primary, dup = [], []
        for i in range(N_TAGS):
            primary.append(self._wire_value(i, clean[i], g[i], pick[i]))
            if d[i] < DUPLICATE_P:
                # a re-sent reading: shifted analog value or garbage
                if pick[i] < 0.5 and not self.digital[i]:
                    dup.append(repr(float(np.round(clean[i] - 1.5, 3))))
                else:
                    dup.append(PI_STATES[int(pick[i] * 997)
                                         % len(PI_STATES)])
            else:
                dup.append(None)
        return {"primary": primary, "dup": dup}

    def _wire_value(self, i: int, clean: float, g: float, pick: float):
        if g < GARBAGE_P:
            state = PI_STATES[int(pick * 1000) % len(PI_STATES)]
            if pick < 0.25:
                return {"Name": state, "Value": 246, "IsSystem": True}
            return state
        if self.digital[i]:
            return "True" if clean >= 1.0 else "False"
        return repr(float(clean))

    @staticmethod
    def coerce(v) -> float:
        """The cleansing coercion, stated independently: booleans →
        1/0, numerals → float, anything else (PI states, error
        objects) → NULL (NaN)."""
        if v is None or isinstance(v, dict):
            return np.nan
        low = v.lower()
        if low == "true":
            return 1.0
        if low == "false":
            return 0.0
        try:
            return float(v)
        except ValueError:
            return np.nan

    def cleansed_minute(self, m: int) -> np.ndarray:
        """Expected archive value per tag at live minute ``m`` (NaN =
        a NULL-valued row): the lowest non-NULL coerced duplicate."""
        w = self.wire_minute(m)
        out = np.empty(N_TAGS)
        for i in range(N_TAGS):
            vals = [self.coerce(w["primary"][i])]
            if w["dup"][i] is not None:
                vals.append(self.coerce(w["dup"][i]))
            ok = [v for v in vals if not np.isnan(v)]
            out[i] = min(ok) if ok else np.nan
        return out

    def unmapped_value(self, k: int, m: int) -> str:
        return repr(float(np.round(
            100.0 * unit_hash(self.seed, 31, k, m), 3)))


# --------------------------------------------------- web requests


def plant_cycles(model: PlantModel, n: int = 500) -> list[dict]:
    """The web client's fixed request sequence, one round per trigger:
    a preview (up to 10 tags of one element over 6 h), a browse call
    set (exact and LIKE lookups, an element's attributes, the leaf
    list, one tag's time range) and a download (50 tags across elements
    over 6 h; CSV after even triggers, Parquet after odd ones). Sizes
    are fixed so that a run's few samples differ only in which tags and
    hours they read."""
    rng = np.random.default_rng([model.seed, 3])
    span = 6 * 60
    out = []
    for i in range(n):
        el = model.leaves[int(rng.integers(len(model.leaves)))]
        start = int(rng.integers(0, HISTORY_MINUTES - span + 1))
        preview = {"tags": sorted(int(t) for t in rng.choice(
            el.tags, min(10, len(el.tags)), replace=False)),
            "start": start, "end": start + span - 1}
        pattern = str(rng.choice(["%-u{}%", "%-e{}", "a{}-%"])).format(
            int(rng.integers(1, 5)))
        browse = {
            "exact": model.elements[
                int(rng.integers(len(model.elements)))].name,
            "like": pattern,
            "element_id": model.leaves[
                int(rng.integers(len(model.leaves)))].element_id,
            "tag": int(rng.integers(N_TAGS))}
        start = int(rng.integers(0, HISTORY_MINUTES - span + 1))
        download = {"tags": sorted(int(t) for t in rng.choice(
            N_TAGS, 50, replace=False)), "start": start,
            "end": start + span - 1,
            "fmt": "parquet" if i % 2 else "csv"}
        out.append({"preview": preview, "browse": browse,
                    "download": download})
    return out


# ------------------------------------------------------------ corpus

VOCAB = 5000
N_TOPICS = 16
TOPIC_WORDS = 100
DIM = 32
N_BASE_DOCS = 1500
BATCH_DOCS = 100
DUPS_PER_BATCH = 20
QUERIES_PER_STEP = 10
RETRACT_POOL = 200  # base ids [N_BASE_DOCS - RETRACT_POOL, N_BASE_DOCS)
RETRACT_PER_MAINT = 5
QUERY_ID_BASE = 1_000_000_000


class CorpusModel:
    """Zipf-vocabulary corpus with topic-clustered embeddings.

    Base docs are ``0 .. N_BASE_DOCS-1``; step ``s`` offers batch docs
    ``N_BASE_DOCS + s*BATCH_DOCS ...``, of which ``DUPS_PER_BATCH`` are
    planted near-duplicates (one token substituted) of earlier
    docs outside the retraction pool.
    """

    def __init__(self, seed: int):
        self.seed = int(seed)
        rng = np.random.default_rng([self.seed, 5])
        p = 1.0 / np.arange(1, VOCAB + 1) ** 1.1
        self.p = p / p.sum()
        self.topic_words = rng.integers(VOCAB // 10, VOCAB,
                                        (N_TOPICS, TOPIC_WORDS))
        c = rng.normal(size=(N_TOPICS, DIM))
        self.centroids = c / np.linalg.norm(c, axis=1, keepdims=True)
        self.texts: dict[int, str] = {}
        self.vecs: dict[int, np.ndarray] = {}
        self.dup_of: dict[int, int] = {}
        for d in range(N_BASE_DOCS):
            self._fresh(rng, d)
        self._rng = rng
        self._batches: list[list[int]] = []

    def _fresh(self, rng, d: int) -> None:
        n = int(rng.integers(20, 61))
        topic = int(rng.integers(N_TOPICS))
        glob = rng.choice(VOCAB, n, p=self.p)
        local = rng.choice(self.topic_words[topic], n)
        words = np.where(rng.random(n) < 0.3, local, glob)
        self.texts[d] = " ".join(f"w{w}" for w in words)
        v = self.centroids[topic] + 0.15 * rng.normal(size=DIM)
        self.vecs[d] = np.round(v / np.linalg.norm(v), 6)

    def _near_dup(self, rng, d: int, src: int) -> None:
        toks = self.texts[src].split()
        toks[int(rng.integers(len(toks)))] = f"w{int(rng.integers(VOCAB))}"
        self.texts[d] = " ".join(toks)
        v = self.vecs[src] + 0.02 * rng.normal(size=DIM)
        self.vecs[d] = np.round(v / np.linalg.norm(v), 6)
        self.dup_of[d] = src

    def source_pool(self) -> list[int]:
        return [d for d in self.texts
                if d < N_BASE_DOCS - RETRACT_POOL
                or d >= N_BASE_DOCS]

    def batch(self, step: int) -> list[int]:
        """Doc ids offered at ``step`` (generated on first request, in
        step order, so a step's content never depends on timing)."""
        while len(self._batches) <= step:
            s = len(self._batches)
            rng = np.random.default_rng([self.seed, 6, s])
            lo = N_BASE_DOCS + s * BATCH_DOCS
            pool = [d for d in self.source_pool()
                    if d not in self.dup_of and d < lo]
            ids = list(range(lo, lo + BATCH_DOCS))
            dup_slots = set(int(i) for i in rng.choice(
                BATCH_DOCS, DUPS_PER_BATCH, replace=False))
            for j, d in enumerate(ids):
                if j in dup_slots:
                    self._near_dup(rng, d,
                                   int(pool[int(rng.integers(len(pool)))]))
                else:
                    self._fresh(rng, d)
            self._batches.append(ids)
        return self._batches[step]

    def retractions(self, maint: int) -> list[int]:
        lo = N_BASE_DOCS - RETRACT_POOL + maint * RETRACT_PER_MAINT
        return list(range(lo, lo + RETRACT_PER_MAINT))

    def queries(self, step: int, candidates: list[int]
                ) -> list[tuple[int, str, np.ndarray, int]]:
        """(query_id, text, vector, target_doc) per query: 5 of the
        target's rarest words and its vector plus noise."""
        rng = np.random.default_rng([self.seed, 7, step])
        out = []
        for j in range(QUERIES_PER_STEP):
            target = int(candidates[int(rng.integers(len(candidates)))])
            words = sorted(set(self.texts[target].split()),
                           key=lambda w: (-int(w[1:]), w))[:5]
            v = self.vecs[target] + 0.05 * rng.normal(size=DIM)
            out.append((QUERY_ID_BASE + step * QUERIES_PER_STEP + j,
                        " ".join(words),
                        np.round(v / np.linalg.norm(v), 6), target))
        return out
