"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Designed for the 100 TB documents table:

- **exact**: hash-groupBy on a 64-bit content hash — one shuffle on
  the hash, map-side combinable.
- **MinHash+LSH**: per-doc signature (no shuffle), banding, then a
  self-join only within (band, bucket) groups — candidate pairs scale
  with collision count, never O(n²). Exact Jaccard verification runs
  only on candidates.
- **SimHash**: explode tokens once (one md5 per token), 64 conditional
  sums, near-dup = Hamming distance on 64-bit ints via xor+bit_count —
  pairs again found via bucket join on rotated prefixes.

Hashing uses the portable ``hash64`` (operators/text.py) so every step
is reproducible bit-for-bit in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from industrial_data_pipeline_spark.operators.text import hash64, tokens


# ------------------------------------------------------------ exact dedup


def exact_dedup(df: DataFrame, id_col: str, text_col: str = "text",
                normalize: bool = True) -> DataFrame:
    """Keep one row (lowest id) per distinct text; adds dup_count.
    Normalization: lowercase + whitespace collapse."""
    t = F.col(text_col)
    if normalize:
        t = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    keyed = df.withColumn("_fp", hash64(t))
    groups = (keyed.groupBy("_fp")
              .agg(F.min(id_col).alias("_keep"),
                   F.count("*").alias("dup_count")))
    return (keyed.join(groups, "_fp")
            .where(F.col(id_col) == F.col("_keep"))
            .drop("_fp", "_keep"))


# -------------------------------------------------------------- shingles


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-grams ('shingles') of a text column."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0),
                   F.greatest(F.size(toks) - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return F.array_distinct(grams)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - F.size(F.array_intersect(a, b)))


# --------------------------------------------------------------- MinHash


#: Mersenne prime 2^31-1 — modulus of the affine MinHash permutations.
#: 31-bit operands keep a·h < 2^62, inside signed int64 (ANSI-safe).
MINHASH_PRIME = 2147483647


def minhash_coeffs(p: int) -> tuple[int, int]:
    """Deterministic affine-permutation coefficients (a, b) for
    permutation p, derived from md5 so any engine can reproduce them.
    a ∈ [1, P-1], b ∈ [0, P-1]."""
    import hashlib

    a = int(hashlib.md5(f"mh:a:{p}".encode()).hexdigest()[:15], 16) \
        % (MINHASH_PRIME - 1) + 1
    b = int(hashlib.md5(f"mh:b:{p}".encode()).hexdigest()[:15], 16) \
        % MINHASH_PRIME
    return a, b


def minhash_signatures(base: DataFrame, id_col: str = "_id",
                       shingle_col: str = "_sh",
                       num_perm: int = 32) -> DataFrame:
    """(id, shingles[]) → (id, sig array<long>) the scalable way:
    explode shingles, ONE md5 per shingle, ``num_perm`` affine
    permutations as codegen'd integer columns, partial-aggregable
    groupBy(id) min per permutation. One shuffle on id."""
    ex = base.select(F.col(id_col), F.explode(shingle_col).alias("_s"))
    based = ex.select(
        id_col, hash64(F.col("_s")).bitwiseAND(F.lit(2147483647))
        .alias("_h32"))
    perms = []
    for p in range(num_perm):
        a, b = minhash_coeffs(p)
        perms.append(((F.col("_h32") * F.lit(a) + F.lit(b))
                      % F.lit(MINHASH_PRIME)).alias(f"_h{p}"))
    hashed = based.select(id_col, *perms)
    agg = hashed.groupBy(id_col).agg(
        *[F.min(f"_h{p}").alias(f"_m{p}") for p in range(num_perm)])
    return agg.select(
        id_col,
        F.array(*[F.col(f"_m{p}") for p in range(num_perm)]).alias("_sig"))


def lsh_bands(sig_col: Column, num_perm: int, bands: int) -> Column:
    """Band the signature: bands × (num_perm/bands) rows; bucket key =
    hash of the concatenated band slice. Array of (band, bucket)
    structs."""
    rows_per_band = num_perm // bands
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            hash64(F.concat_ws(
                ",", *[F.element_at(sig_col, b * rows_per_band + r + 1)
                       .cast("string")
                       for r in range(rows_per_band)])).alias("bucket"))
        for b in range(bands)
    ])


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                      k: int = 3, num_perm: int = 32, bands: int = 8,
                      threshold: float = 0.5,
                      round_dp: int = 6) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH with exact-Jaccard
    verification. Returns (id_a, id_b, jaccard_sim), id_a < id_b.

    Plan shape: signature+bands per row (narrow) → explode bands →
    shuffle on (band, bucket) only → pairs within buckets → distinct →
    exact verify. The only shuffle keys are LSH buckets, so skew is
    bounded by collision rate, not corpus size."""
    base = df.select(
        F.col(id_col).alias("_id"),
        word_shingles(F.col(text_col), k).alias("_sh"))
    # band/bucket table WITHOUT the shingle arrays: the bucket
    # self-join and pair-dedup shuffle only (id, band, bucket) — the
    # wide arrays rejoin after dedup, touching each surviving pair once
    sigs = minhash_signatures(base, "_id", "_sh", num_perm)
    exploded = (sigs.select(
        "_id",
        F.explode(lsh_bands(F.col("_sig"), num_perm, bands)).alias("_b"))
        .select("_id", F.col("_b.band").alias("_band"),
                F.col("_b.bucket").alias("_bucket")))
    left = exploded.alias("l")
    right = exploded.alias("r")
    cand = (
        left.join(right,
                  (F.col("l._band") == F.col("r._band"))
                  & (F.col("l._bucket") == F.col("r._bucket"))
                  & (F.col("l._id") < F.col("r._id")))
        .select(F.col("l._id").alias("id_a"),
                F.col("r._id").alias("id_b"))
        .distinct()
    )
    # re-shingle ONLY the candidate survivors for the exact verify:
    # shingling the full corpus three times (sigs + both join sides)
    # is the dominant cost when the candidate set is small — which is
    # exactly the regime LSH is for
    surv = (cand.select(F.col("id_a").alias("_id"))
            .union(cand.select("id_b")).distinct())
    shingled = (df.select(F.col(id_col).alias("_id"), F.col(text_col))
                .join(surv, "_id")
                .select("_id", word_shingles(F.col(text_col), k)
                        .alias("_sh")))
    a = shingled.select(F.col("_id").alias("id_a"),
                        F.col("_sh").alias("_sha"))
    b = shingled.select(F.col("_id").alias("id_b"),
                        F.col("_sh").alias("_shb"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .withColumn("jaccard_sim",
                        F.round(jaccard(F.col("_sha"), F.col("_shb")),
                                round_dp))
            .where(F.col("jaccard_sim") >= threshold)
            .select("id_a", "id_b", "jaccard_sim"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                        k: int = 3, threshold: float = 0.5,
                        round_dp: int = 6,
                        guard_limit: int | None = 10_000) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (no LSH prefilter) — the
    small-corpus baseline and the oracle for minhash_lsh_pairs recall.
    O(n²) by design: ``guard_limit`` hard-refuses inputs where the
    self-join would explode (pass None only in tests that know
    better); use minhash_lsh_pairs at scale."""
    _guard_quadratic(df, guard_limit, "ngram_jaccard_pairs",
                     "minhash_lsh_pairs")
    base = df.select(F.col(id_col).alias("_id"),
                     word_shingles(F.col(text_col), k).alias("_sh"))
    a, b = base.alias("a"), base.alias("b")
    return (a.join(b, F.col("a._id") < F.col("b._id"))
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    F.round(jaccard(F.col("a._sh"), F.col("b._sh")),
                            round_dp).alias("jaccard_sim"))
            .where(F.col("jaccard_sim") >= threshold))


def _guard_quadratic(df: DataFrame, guard_limit: int | None,
                     op: str, scale_alt: str) -> None:
    """Refuse to build an all-pairs plan over a large input. One cheap
    count against a small (already filtered/bounded) input — the
    alternative is an O(n²) shuffle that looks fine at sf0.1 and melts
    a cluster at 100×."""
    if guard_limit is None:
        return
    # limit+1 short-circuits (CollectLimit) — the guard must not pay a
    # full scan of the input it is refusing to self-join
    n = df.limit(guard_limit + 1).count()
    if n > guard_limit:
        raise ValueError(
            f"{op} is O(n²) and got more than {guard_limit} rows "
            f"(guard_limit); use {scale_alt} at this size")


# --------------------------------------------------------------- SimHash


def simhash64(df: DataFrame, id_col: str,
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document: one md5 per token (explode), then
    64 conditional sums; bit j of the result = sign of the sum of
    (±1) contributions of token-hash bit j, weighted by token count."""
    tok = (df.select(F.col(id_col), F.explode(tokens(F.col(text_col)))
                     .alias("_t"))
           .withColumn("_h", hash64(F.col("_t"))))
    bit_sums = [
        F.sum(F.when(F.shiftright("_h", j).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"_b{j}")
        for j in range(60)  # hash64 is 60 bits
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sim = None
    for j in range(60):
        bit = F.when(F.col(f"_b{j}") > 0,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = bit * F.lit(1 << j).cast("long")
        sim = term if sim is None else (sim + term)
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                  max_hamming: int = 8) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.
    Candidates via 4-way block join — shuffle on 15-bit block values,
    not O(n²). Pigeonhole guarantee: complete for Hamming ≤ 3 (4 blocks
    can't all contain an error); for 4..max_hamming it is a recall-
    heavy heuristic (a pair is missed only when every block carries at
    least one differing bit), the standard SimHash blocking trade-off."""
    sh = simhash64(df, id_col, text_col)
    blocks = sh.select(
        id_col, "simhash",
        *[(F.shiftright("simhash", 15 * i).bitwiseAND(F.lit((1 << 15) - 1)))
          .alias(f"_blk{i}") for i in range(4)])
    # 4 union branches below would each recompute the explode+agg
    # simhash plan; materialize once (id + 5 longs per row — tiny)
    blocks = blocks.localCheckpoint(eager=True)
    pairs = None
    for i in range(4):
        l, r = blocks.alias("l"), blocks.alias("r")
        p = (l.join(r, (F.col(f"l._blk{i}") == F.col(f"r._blk{i}"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"),
                     F.col("l.simhash").alias("_sa"),
                     F.col("r.simhash").alias("_sb")))
        pairs = p if pairs is None else pairs.unionByName(p)
    return (pairs.dropDuplicates(["id_a", "id_b"])
            .withColumn("hamming",
                        F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
            .where(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ------------------------------------------------- connected components


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 50,
                         stats: dict | None = None) -> DataFrame:
    """Group near-dup pairs into clusters: each node in the pair graph
    gets ``cluster_id`` = min node id reachable from it (the canonical
    document of its duplicate cluster).

    Min-label propagation: every iteration each node takes the min of
    its own label and its neighbors' labels, so labels converge in
    O(component diameter) rounds — dup clusters are shallow (a dozen
    rounds covers pathological chains). Each round is one shuffle join
    + one groupBy on (node), both partitioned by the node id, and the
    frontier is localCheckpoint-ed so lineage doesn't grow linearly
    with iterations (the classic iterative-algorithm OOM at scale).
    """
    edges = pairs.select(F.col(src).cast("long").alias("u"),
                         F.col(dst).cast("long").alias("v"))
    edges = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    edges = edges.localCheckpoint(eager=True)
    labels = (edges.select("u").distinct()
              .withColumn("label", F.col("u"))
              .localCheckpoint(eager=True))
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        e, lb = edges.alias("e"), labels.alias("lb")
        neigh = (e.join(lb, F.col("e.v") == F.col("lb.u"))
                 .select(F.col("e.u").alias("u"),
                         F.col("lb.label").alias("label"),
                         F.lit(0).alias("_is_old")))
        # carry the node's old label THROUGH the aggregation (every
        # node appears exactly once in `labels`, so max-of-tagged
        # recovers it); the convergence check is then a filter over the
        # checkpointed result — no second join/shuffle per round
        new = (labels.withColumn("_is_old", F.lit(1))
               .unionByName(neigh)
               .groupBy("u")
               .agg(F.min("label").alias("label"),
                    F.max(F.when(F.col("_is_old") == 1, F.col("label")))
                    .alias("_old"))
               .localCheckpoint(eager=True))
        changed = (new.where(F.col("label") != F.col("_old"))
                   .limit(1).count())
        labels = new.drop("_old")
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(F.col("u").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def connected_components_star(pairs: DataFrame, src: str = "id_a",
                              dst: str = "id_b", max_iter: int = 50,
                              stats: dict | None = None) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"): each round rewires every node's strictly-larger
    (large-star) or smaller-or-equal (small-star) neighbors directly
    to the minimum of its neighborhood, collapsing long paths
    super-linearly — O(log² n) rounds on ANY graph, where the
    min-label propagation in :func:`connected_components` needs
    O(component diameter) rounds (pathological on chains/rings).

    Same output contract as :func:`connected_components`:
    (doc_id, cluster_id = min reachable node id), verified equal in
    tests/test_dedup.py on random graphs and an adversarial chain
    (where this converges in ~⅕ the rounds). Keep the min-label
    version as the readable oracle; use this one at scale.

    Each round: one groupBy(node) for neighborhood minima + one
    key-partitioned join, both on the node id; the edge frontier is
    localCheckpoint-ed so lineage stays flat. ``stats["rounds"]``
    reports the executed round count when a dict is passed.
    """
    raw = pairs.select(F.col(src).cast("long").alias("u"),
                       F.col(dst).cast("long").alias("v"))
    # node set from the UNFILTERED pairs: a node whose only pair is a
    # self-loop must still appear in the output (as its own cluster),
    # matching connected_components' contract
    nodes = (raw.select("u").unionByName(raw.select(F.col("v")
                                                    .alias("u")))
             .distinct().localCheckpoint(eager=True))
    und = raw.where(F.col("u") != F.col("v"))
    # symmetric edge list; each round's output replaces it
    edges = (und.unionByName(und.select(F.col("v").alias("u"),
                                        F.col("u").alias("v")))
             .distinct().localCheckpoint(eager=True))
    rounds = 0
    prev_unchanged = False
    n_prev = edges.count()
    for i in range(max_iter):
        large = i % 2 == 0
        m = (edges.groupBy("u").agg(F.min("v").alias("_mn"))
             .select("u", F.least("_mn", F.col("u")).alias("m")))
        joined = edges.join(m, "u")
        if large:
            # neighbors STRICTLY ABOVE the center attach to its min
            new = joined.where(F.col("v") > F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b"))
        else:
            # neighbors at-or-below + the center itself attach to min
            new = joined.where(F.col("v") <= F.col("u")).select(
                F.col("v").alias("a"), F.col("m").alias("b")) \
                .unionByName(m.select(F.col("u").alias("a"),
                                      F.col("m").alias("b")))
        new = (new.where(F.col("a") != F.col("b")).distinct()
               .select(F.col("a").alias("u"), F.col("b").alias("v")))
        new = new.unionByName(
            new.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
            .distinct().localCheckpoint(eager=True)
        rounds = i + 1
        # true fixed point = BOTH ops leave the set unchanged: a
        # small-star-invariant set can still move under large-star
        # (and vice versa), so one quiet round is not convergence.
        # Check cost: both sets are distinct, so equal counts + empty
        # one-sided difference ⇒ equality (one exceptAll, not two);
        # unequal counts short-circuit on the cached counts alone.
        n_new = new.count()
        unchanged = (n_new == n_prev
                     and new.exceptAll(edges).limit(1).count() == 0)
        n_prev = n_new
        edges = new
        if unchanged and prev_unchanged:
            break
        prev_unchanged = unchanged
    if stats is not None:
        stats["rounds"] = rounds
    # at the fixed point every node's smallest neighbor IS its
    # component min; isolated originals keep their own id
    star = edges.groupBy("u").agg(F.min("v").alias("_mn"))
    return (nodes.join(star, "u", "left")
            .select(F.col("u").alias("doc_id"),
                    F.least(F.coalesce("_mn", F.col("u")), F.col("u"))
                    .alias("cluster_id")))


def incremental_exact_dedup(corpus: DataFrame, batch: DataFrame,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus plus within
    itself — the steady-state ingestion shape of a training-data
    pipeline (the corpus is never rescanned per pair, only its hash
    set).

    Plan: project both sides to (hash64(text)) — a few bytes/row, so
    the shuffle moves hashes, not documents — in-batch first-wins by
    min(id) per hash, then LEFT ANTI against corpus hashes. Both
    shuffles are on the same hash key, so AQE coalesces them; at 100
    TB the corpus side is a pre-computed hash index you'd persist
    bucketed by hash and the anti-join becomes shuffle-free.
    """
    from industrial_data_pipeline_spark.operators.text import hash64
    b = batch.select(F.col(id_col), hash64(F.col(text_col)).alias("_h"))
    first = (b.groupBy("_h").agg(F.min(id_col).alias(id_col)))
    seen = corpus.select(hash64(F.col(text_col)).alias("_h")).distinct()
    return (first.join(seen, "_h", "left_anti")
            .select(id_col, F.col("_h").alias("content_hash")))


# ------------------------------------------------- exact set-similarity join

def set_similarity_join(sets: DataFrame, id_col: str = "doc_id",
                        item_col: str = "item",
                        t_millis: int = 500) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via prefix filtering —
    the AllPairs/PPJoin family (Bayardo et al., WWW'07). The third
    point in the dedup design space: minhash_lsh_pairs is approximate
    with tunable recall, ngram_jaccard_pairs is exact but O(n²) and
    guard-fenced; this is exact AND scalable when high-similarity
    pairs are rare (the realistic corpus regime).

    Canonical order = ascending document frequency (rarest item
    first), tie-broken by the item itself. Two sets with Jaccard >=
    t MUST share an item inside their first ``n - ceil(t*n) + 1``
    items of that order (if all common items sat in both suffixes,
    the overlap would be < ceil(t*n_min) <= the overlap Jaccard >= t
    forces) — so the prefix equi-join loses nothing, and candidates
    are verified exactly afterwards. No O(n²) stage anywhere: ranks
    are per-set windows, the candidate join keys on the item, the
    verify joins key on (id, item).

    The threshold is integer millis (t = t_millis/1000) and the
    output carries exact integer ``n_inter``/``n_union`` — the
    Jaccard test is the cross-multiplication ``1000*i >= t_millis*u``,
    no float anywhere.
    """
    from pyspark.sql import Window
    if not 0 < t_millis <= 1000:
        raise ValueError(f"t_millis must be in (0, 1000]: {t_millis}")
    # NULL items are excluded up front: an equi-join can never match
    # NULL, so counting one in the set size would deflate the Jaccard
    # of every pair involving that set
    s = (sets.where(F.col(item_col).isNotNull())
         .select(F.col(id_col).alias("_id"),
                 F.col(item_col).alias("_it")).distinct())
    sz = s.groupBy("_id").agg(F.count("*").alias("_n"))
    dfreq = s.groupBy("_it").agg(F.count("*").alias("_df"))
    ranked = (s.join(dfreq, "_it")
              .withColumn("_r", F.row_number().over(
                  Window.partitionBy("_id").orderBy("_df", "_it"))))
    # ceil(t*n) in exact integers: (t_millis*n + 999) div 1000 —
    # `div`, not `/`: Column `/` is IEEE double division
    pre = (ranked.join(sz, "_id")
           .where(F.col("_r") <= F.expr(
               f"_n - (({t_millis} * _n + 999) div 1000) + 1"))
           .select("_id", "_it"))
    cand = (pre.alias("a")
            .join(pre.alias("b"),
                  (F.col("a._it") == F.col("b._it"))
                  & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("_ia"),
                    F.col("b._id").alias("_ib"))
            .distinct())
    sa = s.select(F.col("_id").alias("_ia"), "_it")
    sb = s.select(F.col("_id").alias("_ib"), "_it")
    inter = (cand.join(sa, "_ia").join(sb, ["_ib", "_it"])
             .groupBy("_ia", "_ib").agg(F.count("*").alias("n_inter")))
    out = (inter
           .join(sz.select(F.col("_id").alias("_ia"),
                           F.col("_n").alias("_na")), "_ia")
           .join(sz.select(F.col("_id").alias("_ib"),
                           F.col("_n").alias("_nb")), "_ib")
           .withColumn("n_union",
                       F.col("_na") + F.col("_nb") - F.col("n_inter")))
    return (out.where(F.col("n_inter") * 1000
                      >= F.lit(t_millis) * F.col("n_union"))
            .select(F.col("_ia").alias("id_a"),
                    F.col("_ib").alias("id_b"),
                    F.col("n_inter").cast("long").alias("n_inter"),
                    F.col("n_union").cast("long").alias("n_union")))


def incremental_minhash_lsh(corpus: DataFrame, batch: DataFrame,
                            id_col: str, text_col: str = "text",
                            k: int = 3, num_perm: int = 32,
                            bands: int = 8, threshold: float = 0.5,
                            round_dp: int = 6) -> DataFrame:
    """Incremental near-duplicate gate: match a NEW ingest batch
    against the EXISTING corpus through the corpus's LSH band index —
    the steady-state form of :func:`minhash_lsh_pairs` (which
    re-pairs the whole corpus) and the near-dup counterpart of the
    exact incremental dedup (q69). Returns (new_id, old_id,
    jaccard_sim), exact Jaccard ≥ ``threshold``.

    Scale shape: batch rows are signed and banded exactly like the
    corpus; the probe is an equi-join of batch bands against corpus
    bands on (band, bucket) — batch-vs-index only, never
    corpus-vs-corpus or batch-vs-batch — then the exact verify
    re-shingles ONLY collision survivors on each side. With the
    corpus band table maintained as a stored, append-only index
    asset (one write per admitted batch, the q171 posting pattern),
    per-batch cost is O(|batch| signatures + collisions), independent
    of corpus size; here the index is built in-plan from the
    ``corpus`` argument so the whole gate stays SQL-replayable.

    In-plan verify shape: the candidate pair set is BATCH-sized
    (|batch| × collision rate), so it enters the corpus-side verify
    as a broadcast — the candidate subtree (which embeds the in-plan
    corpus signature build) is evaluated ONCE, the corpus is never
    shuffled for the verify (its shingles are computed only for rows
    the broadcast hash join keeps), and the batch side pre-shingles
    in full because the batch is small by definition. The in-plan
    index build itself vanishes in the production shape, where the
    band table and per-doc shingle sets are stored columns."""
    def _bands(df: DataFrame, out_id: str) -> DataFrame:
        base = df.select(F.col(id_col).alias(out_id),
                         word_shingles(F.col(text_col), k).alias("_sh"))
        sigs = minhash_signatures(base, out_id, "_sh", num_perm)
        return (sigs.select(
            out_id,
            F.explode(lsh_bands(F.col("_sig"), num_perm, bands))
            .alias("_b"))
            .select(out_id, F.col("_b.band").alias("_band"),
                    F.col("_b.bucket").alias("_bucket")))

    idx = _bands(corpus, "old_id")
    probe = _bands(batch, "new_id")
    cand = (probe.join(idx, ["_band", "_bucket"])
            .select("new_id", "old_id").distinct())

    b = (corpus.select(F.col(id_col).alias("old_id"), text_col)
         .join(F.broadcast(cand), "old_id")
         .select("new_id", "old_id",
                 word_shingles(F.col(text_col), k).alias("_sh_old")))
    a = batch.select(F.col(id_col).alias("new_id"),
                     word_shingles(F.col(text_col), k).alias("_sh_new"))
    return (b.join(F.broadcast(a), "new_id")
            .withColumn("jaccard_sim",
                        F.round(jaccard(F.col("_sh_new"),
                                        F.col("_sh_old")), round_dp))
            .where(F.col("jaccard_sim") >= threshold)
            .select("new_id", "old_id", "jaccard_sim"))


def incremental_connected_components(labels: DataFrame,
                                     new_pairs: DataFrame,
                                     src: str = "id_a",
                                     dst: str = "id_b",
                                     max_iter: int = 50,
                                     stats: dict | None = None
                                     ) -> DataFrame:
    """Maintain duplicate-cluster labels as NEW near-dup edges arrive
    (e.g. from the :func:`incremental_minhash_lsh` admission gate)
    WITHOUT re-clustering the full pair graph: run min-label
    propagation over the REDUCED graph = (node → current label) star
    edges ∪ the delta edges.

    Correctness: the star edges are exact reachability witnesses —
    u and label(u) are connected by construction, and every old
    component is represented by a depth-1 star whose center is its
    min node id (connected_components' label contract) — so
    components of (star ∪ delta) equal components of
    (old pairs ∪ delta), and min-over-component is unchanged.

    Scale: the reduced graph has |labels| + |delta| edges regardless
    of how many pair edges built the old clusters, and rounds are
    bounded by the DELTA's bridging depth (old clusters contribute
    depth-1 stars), not the historical graph's diameter — the
    steady-state cost profile an ingest loop needs. Same (doc_id,
    cluster_id) output contract as :func:`connected_components`."""
    star = labels.select(F.col("doc_id").alias(src),
                         F.col("cluster_id").alias(dst))
    combined = star.unionByName(
        new_pairs.select(F.col(src).cast("long"),
                         F.col(dst).cast("long")))
    return connected_components(combined, src, dst, max_iter, stats)
