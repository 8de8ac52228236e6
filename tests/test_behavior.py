"""Hand-computed semantics for operators/behavior.py (DuckDB parity
is pinned by test_suite_oracle q85–q90)."""

import os
from datetime import datetime

import pytest

from industrial_data_pipeline_spark.operators.behavior import (
    basket_pairs, equi_width_histogram, interarrival_stats,
    retention_cohorts, weighted_sample)


def test_retention_cohorts_tiny(spark):
    # user 1 active weeks 0 and 1; user 2 only week 0
    rows = [(1, datetime(2024, 1, 1)), (1, datetime(2024, 1, 9)),
            (2, datetime(2024, 1, 2))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r.week_offset): r.n_users
           for r in retention_cohorts(df).collect()}
    assert got == {0: 2, 1: 1}


def test_basket_pairs_counts_and_lift(spark):
    # items (1,2) co-occur in 2 of 3 baskets; item 1 in 3, item 2 in 2
    rows = [(10, 1), (10, 2), (11, 1), (11, 2), (12, 1), (12, 3),
            (10, 1)]  # duplicate line must not double-count
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {(r.item_a, r.item_b): r
           for r in basket_pairs(df, min_count=2).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    assert r.pair_count == 2
    assert r.lift == round(2 * 3 / (3 * 2), 6) == 1.0


def test_histogram_bins_exact(spark):
    # values 0..9, 5 bins of width 2; top edge lands in the last bin
    df = spark.createDataFrame([(float(i),) for i in range(10)], "x double")
    out = {r.bin: r for r in
           equi_width_histogram(df, "x", n_bins=5).collect()}
    assert {b: r.n for b, r in out.items()} == {0: 2, 1: 2, 2: 2, 3: 2,
                                                4: 2}
    assert out[0].bin_lo == 0.0 and out[4].bin_hi == 9.0


def test_interarrival_exact_gaps(spark):
    rows = [(1, datetime(2024, 1, 1, 0, 0, 0), "a"),
            (2, datetime(2024, 1, 1, 0, 0, 10), "a"),
            (3, datetime(2024, 1, 1, 0, 1, 0), "a")]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, "
                               "event_type string")
    r = interarrival_stats(df).collect()[0]
    assert r.n_gaps == 2 and r.avg_gap_s == 30.0 and r.max_gap_s == 50.0


def test_weighted_sample_deterministic_and_bounded(spark):
    rows = [(i, "g", float(1 + i % 7)) for i in range(100)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, "
                               "value double")
    a = sorted(r.event_id for r in
               weighted_sample(df, "event_type", "event_id", "value",
                               k=5).collect())
    b = sorted(r.event_id for r in
               weighted_sample(df, "event_type", "event_id", "value",
                               k=5).collect())
    assert a == b and len(a) == 5


def test_pagerank_star_graph(spark):
    from industrial_data_pipeline_spark.operators.graph import pagerank
    # star: 0 is the hub of 1..4 — hub must outrank leaves; total
    # probability mass stays ~1 (undirected graph has no dangling loss)
    edges = spark.createDataFrame([(0, i) for i in range(1, 5)],
                                  "src long, dst long")
    ranks = {r.node: r.rank for r in pagerank(edges, iters=3).collect()}
    assert len(ranks) == 5
    assert all(ranks[0] > ranks[i] for i in range(1, 5))
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert len({round(ranks[i], 12) for i in range(1, 5)}) == 1


def test_scd2_islands(spark):
    from datetime import datetime
    from industrial_data_pipeline_spark.suite_dataeng import (
        q_scd2_user_state)  # noqa: F401  (suite fn needs sf_dir)
    from industrial_data_pipeline_spark.suite_common import load  # noqa
    from pyspark.sql import functions as F, Window
    # inline tiny log: A A B A → three islands with correct extents
    rows = [(1, 1, datetime(2024, 1, 1, 0), "A"),
            (2, 1, datetime(2024, 1, 1, 1), "A"),
            (3, 1, datetime(2024, 1, 1, 2), "B"),
            (4, 1, datetime(2024, 1, 1, 3), "A")]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
        "event_type string")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (ev.withColumn(
        "_chg", F.when(F.lag("event_type").over(w).isNull()
                       | (F.lag("event_type").over(w)
                          != F.col("event_type")), 1).otherwise(0))
        .withColumn("_run", F.sum("_chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    isl = (run.groupBy("user_id", "_run")
           .agg(F.first("event_type").alias("state"),
                F.count("*").alias("n")))
    got = sorted((r._run, r.state, r.n) for r in isl.collect())
    assert got == [(1, "A", 2), (2, "B", 1), (3, "A", 1)]


def test_xms_mb_never_exceeds_configured_max():
    """-Xms must never exceed -Xmx: sub-gig settings get a sub-gig
    (or equal) Xms, unparseable settings get NO Xms at all — the
    failure mode both wrong directions share is a JVM that refuses
    to start."""
    from industrial_data_pipeline_spark.session import _xms_mb
    assert _xms_mb("48g") == 8 * 1024      # capped at 8 GiB
    assert _xms_mb("8g") == 8 * 1024
    assert _xms_mb("2g") == 2 * 1024
    assert _xms_mb("512m") == 512          # NOT rounded up past max
    assert _xms_mb("512M") == 512
    assert _xms_mb("900000k") == 900000 // 1024
    assert _xms_mb("1t") == 8 * 1024
    assert _xms_mb("  4gb ") == 4 * 1024
    for bad in ("0.5g", "abc", "", "g8"):
        assert _xms_mb(bad) is None
    # parseable but sub-MiB max heaps: flooring to -Xms1m would
    # EXCEED -Xmx → no -Xms, same as unparseable
    for tiny in ("512k", "1023k", "4096", "0m", "0g"):
        assert _xms_mb(tiny) is None
    assert _xms_mb("1024k") == 1
    assert _xms_mb("1m") == 1


def test_default_driver_mem_sized_from_ram(monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is 40 % of RAM,
    within [1 GiB, 48 GiB]; a set variable passes through untouched."""
    from industrial_data_pipeline_spark.session import (
        default_driver_mem, driver_mem)
    gib = 1024 ** 3
    assert default_driver_mem(16 * gib) == "6553m"
    assert default_driver_mem(256 * gib) == "49152m"
    assert default_driver_mem(gib) == "1024m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_mem() == "3g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert driver_mem() == default_driver_mem(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))


def test_set_similarity_ignores_null_items(spark):
    """A NULL item must not deflate set sizes: two identical sets
    that each also carry a NULL row are still Jaccard 1.0."""
    from industrial_data_pipeline_spark.operators.dedup import (
        set_similarity_join)
    rows = [(1, "x"), (1, "y"), (1, None),
            (2, "x"), (2, "y"), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, item string")
    got = [(r.id_a, r.id_b, r.n_inter, r.n_union)
           for r in set_similarity_join(df, t_millis=1000).collect()]
    assert got == [(1, 2, 2, 2)]


def test_pairs_cache_bounded_per_session(spark, monkeypatch):
    """The materialized LSH pair cache pins eager checkpoint blocks,
    so a session sweeping many sf_dirs must evict: at most 4 entries
    live, oldest-first eviction, newest always retained."""
    from industrial_data_pipeline_spark import suite_corpus as SC
    from industrial_data_pipeline_spark.suite_common import (
        _session_cache)
    calls = []
    monkeypatch.setattr(
        SC, "q_minhash_lsh_pairs",
        lambda s, d: (calls.append(d),
                      s.range(1).selectExpr("id AS id_a",
                                            "id + 1 AS id_b"))[1])
    cache = _session_cache(spark)
    for k in [k for k in cache if k[0] == "lsh_pairs"]:
        del cache[k]
    dirs = [f"/nonexistent/sf_fake_{i}" for i in range(6)]
    for d in dirs:
        SC._pairs_materialized(spark, d)
    live = sorted(k[1] for k in cache if k[0] == "lsh_pairs")
    assert live == sorted(dirs[-4:])
    # a re-request of a retained dir is a cache hit, not a rebuild
    SC._pairs_materialized(spark, dirs[-1])
    assert calls.count(dirs[-1]) == 1
    for k in [k for k in cache if k[0] == "lsh_pairs"]:
        del cache[k]


def test_chi_square_excludes_null_categories(spark):
    """Rows with a NULL category leave the analysis entirely —
    totals must not include observations no cell accounts for."""
    from industrial_data_pipeline_spark.operators.events_analytics import (
        chi_square_independence)
    rows = ([("a", 0)] * 10 + [("a", 1)] * 10
            + [("b", 0)] * 10 + [("b", 1)] * 10
            + [(None, 0)] * 100 + [("a", None)] * 100)
    df = spark.createDataFrame(rows, "r string, c long")
    out = chi_square_independence(df, "r", "c").collect()
    assert len(out) == 4
    for x in out:
        assert x.observed == 10 and x.expected == 10.0
        assert x.chi2_term == 0.0


def test_recursive_cte_closure_matches_iterative(spark):
    """Stretch (VERDICT r4 item 7): the WITH RECURSIVE variant of the
    hierarchy closure and the driver-side catalog walk
    (``element_paths``) must agree with the iterative loop as
    multisets: same omission contract for dangling parents and
    cycles, one row per join match for a duplicated element id, and
    ``concat_ws`` NULL skipping. Skipped on Sparks without
    SPARK-24497."""
    from collections import Counter

    import pytest as _pytest

    from industrial_data_pipeline_spark.operators.closure import (
        element_paths, hierarchy_paths, hierarchy_paths_recursive,
        supports_recursive_cte)
    if not supports_recursive_cte(spark):
        _pytest.skip("no WITH RECURSIVE on this Spark")
    rows = [(0, 1, "Root", None), (1, 2, "A", 1), (1, 3, "B", 1),
            (2, 4, "A1", 2), (3, 5, "A1x", 4),
            (2, 9, "orphan", 77),  # dangling parent: omitted by all
            (1, 10, "C1", 11), (1, 11, "C2", 10),  # 2-cycle: omitted
            (2, 3, "B2", 2),  # duplicate id 3: its children resolve twice
            (2, 12, "Bc", 3), (3, 13, None, 3),  # NULL name under id 3
            (4, 14, "N1", 13),
            (0, 20, None, None), (1, 21, "R2c", 20)]  # NULL-named root
    elem = spark.createDataFrame(
        rows, "level int, element_id long, name string, parent_id long")
    # adversarial separators too (the PI backslash form and a quote):
    # the sep is a BOUND parameter, so neither may corrupt or throw
    for sep in ["|", "\\", "it's"]:
        it = Counter((r.element_id, r.path)
                     for r in hierarchy_paths(elem, sep=sep).collect())
        rec = Counter((r.element_id, r.path)
                      for r in hierarchy_paths_recursive(
                          elem, sep=sep).collect())
        drv = Counter((r[1], r[4]) for r in element_paths(rows, sep=sep))
        assert it == rec == drv
        assert drv[(5, sep.join(["Root", "A", "A1", "A1x"]))] == 1
        assert not {9, 10, 11} & {i for i, _ in drv}
        assert drv[(12, sep.join(["Root", "B", "Bc"]))] == 1
        assert drv[(12, sep.join(["Root", "A", "B2", "Bc"]))] == 1
        assert drv[(14, sep.join(["Root", "A", "B2", "N1"]))] == 1
        assert drv[(20, None)] == 1 and drv[(21, "R2c")] == 1


def test_weighted_median_bucketed_equals_naive_window(spark):
    """q220's two-level bucketed prefix-sum median must equal the
    naive fact-wide-window definition on adversarial synthetic data:
    heavy ties (many rows at one exact price), skewed weights, prices
    straddling dollar-bucket edges, and a group whose total weight is
    even (threshold lands exactly between rows)."""
    from pyspark.sql import Window, functions as F

    # deterministic pseudo-random rows: 3 groups × 4000 rows
    df = spark.range(12000).selectExpr(
        "CASE id % 3 WHEN 0 THEN 'A' WHEN 1 THEN 'N' ELSE 'R' END"
        " AS l_returnflag",
        # ~25% of rows collapse onto exactly 1000.00; others spread
        # over [900, 1100) with cent granularity incl. x.00 edges
        "CASE WHEN id % 4 = 0 THEN 1000.0D ELSE"
        " 900.0D + (pmod(hash(id), 20000) / 100.0D) END"
        " AS l_extendedprice",
        # skewed integer weights 1..50, some huge
        "CASE WHEN pmod(hash(id, 7), 100) = 0 THEN 500L"
        " ELSE 1L + pmod(hash(id, 13), 50) END AS w")
    # naive definition: running sum over a total row order
    wnaive = (Window.partitionBy("l_returnflag")
              .orderBy("l_extendedprice", "id")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    naive = (df.withColumn("id", F.monotonically_increasing_id())
             .withColumn("cumw", F.sum("w").over(wnaive)))
    tot = df.groupBy("l_returnflag").agg(F.sum("w").alias("T"))
    want = {(r.l_returnflag, float(r.l_extendedprice)) for r in
            naive.join(tot, "l_returnflag")
            .where((2 * F.col("cumw") >= F.col("T"))
                   & (2 * (F.col("cumw") - F.col("w")) < F.col("T")))
            .select("l_returnflag", "l_extendedprice").collect()}

    # the PRODUCTION operator (shared with q220's suite entry)
    from industrial_data_pipeline_spark.operators.scale import (
        weighted_median)
    got = {(r.l_returnflag, float(r.weighted_median)) for r in
           weighted_median(df, "l_returnflag", "l_extendedprice",
                           "w").collect()}
    assert got == want and len(got) == 3


def test_apply_changelog_merge_semantics(spark):
    """apply_changelog: D removes, U replaces, I inserts; with a seq
    column, multiple entries per key collapse to the LATEST before
    applying (U then D at a higher seq ⇒ the row is gone)."""
    from industrial_data_pipeline_spark.operators.diff import (
        apply_changelog)
    snap = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    ch = spark.createDataFrame(
        [(2, "B", "U", 1), (3, None, "D", 1), (4, "d", "I", 1),
         (1, "A", "U", 1), (1, None, "D", 2)],  # late delete wins
        "k long, v string, op string, seq int")
    got = {(r.k, r.v) for r in
           apply_changelog(snap, ch, ["k"], seq_col="seq").collect()}
    assert got == {(2, "B"), (4, "d")}
    # without seq: one entry per key, plain merge
    ch1 = spark.createDataFrame(
        [(2, "B", "U"), (4, "d", "I")], "k long, v string, op string")
    got1 = {(r.k, r.v) for r in
            apply_changelog(snap, ch1, ["k"]).collect()}
    assert got1 == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}


def test_apply_changelog_contract_violations_fail_loudly(spark):
    """Review r5 pass 3: an op outside {I,U,D} must raise, not
    silently delete; duplicate keys without seq_col must raise, not
    emit duplicate keyed rows."""
    from industrial_data_pipeline_spark.operators.diff import (
        apply_changelog)
    snap = spark.createDataFrame([(1, "a")], "k long, v string")
    bad_op = spark.createDataFrame(
        [(1, "A", "update")], "k long, v string, op string")
    with pytest.raises(Exception, match="unknown op"):
        apply_changelog(snap, bad_op, ["k"]).collect()
    dup = spark.createDataFrame(
        [(1, "A", "U"), (1, "B", "U")], "k long, v string, op string")
    with pytest.raises(Exception, match="multiple changelog entries"):
        apply_changelog(snap, dup, ["k"]).collect()
    # and the same duplicate feed WITH seq collapses cleanly
    dup_seq = spark.createDataFrame(
        [(1, "A", "U", 1), (1, "B", "U", 2)],
        "k long, v string, op string, seq int")
    got = {(r.k, r.v) for r in
           apply_changelog(snap, dup_seq, ["k"],
                           seq_col="seq").collect()}
    assert got == {(1, "B")}
