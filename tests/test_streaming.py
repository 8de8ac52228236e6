"""Streaming derived-attribute maintenance (T5): micro-batch recompute
must reach the same final state as the reference's per-row triggers."""

import os
from datetime import datetime

import pytest

from industrial_data_pipeline_spark.api import Pipeline
from industrial_data_pipeline_spark.streaming.derived import (
    DerivedMaintenance,
)

from tests.fixtures import write_tree

T = datetime


@pytest.fixture()
def pipe(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path / "wh"))
    p.create_database("plant")
    p.load_tree("plant", write_tree(tmp_path))
    # derived: mean of attrs 1 (FanA|Temperature) and 2 (FanA|Pressure);
    # no history yet → backfill no-ops, maintenance does the work
    p.insert_attribute("plant", element_id=3, name="AvgTP",
                       formula="($1 + $2) / 2")
    return p


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "attribute_id long, timestamp timestamp, value double")


def test_batchwise_trigger_semantics(spark, pipe):
    m = DerivedMaintenance(spark, pipe.store, "plant")
    t0, t1 = T(2025, 1, 1, 0, 0), T(2025, 1, 1, 0, 1)

    # batch 1: only attr 1 arrives → guard holds, no derived row
    m.process_batch(_batch(spark, [(1, t0, 10.0), (1, t1, 12.0)]))
    arch = pipe.store.archive_values("plant")
    assert arch.where("attribute_id = 4").count() == 0

    # batch 2: attr 2 arrives at t0 only → derived appears at t0 only,
    # using the sibling value stored by batch 1 (cross-batch alignment)
    m.process_batch(_batch(spark, [(2, t0, 20.0)]))
    arch = pipe.store.archive_values("plant")
    got = arch.where("attribute_id = 4").collect()
    assert [(r.timestamp, r.value) for r in got] == [(t0, 15.0)]

    # batch 3: re-send attr 1 at t0 with a new value → trigger is
    # ON CONFLICT DO UPDATE (last-wins): derived recomputed
    m.process_batch(_batch(spark, [(1, t0, 30.0)]))
    arch = pipe.store.archive_values("plant")
    assert arch.where("attribute_id = 4").first().value == 25.0
    # source row itself also updated last-wins
    assert arch.where("attribute_id = 1 AND timestamp = "
                      f"'{t0}'").first().value == 30.0


def test_streaming_end_to_end(spark, pipe, tmp_path):
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(staging)
    m = DerivedMaintenance(spark, pipe.store, "plant")
    q = m.attach_staging_dir(staging, ckpt)
    try:
        t0 = T(2025, 1, 1, 0, 0)
        _batch(spark, [(1, t0, 10.0)]).write.mode("append").parquet(staging)
        q.processAllAvailable()
        _batch(spark, [(2, t0, 20.0)]).write.mode("append").parquet(staging)
        q.processAllAvailable()
    finally:
        q.stop()
    arch = pipe.store.archive_values("plant")
    rows = {(r.attribute_id, r.timestamp, r.value) for r in arch.collect()}
    assert rows == {(1, t0, 10.0), (2, t0, 20.0), (4, t0, 15.0)}


def test_two_derived_formulas_one_batch(spark, pipe):
    """TWO derived formulas over intersecting sources, both touched
    by one batch, both land with the batch's values."""
    pipe.insert_attribute("plant", element_id=3, name="DiffTP",
                          formula="$1 - $2")
    m = DerivedMaintenance(spark, pipe.store, "plant")
    t0 = T(2025, 1, 1, 0, 0)
    m.process_batch(_batch(spark, [(1, t0, 10.0), (2, t0, 4.0)]))
    vals = {r.attribute_id: r.value for r in
            pipe.store.archive_values("plant").collect()}
    # AvgTP = (10+4)/2 = 7, DiffTP = 10-4 = 6 (derived ids allocated
    # in insert order after the sources)
    derived = sorted(v for k, v in vals.items() if k not in (1, 2))
    assert derived == [6.0, 7.0]


def test_formula_over_derived_ids_only_is_maintained(spark, pipe):
    """A formula whose sources are all derived (``$4 * 2`` over AvgTP)
    is touched by the AvgTP rows the same batch produces, and sees
    their new values."""
    did = pipe.insert_attribute("plant", element_id=3, name="TwiceAvg",
                                formula="$4 * 2")
    m = DerivedMaintenance(spark, pipe.store, "plant")
    t0 = T(2025, 1, 1, 0, 0)
    m.process_batch(_batch(spark, [(1, t0, 10.0), (2, t0, 20.0)]))
    m.process_batch(_batch(spark, [(1, t0, 30.0)]))
    vals = {r.attribute_id: r.value for r in
            pipe.store.archive_values("plant").collect()}
    assert vals[4] == 25.0
    assert vals[did] == 50.0


def test_batch_reading_of_derived_id_yields_to_computed_value(spark,
                                                              pipe):
    """A batch that carries a reading for a derived attribute's own id
    ends with the computed value where the formula applies; where it
    does not, the reading is kept."""
    m = DerivedMaintenance(spark, pipe.store, "plant")
    t0, t1 = T(2025, 1, 1, 0, 0), T(2025, 1, 1, 0, 1)
    m.process_batch(_batch(spark, [(1, t0, 10.0), (2, t0, 20.0),
                                   (4, t0, 999.0), (4, t1, 7.0)]))
    got = {r.timestamp: r.value for r in
           pipe.store.archive_values("plant")
           .where("attribute_id = 4").collect()}
    assert got == {t0: 15.0, t1: 7.0}


def test_session_merge_never_regresses_open_end():
    """Cross-batch late event: within-batch sort does not order events
    against the STATE-carried open session, so an event earlier than
    the carried end must widen the span (min/max), not overwrite it —
    a regressed end makes the next gap test split a live session."""
    from industrial_data_pipeline_spark.streaming.queries import (
        _merge_session_events)
    mn = 60_000_000  # one minute in µs
    gap = 30 * mn
    # carried open session: 09:30–10:00 (2 events)
    cur = [570 * mn, 600 * mn, 2, 0]
    # batch 2: late 09:45, then 10:25 (25 min after the true end)
    done, cur = _merge_session_events(cur, [585 * mn, 625 * mn],
                                      [0, 0], gap)
    assert done == []              # buggy end-regression would split
    assert cur == [570 * mn, 625 * mn, 4, 0]
    # a late event can also extend the span BACKWARDS
    done, cur = _merge_session_events(cur, [560 * mn], [0], gap)
    assert done == [] and cur[0] == 560 * mn and cur[1] == 625 * mn
    # and a genuine gap still splits
    done, cur = _merge_session_events(cur, [700 * mn], [7], gap)
    assert len(done) == 1 and cur == [700 * mn, 700 * mn, 1, 7]


def test_streaming_lsh_gate_cross_batch_state(spark):
    """q240's load-bearing property: batch 2's near-dup mutants of
    batch 1's ADMITTED documents are rejected — possible only if
    batch 1's admissions really advanced the corpus between
    micro-batches (cross-batch state through the store, not
    intra-batch luck)."""
    from industrial_data_pipeline_spark.suite_llm import (
        q_streaming_lsh_gate)
    out = {r.doc_id: r for r in
           q_streaming_lsh_gate(spark,
                                "/root/testdata/sf0.001").collect()}
    # batch-1 mutants of corpus docs: rejected against the base corpus
    assert all(not out[700000 + i].admitted for i in range(5))
    # batch-1 fresh (token-reversed) docs: admitted
    assert all(out[710100 + i].admitted for i in range(5))
    # batch-2 mutants of the batch-1 ADMISSIONS: rejected (the
    # cross-batch proof — their only possible match is a 710xxx doc)
    assert all(not out[720100 + i].admitted
               and out[720100 + i].n_matches >= 1 for i in range(5))
    # batch-2 fresh docs: admitted
    assert all(out[730105 + i].admitted for i in range(5))


import pytest as _pytest


@_pytest.mark.parametrize("lock_backend", ["flock", "lease"])
def test_two_concurrent_gates_serialize_under_writer_lock(spark,
                                                          tmp_path,
                                                          lock_backend):
    """VERDICT r7 item 8 (stretch): TWO concurrent streaming
    admission gates over ONE shared StoredLshIndex, each foreachBatch
    body running under the store writer lock. Pins the
    admission-ledger serializability claim with order-independent
    assertions:

    - mutual exclusion: a witness file proves no two handler bodies
      ever overlapped (the lock really serializes the streams);
    - serializability: for each planted CROSS-STREAM near-dup pair
      (stream A admits X, stream B offers a mutant of X, or vice
      versa) EXACTLY ONE of the two is admitted — whichever stream's
      batch committed first wins, the other must see its append.
      Both-admitted would prove a probe raced an append; both-
      rejected is impossible for texts absent from the base corpus;
    - determinism at the edges: corpus mutants always rejected,
      per-stream exclusive fresh docs always admitted."""
    import os

    from pyspark.sql import functions as F

    from industrial_data_pipeline_spark.catalog.store import ParquetStore
    from industrial_data_pipeline_spark.operators.lsh_index import (
        StoredLshIndex)

    root = str(tmp_path)
    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "one two three four five six seven eight")],
        "doc_id long, text string")
    idx = StoredLshIndex(spark, os.path.join(root, "idx"),
                         threshold=0.5)
    idx.build(base)
    store = ParquetStore.__new__(ParquetStore)
    store.root = root
    store.lock_backend = lock_backend  # both backends must serialize
    ledger_dir = os.path.join(root, "ledger")
    witness = os.path.join(root, "witness")

    # five cross-stream pairs: A offers P_i, B offers a near-copy
    pair_words = [
        "red orange yellow green blue indigo violet maroon",
        "cat dog bird fish horse cow sheep goat",
        "north south east west up down left right",
        "mon tue wed thu fri sat sun week",
        "iron gold silver copper zinc lead tin nickel",
    ]
    a_rows = [(100 + i, w) for i, w in enumerate(pair_words)]
    b_rows = [(200 + i, w + " qqq") for i, w in enumerate(pair_words)]
    # edges: corpus mutant (always rejected) + exclusive fresh doc
    a_rows += [(150, base.collect()[0].text + " qqq"),
               (151, "ant bee fly moth wasp beetle gnat tick")]
    b_rows += [(250, base.collect()[1].text + " qqq"),
               (251, "oak elm ash pine birch cedar maple fir")]

    def make_handler(tag):
        def handle(batch, epoch_id):
            batch = (batch.select("doc_id", "text")
                     .localCheckpoint(eager=True))
            if batch.isEmpty():
                return
            with store.write_lock("gate", timeout_s=60.0):
                assert not os.path.exists(witness), \
                    "two gate handlers interleaved inside the lock!"
                open(witness, "w").close()
                try:
                    bands_df, shingles_df = idx.signature_frames(batch)
                    bands_df = bands_df.localCheckpoint(eager=True)
                    shingles_df = shingles_df.localCheckpoint(
                        eager=True)
                    matches = idx.probe_frames(bands_df, shingles_df)
                    per_new = matches.groupBy("new_id").agg(
                        F.count("*").alias("n_matches"))
                    stats = (batch.join(
                        per_new, batch.doc_id == per_new.new_id,
                        "left")
                        .select(batch.doc_id,
                                F.coalesce("n_matches", F.lit(0))
                                .cast("long").alias("n_matches"))
                        .localCheckpoint(eager=True))
                    admitted = stats.where(
                        F.col("n_matches") == 0).select("doc_id")
                    idx.append_frames(
                        bands_df.join(F.broadcast(admitted), "doc_id"),
                        shingles_df.join(F.broadcast(admitted),
                                         "doc_id"))
                    (stats.select(
                        "doc_id", F.lit(tag).alias("stream"),
                        (F.col("n_matches") == 0).alias("admitted"))
                     .write.mode("append").parquet(ledger_dir))
                finally:
                    os.remove(witness)
        return handle

    streams = []
    for tag, rows in (("A", a_rows), ("B", b_rows)):
        staging = os.path.join(root, f"staging_{tag}")
        os.makedirs(staging)
        src = (spark.readStream.schema("doc_id long, text string")
               .parquet(staging))
        q = (src.writeStream.foreachBatch(make_handler(tag))
             .option("checkpointLocation",
                     os.path.join(root, f"ckpt_{tag}"))
             .outputMode("update").start())
        streams.append(q)
        (spark.createDataFrame(rows, "doc_id long, text string")
         .coalesce(1).write.mode("append").parquet(staging))
    try:
        for q in streams:
            q.processAllAvailable()
    finally:
        for q in streams:
            q.stop()

    led = {r.doc_id: r.admitted
           for r in spark.read.parquet(ledger_dir).collect()}
    # serializability: exactly one of each cross-stream pair admitted
    for i in range(5):
        assert led[100 + i] != led[200 + i], (
            f"pair {i}: A={led[100 + i]} B={led[200 + i]} — a gate "
            "raced the other's append")
    # corpus mutants always rejected; exclusive fresh docs admitted
    assert led[150] is False and led[250] is False
    assert led[151] is True and led[251] is True


def test_curation_stream_composition(spark):
    """q253's load-bearing composition properties, pinned on the
    actual ledger: (a) a quality-PASSING duplicate is rejected by
    the dedup gate; (b) admitted batch-1 docs advance the index so
    their batch-2 mutants are rejected — even quality-passing ones;
    (c) batch-1 quality-REJECTS do NOT poison the index: their
    batch-2 near-copies show zero matches."""
    from industrial_data_pipeline_spark.suite_llm import (
        q_curation_stream)
    led = {r.doc_id: r for r in
           q_curation_stream(spark,
                             "/root/testdata/sf0.001").collect()}
    # corpus mutants: duplicates regardless of quality verdict
    assert all(led[700000 + i].n_matches >= 1 and
               not led[700000 + i].admitted for i in range(5))
    admits_b1 = [i for i in range(5)
                 if led[710100 + i].admitted]
    rejects_b1 = [i for i in range(5)
                  if not led[710100 + i].quality_keep]
    assert admits_b1 and rejects_b1  # both gates discriminate
    # (b) mutants of ADMITTED docs are caught cross-batch
    assert all(led[720100 + i].n_matches >= 1 for i in admits_b1)
    # (c) mutants of quality-REJECTED docs sail through the dedup
    # gate — the rejects never entered the index
    assert all(led[720100 + i].n_matches == 0 for i in rejects_b1)


def test_multigate_stream_gate_attribution(spark):
    """q256's non-obvious semantics, asserted per gate: token-REVERSED
    corpus copies are invisible to the shingle gate (n_matches 0) but
    caught by the order-invariant embedding gate; suffix-transformed
    novel docs pass both dedup gates in batch 1; their reversed twins
    in batch 2 are embedding-rejected IFF the twin was admitted (the
    cross-batch proof that batch 1's append advanced the signature/
    vector assets — and that rejects did NOT poison them); plain text
    mutants still die on the text gate."""
    from industrial_data_pipeline_spark.suite_llm import (
        q_multigate_stream)

    out = {r.doc_id: r for r in
           q_multigate_stream(spark,
                              "/root/testdata/sf0.001").collect()}
    for i in range(5):  # ' qqq' text near-dups: text gate fires
        r = out[740000 + i]
        assert r.n_matches > 0 and not r.admitted
    for i in range(100, 105):  # reversed: ONLY the embedding gate
        r = out[750000 + i]
        assert r.n_matches == 0 and r.n_emb_matches > 0
        assert not r.admitted
    for i in range(105, 110):  # novel in b1; reversed twin in b2
        r1, r2 = out[760000 + i], out[770000 + i]
        assert r1.n_matches == 0 and r1.n_emb_matches == 0
        if r1.admitted:  # b1 append advanced the embedding index
            assert r2.n_emb_matches > 0 and not r2.admitted
        else:  # quality-reject must not have poisoned either index
            assert r2.n_matches == 0 and r2.n_emb_matches == 0
    assert any(out[760000 + i].admitted for i in range(105, 110)), \
        "fixture degenerate: no b1 admit exercises the index advance"
    for i in range(110, 115):  # fresh b2 admits (quality permitting)
        r = out[780000 + i]
        assert r.n_matches == 0 and r.n_emb_matches == 0


def test_ledger_compaction_bounds_files_and_preserves_rows(
        spark, tmp_path):
    """VERDICT r8 item 2, the LEDGER half: a foreachBatch admission
    ledger accretes one file per micro-batch; compact_parquet_dir
    (the q205 swap, shared with StoredLshIndex.compact) folds it back
    to a bounded, doc_id-clustered layout with rows byte-identical —
    and a crash between the two renames recovers on the next call."""
    import os

    from pyspark.sql import functions as F

    from industrial_data_pipeline_spark.operators.lsh_index import (
        compact_parquet_dir)

    ledger = str(tmp_path / "ledger")
    for b in range(4):  # four micro-batch appends
        (spark.range(b * 10, b * 10 + 10)
         .select(F.col("id").alias("doc_id"),
                 (F.col("id") % 2 == 0).alias("admitted"),
                 F.lit(b).cast("long").alias("epoch"))
         .coalesce(1).write.mode("append").parquet(ledger))

    def files():
        return sum(1 for _, _, fs in os.walk(ledger)
                   for f in fs if f.endswith(".parquet"))

    def rows():
        return sorted(map(tuple,
                          spark.read.parquet(ledger).collect()))

    before_files, before_rows = files(), rows()
    assert before_files >= 4
    stats = compact_parquet_dir(spark, ledger, ("doc_id",),
                                max_records_per_file=100)
    assert stats["files_after"] < before_files
    assert rows() == before_rows  # byte-identical content
    # crash simulation: live dir gone, _compact_old holds the data
    os.rename(ledger, ledger + "_compact_old")
    stats2 = compact_parquet_dir(spark, ledger, ("doc_id",))
    assert rows() == before_rows  # recovery sweep restored, then ran
    assert stats2["files_after"] <= stats["files_after"]


def test_epoch_append_is_retry_idempotent(spark, tmp_path):
    """Exactly-once admission under micro-batch retries: replaying
    an epoch's append_frames (a crashed-then-restarted foreachBatch
    re-runs its in-flight epoch) REPLACES that epoch's partition
    instead of double-appending — a duplicate shingle row would
    duplicate verify OUTPUT rows, not just waste space. Also pins
    that epoch-less appends still accumulate (the ad-hoc path) and
    that compaction folds epochs into history without changing
    probe results."""
    from industrial_data_pipeline_spark.operators.lsh_index import (
        StoredLshIndex)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    idx = StoredLshIndex(spark, str(tmp_path / "idx"), threshold=0.5)
    idx.build(docs)
    newcomer = spark.createDataFrame(
        [(10, "red orange yellow green blue indigo violet")],
        "doc_id long, text string")
    frames = idx.signature_frames(newcomer)
    bands_df = frames[0].localCheckpoint(eager=True)
    shingles_df = frames[1].localCheckpoint(eager=True)
    idx.append_frames(bands_df, shingles_df, epoch_id=7)
    idx.append_frames(bands_df, shingles_df, epoch_id=7)  # retry!
    probe = spark.createDataFrame(
        [(11, "red orange yellow green blue indigo violet")],
        "doc_id long, text string")
    rows = idx.probe(probe).collect()
    assert [(r.new_id, r.old_id, r.jaccard_sim)
            for r in rows] == [(11, 10, 1.0)]  # ONE row, not two
    # raw asset check: exactly one shingle row for doc 10
    assert idx.shingle_table().where("doc_id = 10").count() == 1
    # compaction folds the epoch partition into history (_epoch=-1)
    idx.compact()
    assert idx.shingle_table().where("doc_id = 10").count() == 1
    assert [(r.new_id, r.old_id) for r in
            idx.probe(probe).collect()] == [(11, 10)]
    eps = {r._epoch for r in
           idx.shingle_table().select("_epoch").distinct().collect()}
    assert eps == {-1}


def test_retried_epoch_probe_ignores_crashed_attempt(spark, tmp_path):
    """Review r9 findings 1+2: a retried epoch must make the SAME
    admission decisions as a clean run even though the crashed
    attempt already appended its _epoch=N rows — (a) the probe
    excludes the in-flight epoch (else every previously-admitted doc
    self-matches and is flipped to rejected, and the then-empty
    overwrite never clears the stale partition); (b) an in-stream
    compact with in_flight_epoch=N DROPS the leftovers instead of
    folding them into history where the retry's overwrite could
    never reach them."""
    from industrial_data_pipeline_spark.operators.lsh_index import (
        StoredLshIndex)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    idx = StoredLshIndex(spark, str(tmp_path / "idx"), threshold=0.5)
    idx.build(docs)
    newcomer = spark.createDataFrame(
        [(10, "red orange yellow green blue indigo violet")],
        "doc_id long, text string")
    frames = idx.signature_frames(newcomer)
    bands_df = frames[0].localCheckpoint(eager=True)
    shingles_df = frames[1].localCheckpoint(eager=True)
    # --- crashed attempt of epoch 3: probed clean, admitted, appended
    assert idx.probe_frames(bands_df, shingles_df,
                            exclude_epoch=3).count() == 0
    idx.append_frames(bands_df, shingles_df, epoch_id=3)
    # --- retry of epoch 3 (scenario a): the probe MUST NOT see the
    # crashed attempt's rows — unexcluded it would self-match...
    assert idx.probe(newcomer).count() == 1  # the hazard, visible
    # ...excluded, the decision matches the clean run
    assert idx.probe_frames(bands_df, shingles_df,
                            exclude_epoch=3).count() == 0
    idx.append_frames(bands_df, shingles_df, epoch_id=3)  # re-admit
    assert idx.shingle_table().where("doc_id = 10").count() == 1
    # --- scenario b: a retry that compacts FIRST (q256's cadence)
    # must purge the in-flight leftovers, not fold them to history
    idx.compact(in_flight_epoch=3)
    assert idx.shingle_table().where("doc_id = 10").count() == 0
    assert idx.probe_frames(bands_df, shingles_df,
                            exclude_epoch=3).count() == 0
    idx.append_frames(bands_df, shingles_df, epoch_id=3)
    assert idx.shingle_table().where("doc_id = 10").count() == 1
    # committed epochs (< in-flight) FOLD rather than drop
    idx.compact(in_flight_epoch=4)
    assert idx.shingle_table().where("doc_id = 10").count() == 1
    eps = {r._epoch for r in idx.shingle_table()
           .select("_epoch").distinct().collect()}
    assert eps == {-1}


def test_retract_every_doc_keeps_index_probeable(spark, tmp_path):
    """Review r9 finding 6: retracting EVERY indexed doc empties the
    assets — the explicit read schemas must keep them probeable
    (empty gate result, not an inference AnalysisException), and a
    later append revives the index."""
    from industrial_data_pipeline_spark.operators.lsh_index import (
        StoredLshIndex)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "one two three four five six")],
        "doc_id long, text string")
    idx = StoredLshIndex(spark, str(tmp_path / "idx"), threshold=0.5)
    idx.build(docs)
    idx.retract([1, 2])
    probe = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    assert idx.probe(probe).count() == 0          # empty, not a crash
    assert idx.band_table().count() == 0
    idx.append_frames(*idx.signature_frames(docs.where("doc_id = 1")))
    assert {r.old_id for r in idx.probe(probe).collect()} == {1}
