"""ParquetStore: partitioned archive, first-wins/last-wins upsert (T6/T7)."""

import os
from datetime import datetime
from pathlib import Path

import pytest

from industrial_data_pipeline_spark.catalog.store import ParquetStore


def _mk(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path / "warehouse"))
    store.create_database("db1")
    return store


def _arch(spark, rows):
    return spark.createDataFrame(
        rows, "attribute_id long, timestamp timestamp, value double")


T1 = datetime(2025, 1, 1, 12, 0)
T2 = datetime(2025, 1, 2, 12, 0)


def test_create_and_list(spark, tmp_path):
    store = _mk(spark, tmp_path)
    assert store.list_databases() == ["db1"]
    assert store.archive_values("db1").count() == 0


def test_append_partitions_by_date(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.append_archive("db1", _arch(spark, [(1, T1, 1.0), (1, T2, 2.0)]))
    arch_dir = tmp_path / "warehouse" / "db1" / "archive"
    parts = {p for p in os.listdir(arch_dir) if p.startswith("ts_date=")}
    assert parts == {"ts_date=2025-01-01", "ts_date=2025-01-02"}


def test_append_clusters_files_by_attribute(spark, tmp_path):
    """Layout contract: one file per date (small-files guard) and rows
    inside each file sorted by (attribute_id, timestamp) so row-group
    min/max stats can prune single-tag scans (SCALE_NOTES.md)."""
    import glob

    import pyarrow.parquet as pq

    store = _mk(spark, tmp_path)
    # interleaved arrival order across 3 attributes, one date
    rows = [(a, datetime(2025, 1, 1, 12, m), float(m))
            for m in range(20) for a in (3, 1, 2)]
    store.append_archive("db1", _arch(spark, rows))
    files = glob.glob(
        str(tmp_path / "warehouse" / "db1" / "archive" / "*" / "*.parquet"))
    assert len(files) == 1  # one date -> one file
    t = pq.read_table(files[0], columns=["attribute_id", "timestamp"])
    pairs = list(zip(t.column("attribute_id").to_pylist(),
                     t.column("timestamp").to_pylist()))
    assert pairs == sorted(pairs)


def test_upsert_first_wins(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.append_archive("db1", _arch(spark, [(1, T1, 1.0)]))
    store.upsert_archive("db1", _arch(spark, [(1, T1, 99.0), (2, T1, 5.0)]),
                         mode="first_wins")
    got = {(r.attribute_id, r.value)
           for r in store.archive_values("db1").collect()}
    assert got == {(1, 1.0), (2, 5.0)}  # existing wins, new key inserted


def test_upsert_last_wins(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.append_archive("db1", _arch(spark, [(1, T1, 1.0)]))
    store.upsert_archive("db1", _arch(spark, [(1, T1, 99.0)]),
                         mode="last_wins")
    got = [(r.attribute_id, r.value)
           for r in store.archive_values("db1").collect()]
    assert got == [(1, 99.0)]


def test_upsert_leaves_other_partitions_untouched(spark, tmp_path):
    store = _mk(spark, tmp_path)
    store.append_archive("db1", _arch(spark, [(1, T1, 1.0), (1, T2, 2.0)]))
    # upsert touching only T1's date partition
    store.upsert_archive("db1", _arch(spark, [(1, T1, 7.0)]),
                         mode="last_wins")
    got = {(r.attribute_id, r.timestamp, r.value)
           for r in store.archive_values("db1").collect()}
    assert got == {(1, T1, 7.0), (1, T2, 2.0)}


# ------------------------- upsert algebra (the ingest-path invariants)


def _state(store):
    return sorted(tuple(r) for r in
                  store.archive_values("db1").collect())


def test_upsert_idempotent_both_modes(spark, tmp_path):
    """Replaying the same batch must be a no-op in BOTH modes — the
    property that makes crash-retry ingest safe without a write-ahead
    log."""
    for mode in ("first_wins", "last_wins"):
        store = ParquetStore(spark, str(tmp_path / f"wh_{mode}"))
        store.create_database("db1")
        batch = _arch(spark, [(1, T1, 1.0), (2, T2, 2.0)])
        store.upsert_archive("db1", batch, mode=mode)
        once = sorted(tuple(r) for r in
                      store.archive_values("db1").collect())
        store.upsert_archive("db1", batch, mode=mode)
        assert sorted(tuple(r) for r in
                      store.archive_values("db1").collect()) == once


def test_upsert_duality(spark, tmp_path):
    """first_wins keeps the incumbent, last_wins replaces it — and the
    union of keys is identical either way."""
    s1 = _mk(spark, tmp_path / "a")
    s2 = _mk(spark, tmp_path / "b")
    base = _arch(spark, [(1, T1, 10.0)])
    incoming = _arch(spark, [(1, T1, 99.0), (2, T2, 2.0)])
    for s in (s1, s2):
        s.append_archive("db1", base)
    s1.upsert_archive("db1", incoming, mode="first_wins")
    s2.upsert_archive("db1", incoming, mode="last_wins")
    a, b = _state(s1), _state(s2)
    assert [r[:2] for r in a] == [r[:2] for r in b]  # same key set
    assert a[0][2] == 10.0  # incumbent survived
    assert b[0][2] == 99.0  # incoming replaced
    assert a[1][2] == b[1][2] == 2.0  # fresh key inserted either way


def _day_files(tmp_path, day="2025-01-01"):
    part = tmp_path / "warehouse" / "db1" / "archive" / f"ts_date={day}"
    return sorted(str(f) for f in part.glob("*.parquet"))


def _minute(m):
    return datetime(2025, 1, 1, 0, m)


@pytest.mark.parametrize("mode,winner", [("first_wins", 3.0),
                                         ("last_wins", 5.0)])
def test_upsert_in_batch_duplicates_on_both_paths(spark, tmp_path, mode,
                                                  winner):
    """Duplicate keys inside one batch keep the same winner whether
    the upsert appends (only new keys) or merges (a stored key is
    updated): the smallest value under first_wins, the largest under
    last_wins. The partition already holds older minutes."""
    store = _mk(spark, tmp_path)
    store.append_archive("db1", _arch(spark, [(1, _minute(m), 1.0)
                                              for m in range(3)]))
    # append path: new minute, duplicate key
    store.upsert_archive("db1", _arch(spark, [
        (1, _minute(10), 3.0), (1, _minute(10), 5.0),
        (2, _minute(10), 4.0)]), mode=mode)
    assert len(_day_files(tmp_path)) == 2  # appended, not rewritten
    # merge path: one stored key plus a duplicate new key
    store.upsert_archive("db1", _arch(spark, [
        (1, _minute(0), 9.0), (1, _minute(11), 5.0),
        (1, _minute(11), 3.0)]), mode=mode)
    assert len(_day_files(tmp_path)) == 1  # merged into one file
    got = {(r.attribute_id, r.timestamp): r.value
           for r in store.archive_values("db1").collect()}
    assert got[(1, _minute(10))] == winner
    assert got[(1, _minute(11))] == winner
    assert got[(2, _minute(10))] == 4.0
    assert got[(1, _minute(0))] == (1.0 if mode == "first_wins" else 9.0)
    assert len(got) == 6


def test_upsert_append_leaves_stored_file_untouched(spark, tmp_path):
    """An upsert of new keys only adds a file; the stored file keeps
    its bytes and its modification time."""
    store = _mk(spark, tmp_path)
    store.append_archive("db1", _arch(spark, [(1, _minute(0), 1.0)]))
    (old,) = _day_files(tmp_path)

    def stamp():
        return os.stat(old).st_mtime_ns, Path(old).read_bytes()

    before = stamp()
    store.upsert_archive("db1", _arch(spark, [(1, _minute(1), 2.0)]),
                         mode="last_wins")
    files = _day_files(tmp_path)
    assert len(files) == 2 and old in files
    assert stamp() == before
    assert _state(store) == [(1, _minute(0), 1.0), (1, _minute(1), 2.0)]


def test_upsert_appends_stay_within_file_bound(spark, tmp_path):
    """More consecutive new-minute upserts than MAX_PARTITION_FILES
    never leave a partition above the bound: the append that would
    pass it merges the partition into one file instead, with every
    row kept."""
    from industrial_data_pipeline_spark.catalog.store import (
        MAX_PARTITION_FILES)
    store = _mk(spark, tmp_path)
    want = []
    for m in range(MAX_PARTITION_FILES + 2):
        rows = [(a, _minute(m), float(a * 100 + m)) for a in (1, 2)]
        store.upsert_archive("db1", _arch(spark, rows), mode="last_wins")
        want += rows
        assert len(_day_files(tmp_path)) <= MAX_PARTITION_FILES
    assert len(_day_files(tmp_path)) < MAX_PARTITION_FILES  # merged once
    assert _state(store) == sorted(want)


def _mk2(spark, p):
    store = ParquetStore(spark, str(p))
    store.create_database("db1")
    return store


def test_derived_maintenance_replay_converges(spark, tmp_path):
    """T5 exactly-once-by-convergence: re-processing the same source
    micro-batch (crash between append and derived upsert, then retry)
    leaves the archive in the same final state."""
    from industrial_data_pipeline_spark.streaming.derived import (
        DerivedMaintenance)
    store = _mk2(spark, tmp_path / "wh")
    attr = spark.createDataFrame(
        [(1, 1, "a", None, None), (1, 2, "b", None, None),
         (1, 9, "calc", None, "($1 + $2) / 2")],
        "element_id long, attribute_id long, name string, kks string, "
        "formula string")
    store.overwrite_dim("db1", "attribute", attr)
    dm = DerivedMaintenance(spark, store, "db1")
    batch = _arch(spark, [(1, T1, 4.0), (2, T1, 6.0)])
    dm.process_batch(batch)
    once = _state(store)
    assert (9, T1, 5.0) in once  # derived landed
    dm.process_batch(batch)  # replay
    assert _state(store) == once


def test_drop_archive_partitions(spark, tmp_path):
    from datetime import datetime as T

    from industrial_data_pipeline_spark.catalog.store import ParquetStore
    st = ParquetStore(spark, str(tmp_path))
    st.create_database("ttl")
    rows = [(1, T(2024, 1, d, 6), float(d)) for d in (1, 2, 3)]
    st.append_archive("ttl", spark.createDataFrame(
        rows, "attribute_id long, timestamp timestamp, value double"))
    assert st.drop_archive_partitions("ttl", "2024-01-03") == 2
    left = sorted(r["timestamp"].day
                  for r in st.archive_values("ttl").collect())
    assert left == [3]
    # idempotent: nothing older remains
    assert st.drop_archive_partitions("ttl", "2024-01-03") == 0


def test_compact_archive_merges_files_preserves_rows(spark, tmp_path):
    from datetime import datetime as T

    from industrial_data_pipeline_spark.catalog.store import ParquetStore
    st = ParquetStore(spark, str(tmp_path))
    st.create_database("c")
    # three appends → 3 files in the 01-01 partition, 1 in 01-02
    for a in (1, 2, 3):
        rows = [(a, T(2024, 1, 1, h), float(a * 10 + h))
                for h in range(4)]
        if a == 1:
            rows.append((a, T(2024, 1, 2, 0), 99.0))
        st.append_archive("c", spark.createDataFrame(
            rows, "attribute_id long, timestamp timestamp, value double"))
    before = sorted((r.attribute_id, r.timestamp, r.value)
                    for r in st.archive_values("c").collect())
    stats = dict((d, (b, a)) for d, b, a in st.compact_archive("c"))
    assert stats["2024-01-01"] == (3, 1)
    assert stats["2024-01-02"] == (1, 1)  # under target: untouched
    after = sorted((r.attribute_id, r.timestamp, r.value)
                   for r in st.archive_values("c").collect())
    assert after == before
    # idempotent: second pass finds nothing to merge
    assert all(b == a == 1 for _, b, a in st.compact_archive("c"))


def test_compact_archive_crash_recovery(spark, tmp_path):
    """A compaction that died between the two renames leaves the
    partition only under _compact_old_; the next run must restore
    it (and clear stale _compact_tmp_) before compacting. Staging
    dirs are _-prefixed so Spark partition discovery never sees
    them."""
    import os
    import shutil
    from datetime import datetime as T

    from industrial_data_pipeline_spark.catalog.store import ParquetStore
    st = ParquetStore(spark, str(tmp_path))
    st.create_database("r")
    for a in (1, 2):
        st.append_archive("r", spark.createDataFrame(
            [(a, T(2024, 1, 1, h), float(h)) for h in range(3)],
            "attribute_id long, timestamp timestamp, value double"))
    root = os.path.join(str(tmp_path), "r", "archive")
    live = os.path.join(root, "ts_date=2024-01-01")
    # simulate the crash window: live dir renamed away, stale tmp left
    os.rename(live, os.path.join(root, "_compact_old_2024-01-01"))
    os.makedirs(os.path.join(root, "_compact_tmp_2024-01-01"))
    # staging must be invisible to reads (no bogus partition, no rows)
    assert st.archive_values("r").count() == 0
    stats = dict((d, (b, a)) for d, b, a in st.compact_archive("r"))
    assert stats["2024-01-01"] == (2, 1)
    assert st.archive_values("r").count() == 6
    assert not any(d.startswith("_compact") for d in os.listdir(root))


def test_writer_lock_blocks_second_process(spark, tmp_path):
    """VERDICT r4 item 8 (flock design, review r5): the single-writer
    boundary is an enforced property — a lock held by another LIVE
    process raises ConcurrentWriterError; a lock whose holder died is
    released by the KERNEL (no stale-lock state at all); in-process
    nesting is reentrant. The lock file lives at root level so a
    write against a misspelled database can't create a phantom
    database directory."""
    import subprocess
    import sys
    import time as _time

    from industrial_data_pipeline_spark.catalog.store import (
        ConcurrentWriterError, ParquetStore)
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.create_database("db")

    # reentrant: nested writes under one explicit lock succeed
    with store.write_lock("db"):
        store.append_archive("db", spark.createDataFrame(
            [], "attribute_id long, timestamp timestamp, value double"))

    # live foreign holder: a child process flocks and holds → loud error
    child_code = r"""
import fcntl, os, sys, time
fd = os.open(sys.argv[1], os.O_CREAT | os.O_RDWR)
fcntl.flock(fd, fcntl.LOCK_EX)
print("HELD", flush=True)
time.sleep(float(sys.argv[2]))
"""
    lock = store._lock_path("db")
    holder = subprocess.Popen(
        [sys.executable, "-c", child_code, lock, "15"],
        stdout=subprocess.PIPE, text=True)
    try:
        assert holder.stdout.readline().strip() == "HELD"
        with pytest.raises(ConcurrentWriterError):
            with store.write_lock("db", timeout_s=0.3):
                pass
    finally:
        holder.kill()
        holder.wait()
    # holder process is dead → kernel released the flock: acquire is
    # instant, no steal protocol involved
    t0 = _time.monotonic()
    with store.write_lock("db", timeout_s=5.0):
        pass
    assert _time.monotonic() - t0 < 2.0
    # a write against a nonexistent database must not leave a phantom
    # database directory behind (the lock lives at root level)
    assert store.drop_archive_partitions("no-such-db", "2024-01-01") == 0
    assert "no-such-db" not in store.list_databases()
    # lock files are invisible to list_databases
    assert store.list_databases() == ["db"]


def test_writer_lock_race_single_winner(tmp_path):
    """True multi-process race: N processes claim the same database's
    lock simultaneously; mutual exclusion must hold at every instant
    and the queue must drain (flock serializes; kernel releases each
    holder on exit)."""
    import multiprocessing as mp

    code = r"""
import os, sys, time
sys.path.insert(0, "/root/repo")
from industrial_data_pipeline_spark.catalog.store import ParquetStore

store = ParquetStore.__new__(ParquetStore)
store.root = sys.argv[1]
witness = os.path.join(sys.argv[1], "witness")
with store.write_lock("db", timeout_s=30.0):
    assert not os.path.exists(witness), "second writer inside lock!"
    open(witness, "w").close()
    time.sleep(0.05)
    os.remove(witness)
print("OK")
"""
    root = str(tmp_path / "race")
    os.makedirs(root, exist_ok=True)
    procs = [mp.Process(target=_run_child, args=(code, root))
             for _ in range(6)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
    assert all(p.exitcode == 0 for p in procs), \
        [p.exitcode for p in procs]


def _run_child(code, root):
    import subprocess
    import sys

    r = subprocess.run([sys.executable, "-c", code, root],
                       capture_output=True, text=True, timeout=55)
    if r.returncode != 0 or "OK" not in r.stdout:
        raise SystemExit(r.returncode or 1)
