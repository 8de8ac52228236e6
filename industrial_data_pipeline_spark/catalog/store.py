"""Parquet-backed multi-database store.

Layout (one directory per "database", mirroring the reference's
one-PostgreSQL-database-per-plant layout, SURVEY.md §1.1):

    {root}/{database}/element/    — tiny dim, plain parquet
    {root}/{database}/attribute/  — tiny dim, plain parquet
    {root}/{database}/archive/    — fact table, partitioned by ts_date

Scale notes (the design target is ~100 TB of archive):

- ``archive`` is hive-partitioned by ``ts_date = date(timestamp)``:
  time-range queries prune partitions at plan time; within files,
  parquet min/max row-group stats prune on ``attribute_id``.
- Upserts (the reference's ON CONFLICT paths, its database.py:594
  and :712) first probe the date partitions present in the incoming
  batch for its keys. A batch of new keys only — a live minute, a
  fresh backfill — is appended as one new file per date, like the
  reference's COPY, and writes only its own rows. A batch that
  updates a stored key is a
  *partition-scoped merge*: the affected partitions are read, deduped
  and rewritten as one file each via dynamic partition overwrite. A
  partition that would pass ``MAX_PARTITION_FILES`` files also takes
  the merge, so a live day holds a bounded number of files and
  1-minute ingest rewrites a day once per ``MAX_PARTITION_FILES``
  appends, whatever the history size.
- Deletes (catalog cascades, /root/reference/database/database.py:915-958)
  are anti-join rewrites. They are rare management-plane operations in
  the reference; we rewrite the full table for dims and all partitions
  for archive (a Delta/Iceberg MERGE slots in behind the same method
  signatures when those jars are available — import-gated, not assumed).
- Dims are small (thousands of rows); every fact⋈dim join should
  broadcast them — readers get them via :meth:`element` /
  :meth:`attribute` and join with ``F.broadcast``. Dims are written
  on the driver: :meth:`overwrite_dim` collects its frame and writes
  one parquet file with pyarrow, as :meth:`create_database` does for
  an empty dim, instead of running a Spark write job.

Single-writer assumption matches the reference (one Flask app, one
ingest daemon per database).
"""

from __future__ import annotations

import contextlib
import fcntl
import functools
import json
import os
import shutil
import threading
import time

from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    functions as F,
    types as T,
)

from industrial_data_pipeline_spark.catalog.schemas import (
    ARCHIVE_PARTITION_COL,
    ARCHIVE_SCHEMA,
    ATTRIBUTE_SCHEMA,
    ELEMENT_SCHEMA,
)

_TABLES = ("element", "attribute", "archive")

#: most parquet files an append may leave in one archive date
#: partition; an upsert that would exceed it merges the partition back
#: into one file instead (per-file read cost in SCALE_NOTES.md)
MAX_PARTITION_FILES = 8

#: largest upsert (rows) whose keys the stored-key probe broadcasts;
#: 16 B of key per row keeps it far below the broadcast threshold
PROBE_BROADCAST_ROWS = 100_000


def _resolve(rows: DataFrame, pick) -> DataFrame:
    """One row per (attribute_id, timestamp): ``pick`` (``F.min_by`` or
    ``F.max_by``) over the ordering struct (_src, value). ``_src``
    ranks stored rows (0) against incoming ones (1); value breaks the
    tie between duplicate incoming keys, which would otherwise get a
    partition-order-dependent winner. Grouping on the date as well is
    free (it is a function of the timestamp) and lets a frame already
    repartitioned by date aggregate without a second shuffle."""
    return (rows.groupBy("attribute_id", "timestamp",
                         ARCHIVE_PARTITION_COL)
            .agg(pick("value", F.struct("_src", "value")).alias("value"))
            .select("attribute_id", "timestamp", "value",
                    ARCHIVE_PARTITION_COL))


def _write_dim_file(path: str, schema: T.StructType, rows: list) -> None:
    """Write ``rows`` as the single parquet file of dim directory
    ``path``, with the Arrow types Spark's own writer would use
    (``to_arrow_schema``). Every field is nullable, as Spark writes
    them: a frame read back from parquet may carry NULL ids."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path, exist_ok=True)
    fields = [f.with_nullable(True) for f in to_arrow_schema(schema)]
    table = pa.table(
        [pa.array([r[i] for r in rows], type=f.type)
         for i, f in enumerate(fields)],
        schema=pa.schema(fields))
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


class ConcurrentWriterError(RuntimeError):
    """A second PROCESS tried to mutate a database another process is
    writing. The store's contract is single-writer-per-database
    (module docstring — the reference runs one Flask app + one ingest
    daemon per database); this error turns a silent-corruption
    scenario (interleaved dynamic-partition overwrites) into a loud
    one."""


def _locked(method):
    """Run a store write under the database's writer lock."""
    @functools.wraps(method)
    def wrapper(self, database, *args, **kwargs):
        with self.write_lock(database):
            return method(self, database, *args, **kwargs)
    return wrapper


#: process-global per-(root, database) lock state, shared by every
#: ParquetStore instance in the process — the single-writer contract
#: is per PROCESS, so two instances over the same root must share one
#: flock fd and one in-process RLock, not race each other.
#: entry: {"rlock": RLock, "depth": int, "fd": int | None}
_PROC_LOCKS: dict[tuple[str, str], dict] = {}
_PROC_LOCKS_GUARD = threading.Lock()


class ParquetStore:
    #: class-level default so partially-constructed instances
    #: (tests use ``__new__`` for lock-only children) still resolve
    #: a backend
    lock_backend = "flock"

    def __init__(self, spark: SparkSession, root: str,
                 lock_backend: str = "flock"):
        """``lock_backend``: ``"flock"`` (default — exact on one
        node, kernel-released on holder death) or ``"lease"``
        (catalog/lease.py — heartbeat + stale takeover + fencing
        token, for roots on object storage / shared filesystems
        where no kernel spans the writers). ALL writers of a root
        must agree on the backend; a mixed pair would be guarding
        different files and exclude nothing, so the process-global
        lock state rejects a mismatch loudly."""
        if lock_backend not in ("flock", "lease"):
            raise ValueError(f"unknown lock_backend {lock_backend!r}")
        self.spark = spark
        self.root = root
        self.lock_backend = lock_backend
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------ writer lock
    def _lock_path(self, database: str) -> str:
        # ROOT-level dotfile, NOT inside the database directory: the
        # lock must never create a phantom database dir for a
        # misspelled name (list_databases only reports directories,
        # and a dotFILE at root is invisible to it either way).
        return os.path.join(self.root, f".{database}.writer.lock")

    def _lock_state(self, database: str) -> dict:
        key = (os.path.abspath(self.root), database)
        with _PROC_LOCKS_GUARD:
            st = _PROC_LOCKS.setdefault(
                key, {"rlock": threading.RLock(), "depth": 0,
                      "fd": None, "lease": None,
                      "backend": self.lock_backend})
            if st["backend"] != self.lock_backend:
                # two instances guarding DIFFERENT files would
                # exclude nothing — fail loudly (constructor note)
                raise ConcurrentWriterError(
                    f"store root {self.root!r} is already locked via "
                    f"backend {st['backend']!r} in this process; "
                    f"refusing to mix with {self.lock_backend!r}")
            return st

    @contextlib.contextmanager
    def write_lock(self, database: str, timeout_s: float = 10.0):
        """Enforce the single-writer-per-database boundary (module
        docstring) with ``flock``: the kernel releases the lock the
        instant the holding process dies, so there are no stale locks
        and no steal protocol (the previous link/rename scheme had
        unfixable read-then-act races — review r5). A second live
        WRITER PROCESS gets :class:`ConcurrentWriterError` after
        ``timeout_s`` instead of interleaving partition overwrites.

        In-process semantics: one RLock + depth counter + flock fd
        per (root, database), shared PROCESS-GLOBALLY by all store
        instances (module-level ``_PROC_LOCKS``) — same-thread
        nesting is reentrant (upsert inside an API write), other
        threads SERIALIZE (they block until the holder finishes —
        writes never interleave even in-process), and the flock fd
        is owned by the shared state, not a stack frame, so whichever
        exit returns the depth to zero releases it. The depth
        counter and fd are only ever touched while holding the
        RLock. The lock FILE is deliberately never unlinked:
        removing it would let a waiter flock the orphaned inode
        while a third process creates a fresh file — the classic
        flock/unlink double-holder hole. Caveat: flock over NFS
        depends on the server's lock manager, and object stores have
        no flock at all — construct the store with
        ``lock_backend="lease"`` there (catalog/lease.py: heartbeat +
        stale takeover + fencing token, built only from atomic
        create-if-absent/replace, which S3/GCS conditional PUT also
        offers); a real deployment can equally swap in a catalog
        service or a Delta/Iceberg commit protocol at this seam."""
        st = self._lock_state(database)
        rl = st["rlock"]
        if not rl.acquire(timeout=timeout_s):
            raise ConcurrentWriterError(
                f"database {database!r} is being written by another "
                "thread of this process (in-process writer lock "
                f"timeout after {timeout_s}s)")
        try:
            # acquire the FILE before publishing depth: if os.open or
            # the flock loop raises, nothing was incremented and the
            # next caller retries acquisition from scratch (a depth
            # incremented on a failed acquisition would silently skip
            # flock forever — review r5, third pass)
            if st["depth"] == 0 and self.lock_backend == "lease":
                from industrial_data_pipeline_spark.catalog.lease import (
                    LeaseHeldError, LeaseLock)
                lease = LeaseLock(self._lock_path(database) + ".lease")
                try:
                    lease.acquire(timeout_s)
                except LeaseHeldError as exc:
                    raise ConcurrentWriterError(
                        f"database {database!r} is being written by "
                        f"another node ({exc}); the store is "
                        "single-writer per database") from exc
                st["lease"] = lease
            elif st["depth"] == 0:
                fd = os.open(self._lock_path(database),
                             os.O_CREAT | os.O_RDWR, 0o644)
                deadline = time.monotonic() + timeout_s
                while True:
                    try:
                        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                        break
                    except OSError:
                        if time.monotonic() >= deadline:
                            holder = "unknown"
                            with contextlib.suppress(Exception):
                                holder = os.pread(fd, 256, 0).decode(
                                    "utf-8", "replace").strip() or holder
                            os.close(fd)
                            raise ConcurrentWriterError(
                                f"database {database!r} is being "
                                f"written by another process "
                                f"(holder: {holder}; lock "
                                f"{self._lock_path(database)}); the "
                                "store is single-writer per database")
                        time.sleep(0.05)
                st["fd"] = fd
                # pid stamp is informational (surfaced in the other
                # process's ConcurrentWriterError message) — a failed
                # write must not abort a successfully-acquired lock
                with contextlib.suppress(OSError):
                    os.ftruncate(fd, 0)
                    os.write(fd, json.dumps(
                        {"pid": os.getpid(),
                         "ts": time.time()}).encode())
            st["depth"] += 1
            try:
                yield
            finally:
                st["depth"] -= 1
                if st["depth"] == 0 and st["lease"] is not None:
                    lease, st["lease"] = st["lease"], None
                    lease.release()
                if st["depth"] == 0 and st["fd"] is not None:
                    fd, st["fd"] = st["fd"], None
                    with contextlib.suppress(OSError):
                        fcntl.flock(fd, fcntl.LOCK_UN)
                    os.close(fd)
        finally:
            rl.release()

    # ---------------------------------------------------------- databases
    def list_databases(self) -> list[str]:
        """Reference: enumerate config sections (database.py:54-60)."""
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        )

    @_locked
    def create_database(self, database: str) -> None:
        """Reference DDL create_tables (populate.py:69-160): creates the
        three tables; existing archive data is preserved.

        DDL is driver-side (optimization r14): an empty table is one
        0-row parquet file (:func:`_write_dim_file`) — three Spark
        write JOBS (measured 2–4 s of pure fixed cost at the head of
        every store-backed query) become three ~ms file writes.
        Readers are unaffected: every read path passes an explicit
        schema, and an empty file has no row groups to reconcile."""
        for table, schema in (
            ("element", ELEMENT_SCHEMA),
            ("attribute", ATTRIBUTE_SCHEMA),
        ):
            path = self._path(database, table)
            if not os.path.exists(path):
                _write_dim_file(path, schema, [])
        arch = self._path(database, "archive")
        if not os.path.exists(arch):
            # the archive root starts with no partition dirs at all —
            # exactly the state a partitionBy write of 0 rows leaves
            os.makedirs(arch, exist_ok=True)

    # -------------------------------------------------------------- reads
    def _path(self, database: str, table: str) -> str:
        assert table in _TABLES, table
        return os.path.join(self.root, database, table)

    def element(self, database: str) -> DataFrame:
        return self.spark.read.schema(ELEMENT_SCHEMA).parquet(
            self._path(database, "element"))

    def attribute(self, database: str) -> DataFrame:
        return self.spark.read.schema(ATTRIBUTE_SCHEMA).parquet(
            self._path(database, "attribute"))

    def archive(self, database: str) -> DataFrame:
        """Fact table scan; ts_date partition column retained so callers'
        date filters prune partitions (drop it with .select if unwanted).
        Explicit schema: a freshly created archive has no files yet, and
        schema inference would fail (UNABLE_TO_INFER_SCHEMA)."""
        schema = T.StructType(
            list(ARCHIVE_SCHEMA.fields)
            + [T.StructField(ARCHIVE_PARTITION_COL, T.DateType(), True)])
        return self.spark.read.schema(schema).parquet(
            self._path(database, "archive"))

    def has_archive_files(self, database: str) -> bool:
        """Whether any parquet file lies under the archive directory
        (a fresh database has none)."""
        return any(f.endswith(".parquet")
                   for _, _, files in os.walk(self._path(database, "archive"))
                   for f in files)

    def archive_values(self, database: str) -> DataFrame:
        """Archive projected to its logical schema (no partition col)."""
        return self.archive(database).select("attribute_id", "timestamp", "value")

    # ------------------------------------------------------------- writes
    @staticmethod
    def _with_partition(df: DataFrame) -> DataFrame:
        return df.withColumn(ARCHIVE_PARTITION_COL, F.to_date("timestamp"))

    @staticmethod
    def _clustered(df: DataFrame, pick=None,
                   one_date: bool = False) -> DataFrame:
        """Archive write layout: one shuffle clusters rows by date
        (file count tracks date count — the small-files guard; a frame
        known to hold ``one_date`` needs no shuffle, only one task),
        then, given ``pick``, duplicate keys resolve inside each task
        (:func:`_resolve`), then an in-task sort by (attribute_id,
        timestamp) so every parquet row group covers a narrow
        attribute range and min/max stats prune attribute filters at
        scan time. This is the columnar analog of the reference's only
        physical read-path tuning — its archive(attribute_id) /
        archive(timestamp) B-tree indexes (populate.py:113-118):
        partition pruning plays the timestamp index, row-group
        clustering plays the attribute index. Measured effect in
        SCALE_NOTES.md."""
        out = (df.coalesce(1) if one_date
               else df.repartition(F.col(ARCHIVE_PARTITION_COL)))
        if pick is not None:
            out = _resolve(out, pick)
        return out.sortWithinPartitions(ARCHIVE_PARTITION_COL,
                                        "attribute_id", "timestamp")

    @_locked
    def overwrite_dim(self, database: str, table: str, df: DataFrame) -> None:
        assert table in ("element", "attribute")
        path = self._path(database, table)
        tmp = path + ".tmp"
        # dims are catalog-sized: one collect brings the rows to the
        # driver before the swap (the frame may read the directory
        # being replaced), and pyarrow writes them without a Spark job
        shutil.rmtree(tmp, ignore_errors=True)
        _write_dim_file(tmp, df.schema, df.collect())
        # atomic-ish swap: dims are tiny; single-writer assumption
        if os.path.exists(path):
            shutil.rmtree(path)
        os.rename(tmp, path)

    @_locked
    def append_archive(self, database: str, df: DataFrame) -> None:
        """Blind bulk append (reference COPY path, ingest.py:166-176).
        Caller is responsible for (attribute_id, timestamp) uniqueness
        against existing data; use :meth:`upsert_archive` otherwise.

        Writes go through :meth:`_clustered`: one shuffle on the date
        (file count tracks date count — the small-files guard; without
        it every task emits its own file per date, |tasks|×|dates|
        files per append) + in-task (attribute_id, timestamp) sort for
        row-group pruning."""
        self._clustered(self._with_partition(df)) \
            .write.mode("append").partitionBy(
                ARCHIVE_PARTITION_COL
            ).parquet(self._path(database, "archive"))

    @_locked
    def drop_archive_partitions(self, database: str,
                                before_date: str) -> int:
        """Retention/TTL enforcement as a PARTITION DROP: remove every
        ``ts_date=`` directory strictly older than ``before_date`` —
        a metadata-cost operation (directory unlink per expired day),
        the 100 TB answer to retention where the anti-join rewrite
        (:meth:`rewrite_archive`) would re-shuffle years of history
        to delete the oldest slice. The reference's only retention is
        its 24 h export cleanup (web_app.py:207-222); archive TTL is
        the engine-side analog. Returns the number of partitions
        dropped."""
        root = self._path(database, "archive")
        dropped = 0
        prefix = ARCHIVE_PARTITION_COL + "="
        if not os.path.isdir(root):
            return 0
        for d in sorted(os.listdir(root)):
            if not d.startswith(prefix):
                continue
            if d[len(prefix):] < before_date:
                target = os.path.join(root, d)
                shutil.rmtree(target, ignore_errors=True)
                # only count partitions actually gone — a failed
                # rmtree must not overstate retention enforcement
                if not os.path.isdir(target):
                    dropped += 1
        return dropped

    @_locked
    def compact_archive(self, database: str,
                        target_files: int = 1
                        ) -> list[tuple[str, int, int]]:
        """Small-file compaction, per date partition: every append
        leaves one file per date (see :meth:`append_archive`), so a
        day that receives K appends accumulates K files — at 100 TB
        the classic small-files problem (each file is a scan task
        and a namenode entry). Rewrite every partition holding more
        than ``target_files`` parquet files into ``target_files``
        (restoring the (attribute_id, timestamp) row-group sort).
        Returns (date, files_before, files_after) per partition.

        Crash safety: staging dirs are ``_``-prefixed, which Spark/
        Hadoop partition discovery IGNORES, so a half-finished
        compaction never double-counts or pollutes reads (a tmp dir
        named inside the partition namespace would be discovered as
        a bogus partition). The swap is write ``_compact_tmp`` →
        rename live → ``_compact_old`` → rename tmp → live → drop
        old; the only vulnerable instant is between the two renames,
        and the recovery sweep at the start of the next run restores
        an orphaned ``_compact_old`` whose live dir is missing and
        clears stale staging.

        The loop is driver-side metadata work bounded by the
        retention horizon (|dates|), same cost class as
        :meth:`drop_archive_partitions`; each rewrite is its own
        bounded Spark job over one day of data."""
        root = self._path(database, "archive")
        prefix = ARCHIVE_PARTITION_COL + "="
        stats: list[tuple[str, int, int]] = []
        if not os.path.isdir(root):
            return stats

        # recovery sweep for a previously crashed compaction
        for d in sorted(os.listdir(root)):
            p = os.path.join(root, d)
            if d.startswith("_compact_old_"):
                live = os.path.join(root,
                                    prefix + d[len("_compact_old_"):])
                if os.path.isdir(live):
                    shutil.rmtree(p, ignore_errors=True)
                else:
                    os.rename(p, live)
            elif d.startswith("_compact_tmp_"):
                shutil.rmtree(p, ignore_errors=True)

        def parquet_files(p: str) -> int:
            return sum(f.endswith(".parquet") for f in os.listdir(p))

        for d in sorted(os.listdir(root)):
            if not d.startswith(prefix):
                continue
            part = os.path.join(root, d)
            date = d[len(prefix):]
            n_before = parquet_files(part)
            if n_before <= target_files:
                stats.append((date, n_before, n_before))
                continue
            tmp = os.path.join(root, f"_compact_tmp_{date}")
            old = os.path.join(root, f"_compact_old_{date}")
            (self.spark.read.parquet(part)
             .coalesce(target_files)
             .sortWithinPartitions("attribute_id", "timestamp")
             .write.mode("overwrite").parquet(tmp))
            os.rename(part, old)
            os.rename(tmp, part)
            shutil.rmtree(old, ignore_errors=True)
            stats.append((date, n_before, parquet_files(part)))
        return stats

    @_locked
    def upsert_archive(self, database: str, df: DataFrame,
                       mode: str = "first_wins") -> None:
        """Partition-scoped upsert on (attribute_id, timestamp).

        mode="first_wins"  — existing rows win (reference backfill
            ON CONFLICT DO NOTHING, database.py:594)
        mode="last_wins"   — incoming rows win (reference trigger
            ON CONFLICT DO UPDATE, database.py:710-713)

        Duplicate keys within ``df`` resolve by value: the smallest
        wins under first_wins, the largest under last_wins.

        One semi-join probe of the affected date partitions decides
        the path. When no incoming key is stored yet (a live minute,
        a fresh backfill) the deduplicated rows are APPENDED as one
        new file per date and the stored files are not touched.
        Otherwise, or when the append would leave a partition above
        :data:`MAX_PARTITION_FILES` files, the affected partitions
        are merged and rewritten as one file each (dynamic partition
        overwrite). Either way cost scales with the batch's date span,
        not with history size.
        """
        assert mode in ("first_wins", "last_wins")
        pick = F.min_by if mode == "first_wins" else F.max_by
        path = self._path(database, "archive")
        # one evaluation of the caller's plan, which the probe and the
        # write both read; the same job observes the affected dates
        seen = Observation()
        incoming = (
            self._with_partition(
                df.select("attribute_id", "timestamp", "value"))
            .withColumn("_src", F.lit(1))
            .observe(seen,
                     F.collect_set(ARCHIVE_PARTITION_COL).alias("dates"),
                     F.count(F.lit(1)).alias("rows"))
            .localCheckpoint(eager=True))
        stats = seen.get
        dates = sorted(stats["dates"])
        if not dates:
            return
        existing = (
            self.archive(database)
            .where(F.col(ARCHIVE_PARTITION_COL).isin(dates))
        )
        keys = ["attribute_id", "timestamp"]
        probe = incoming.select(*keys)
        # insert_attribute's backfill passes the whole history here:
        # broadcast only an input counted small
        if stats["rows"] <= PROBE_BROADCAST_ROWS:
            probe = F.broadcast(probe)
        if (self._room_to_append(path, dates)
                and existing.join(probe, keys, "left_semi").isEmpty()):
            self._clustered(incoming, pick, one_date=len(dates) == 1) \
                .write.mode("append").partitionBy(
                    ARCHIVE_PARTITION_COL
                ).parquet(path)
            return
        old = existing.withColumn("_src", F.lit(0))
        merged = _resolve(old.unionByName(incoming), pick)
        # materialize before the overwrite: the merged plan reads the
        # same partitions it is about to replace. Bounded by the
        # batch's affected partitions, not history size.
        merged = merged.localCheckpoint(eager=True)
        with self._dynamic_overwrite():
            self._clustered(merged, one_date=len(dates) == 1) \
                .write.mode("overwrite").partitionBy(
                    ARCHIVE_PARTITION_COL
                ).parquet(path)

    @staticmethod
    def _room_to_append(path: str, dates: list) -> bool:
        """Whether one more file per affected date partition keeps
        every partition within :data:`MAX_PARTITION_FILES`."""
        for d in dates:
            part = os.path.join(path, f"{ARCHIVE_PARTITION_COL}={d}")
            if os.path.isdir(part) and sum(
                    f.endswith(".parquet") for f in os.listdir(part)
            ) >= MAX_PARTITION_FILES:
                return False
        return True

    @_locked
    def rewrite_archive(self, database: str, df: DataFrame) -> None:
        """Full rewrite with the logical schema (delete/remap paths)."""
        path = self._path(database, "archive")
        tmp = path + ".tmp"
        self._clustered(self._with_partition(
            df.select("attribute_id", "timestamp", "value")
        )).write.partitionBy(ARCHIVE_PARTITION_COL).parquet(tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)

    def _dynamic_overwrite(self):
        spark, key = self.spark, "spark.sql.sources.partitionOverwriteMode"

        class _Ctx:
            def __enter__(self_inner):
                self_inner.prev = spark.conf.get(key, "static")
                spark.conf.set(key, "dynamic")

            def __exit__(self_inner, *exc):
                spark.conf.set(key, self_inner.prev)

        return _Ctx()
