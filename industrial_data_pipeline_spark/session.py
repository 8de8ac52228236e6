"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]`` (single JVM); the configs are chosen
so the same code deploys unchanged to a multi-executor cluster:

- AQE on: runtime coalescing, skew-join splitting, dynamic join
  strategy switch — the knobs that matter at 100 TB.
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
  cluster AQE's coalescePartitions makes the initial number mostly
  irrelevant as long as it is high enough.
- Session timezone pinned to UTC so timestamps compare bit-exactly
  against the DuckDB oracle (DuckDB TIMESTAMP is tz-naive).
- Arrow enabled for the few Pandas-UDF code paths (similarity,
  multimodal) — vectorized transfer instead of per-row pickling.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


#: share of the machine's RAM the driver heap gets when
#: ``SPARK_GRAFT_DRIVER_MEM`` is unset; the JVM's off-heap memory and
#: the Python workers live in the rest
HEAP_RAM_SHARE = 0.4
MAX_DEFAULT_HEAP_MB = 48 * 1024


def default_driver_mem(ram_bytes: int) -> str:
    """Driver heap for a machine with ``ram_bytes`` of RAM:
    :data:`HEAP_RAM_SHARE` of it, at least 1 GiB and at most 48 GiB."""
    mb = int(ram_bytes * HEAP_RAM_SHARE) // (1024 * 1024)
    return f"{min(MAX_DEFAULT_HEAP_MB, max(1024, mb))}m"


def driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` when set, else sized from RAM. Read
    per call, not at import: callers set the variable after importing
    the package and before building the session."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    return mem if mem is not None else default_driver_mem(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES"))


def _xms_mb(mem: str) -> int | None:
    """Initial-heap megabytes: min(8 GiB, the configured max heap).
    Returns None when ``mem`` doesn't parse as a JVM size — then no
    -Xms is emitted at all (guessing risks -Xms > -Xmx, which refuses
    to start; that direction is strictly worse than a growing heap)."""
    m = re.fullmatch(r"\s*(\d+)\s*([kmgt]?)b?\s*", mem.lower())
    if not m:
        return None
    n, unit = int(m.group(1)), m.group(2)
    mb = {"k": n // 1024, "": n // (1024 * 1024),
          "m": n, "g": n * 1024, "t": n * 1024 * 1024}[unit]
    if mb < 1:
        # sub-MiB max heap: flooring to -Xms1m would exceed -Xmx and
        # the JVM refuses to start — emit no -Xms instead
        return None
    return min(8 * 1024, mb)


def get_spark(app_name: str = "industrial_data_pipeline_spark",
              cores: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the session.

    ``cores`` only affects a freshly created local session; an existing
    session is returned as-is (Spark is one-session-per-JVM).
    """
    n = cores or default_parallelism()
    mem = driver_mem()
    xms = _xms_mb(mem)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        # pre-size the heap: hash-heavy stages allocate hard, and a
        # growing heap means young-GC thrash on their first run —
        # capped at the configured max (a fixed -Xms8g refused to
        # start whenever SPARK_GRAFT_DRIVER_MEM was set below 8g)
        .config("spark.driver.extraJavaOptions",
                f"-Xms{xms}m" if xms else "")
        .config("spark.ui.enabled", "false")
        # ContextCleaner frees dropped localCheckpoint/broadcast blocks
        # only after a JVM GC notices the references died; the 30 min
        # default lets a long suite run accumulate dead blocks until
        # storage pressure stalls late queries (observed: an 8 s
        # iterative query taking 47 s at the tail of a 130-query
        # session). A 2 min periodic GC keeps the block manager clean.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Files: 128 MB splits keep scan partitions executor-memory sized
        # at any total volume (the 100 TB knob — more files, same split).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The driver testdata writes TIMESTAMP(NANOS) parquet (events.ts),
        # which Spark refuses by default; read as long and convert at the
        # loader (suite.load) — truncation to µs matches DuckDB's CAST.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp[us] parquet (no isAdjustedToUTC) would otherwise infer
        # as TIMESTAMP_NTZ, which breaks unix_micros/withWatermark and
        # blocks parquet filter pushdown through the normalizing cast.
        # With the session TZ pinned UTC, reading it as LTZ TIMESTAMP is
        # value-identical to the oracle's CAST(ts AS TIMESTAMP).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_python_workers(spark)
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Pre-fork the Python worker pool once per session (guide §4,
    optimization r15 / VERDICT r14 item 2): the FIRST Arrow/pandas-UDF
    stage of a session otherwise pays the worker cold-start storm —
    measured ~2 s × cores, landing inside whatever query happens to
    run that first stage (visible as the sub-1 low-core/high-core
    scaling ratios on the UDF-heavy suites). One trivial pandas_udf
    task per core here moves that fixed cost to session construction,
    where it amortizes over the session exactly like the JVM/codegen
    warmup the bench already does; workers are reused afterwards
    (spark.python.worker.reuse defaults true). Guarded so repeated
    get_spark() calls don't re-pay it."""
    if getattr(spark, "_idp_workers_warmed", False):
        return
    try:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        n = spark.sparkContext.defaultParallelism

        def _ident(s):
            return s

        _ident.__annotations__ = {"s": pd.Series, "return": pd.Series}
        (spark.range(0, n, 1, n)
         .select(pandas_udf(_ident, "long")("id").alias("id"))
         .write.format("noop").mode("overwrite").save())
    except Exception:  # noqa: BLE001 — warmup is best-effort; a
        # failure here (e.g. pandas missing in a minimal env) must
        # never block session construction
        pass
    spark._idp_workers_warmed = True
