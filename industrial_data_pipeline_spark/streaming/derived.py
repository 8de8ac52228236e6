"""Real-time derived-attribute maintenance (T5) — Structured Streaming.

The reference generates one plpgsql ``AFTER INSERT FOR EACH ROW``
trigger per derived attribute (/root/reference/database/
database.py:644-743): on every source-row insert it looks up all
sibling source values at the same timestamp and, if all are present,
upserts ``formula(values)`` for the derived id (ON CONFLICT DO UPDATE
— last-wins).

Spark has no per-row triggers; the equivalent with identical
*final-state* semantics (SURVEY.md §2.8/T5, §7.2) is a micro-batch
maintenance job: for each batch of incoming source rows,

  1. read the stored rows of the batch's date partitions once, limited
     to the batch's time range and to the ids the touched formulas
     read — the sibling values the trigger's SELECTs would see — and
     overlay the batch on them (last-wins, like the insert itself),
  2. evaluate every derived attribute whose sources the batch (or an
     earlier formula of the same batch) touches, in dependency order,
     each formula seeing the values the earlier ones produced, at the
     timestamps where its sources changed,
  3. write batch ∪ derived rows in ONE last-wins upsert; a derived
     row replaces a batch reading of the same key. A minute of new
     readings only adds keys, so the store appends it.

Visibility latency changes (micro-batch vs synchronous trigger); the
resulting archive state is the same.

Scale notes: affected timestamps per batch are bounded by batch size;
the sibling scan prunes archive date-partitions by the batch's dates
and its time range, so cost tracks batch span, not history size.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from industrial_data_pipeline_spark.catalog.schemas import (
    ARCHIVE_PARTITION_COL)
from industrial_data_pipeline_spark.catalog.store import ParquetStore
from industrial_data_pipeline_spark.functions.formula import (
    compile_formula,
    referenced_ids,
)
from industrial_data_pipeline_spark.sources.ingest import RAW_SCHEMA, cleanse


def _evaluation_plan(formulas: dict[int, str], batch_ids: set[int]
                    ) -> list[tuple[int, str, list[int]]]:
    """(derived id, formula, source ids) of every formula a batch
    carrying ``batch_ids`` can change, in evaluation order: each
    formula after the derived ids it reads, otherwise (and inside a
    cycle) in catalog id order. A formula is touched when the batch
    carries one of its sources or an earlier formula of the plan
    writes one. Driver-side, no Spark job."""
    srcs = {did: referenced_ids(f) for did, f in formulas.items()}
    pending, plan, touched = sorted(formulas), [], set(batch_ids)
    while pending:
        did = next((d for d in pending
                    if not set(srcs[d]) & (set(pending) - {d})),
                   pending[0])
        pending.remove(did)
        if set(srcs[did]) & touched:
            plan.append((did, formulas[did], srcs[did]))
            touched.add(did)
    return plan


class DerivedMaintenance:
    """foreachBatch handler maintaining all derived attributes of one
    database. Derived definitions are re-read from the catalog each
    batch (cheap — dimension table) so inserts/updates of derived
    attributes take effect without restarting the stream."""

    def __init__(self, spark: SparkSession, store: ParquetStore,
                 database: str):
        self.spark = spark
        self.store = store
        self.database = database

    def derived_formulas(self) -> dict[int, str]:
        rows = (self.store.attribute(self.database)
                .where(F.col("formula").isNotNull())
                .select("attribute_id", "formula").collect())
        return {r["attribute_id"]: r["formula"] for r in rows}

    def process_batch(self, batch: DataFrame, epoch_id: int = 0) -> None:
        """One micro-batch of archive-shaped source rows."""
        # the materializing job also observes what every driver-side
        # decision needs: the touched ids, the dates and time range
        seen = Observation()
        batch = (batch.select("attribute_id", "timestamp", "value")
                 .observe(seen,
                          F.collect_set("attribute_id").alias("ids"),
                          F.collect_set(F.to_date("timestamp"))
                          .alias("dates"),
                          F.unix_micros(F.min("timestamp")).alias("lo"),
                          F.unix_micros(F.max("timestamp")).alias("hi"))
                 .localCheckpoint(eager=True))
        meta = seen.get
        if not meta["ids"]:
            return
        plan = _evaluation_plan(self.derived_formulas(), set(meta["ids"]))
        if plan:
            batch = self._with_derived(batch, meta, plan)
        # the reference's COPY and its triggers' ON CONFLICT DO UPDATE
        # in one write: last-wins, so a re-sent reading updates
        self.store.upsert_archive(self.database, batch, mode="last_wins")

    def _with_derived(self, batch: DataFrame, meta: dict,
                      plan: list[tuple[int, str, list[int]]]) -> DataFrame:
        """``batch`` plus the derived rows it implies, computed in one
        aggregate over the stored sibling values overlaid by the batch.

        Each formula is evaluated at the timestamps where the batch,
        or an earlier formula of the plan, carries one of its sources;
        its column then replaces the stored value of its id for the
        formulas after it. A derived row replaces a batch reading of
        the same key, as the trigger's later upsert did."""
        ids = sorted({i for _, _, src in plan for i in src})
        stored = (
            self.store.archive(self.database)
            .where(F.col(ARCHIVE_PARTITION_COL).isin(sorted(meta["dates"])))
            .where(F.col("timestamp").between(
                F.timestamp_micros(F.lit(meta["lo"])),
                F.timestamp_micros(F.lit(meta["hi"]))))
            .where(F.col("attribute_id").isin(ids))
            .select("attribute_id", "timestamp", "value",
                    F.lit(0).alias("_new")))
        fresh = (batch.where(F.col("attribute_id").isin(ids))
                 .withColumn("_new", F.lit(1)))
        # per timestamp and id: the value (the batch's over the stored
        # one; between duplicate readings the larger, as the last-wins
        # upsert picks) and whether the batch carries it. Conditional
        # aggregates rather than .pivot, which would shuffle twice
        aggs = []
        for i in ids:
            mine = F.col("attribute_id") == i
            aggs += [F.max_by(F.when(mine, F.col("value")),
                              F.when(mine, F.struct("_new", "value")))
                     .alias(f"v{i}"),
                     F.max(F.when(mine, F.col("_new"))).alias(f"n{i}")]
        wide = stored.unionByName(fresh).groupBy("timestamp").agg(*aggs)
        out = []
        for did, formula, src in plan:
            touched = functools.reduce(
                operator.or_, [F.col(f"n{i}") == 1 for i in src])
            wide = wide.withColumn(f"d{did}", F.when(
                touched, compile_formula(formula, lambda i: f"v{i}")
            ).cast("double"))
            if did in ids:  # a later formula reads this one
                wide = (wide
                        .withColumn(f"v{did}", F.coalesce(f"d{did}",
                                                          f"v{did}"))
                        .withColumn(f"n{did}", F.when(
                            F.col(f"d{did}").isNotNull(), 1)
                            .otherwise(F.col(f"n{did}"))))
            out.append(F.struct(
                F.lit(did).cast("long").alias("attribute_id"),
                F.col(f"d{did}").alias("value")))
        derived = (wide.select("timestamp", F.inline(F.array(*out)))
                   .where(F.col("value").isNotNull())
                   .select("attribute_id", "timestamp", "value"))
        if set(meta["ids"]) & {did for did, _, _ in plan}:
            # rare: the batch carries readings for a derived id
            batch = batch.join(derived.select("attribute_id", "timestamp"),
                               ["attribute_id", "timestamp"], "left_anti")
        return batch.unionByName(derived)

    # ------------------------------------------------------------ wiring

    def attach(self, source_rows: DataFrame, checkpoint: str,
               trigger_seconds: int | None = None,
               prepare=None) -> StreamingQuery:
        """Start maintenance over a streaming DataFrame of archive-shaped
        rows (attribute_id, timestamp, value). ``prepare`` optionally
        maps each (static) micro-batch before processing — cleansing
        stays inside foreachBatch because it aggregates (first-wins
        dedup), which a plain streaming plan would reject without a
        watermark."""

        def handle(batch: DataFrame, epoch_id: int) -> None:
            if prepare is not None:
                batch = prepare(batch)
            self.process_batch(batch, epoch_id)

        writer = (source_rows.writeStream
                  .foreachBatch(handle)
                  .option("checkpointLocation", checkpoint)
                  .outputMode("update"))
        if trigger_seconds:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()

    def attach_staging_dir(self, staging_dir: str, checkpoint: str,
                           raw: bool = False,
                           mapping: DataFrame | None = None,
                           tz_shift_hours: int = 7) -> StreamingQuery:
        """Stream from a staging directory where the fetcher drops
        parquet batches. ``raw=True`` expects RAW_SCHEMA rows (PI batch
        shape) and applies the ingest cleansing per micro-batch — the
        streaming twin of sources/ingest.py."""
        if raw:
            src = (self.spark.readStream.schema(RAW_SCHEMA)
                   .parquet(staging_dir))
            return self.attach(
                src, checkpoint,
                prepare=lambda b: cleanse(b, mapping, tz_shift_hours))
        src = (self.spark.readStream
               .schema("attribute_id long, timestamp timestamp, "
                       "value double")
               .parquet(staging_dir))
        return self.attach(src, checkpoint)
