"""Archive maintenance operators: cascades, orphan purge, upsert dedup.

Mutable semantics on immutable storage (SURVEY.md §7.2): the
reference's DELETEs and ON CONFLICT upserts become anti-join /
window-free groupBy rewrites. All are single-shuffle on the merge key
and partial-aggregable (map-side combine), which is what survives at
100 TB — no global sorts, no driver collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cascade_delete_element(element: DataFrame, attribute: DataFrame,
                           archive: DataFrame, element_id: int):
    """Element cascade (D7/J5; /root/reference/database/database.py:915-958):
    returns (element', attribute', archive', counts) where counts is a
    1-row DataFrame {elements_deleted, attributes_deleted,
    archive_records_deleted} mirroring the reference's response dict."""
    doomed_attrs = attribute.where(F.col("element_id") == element_id) \
        .select("attribute_id")
    kept_archive = archive.join(
        F.broadcast(doomed_attrs), "attribute_id", "left_anti")
    kept_attribute = attribute.where(F.col("element_id") != element_id)
    kept_element = element.where(F.col("element_id") != element_id)

    n_elem = element.where(F.col("element_id") == element_id).count()
    n_attr = attribute.where(F.col("element_id") == element_id).count()
    n_arch = archive.join(
        F.broadcast(doomed_attrs), "attribute_id", "left_semi").count()
    spark = element.sparkSession
    counts = spark.createDataFrame(
        [(n_elem, n_attr, n_arch)],
        "elements_deleted long, attributes_deleted long, archive_records_deleted long")
    return kept_element, kept_attribute, kept_archive, counts


def purge_orphans(archive: DataFrame, attribute: DataFrame) -> DataFrame:
    """Orphan purge (J6; populate.py:409-417): keep archive rows whose
    attribute still exists — left_semi against the broadcast dim."""
    return archive.join(
        F.broadcast(attribute.select("attribute_id")),
        "attribute_id", "left_semi")


def _tiebreak_exprs(df: DataFrame, cols: list[str]) -> list:
    """Tie-break expressions over ``cols`` forming a TOTAL order.
    Orderable columns compare natively. Map types (unorderable in
    Spark — putting one in the tie struct fails analysis) enter the
    order through a canonical serialization instead of being dropped:
    ``to_json(array_sort(map_entries(m)))`` when the entries are
    orderable (key-order-independent — two maps with equal content
    always serialize identically), else plain ``to_json`` as a
    documented best-effort (content-equal maps built in different
    orders may then compare unequal, but the pick is still
    deterministic for any fixed input). NULLs participate NULLS-FIRST
    inside the struct comparison — part of the contract, not an
    accident."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def orderable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(orderable(f.dataType) for f in dt.fields)
        return True

    types = {f.name: f.dataType for f in df.schema.fields}
    out = []
    for c in cols:
        dt = types[c]
        if orderable(dt):
            out.append(F.col(c))
        elif isinstance(dt, MapType) and orderable(dt.keyType) \
                and orderable(dt.valueType):
            out.append(F.to_json(F.array_sort(F.map_entries(F.col(c)))))
        else:
            out.append(F.to_json(F.col(c)))
    return out


def dedup_first_wins(df: DataFrame, keys: list[str],
                     order_col: str) -> DataFrame:
    """First-wins dedup (P9/T6 backfill semantics; ingest.py:156
    ``drop_duplicates(keep='first')``). 'First' is defined by
    ``order_col`` (ingest order / timestamp) so the result is
    deterministic in a distributed setting — pandas keep='first'
    relied on implicit row order, which does not exist in Spark.
    Rows that TIE on ``order_col`` order by the remaining ORDERABLE
    columns (a struct comparison — fields left to right; map-typed
    payload columns enter via canonical JSON serialization, see
    :func:`_tiebreak_exprs`), so the pick is a total order and
    re-runs can never surface a different survivor.

    Implemented as min_by groupBy: one shuffle, map-side combinable
    (vs. a Window row_number which must sort every group)."""
    others = [c for c in df.columns if c not in keys]
    tiebreak = _tiebreak_exprs(df, [c for c in others if c != order_col])
    ordk = F.struct(F.col(order_col), *tiebreak)
    picked = (
        df.groupBy(*keys)
        .agg(F.min_by(F.struct(*others), ordk).alias("_row"))
    )
    return picked.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in others])


def latest_per_key(df: DataFrame, keys: list[str],
                   order_col: str) -> DataFrame:
    """Last-wins / latest-value-per-key (W3/T6 trigger semantics;
    database.py:710-713 ON CONFLICT DO UPDATE). Same total-order
    tie handling as :func:`dedup_first_wins`."""
    others = [c for c in df.columns if c not in keys]
    tiebreak = _tiebreak_exprs(df, [c for c in others if c != order_col])
    ordk = F.struct(F.col(order_col), *tiebreak)
    picked = (
        df.groupBy(*keys)
        .agg(F.max_by(F.struct(*others), ordk).alias("_row"))
    )
    return picked.select(*keys, *[F.col(f"_row.{c}").alias(c) for c in others])
