"""Attribute-mapping sidecar files: path-key → attribute_id.

The join key between PI API response paths and catalog attribute ids
(format at /root/reference/README.md:360-367; regeneration at
/root/reference/database/database.py:774-855, PI-path conversion at
/root/reference/src/database/populate.py:661-703).

The mapping is dimension-sized (one entry per attribute) — it loads as
a dict, ships to executors as a broadcast join table (J7), and is
regenerated from the catalog via the hierarchy closure (D9), walked on
the driver over the collected dims (operators/closure.element_paths).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F

from industrial_data_pipeline_spark.operators.closure import (
    attribute_path_rows,
    element_paths,
)


def build_mapping(element: DataFrame, attribute: DataFrame,
                  server: str | None = None) -> dict[str, int]:
    """D9: regenerate {path_key: attribute_id}. With ``server``, keys
    use the PI form ``\\\\SERVER\\Root\\Child|Attr``; otherwise the DB
    form ``Root|Child|Leaf|Attr``. One collect per dim (both are
    catalog-sized), then :func:`mapping_from_rows`."""
    return mapping_from_rows(
        element.select("level", "element_id", "name", "parent_id").collect(),
        attribute.select("element_id", "attribute_id", "name").collect(),
        server)


def mapping_from_rows(elements, attributes,
                      server: str | None = None) -> dict[str, int]:
    """:func:`build_mapping` over rows already on the driver."""
    if server is None:
        pairs = attribute_path_rows(element_paths(elements), attributes)
    else:
        pairs = attribute_path_rows(element_paths(elements, sep="\\"),
                                    attributes, attr_sep="|",
                                    prefix=f"\\\\{server}\\")
    return {path: a[1] for a, path in pairs}


def write_mapping(mapping: dict[str, int], path: str) -> None:
    """Reference writes indent=4 ensure_ascii=False
    (database.py:844-845, populate.py:657-658)."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(mapping, f, indent=4, ensure_ascii=False)


def load_mapping(path: str) -> dict[str, int]:
    with open(path, encoding="utf-8") as f:
        return {k: int(v) for k, v in json.load(f).items()}


def mapping_df(spark: SparkSession, mapping: dict[str, int]) -> DataFrame:
    """Mapping as a broadcastable join table (J7): the dict-lookup
    ``df['lookup_key'].map(...)`` (ingest.py:127) becomes a broadcast
    hash join — no Python in the path."""
    df = spark.createDataFrame(
        list(mapping.items()), "lookup_key string, attribute_id long")
    return F.broadcast(df)
