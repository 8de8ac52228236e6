"""Engine facade: the reference's full query + management-plane surface.

One class, ``Pipeline``, exposing every operation the reference's Flask
app offers (SURVEY.md §2.10–§2.11; /root/reference/database/web_app.py's
16 routes backed by /root/reference/database/database.py), re-expressed
over the ParquetStore. A reference user switches by pointing this at a
storage root instead of a PostgreSQL DSN.

Deliberate fixes over the reference, documented per SURVEY.md §2.12:
- update_mapping_cache returns BOTH element_count and attribute_count
  (the reference's handler reads a key that is never returned and 500s,
  §2.12.3).
- derived-ness is ``formula IS NOT NULL`` in the catalog instead of
  probing generated trigger functions (§2.9).
- exact-match lookups order by id before LIMIT 1 (deterministic; the
  reference inherits arbitrary PostgreSQL ordering).
"""

from __future__ import annotations

import json
from collections import defaultdict
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from industrial_data_pipeline_spark.catalog.schemas import (
    ATTRIBUTE_SCHEMA,
    ELEMENT_SCHEMA,
)
from industrial_data_pipeline_spark.catalog.store import ParquetStore
from industrial_data_pipeline_spark.functions.formula import validate
from industrial_data_pipeline_spark.operators.closure import (
    attribute_path_rows,
    element_paths,
)
from industrial_data_pipeline_spark.operators.derived import backfill_derived
from industrial_data_pipeline_spark.operators.export import (
    export_csv,
    export_parquet,
    pivot_wide,
    timeseries_long,
)
from industrial_data_pipeline_spark.operators.lookup import (
    leaf_elements_heuristic,
    leaf_elements_true,
    lookup_dispatch,
)
from industrial_data_pipeline_spark.sources.mapping import (
    mapping_from_rows,
    write_mapping,
)
from industrial_data_pipeline_spark.sources.tree import flatten_tree


class Pipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.store = ParquetStore(spark, root)

    # ------------------------------------------------------ read surface

    def list_databases(self) -> list[str]:
        """GET /api/databases (web_app.py:57)."""
        return self.store.list_databases()

    def leaf_elements(self, database: str,
                      true_leaves: bool = False) -> DataFrame:
        """GET /api/elements/<db> (web_app.py:70). Default keeps the
        reference's root-or-deepest-level heuristic; ``true_leaves``
        switches to correct childless semantics (§2.12.4)."""
        elem = self.store.element(database)
        fn = leaf_elements_true if true_leaves else leaf_elements_heuristic
        return fn(elem).orderBy("name")

    def all_elements(self, database: str) -> DataFrame:
        """GET /api/elements/all/<db> (web_app.py:225); ORDER BY level,
        element_id (database.py:805)."""
        return self.store.element(database).orderBy("level", "element_id")

    def element_attributes(self, database: str,
                           element_id: int) -> DataFrame:
        """GET /api/attributes/<db>/<element_id> (web_app.py:87-112)."""
        return (self.store.attribute(database)
                .where(F.col("element_id") == element_id)
                .orderBy("name"))

    def all_attributes(self, database: str,
                       element_id: int | None = None) -> DataFrame:
        """GET /api/attributes/all/<db>?element_id= (web_app.py:242);
        attr⋈elem decoration (J1; database.py:886-905)."""
        attr = self.store.attribute(database)
        if element_id is not None:
            attr = attr.where(F.col("element_id") == element_id)
        elem = self.store.element(database).select(
            "element_id", F.col("name").alias("element_name"))
        return (attr.join(F.broadcast(elem), "element_id")
                .orderBy("element_name", "name"))

    def lookup(self, database: str, text: str,
               kind: str = "element") -> DataFrame:
        """POST /api/lookup (web_app.py:423-488): '%' → LIKE else exact."""
        if kind not in ("element", "attribute"):
            raise ValueError(
                f"kind must be 'element' or 'attribute', got {kind!r}")
        df = (self.store.element(database) if kind == "element"
              else self.store.attribute(database))
        return lookup_dispatch(df, text, f"{kind}_id")

    def timestamp_range(self, database: str,
                        attribute_id: int) -> tuple:
        """A1 (database.py:435-450)."""
        row = (self.store.archive_values(database)
               .where(F.col("attribute_id") == attribute_id)
               .agg(F.min("timestamp"), F.max("timestamp")).first())
        return (row[0], row[1]) if row else (None, None)

    def get_timeseries(self, database: str, attribute_ids: list[int],
                       start=None, end=None, wide: bool = True,
                       qualify_element: bool | None = None) -> DataFrame:
        """The export query (§3.1; database.py:357-432)."""
        attr = self.store.attribute(database)
        elem = self.store.element(database)
        long_df = timeseries_long(
            self.store.archive_values(database), attr, elem,
            attribute_ids, start, end)
        if not wide:
            return long_df
        # ONE dimension-sized driver round-trip yields both the
        # element-count decision and the pivot column list. LEFT join:
        # an attribute whose element_id is dangling (no element row)
        # must still get a pivot column — bare name, un-qualified —
        # rather than silently disappearing from the output schema.
        # (Its DATA rows still drop at timeseries_long's inner element
        # join — reference parity, database.py:381-408 — so the column
        # surfaces the referential break as all-NULL instead of hiding
        # the attribute; orphan purge is the maintenance fix.)
        sel = attr.where(F.col("attribute_id").isin(list(attribute_ids)))
        pairs = (sel.join(
            F.broadcast(elem.select(
                "element_id", F.col("name").alias("element_name"))),
            "element_id", "left")
            .select("element_id", "name", "element_name").collect())
        if qualify_element is None:
            # count only RESOLVED elements: a dangling element_id must
            # not flip a single-element export into qualified names
            qualify_element = len({r["element_id"] for r in pairs
                                   if r["element_name"] is not None}) > 1
        names = ([f"{r['element_name']}|{r['name']}"
                  if r["element_name"] is not None else r["name"]
                  for r in pairs]
                 if qualify_element else [r["name"] for r in pairs])
        cols = list(dict.fromkeys(names))
        return pivot_wide(long_df, cols, qualify_element=qualify_element)

    def export(self, database: str, attribute_ids: list[int], path: str,
               fmt: str = "csv", start=None, end=None) -> dict:
        """POST /api/download (web_app.py:115-186)."""
        df = self.get_timeseries(database, attribute_ids, start, end)
        # row count via an Observation on the write job itself — a
        # plain df.count() afterwards would re-run the whole
        # filter+join+pivot plan a second time
        from pyspark.sql import Observation
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if fmt == "csv":
            export_csv(df, path)
        elif fmt == "parquet":
            export_parquet(df, path)
        else:
            raise ValueError(f"unsupported format: {fmt}")
        return {"filename": path, "rows": obs.get["rows"],
                "columns": len(df.columns)}

    # ------------------------------------------------ management plane

    def create_database(self, database: str) -> None:
        """D1 (populate.py:69-160)."""
        self.store.create_database(database)

    def _next_id(self, df: DataFrame, col: str) -> int:
        row = df.agg(F.max(col)).first()
        return (row[0] or 0) + 1

    def insert_element(self, database: str, name: str,
                       parent_id: int | None = None,
                       level: int = 0) -> int:
        """D4 (database.py:465-491): id = max+1 (single-writer, like
        the reference's effectively single-user app)."""
        elem = self.store.element(database)
        new_id = self._next_id(elem, "element_id")
        row = self.spark.createDataFrame(
            [(level, new_id, name, parent_id)], elem.schema)
        self.store.overwrite_dim(database, "element", elem.unionByName(row))
        return new_id

    def insert_attribute(self, database: str, element_id: int, name: str,
                         kks: str | None = None,
                         formula: str | None = None,
                         backfill: bool = True) -> int:
        """D5 (database.py:494-536): insert; if derived, validate the
        formula against existing ids and backfill history (first-wins).
        Real-time maintenance = streaming/derived.py (T5)."""
        attr = self.store.attribute(database)
        if formula is None:
            new_id = self._next_id(attr, "attribute_id")
        else:
            # one collect feeds both the formula check and the next id
            known = {r[0] for r in attr.select("attribute_id").collect()}
            validate(formula, known)
            new_id = max((i for i in known if i is not None),
                         default=0) + 1
        row = self.spark.createDataFrame(
            [(element_id, new_id, name, kks, formula)], attr.schema)
        self.store.overwrite_dim(database, "attribute",
                                 attr.unionByName(row))
        if formula is not None and backfill:
            rows = backfill_derived(
                self.store.archive_values(database), new_id, formula)
            self.store.upsert_archive(database, rows, mode="first_wins")
        return new_id

    def update_attribute(self, database: str, attribute_id: int,
                         name: str | None = None, kks: str | None = None,
                         formula: str | None = None,
                         recompute_archive: bool = True) -> dict:
        """D6 (database.py:961-1072): derived-only guard; on formula
        change optionally delete + recompute the derived history."""
        attr = self.store.attribute(database)
        current = attr.where(F.col("attribute_id") == attribute_id).first()
        if current is None:
            raise ValueError(f"attribute {attribute_id} does not exist")
        if current["formula"] is None:
            # reference guard: only derived attributes are updatable
            # (database.py:991-1005)
            raise ValueError(
                f"attribute {attribute_id} is not a derived attribute")
        if formula is not None:
            known = {r[0] for r in attr.select("attribute_id").collect()
                     if r[0] != attribute_id}
            validate(formula, known)
        updated = attr.select(
            "element_id", "attribute_id",
            F.when(F.col("attribute_id") == attribute_id,
                   F.lit(name if name is not None else current["name"]))
            .otherwise(F.col("name")).alias("name"),
            F.when(F.col("attribute_id") == attribute_id,
                   F.lit(kks if kks is not None else current["kks"]))
            .otherwise(F.col("kks")).alias("kks"),
            F.when(F.col("attribute_id") == attribute_id,
                   F.lit(formula if formula is not None
                         else current["formula"]))
            .otherwise(F.col("formula")).alias("formula"),
        )
        self.store.overwrite_dim(database, "attribute", updated)
        recomputed = 0
        if formula is not None and recompute_archive:
            arch = self.store.archive_values(database)
            kept = arch.where(F.col("attribute_id") != attribute_id)
            # materialize: `rows` reads the archive dir the rewrite is
            # about to swap out (bounded: one attribute's history)
            rows = backfill_derived(kept, attribute_id, formula) \
                .localCheckpoint(eager=True)
            self.store.rewrite_archive(database, kept.unionByName(rows))
            recomputed = rows.count()
        return {"attribute_id": attribute_id, "recomputed": recomputed}

    def delete_element(self, database: str, element_id: int) -> dict:
        """D7 (database.py:915-958): cascade element → attributes →
        archive; returns the reference's count dict. The deleted-row
        count rides an Observation on the rewrite scan itself — a
        separate count() would be a second full pass over the fact
        table per management delete (dim counts stay plain: dims are
        tiny by design)."""
        from pyspark.sql import Observation
        elem = self.store.element(database)
        attr = self.store.attribute(database)
        arch = self.store.archive_values(database)
        doomed_ids = [r["attribute_id"] for r in
                      attr.where(F.col("element_id") == element_id)
                      .select("attribute_id").collect()]
        n_elem = elem.where(F.col("element_id") == element_id).count()
        obs = Observation()
        is_doomed = (F.col("attribute_id").isin(doomed_ids)
                     if doomed_ids else F.lit(False))
        observed = arch.observe(
            obs, F.count(F.when(is_doomed, 1)).alias("n_doomed"))
        # NULL-safe keep predicate: an archive row with NULL
        # attribute_id makes is_doomed NULL, and `~NULL` is NULL —
        # which a where() DROPS. SQL DELETE (the reference,
        # database.py:915-958) never deletes on a NULL predicate, so
        # coalesce to False to retain such rows.
        self.store.rewrite_archive(
            database,
            observed.where(~F.coalesce(is_doomed, F.lit(False))))
        # dim rewrites share the archive's NULL-retention contract:
        # `col != id` is NULL (dropped) for a NULL-keyed dim row,
        # while SQL DELETE retains it — use null-safe inequality.
        self.store.overwrite_dim(
            database, "attribute",
            attr.where(~F.col("element_id").eqNullSafe(
                F.lit(element_id))))
        self.store.overwrite_dim(
            database, "element",
            elem.where(~F.col("element_id").eqNullSafe(
                F.lit(element_id))))
        return {"elements_deleted": n_elem,
                "attributes_deleted": len(doomed_ids),
                "archive_records_deleted": obs.get["n_doomed"]}

    def delete_attribute(self, database: str, attribute_id: int) -> dict:
        """D8 (database.py:1075-1111). Same single-scan Observation
        pattern as :meth:`delete_element`."""
        from pyspark.sql import Observation
        attr = self.store.attribute(database)
        arch = self.store.archive_values(database)
        n_attr = attr.where(F.col("attribute_id") == attribute_id).count()
        obs = Observation()
        observed = arch.observe(
            obs, F.count(F.when(F.col("attribute_id") == attribute_id,
                                1)).alias("n_doomed"))
        # null-safe inequality: keep NULL-attribute rows (same
        # three-valued-logic retention contract as delete_element).
        self.store.rewrite_archive(
            database,
            observed.where(
                ~F.col("attribute_id").eqNullSafe(F.lit(attribute_id))))
        self.store.overwrite_dim(
            database, "attribute",
            attr.where(~F.col("attribute_id").eqNullSafe(
                F.lit(attribute_id))))
        return {"attributes_deleted": n_attr,
                "archive_records_deleted": obs.get["n_doomed"]}

    # ------------------------------------------------------- tree reload

    def load_tree(self, database: str, json_path: str) -> dict:
        """D2/D3 (populate.py:369-597): (re)load the hierarchy from a
        tree-cache file, preserving derived attributes by path and
        remapping archive ids old→new.

        The reference does this with four recursive CTEs and a
        Python remap loop. The catalog is thousands of rows, so the
        paths, the id map and the derived restore are computed on the
        driver from the parsed tree and one collect of each old dim
        (operators/closure.element_paths); the archive gets one
        broadcast-join rewrite.
        """
        with open(json_path, encoding="utf-8") as f:
            new_elems, new_attrs = flatten_tree(json.load(f))
        self.store.create_database(database)
        old_elems = self.store.element(database).collect()
        old_attrs = self.store.attribute(database).collect()

        new_elem_paths = element_paths(new_elems)
        # duplicate paths collapse to ONE id (lowest — the reference
        # builds {path: id} dicts, which likewise collapse): without
        # this, two same-named attributes on one element would
        # DUPLICATE their archive history on every reload
        new_ids: dict = {}
        for a, path in attribute_path_rows(new_elem_paths, new_attrs):
            if path is not None:
                new_ids[path] = min(new_ids.get(path, a[1]), a[1])

        # paths of old attributes, by id (a duplicated id holds every
        # path recorded under it)
        old_paths_by_id: dict = defaultdict(list)
        for a, path in attribute_path_rows(element_paths(old_elems),
                                           old_attrs):
            if a["attribute_id"] is not None:
                old_paths_by_id[a["attribute_id"]].append(path)

        # id remap for source attrs: old_id → new_id on equal path,
        # lowest old id per path
        old_ids: dict = {}
        for a in old_attrs:
            if a["formula"] is not None:
                continue
            old_id = a["attribute_id"]
            for path in old_paths_by_id.get(old_id, ()):
                if path is not None:
                    old_ids[path] = min(old_ids.get(path, old_id), old_id)
        idmap = [(old_id, new_ids[path]) for path, old_id in old_ids.items()
                 if path in new_ids]

        # snapshot derived attrs by full path (backup,
        # populate.py:163-296) and restore each under every new
        # element whose path is the derived attribute's parent path;
        # restored ids run from max(new id) + 1 in old-id order
        elements_by_path: dict = defaultdict(list)
        for e in new_elem_paths:
            elements_by_path[e[4]].append(e[1])
        restores = []
        for a in old_attrs:
            if a["formula"] is None or a["name"] is None:
                continue
            for path in old_paths_by_id.get(a["attribute_id"], ()):
                if path is None:
                    continue
                parent = path[:max(len(path) - len(a["name"]) - 1, 0)]
                restores += [(a, element_id)
                             for element_id in elements_by_path.get(parent, ())]
        restores.sort(key=lambda r: r[0]["attribute_id"])
        base = max((a[1] for a in new_attrs), default=0) + 1
        restored = [(element_id, base + i, a["name"], a["kks"], a["formula"])
                    for i, (a, element_id) in enumerate(restores)]
        final_attrs = list(new_attrs) + restored
        idmap += [(a["attribute_id"], r[1])
                  for (a, _), r in zip(restores, restored)]

        # remap archive attribute ids (populate.py:530-597). The INNER
        # join is also the orphan purge (J6, populate.py:409-417): every
        # map target is an id of the new catalog, and an archive row
        # whose old attribute has no path match in the new tree is
        # DROPPED — keeping its raw id would merge its history into
        # whichever new attribute reuses that id. A fresh database
        # has no archive file to remap.
        if self.store.has_archive_files(database):
            arch = self.store.archive_values(database)
            full_idmap = self.spark.createDataFrame(
                idmap, "old_id long, new_id long")
            self.store.rewrite_archive(database, arch.join(
                F.broadcast(full_idmap),
                arch.attribute_id == F.col("old_id"), "inner")
                .select(F.col("new_id").alias("attribute_id"),
                        "timestamp", "value"))
        self.store.overwrite_dim(database, "element", self.spark
                                 .createDataFrame(new_elems, ELEMENT_SCHEMA))
        self.store.overwrite_dim(database, "attribute", self.spark
                                 .createDataFrame(final_attrs,
                                                  ATTRIBUTE_SCHEMA))
        return {"element_count": len(new_elems),
                "attribute_count": len(final_attrs)}

    def update_mapping_cache(self, database: str, db_map_path: str,
                             pi_map_path: str | None = None,
                             server: str | None = None) -> dict:
        """POST /api/update-cache (web_app.py:316) / D9. Returns both
        counts (fixes reference bug §2.12.3)."""
        elems = self.store.element(database).collect()
        attrs = self.store.attribute(database).collect()
        mapping = mapping_from_rows(elems, attrs)
        write_mapping(mapping, db_map_path)
        if pi_map_path is not None and server is not None:
            write_mapping(mapping_from_rows(elems, attrs, server=server),
                          pi_map_path)
        return {"element_count": len(elems),
                "attribute_count": len(mapping)}
