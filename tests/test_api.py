"""Pipeline facade end-to-end: the reference's web-API semantics
(SURVEY.md §2.10-§2.11) over the Parquet store."""

import copy
import json
import uuid
from datetime import datetime, timedelta

import pytest

from industrial_data_pipeline_spark.api import Pipeline
from industrial_data_pipeline_spark.catalog.schemas import ELEMENT_SCHEMA
from industrial_data_pipeline_spark.sources.mapping import build_mapping

from tests.fixtures import T0, TREE, archive_rows, write_tree


@pytest.fixture()
def pipe(spark, tmp_path):
    p = Pipeline(spark, str(tmp_path / "wh"))
    p.create_database("plant")
    p.load_tree("plant", write_tree(tmp_path))
    # archive data for attrs 2 (FanA|Pressure) and 3 (Fan B|Temperature)
    p.store.append_archive("plant", spark.createDataFrame(
        archive_rows(attr_a=2, attr_b=3),
        "attribute_id long, timestamp timestamp, value double"))
    return p


def test_tree_load_and_listings(pipe):
    assert pipe.list_databases() == ["plant"]
    assert pipe.all_elements("plant").count() == 6
    attrs = pipe.all_attributes("plant").collect()
    assert {(a.name, a.element_name) for a in attrs} == {
        ("Temperature", "FanA"), ("Pressure", "FanA"),
        ("Temperature", "Fan B")}
    # element_id-scoped attribute listing
    fan_a = [a for a in attrs if a.element_name == "FanA"]
    assert pipe.element_attributes(
        "plant", fan_a[0].element_id).count() == 2


def test_leaf_modes(pipe):
    # heuristic (§2.12.4): roots (Plant1, Plant2) + deepest level
    heuristic = {r.name for r in pipe.leaf_elements("plant").collect()}
    assert heuristic == {"Plant1", "Plant2", "FanA", "Fan B"}
    # true leaves: childless nodes
    true = {r.name for r in
            pipe.leaf_elements("plant", true_leaves=True).collect()}
    assert true == {"FanA", "Fan B", "Tuabin Hơi", "Plant2"}


def test_lookup_dispatch(pipe):
    like = pipe.lookup("plant", "fan%", kind="element").collect()
    assert {r.name for r in like} == {"FanA", "Fan B"}
    exact = pipe.lookup("plant", "FanA", kind="element").collect()
    assert len(exact) == 1 and exact[0].name == "FanA"


def test_export_pipeline(pipe, tmp_path, monkeypatch):
    out = str(tmp_path / "export.csv")
    # the row count must come from an Observation on the write job —
    # a count() here would re-execute the filter+join+pivot plan
    from pyspark.sql import DataFrame
    monkeypatch.setattr(
        DataFrame, "count",
        lambda self: pytest.fail("export re-executed the plan via count()"))
    res = pipe.export("plant", [2, 3], out, fmt="csv",
                      start=T0, end=datetime(2025, 1, 1, 0, 9))
    monkeypatch.undo()
    assert res["rows"] == 10  # minutes 0..9
    # >1 element → element|attribute qualified columns (§2.12.1 fix)
    df = pipe.get_timeseries("plant", [2, 3], start=T0,
                             end=datetime(2025, 1, 1, 0, 9))
    assert set(df.columns) == {
        "timestamp", "FanA|Pressure", "Fan B|Temperature"}
    # single element → plain attribute names
    df1 = pipe.get_timeseries("plant", [2], start=T0, end=T0)
    assert set(df1.columns) == {"timestamp", "Pressure"}


def test_pivot_keeps_attribute_with_dangling_element(pipe, spark):
    # an attribute pointing at a non-existent element must still get
    # a pivot column (bare name), not silently vanish from the schema
    attr = pipe.store.attribute("plant")
    extra = spark.createDataFrame(
        [(99, "Orphaned", 12345, None)],
        "attribute_id long, name string, element_id long, "
        "formula string")
    pipe.store.overwrite_dim(
        "plant", "attribute", attr.unionByName(extra, allowMissingColumns=True))
    df = pipe.get_timeseries("plant", [2, 99], start=T0,
                             end=datetime(2025, 1, 1, 0, 9))
    assert "Orphaned" in df.columns
    assert any(c.endswith("Pressure") for c in df.columns)


def test_derived_attribute_lifecycle(pipe):
    # insert derived: avg of attrs 2 and 3, backfilled first-wins
    did = pipe.insert_attribute("plant", element_id=3, name="AvgTP",
                                formula="($2 + $3) / 2")
    arch = pipe.store.archive_values("plant")
    derived = arch.where(arch.attribute_id == did)
    # even minutes only (attr 3 sparse), minus the NULL minute 10
    assert derived.count() == 29
    # update: non-derived guard
    with pytest.raises(ValueError, match="not a derived"):
        pipe.update_attribute("plant", 2, name="nope")
    # update formula → recompute
    res = pipe.update_attribute("plant", did, formula="$2 * 2")
    assert res["recomputed"] == 59  # attr 2 minus NULL minute
    arch2 = pipe.store.archive_values("plant")
    assert arch2.where(arch2.attribute_id == did).count() == 59
    # delete attribute cascade
    res = pipe.delete_attribute("plant", did)
    assert res == {"attributes_deleted": 1, "archive_records_deleted": 59}


def test_insert_and_delete_element_cascade(pipe):
    eid = pipe.insert_element("plant", "NewUnit", parent_id=1, level=1)
    aid = pipe.insert_attribute("plant", eid, "Speed", kks="KKS1")
    pipe.store.append_archive("plant", pipe.spark.createDataFrame(
        [(aid, T0, 1.0)], "attribute_id long, timestamp timestamp, value double"))
    res = pipe.delete_element("plant", eid)
    assert res == {"elements_deleted": 1, "attributes_deleted": 1,
                   "archive_records_deleted": 1}
    assert pipe.store.attribute("plant").where(
        f"attribute_id = {aid}").count() == 0


def test_reload_preserves_derived_and_remaps(pipe, tmp_path, spark):
    did = pipe.insert_attribute("plant", element_id=3, name="AvgTP",
                                formula="($2 + $3) / 2")
    n_derived = pipe.store.archive_values("plant").where(
        f"attribute_id = {did}").count()
    # reload same tree: source ids unchanged (deterministic), derived
    # restored by path, archive intact
    pipe.load_tree("plant", write_tree(tmp_path))
    attr = pipe.store.attribute("plant")
    restored = attr.where("formula IS NOT NULL").collect()
    assert len(restored) == 1 and restored[0].name == "AvgTP"
    arch = pipe.store.archive_values("plant")
    assert arch.where(
        f"attribute_id = {restored[0].attribute_id}").count() == n_derived
    n_fan_b = arch.where("attribute_id = 3").count()

    def reload(tree):
        path = str(tmp_path / "reload.json")
        with open(path, "w", encoding="utf-8") as f:
            json.dump(tree, f, ensure_ascii=False)
        pipe.load_tree("plant", path)
        arch = pipe.store.archive_values("plant")
        return (pipe.store.attribute("plant").orderBy("attribute_id")
                .collect(),
                dict(arch.groupBy("attribute_id").count().collect()))

    def append(attribute_id, minutes, value):
        pipe.store.append_archive("plant", spark.createDataFrame(
            [(attribute_id, T0 + timedelta(minutes=m), value)
             for m in range(minutes)],
            "attribute_id long, timestamp timestamp, value double"))

    tree = copy.deepcopy(TREE)
    boiler = tree[0]["children"][0]
    fan_a, fan_b = boiler["children"]
    # a renamed parent drops its derived attribute, and the renamed
    # element's history with it; Fan B's keeps its id
    fan_a["name"] = "FanZ"
    attrs, counts = reload(tree)
    assert [(a.attribute_id, a.name, a.formula) for a in attrs] == [
        (1, "Temperature", None), (2, "Pressure", None),
        (3, "Temperature", None)]
    assert counts == {3: n_fan_b}
    # two same-named attributes share one path: a reload maps that
    # path's history from the lowest old id to the lowest new id, once
    fan_b["attributes"].append({"name": "Temperature"})
    attrs, counts = reload(tree)
    assert [a.attribute_id for a in attrs] == [1, 2, 3, 4]
    assert counts == {3: n_fan_b}
    append(4, 5, 99.0)
    fan_a["attributes"].append({"name": "Flow"})  # shifts Fan B's ids
    attrs, counts = reload(tree)
    assert [(a.attribute_id, a.element_id, a.name) for a in attrs][2:] == [
        (3, 3, "Flow"), (4, 4, "Temperature"), (5, 4, "Temperature")]
    assert counts == {4: n_fan_b}
    # a vanished attribute's archive rows are purged
    append(2, 3, 1.0)
    fan_b["attributes"] = []
    attrs, counts = reload(tree)
    assert [a.attribute_id for a in attrs] == [1, 2, 3]
    assert counts == {2: 3}


def test_mapping_cache_counts(pipe, tmp_path):
    db_map = str(tmp_path / "map.json")
    pi_map = str(tmp_path / "pi_map.json")
    res = pipe.update_mapping_cache("plant", db_map, pi_map, server="SRV")
    # §2.12.3 fix: both counts present
    assert res == {"element_count": 6, "attribute_count": 3}
    m = json.load(open(db_map))
    assert m["Plant1|Boiler|FanA|Temperature"] == 1
    pm = json.load(open(pi_map))
    assert pm["\\\\SRV\\Plant1\\Boiler\\FanA|Temperature"] == 1


def test_timestamp_range(pipe):
    lo, hi = pipe.timestamp_range("plant", 2)
    assert lo == T0 and hi == datetime(2025, 1, 1, 0, 59)


def test_delete_cascades_retain_null_attribute_rows(pipe, spark):
    """ADVICE r4: under three-valued logic `~(attribute_id IN (...))`
    is NULL for a NULL attribute_id, and where() drops NULL — but SQL
    DELETE (the reference) never deletes on a NULL predicate. Both
    cascade deletes must RETAIN archive rows with NULL attribute_id."""
    null_row = spark.createDataFrame(
        [(None, T0, 1.5)],
        "attribute_id long, timestamp timestamp, value double")
    pipe.store.append_archive("plant", null_row)
    # NULL-keyed DIM row: same retention contract as the archive
    attr = pipe.store.attribute("plant")
    pipe.store.overwrite_dim(
        "plant", "attribute",
        attr.unionByName(spark.createDataFrame(
            [(None, 999, "ghost", None, None)], attr.schema)))
    fan_a = [a for a in pipe.all_attributes("plant").collect()
             if a.element_name == "FanA"]
    eid = fan_a[0].element_id
    pipe.delete_element("plant", eid)
    arch = pipe.store.archive_values("plant")
    assert arch.where(arch.attribute_id.isNull()).count() == 1
    surviving = pipe.store.attribute("plant")
    assert surviving.where(surviving.element_id.isNull()).count() == 1
    # attribute cascade: same retention contract
    remaining = [a.attribute_id for a in
                 pipe.all_attributes("plant").collect()]
    if remaining:
        pipe.delete_attribute("plant", remaining[0])
        arch = pipe.store.archive_values("plant")
        assert arch.where(arch.attribute_id.isNull()).count() == 1


def _jobs_run_by(spark, action) -> int:
    """Spark jobs that ``action()`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_catalog_work_job_budget(spark, tmp_path):
    """Catalog-sized work runs on the driver: a fresh load_tree reads
    the two old dims and writes the two new ones, build_mapping
    collects each dim once, and overwrite_dim of a local frame runs at
    most its one collect."""
    p = Pipeline(spark, str(tmp_path / "wh"))
    tree = write_tree(tmp_path)
    assert _jobs_run_by(spark, lambda: p.load_tree("plant", tree)) <= 4
    assert _jobs_run_by(spark, lambda: build_mapping(
        p.store.element("plant"), p.store.attribute("plant"),
        server="SRV")) <= 2
    local = spark.createDataFrame([(0, 1, "Root", None)], ELEMENT_SCHEMA)
    assert _jobs_run_by(spark, lambda: p.store.overwrite_dim(
        "plant", "element", local)) <= 1
    assert [tuple(r) for r in p.store.element("plant").collect()] == [
        (0, 1, "Root", None)]
