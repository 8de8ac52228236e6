"""Tree-cache loading (S4/D2) and leaf extraction (S5) per FIXTURES.md F4."""

import json

from industrial_data_pipeline_spark.catalog.schemas import (
    ATTRIBUTE_SCHEMA,
    ELEMENT_SCHEMA,
)
from industrial_data_pipeline_spark.sources.tree import (
    extract_leaf_webids,
    flatten_tree,
)

from tests.fixtures import TREE, write_tree


def test_flatten_depth_first_ids():
    elements, attributes = flatten_tree(TREE)
    # preorder: Plant1(1) Boiler(2) FanA(3) Fan B(4) Tuabin Hơi(5) Plant2(6)
    names = [(e[1], e[0], e[2], e[3]) for e in elements]
    assert names == [
        (1, 0, "Plant1", None),
        (2, 1, "Boiler", 1),
        (3, 2, "FanA", 2),
        (4, 2, "Fan B", 2),
        (5, 1, "Tuabin Hơi", 1),
        (6, 0, "Plant2", None),
    ]
    # attributes dense ids in visit order, formula NULL
    assert [(a[1], a[0], a[2], a[3], a[4]) for a in attributes] == [
        (1, 3, "Temperature", "10HLA10CT001", None),
        (2, 3, "Pressure", None, None),
        (3, 4, "Temperature", "10HLA20CT001", None),
    ]


def test_single_root_object_accepted():
    elements, _ = flatten_tree(TREE[0])
    assert elements[0][2] == "Plant1" and len(elements) == 5


def test_load_tree_cache_schemas(spark, tmp_path):
    """A tree-cache file's flattened rows fit the catalog schemas
    ``Pipeline.load_tree`` writes them under."""
    with open(write_tree(tmp_path), encoding="utf-8") as f:
        elements, attributes = flatten_tree(json.load(f))
    elem = spark.createDataFrame(elements, ELEMENT_SCHEMA)
    attr = spark.createDataFrame(attributes, ATTRIBUTE_SCHEMA)
    assert elem.count() == 6
    assert attr.count() == 3
    assert [f.name for f in elem.schema.fields] == [
        "level", "element_id", "name", "parent_id"]
    assert "formula" in attr.columns


def test_extract_leaf_webids():
    leaves = extract_leaf_webids(TREE)
    assert leaves == {
        "Plant1|Boiler|FanA": "W2",
        "Plant1|Boiler|Fan B": "W3",
        "Plant1|Tuabin Hơi": "W4",
        "Plant2": "W9",
    }
