"""Tree-cache JSON → catalog tables, and leaf-path extraction.

The reference crawls the PI Web API hierarchy into recursive JSON
(`*_pi_tree_cache.json`, shape at /root/reference/src/pi/
tree_generator.py:86-92) and loads it into element/attribute tables
depth-first with SERIAL ids (/root/reference/src/database/
populate.py:299-394). A file may hold a single root object or a list
of roots (populate.py:388-394).

The tree cache is catalog metadata — small by construction (thousands
of nodes for a plant) — so flattening happens driver-side with an
explicit stack; ids are assigned in depth-first preorder, which makes
them deterministic across reloads (the reference's SERIAL ids are only
insertion-ordered, forcing its whole id-remapping dance, SURVEY.md
§1.3; determinism makes that remapping a no-op for identical trees).
"""

from __future__ import annotations

from typing import Any


def _roots(doc: Any) -> list[dict]:
    return doc if isinstance(doc, list) else [doc]


def flatten_tree(doc: Any) -> tuple[list[tuple], list[tuple]]:
    """JSON tree → (element_rows, attribute_rows) with depth-first
    preorder dense ids starting at 1 (reference: populate.py:299-354).

    element rows: (level, element_id, name, parent_id)
    attribute rows: (element_id, attribute_id, name, kks, formula=None)
    """
    elements: list[tuple] = []
    attributes: list[tuple] = []
    next_eid = next_aid = 1
    # stack of (node, level, parent_id); children pushed in reverse so
    # traversal order matches the reference's recursive loop.
    stack = [(root, 0, None) for root in reversed(_roots(doc))]
    while stack:
        node, level, parent_id = stack.pop()
        eid = next_eid
        next_eid += 1
        elements.append((level, eid, node["name"], parent_id))
        for attr in node.get("attributes") or []:
            attributes.append(
                (eid, next_aid, attr["name"], attr.get("kks"), None))
            next_aid += 1
        for child in reversed(node.get("children") or []):
            stack.append((child, level + 1, eid))
    return elements, attributes


def extract_leaf_webids(doc: Any, sep: str = "|") -> dict[str, str]:
    """S5: leaf extraction — flat {"Root|Child|Leaf": webid} for nodes
    with no child elements (/root/reference/src/database/
    extract_leaf_nodes.py:5-26)."""
    out: dict[str, str] = {}
    stack = [(root, root.get("name", "")) for root in reversed(_roots(doc))]
    while stack:
        node, path = stack.pop()
        children = node.get("children") or []
        if not children:
            out[path] = node.get("webid", "")
        for child in reversed(children):
            stack.append((child, f"{path}{sep}{child['name']}"))
    return out
