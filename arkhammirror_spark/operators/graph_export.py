"""Graph export sinks: JSON / GraphML / GEXF (graph/exporter.py:24-265).

The XML formats are single-document presentation sinks — the reference
only ever exports its ≤500-node capped graphs — so the XML builders run
driver-side over collected frames, spec-driven (attribute keys declared
as data, one loop per section) rather than call-per-attribute.

Byte-parity with the reference serializers (same stdlib ElementTree
``indent`` / ``json.dumps(indent=2)`` rendering) is pinned by the
differential tests in tests/test_graph_export.py.
"""

from __future__ import annotations

import io
import json
from typing import Any
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame

_NODE_FIELDS = ("id", "entity_id", "label", "entity_type",
                "document_count", "degree")
_EDGE_FIELDS = ("source", "target", "relationship_type", "weight",
                "document_ids", "co_occurrence_count")

# (key id, element kind, declared type, value function)
_GRAPHML_NODE_KEYS = [
    ("label", "string", lambda n: n["label"]),
    ("entity_type", "string", lambda n: n["entity_type"]),
    ("document_count", "int", lambda n: str(n.get("document_count", 0))),
    ("degree", "int", lambda n: str(n.get("degree", 0))),
]
_GRAPHML_EDGE_KEYS = [
    ("relationship_type", "string", lambda e: e["relationship_type"]),
    ("weight", "double", lambda e: str(e["weight"])),
    ("co_occurrence_count", "int",
     lambda e: str(e.get("co_occurrence_count", 0))),
]
_GEXF_NODE_ATTRS = [
    ("0", "label", "string", lambda n: n["label"]),
    ("1", "entity_type", "string", lambda n: n["entity_type"]),
    ("2", "document_count", "integer",
     lambda n: str(n.get("document_count", 0))),
    ("3", "degree", "integer", lambda n: str(n.get("degree", 0))),
]
_GEXF_EDGE_ATTRS = [
    ("0", "relationship_type", lambda e: e["relationship_type"]),
    ("1", "co_occurrence_count",
     lambda e: str(e.get("co_occurrence_count", 0))),
]


def _rows(nodes: DataFrame, edges: DataFrame):
    """Collect frames into plain dicts with the reference's defaults."""
    nrows = [r.asDict() for r in nodes.collect()]
    erows = [r.asDict() for r in edges.collect()]
    for n in nrows:
        n.setdefault("entity_id", n["id"])
        n.setdefault("document_count", 0)
        n.setdefault("degree", 0)
        n.setdefault("properties", {})
    for e in erows:
        e.setdefault("document_ids", [])
        e.setdefault("co_occurrence_count", 0)
        e.setdefault("properties", {})
    return nrows, erows


def _xml_string(root: ET.Element) -> str:
    tree = ET.ElementTree(root)
    ET.indent(tree, space="  ")
    out = io.StringIO()
    tree.write(out, encoding="unicode", xml_declaration=True)
    return out.getvalue()


def export_json(nodes: DataFrame, edges: DataFrame, project_id: str) -> str:
    """exporter.py:50-66 / Graph.to_dict (models.py:169-183) with
    include_metadata=False: nodes and edges rendered in frame order with
    `json.dumps(indent=2)`, no metadata block."""
    nrows, erows = _rows(nodes, edges)
    data: dict[str, Any] = {
        "project_id": project_id,
        "nodes": [
            {
                **{k: n.get(k) for k in _NODE_FIELDS},
                "properties": n.get("properties", {}),
                "created_at": (
                    n["created_at"].isoformat()
                    if n.get("created_at") else None
                ),
            }
            for n in nrows
        ],
        "edges": [
            {
                **{k: e.get(k) for k in _EDGE_FIELDS},
                "document_ids": list(e.get("document_ids") or []),
                "properties": e.get("properties", {}),
                "created_at": (
                    e["created_at"].isoformat()
                    if e.get("created_at") else None
                ),
            }
            for e in erows
        ],
    }
    return json.dumps(data, indent=2)


def export_graphml(nodes: DataFrame, edges: DataFrame, project_id: str) -> str:
    """exporter.py:68-140: Gephi/Cytoscape/yEd-compatible GraphML with
    the reference's exact key declarations, undirected graph element,
    e<i> edge ids, and prop_<k> custom node properties (the reference's
    include_metadata=True)."""
    nrows, erows = _rows(nodes, edges)
    root = ET.Element("graphml")
    root.set("xmlns", "http://graphml.graphdrawing.org/xmlns")
    root.set("xmlns:xsi", "http://www.w3.org/2001/XMLSchema-instance")
    root.set(
        "xsi:schemaLocation",
        "http://graphml.graphdrawing.org/xmlns "
        "http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd",
    )
    for kid, _, _ in _GRAPHML_NODE_KEYS:
        _graphml_key(root, kid, "node",
                     dict((k, t) for k, t, _ in _GRAPHML_NODE_KEYS)[kid])
    for kid, t, _ in _GRAPHML_EDGE_KEYS:
        _graphml_key(root, kid, "edge", t)
    g = ET.SubElement(root, "graph")
    g.set("id", f"G_{project_id}")
    g.set("edgedefault", "undirected")
    for n in nrows:
        el = ET.SubElement(g, "node")
        el.set("id", n["id"])
        for kid, _, fn in _GRAPHML_NODE_KEYS:
            _graphml_data(el, kid, fn(n))
        if n.get("properties"):
            for k, v in n["properties"].items():
                _graphml_data(el, f"prop_{k}", str(v))
    for i, e in enumerate(erows):
        el = ET.SubElement(g, "edge")
        el.set("id", f"e{i}")
        el.set("source", e["source"])
        el.set("target", e["target"])
        for kid, _, fn in _GRAPHML_EDGE_KEYS:
            _graphml_data(el, kid, fn(e))
    return _xml_string(root)


def export_gexf(nodes: DataFrame, edges: DataFrame, project_id: str) -> str:
    """exporter.py:141-227: GEXF 1.2draft with the reference's meta
    block (creator/description; an empty lastmodifieddate, the
    reference's value for a graph without updated_at), static undirected
    graph, numbered attvalues, and weight as an edge attribute."""
    nrows, erows = _rows(nodes, edges)
    root = ET.Element("gexf")
    root.set("xmlns", "http://www.gexf.net/1.2draft")
    root.set("version", "1.2")
    meta = ET.SubElement(root, "meta")
    meta.set("lastmodifieddate", "")
    creator = ET.SubElement(meta, "creator")
    creator.text = "ArkhamMirror Graph Shard"
    desc = ET.SubElement(meta, "description")
    desc.text = f"Entity relationship graph for project {project_id}"
    g = ET.SubElement(root, "graph")
    g.set("mode", "static")
    g.set("defaultedgetype", "undirected")
    for cls, attrs in (
        ("node", [(i, name, t) for i, name, t, _ in _GEXF_NODE_ATTRS]),
        ("edge", [(i, name, "integer" if name != "relationship_type"
                   else "string") for i, name, _ in _GEXF_EDGE_ATTRS]),
    ):
        attributes = ET.SubElement(g, "attributes")
        attributes.set("class", cls)
        for aid, name, t in attrs:
            a = ET.SubElement(attributes, "attribute")
            a.set("id", aid)
            a.set("title", name)
            a.set("type", t)
    nodes_el = ET.SubElement(g, "nodes")
    for n in nrows:
        el = ET.SubElement(nodes_el, "node")
        el.set("id", n["id"])
        el.set("label", n["label"])
        avs = ET.SubElement(el, "attvalues")
        for aid, _, _, fn in _GEXF_NODE_ATTRS:
            _gexf_attvalue(avs, aid, fn(n))
    edges_el = ET.SubElement(g, "edges")
    for i, e in enumerate(erows):
        el = ET.SubElement(edges_el, "edge")
        el.set("id", str(i))
        el.set("source", e["source"])
        el.set("target", e["target"])
        el.set("weight", str(e["weight"]))
        avs = ET.SubElement(el, "attvalues")
        for aid, _, fn in _GEXF_EDGE_ATTRS:
            _gexf_attvalue(avs, aid, fn(e))
    return _xml_string(root)


def _graphml_key(root, kid, for_type, attr_type):
    key = ET.SubElement(root, "key")
    key.set("id", kid)
    key.set("for", for_type)
    key.set("attr.name", kid)
    key.set("attr.type", attr_type)


def _graphml_data(parent, kid, value):
    data = ET.SubElement(parent, "data")
    data.set("key", kid)
    data.text = value


def _gexf_attvalue(parent, aid, value):
    av = ET.SubElement(parent, "attvalue")
    av.set("for", aid)
    av.set("value", value)
