"""Differential tests: operators/graph.py::filter_graph vs the ACTUAL
GraphBuilder.filter_graph, and operators/graph_export.py vs the ACTUAL
GraphExporter — byte-identical JSON/GraphML/GEXF output."""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import random
import sys
import types

import pytest

REF = "/root/reference/packages"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference tree not available"
)


def _load(modname: str, path: str):
    if modname in sys.modules:
        return sys.modules[modname]
    parent = modname.rsplit(".", 1)[0]
    if "." in modname and parent not in sys.modules:
        pkg = types.ModuleType(parent)
        pkg.__path__ = [os.path.dirname(path)]
        sys.modules[parent] = pkg
    spec = importlib.util.spec_from_file_location(modname, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[modname] = mod
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def gref():
    base = f"{REF}/arkham-shard-graph/arkham_shard_graph"
    models = _load("arkham_shard_graph.models", f"{base}/models.py")
    sys.modules["arkham_shard_graph"].models = models
    exporter = _load("arkham_shard_graph.exporter", f"{base}/exporter.py")
    builder = _load("arkham_shard_graph.builder", f"{base}/builder.py")
    return models, exporter, builder


_TS = dt.datetime(2024, 3, 1, 12, 0, 0)


def _mk_graph(models, rng, n_nodes=12, n_edges=24):
    types_pool = ["person", "organization", "location"]
    rels = ["works_for", "located_in", "mentioned_with"]
    nodes = []
    for i in range(n_nodes):
        props = {"alias": f"a{i}"} if i % 4 == 0 else {}
        nodes.append(
            models.GraphNode(
                id=f"n{i}", entity_id=f"ent{i}", label=f"Node {i}",
                entity_type=rng.choice(types_pool),
                document_count=rng.randrange(0, 9),
                degree=0, properties=props, created_at=_TS,
            )
        )
    edges = []
    for j in range(n_edges):
        a, b = rng.sample(range(n_nodes), 2)
        edges.append(
            models.GraphEdge(
                source=f"n{a}", target=f"n{b}",
                relationship_type=rng.choice(rels),
                weight=rng.randrange(1, 40) / 4.0,
                document_ids=[f"d{rng.randrange(5)}" for _ in
                              range(rng.randrange(0, 3))],
                co_occurrence_count=rng.randrange(1, 7),
                created_at=_TS,
            )
        )
    # stored degrees as the builder would set them
    deg = {}
    for e in edges:
        deg[e.source] = deg.get(e.source, 0) + 1
        deg[e.target] = deg.get(e.target, 0) + 1
    for n in nodes:
        n.degree = deg.get(n.id, 0)
    g = models.Graph(project_id="proj1")
    g.nodes, g.edges = nodes, edges
    g.created_at = g.updated_at = _TS
    g.metadata = {"source": "fixture"}
    return g


def _frames(spark, g):
    nodes = spark.createDataFrame(
        [
            (n.id, n.entity_id, n.label, n.entity_type, n.document_count,
             n.degree, dict(n.properties), n.created_at)
            for n in g.nodes
        ],
        "id string, entity_id string, label string, entity_type string, "
        "document_count int, degree int, properties map<string,string>, "
        "created_at timestamp",
    )
    edges = spark.createDataFrame(
        [
            (e.source, e.target, e.relationship_type, e.weight,
             list(e.document_ids), e.co_occurrence_count, e.created_at)
            for e in g.edges
        ],
        "source string, target string, relationship_type string, "
        "weight double, document_ids array<string>, "
        "co_occurrence_count int, created_at timestamp",
    )
    return nodes, edges


class TestExporters:
    def test_json_byte_identical(self, spark, gref):
        from arkhammirror_spark.operators.graph_export import export_json

        models, exporter, _ = gref
        g = _mk_graph(models, random.Random(3))
        ex = exporter.GraphExporter()
        nodes, edges = _frames(spark, g)
        exp = ex.export_json(g, include_metadata=False)
        assert export_json(nodes, edges, "proj1") == exp

    def test_graphml_byte_identical(self, spark, gref):
        from arkhammirror_spark.operators.graph_export import (
            export_graphml,
        )

        models, exporter, _ = gref
        g = _mk_graph(models, random.Random(5))
        ex = exporter.GraphExporter()
        nodes, edges = _frames(spark, g)
        exp = ex.export_graphml(g, include_metadata=True)
        assert export_graphml(nodes, edges, "proj1") == exp

    def test_gexf_byte_identical(self, spark, gref):
        from arkhammirror_spark.operators.graph_export import export_gexf

        models, exporter, _ = gref
        g = _mk_graph(models, random.Random(7))
        ex = exporter.GraphExporter()
        g.updated_at = None  # the operator writes no lastmodifieddate
        nodes, edges = _frames(spark, g)
        exp = ex.export_gexf(g)
        assert export_gexf(nodes, edges, "proj1") == exp


class TestFilterGraph:
    @pytest.mark.parametrize("seed", range(6))
    def test_filter_matches_reference(self, spark, gref, seed):
        from arkhammirror_spark.operators.graph import filter_graph

        models, _, builder_mod = gref
        rng = random.Random(40 + seed)
        g = _mk_graph(models, rng, n_nodes=16, n_edges=36)
        b = builder_mod.GraphBuilder()
        kw = dict(
            entity_types=["person", "organization"] if seed % 2 else None,
            min_degree=2 if seed % 3 == 0 else None,
            min_edge_weight=2.5 if seed % 2 == 0 else None,
            relationship_types=["works_for", "mentioned_with"]
            if seed % 3 == 1 else None,
        )
        # frames FIRST: the reference mutates node.degree in place
        nodes, edges = _frames(spark, g)
        exp = b.filter_graph(g, **kw)
        gn, ge = filter_graph(nodes, edges, **kw)
        exp_nodes = {(n.id, n.degree) for n in exp.nodes}
        got_nodes = {(r["id"], r["degree"]) for r in gn.collect()}
        assert got_nodes == exp_nodes, seed
        exp_edges = sorted(
            (e.source, e.target, e.relationship_type, e.weight)
            for e in exp.edges
        )
        got_edges = sorted(
            (r["source"], r["target"], r["relationship_type"], r["weight"])
            for r in ge.collect()
        )
        assert got_edges == exp_edges, seed
