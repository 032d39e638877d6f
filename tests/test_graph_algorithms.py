"""Differential test for the driver betweenness: load the ACTUAL reference
algorithms module (arkham-shard-graph) by file path and compare it against
operators.graph_algorithms on fuzzed small graphs (within the reference's
own 500-node/1000-edge caps).

No Spark session needed — these are the driver-side algorithms.
"""

from __future__ import annotations

import importlib.util
import os
import random
import sys
import types

import pytest

from arkhammirror_spark.operators import graph_algorithms as ours

REF_DIR = "/root/reference/packages/arkham-shard-graph/arkham_shard_graph"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DIR), reason="reference tree not available"
)


def _load_reference():
    pkg_name = "arkham_shard_graph"
    if pkg_name not in sys.modules:
        pkg = types.ModuleType(pkg_name)
        pkg.__path__ = [REF_DIR]
        sys.modules[pkg_name] = pkg
    for leaf in ("models", "algorithms"):
        name = f"{pkg_name}.{leaf}"
        if name in sys.modules:
            continue
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(REF_DIR, f"{leaf}.py")
        )
        mod = importlib.util.module_from_spec(spec)
        sys.modules[name] = mod
        spec.loader.exec_module(mod)
    return sys.modules[f"{pkg_name}.models"], sys.modules[f"{pkg_name}.algorithms"]


@pytest.fixture(scope="module")
def ref():
    models, algorithms = _load_reference()
    return models, algorithms.GraphAlgorithms()


def _mk_graph(models, edges):
    """Reference Graph with nodes in first-appearance order and
    degree = adjacency length (what the builder computes)."""
    adj = {}
    order = []
    for s, t, _w, _r in edges:
        for x in (s, t):
            if x not in adj:
                adj[x] = []
                order.append(x)
        adj[s].append(t)
        adj[t].append(s)
    nodes = [
        models.GraphNode(
            id=x, entity_id=x, label=x, entity_type="PERSON", degree=len(adj[x])
        )
        for x in order
    ]
    gedges = [
        models.GraphEdge(source=s, target=t, relationship_type=r, weight=w)
        for s, t, w, r in edges
    ]
    return models.Graph(project_id="p", nodes=nodes, edges=gedges)


def _fuzz_edges(seed: int, n_nodes: int = 12, n_edges: int = 20):
    rng = random.Random(seed)
    names = [f"n{i:02d}" for i in range(n_nodes)]
    edges = []
    seen = set()
    rels = ["co_occurrence", "mentions", "linked"]
    while len(edges) < n_edges:
        a, b = rng.sample(names, 2)
        if (a, b) in seen or (b, a) in seen:
            continue
        seen.add((a, b))
        edges.append((a, b, round(rng.uniform(0.05, 1.0), 3), rng.choice(rels)))
    return edges


SEEDS = range(12)


@pytest.mark.parametrize("seed", SEEDS)
def test_betweenness_parity(ref, seed):
    models, algo = ref
    edges = _fuzz_edges(seed)
    g = _mk_graph(models, edges)
    got = ours.betweenness_centrality(edges, limit=50)
    exp = algo.calculate_betweenness_centrality(g, limit=50)
    assert [(r["node"], r["rank"]) for r in got] == [
        (r.entity_id, r.rank) for r in exp
    ]
    for o, e in zip(got, exp):
        assert abs(o["score"] - e.score) < 1e-12
