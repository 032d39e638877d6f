"""Differential tests: operators/causal.py vs the ACTUAL reference
CausalGraphEngine (graph/causal.py) — real models, same traversal
orders, outputs compared row-for-row. Plus distributed-Kahn
layer-witness checks."""

from __future__ import annotations

import importlib.util
import os
import sys
import types

import pytest

REF_PKG = "/root/reference/packages/arkham-shard-graph/arkham_shard_graph"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_PKG), reason="reference tree not available"
)


@pytest.fixture(scope="module")
def ref():
    if "arkham_shard_graph.causal" in sys.modules:
        return sys.modules["arkham_shard_graph.causal"]
    pkg = types.ModuleType("arkham_shard_graph")
    pkg.__path__ = [REF_PKG]
    sys.modules.setdefault("arkham_shard_graph", pkg)
    if "arkham_shard_graph.models" not in sys.modules:
        mspec = importlib.util.spec_from_file_location(
            "arkham_shard_graph.models", f"{REF_PKG}/models.py"
        )
        models = importlib.util.module_from_spec(mspec)
        sys.modules["arkham_shard_graph.models"] = models
        mspec.loader.exec_module(models)
    cspec = importlib.util.spec_from_file_location(
        "arkham_shard_graph.causal", f"{REF_PKG}/causal.py"
    )
    causal = importlib.util.module_from_spec(cspec)
    sys.modules["arkham_shard_graph.causal"] = causal
    cspec.loader.exec_module(causal)
    return causal


# layered DAG with confounding structure:
#   C0 -> T, C0 -> M1, T -> M1 -> O, T -> M2 -> O, C1 -> T, C1 -> O,
#   plus a diamond and a long tail
_DAG_EDGES = [
    ("C0", "T", 0.9), ("C0", "M1", 0.4), ("C1", "T", 0.8),
    ("C1", "O", 0.5), ("T", "M1", 0.7), ("M1", "O", 0.6),
    ("T", "M2", 0.3), ("M2", "O", 0.9), ("A", "C0", 0.5),
    ("A", "C1", 0.6), ("O", "Z", 0.4), ("B", "T", 0.2),
]
_DAG_NODES = ["A", "B", "C0", "C1", "T", "M1", "M2", "O", "Z"]

_CYCLIC_EDGES = _DAG_EDGES + [("Z", "A", 0.1)]


def _ref_graph(ref, edges, nodes):
    return ref.CausalGraph(
        id="g", name="g",
        nodes=[ref.CausalNode(id=n, label=n) for n in nodes],
        edges=[
            ref.CausalEdge(cause=c, effect=e, strength=s)
            for c, e, s in edges
        ],
    )


def test_validate_dag_parity(ref):
    from arkhammirror_spark.operators.causal import validate_dag

    eng = ref.CausalGraphEngine()
    for edges in (_DAG_EDGES, _CYCLIC_EDGES):
        exp_valid, exp_cycles = eng.validate_dag(
            _ref_graph(ref, edges, _DAG_NODES)
        )
        got_valid, got_cycles = validate_dag(edges, _DAG_NODES)
        assert got_valid == exp_valid
        assert got_cycles == exp_cycles
    assert validate_dag(_DAG_EDGES, _DAG_NODES)[0]
    assert not validate_dag(_CYCLIC_EDGES, _DAG_NODES)[0]


@pytest.mark.parametrize("pair", [("T", "O"), ("A", "O"), ("B", "Z"),
                                  ("O", "T")])
def test_causal_paths_parity(ref, pair):
    from arkhammirror_spark.operators.causal import find_causal_paths

    eng = ref.CausalGraphEngine()
    g = _ref_graph(ref, _DAG_EDGES, _DAG_NODES)
    exp = eng.find_causal_paths(g, *pair)
    got = find_causal_paths(_DAG_EDGES, *pair)
    assert [p["nodes"] for p in got] == [p.nodes for p in exp]
    assert [p["path_type"] for p in got] == [p.path_type for p in exp]
    for gp, ep in zip(got, exp):
        assert gp["total_strength"] == pytest.approx(
            ep.total_strength, rel=1e-12
        )


def test_max_length_prune_parity(ref):
    from arkhammirror_spark.operators.causal import find_causal_paths

    eng = ref.CausalGraphEngine()
    g = _ref_graph(ref, _DAG_EDGES, _DAG_NODES)
    exp = eng.find_causal_paths(g, "A", "Z", max_length=4)
    got = find_causal_paths(_DAG_EDGES, "A", "Z", max_length=4)
    assert [p["nodes"] for p in got] == [p.nodes for p in exp]


def test_confounders_parity(ref):
    from arkhammirror_spark.operators.causal import identify_confounders

    eng = ref.CausalGraphEngine()
    g = _ref_graph(ref, _DAG_EDGES, _DAG_NODES)
    exp = {c.id: c for c in eng.identify_confounders(g, "T", "O")}
    got = {c["id"]: c for c in identify_confounders(_DAG_EDGES, "T", "O")}
    assert set(got) == set(exp)
    # common ancestors off every T->O causal path — includes B and C0,
    # which reach O only THROUGH T (the reference's definition does not
    # d-separate; parity is with ITS semantics)
    assert set(got) == {"A", "B", "C0", "C1"}
    for cid, c in got.items():
        e = exp[cid]
        assert c["affects_treatment"] == e.affects_treatment
        assert c["affects_outcome"] == e.affects_outcome
        assert c["path_to_treatment"] == e.path_to_treatment
        assert c["path_to_outcome"] == e.path_to_outcome


def test_intervention_parity(ref):
    from arkhammirror_spark.operators.causal import intervention_effect

    eng = ref.CausalGraphEngine()
    g = _ref_graph(ref, _DAG_EDGES, _DAG_NODES)
    exp = eng.calculate_intervention_effect(g, "T", "true", "O")
    got = intervention_effect(_DAG_EDGES, "T", "O")
    assert got["estimated_effect"] == pytest.approx(
        exp.estimated_effect, rel=1e-12
    )
    assert got["n_paths"] == len(exp.causal_paths)
    assert sorted(got["confounders_adjusted"]) == sorted(
        exp.confounders_adjusted
    )
    assert got["confidence_interval"] == pytest.approx(
        exp.confidence_interval
    )
    # no-path degenerate case
    exp0 = eng.calculate_intervention_effect(g, "Z", "true", "A")
    got0 = intervention_effect(_DAG_EDGES, "Z", "A")
    assert got0["estimated_effect"] == exp0.estimated_effect == 0.0


def test_distributed_kahn_layers(ref, spark):
    from arkhammirror_spark.operators.causal import (
        causal_ordering_distributed,
    )

    edges = spark.createDataFrame(
        _DAG_EDGES, "cause string, effect string, strength double"
    )
    layers = {
        r["node"]: r["layer"]
        for r in causal_ordering_distributed(edges).collect()
    }
    assert set(layers) == set(_DAG_NODES)
    assert all(v >= 0 for v in layers.values())  # DAG → all layered
    for c, e, _ in _DAG_EDGES:
        assert layers[c] < layers[e], (c, e)

    cyc = spark.createDataFrame(
        _CYCLIC_EDGES, "cause string, effect string, strength double"
    )
    layers_c = {
        r["node"]: r["layer"]
        for r in causal_ordering_distributed(cyc).collect()
    }
    # Z->A closes the cycle A->C0->T->M1->O->Z->A and every other node sits
    # downstream of it, so Kahn orders only B (the one in-degree-0 node)
    assert {n for n, v in layers_c.items() if v >= 0} == {"B"}
    assert {n for n, v in layers_c.items() if v == -1} == set(_DAG_NODES) - {"B"}
