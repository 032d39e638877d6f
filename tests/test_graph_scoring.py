"""Differential tests: operators/graph_scoring.py vs the ACTUAL
reference CompositeScorer (graph/scoring.py) — real models.py, real
scorer, no stubbed math. Covers degree centrality, every component
score and the composite/rank."""

from __future__ import annotations

import datetime
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
    if "arkham_shard_graph.scoring" in sys.modules:
        m = sys.modules
        return m["arkham_shard_graph.models"], m["arkham_shard_graph.scoring"]
    pkg = types.ModuleType("arkham_shard_graph")
    pkg.__path__ = [REF_PKG]
    sys.modules.setdefault("arkham_shard_graph", pkg)
    mspec = importlib.util.spec_from_file_location(
        "arkham_shard_graph.models", f"{REF_PKG}/models.py"
    )
    models = importlib.util.module_from_spec(mspec)
    sys.modules["arkham_shard_graph.models"] = models
    mspec.loader.exec_module(models)
    sspec = importlib.util.spec_from_file_location(
        "arkham_shard_graph.scoring", f"{REF_PKG}/scoring.py"
    )
    scoring = importlib.util.module_from_spec(sspec)
    sys.modules["arkham_shard_graph.scoring"] = scoring
    sspec.loader.exec_module(scoring)
    return models, scoring


REF_DATE = datetime.datetime(2026, 6, 1)


def _graph(models, n_nodes=14):
    """Deterministic graph: ring + chords + two isolated-ish tails, with
    degrees/document_counts that vary."""
    nodes, edges = [], []
    for i in range(n_nodes):
        nodes.append(models.GraphNode(
            id=f"n{i}", entity_id=f"E{i}", label=f"Entity {i}",
            entity_type=["person", "organization", "location"][i % 3],
            document_count=(i * 3) % 7,
        ))
    pairs = []
    for i in range(n_nodes):
        pairs.append((i, (i + 1) % n_nodes, 1.0 + (i % 3) * 0.5))
    for i in range(0, n_nodes, 3):
        pairs.append((i, (i + 5) % n_nodes, 2.0))
    for a, b, w in pairs:
        edges.append(models.GraphEdge(
            source=f"n{a}", target=f"n{b}",
            relationship_type="related_to", weight=w,
        ))
    # degree = symmetric adjacency length
    deg = {f"n{i}": 0 for i in range(n_nodes)}
    for a, b, _ in pairs:
        deg[f"n{a}"] += 1
        deg[f"n{b}"] += 1
    for node in nodes:
        node.degree = deg[node.id]
    return models.Graph(project_id="p", nodes=nodes, edges=edges)


def _mentions(n_nodes=14):
    out = {}
    for i in range(n_nodes):
        ms = []
        for k in range(i % 5):
            ms.append({
                "document_id": f"d{(i * 2 + k) % 9}",
                "date": (
                    datetime.datetime(2026, 1 + (i + k) % 5, 1 + k)
                    if (i + k) % 4 != 0 else None
                ),
                "source_id": f"s{(i + k) % 4}" if k % 2 == 0 else None,
            })
        if ms:
            out[f"E{i}"] = ms
    return out


_RATINGS = {"s0": 0.9, "s1": 0.4, "s2": 0.7}  # s3 unrated


def _spark_frames(spark, models):
    g = _graph(models)
    nodes = spark.createDataFrame(
        [(n.id, n.entity_id, n.label, n.entity_type, n.degree,
          n.document_count) for n in g.nodes],
        "node_id string, entity_id string, label string, "
        "entity_type string, degree long, document_count long",
    )
    mrows = []
    for eid, ms in _mentions().items():
        for m in ms:
            mrows.append((
                eid, m["document_id"],
                m["date"].date() if m["date"] else None,
                m["source_id"],
            ))
    mentions = spark.createDataFrame(
        mrows,
        "entity_id string, document_id string, mention_date date, "
        "source_id string",
    )
    cred = spark.createDataFrame(
        list(_RATINGS.items()), "source_id string, rating double"
    )
    return g, nodes, mentions, cred


def test_composite_scores_parity(ref, spark):
    """calculate_scores end-to-end on degree centrality: every component
    score, composite, source_count, and rank must match."""
    from arkhammirror_spark.operators.graph_scoring import (
        CompositeConfig, composite_entity_scores,
    )

    models, scoring = ref
    g, nodes, mentions, cred = _spark_frames(spark, models)
    cfg_ref = scoring.ScoreConfig(
        centrality_type="degree",
        recency_reference_date=REF_DATE,
        entity_type_weights={"person": 1.2, "location": 0.9},
    )
    scorer = scoring.CompositeScorer()
    exp = scorer.calculate_scores(
        g, cfg_ref, entity_mentions=_mentions(),
        credibility_ratings=dict(_RATINGS),
    )

    cfg = CompositeConfig(
        centrality_type="degree",
        entity_type_weights={"person": 1.2, "location": 0.9},
    )
    got_rows = composite_entity_scores(
        nodes, mentions=mentions, credibility=cred, config=cfg,
        reference_date=REF_DATE.date(),
    ).collect()
    got = {r["entity_id"]: r for r in got_rows}

    assert set(got) == {s.entity_id for s in exp}
    comp_sorted = sorted(
        (s.composite_score for s in exp), reverse=True
    )
    # rank parity needs tie-free composites
    assert len(set(round(c, 12) for c in comp_sorted)) == len(comp_sorted)
    for s in exp:
        r = got[s.entity_id]
        for field, col in [
            ("centrality_score", "centrality_score"),
            ("frequency_score", "frequency_score"),
            ("recency_score", "recency_score"),
            ("credibility_score", "credibility_score"),
            ("corroboration_score", "corroboration_score"),
            ("composite_score", "composite_score"),
        ]:
            assert r[col] == pytest.approx(
                getattr(s, field), rel=1e-9, abs=1e-12
            ), (s.entity_id, field)
        assert r["source_count"] == s.source_count
        assert r["rank"] == s.rank, s.entity_id


def test_composite_no_mentions_no_ratings(ref, spark):
    """The degenerate defaults: no mention data → frequency falls back to
    document_count, recency 0.0, credibility neutral 0.5, corroboration
    from document_count."""
    from arkhammirror_spark.operators.graph_scoring import (
        CompositeConfig, composite_entity_scores,
    )

    models, scoring = ref
    g, nodes, _, _ = _spark_frames(spark, models)
    cfg_ref = scoring.ScoreConfig(
        centrality_type="degree", recency_reference_date=REF_DATE
    )
    exp = {
        s.entity_id: s
        for s in scoring.CompositeScorer().calculate_scores(g, cfg_ref)
    }
    got = {
        r["entity_id"]: r
        for r in composite_entity_scores(
            nodes, config=CompositeConfig(),
            reference_date=REF_DATE.date(),
        ).collect()
    }
    for eid, s in exp.items():
        r = got[eid]
        assert r["composite_score"] == pytest.approx(
            s.composite_score, rel=1e-9, abs=1e-12
        ), eid
        assert r["recency_score"] == pytest.approx(s.recency_score)
        assert r["credibility_score"] == pytest.approx(0.5)
