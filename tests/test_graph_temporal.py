"""Differential tests: operators/graph_temporal.py vs the ACTUAL
reference TemporalGraphEngine (graph/temporal.py) with its db_service
stubbed as an in-memory evaluator of the THREE SQL shapes the engine
issues (range / entities-with-qualifying-mentions / co-occurrence
pairs) — generate_snapshots runs the reference's own code."""

from __future__ import annotations

import asyncio
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
    if "arkham_shard_graph.temporal" in sys.modules:
        m = sys.modules
        return m["arkham_shard_graph.models"], m["arkham_shard_graph.temporal"]
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
    models = sys.modules["arkham_shard_graph.models"]
    tspec = importlib.util.spec_from_file_location(
        "arkham_shard_graph.temporal", f"{REF_PKG}/temporal.py"
    )
    temporal = importlib.util.module_from_spec(tspec)
    sys.modules["arkham_shard_graph.temporal"] = temporal
    tspec.loader.exec_module(temporal)
    return models, temporal


D0 = datetime.datetime(2026, 1, 1)


def _mention_rows():
    """(entity_id, document_id, created_at): 24 entities over ~120 days;
    shared docs create co-mention edges; some entities recur late (the
    windowed mode's non-contiguous membership case)."""
    rows = []
    for i in range(24):
        for k in range(1 + i % 4):
            day = (i * 7 + k * 31) % 120
            rows.append((
                f"E{i:02d}",
                f"d{(i * 2 + k) % 10}",
                D0 + datetime.timedelta(days=day),
            ))
    # an entity mentioned at both ends only (gap in the middle)
    rows.append(("E90", "d3", D0))
    rows.append(("E90", "d4", D0 + datetime.timedelta(days=119)))
    return rows


class _Db:
    """Evaluates the engine's three query shapes over the fixture."""

    def __init__(self, rows):
        self.rows = rows
        ents = sorted({e for e, _, _ in rows})
        self.entities = {
            e: {
                "label": f"Label {e}", "entity_type": "person",
                "mention_count": sum(1 for x, _, _ in rows if x == e),
            }
            for e in ents
        }

    def _passes(self, ts, params):
        if "window_start" in params:
            return params["window_start"] <= ts <= params["timestamp"]
        return ts <= params["timestamp"]

    async def fetch_all(self, query, params):
        if "FROM arkham_entity_mentions" in query and (
            "MIN(created_at) as earliest" in query
        ):
            tss = [ts for _, _, ts in self.rows]
            return [{
                "earliest": min(tss), "latest": max(tss),
                "distinct_days": len({ts.date() for ts in tss}),
            }]
        if "FROM arkham_entities e" in query:
            out = []
            for e in sorted(self.entities):
                qual = [
                    ts for ent, _, ts in self.rows
                    if ent == e and self._passes(ts, params)
                ]
                if not qual:
                    continue
                meta = self.entities[e]
                out.append({
                    "id": e, "label": meta["label"],
                    "entity_type": meta["entity_type"],
                    "metadata": {},
                    "document_count": meta["mention_count"],
                    "first_seen": min(qual),
                })
            return out[:500]
        if "co_occurrence_count" in query:
            ids = set(params["entity_ids"])
            pairs = {}
            by_doc = {}
            for ent, doc, ts in self.rows:
                if ent in ids and self._passes(ts, params):
                    by_doc.setdefault(doc, []).append((ent, ts))
            for doc, ms in by_doc.items():
                for ea, ta in ms:
                    for eb, tb in ms:
                        if ea < eb:
                            p = pairs.setdefault(
                                (ea, eb), {"docs": set(), "first": None}
                            )
                            p["docs"].add(doc)
                            mx = max(ta, tb)
                            if p["first"] is None or mx < p["first"]:
                                p["first"] = mx
            rows = [
                {
                    "entity_a": a, "entity_b": b,
                    "co_occurrence_count": len(v["docs"]),
                    "document_ids": sorted(v["docs"]),
                    "first_co_occurrence": v["first"],
                }
                for (a, b), v in pairs.items()
            ]
            rows.sort(key=lambda r: -r["co_occurrence_count"])
            return rows[:1000]
        raise AssertionError(f"unexpected query: {query[:120]}")


def _spark_mentions(spark):
    return spark.createDataFrame(
        [(e, d, ts.date()) for e, d, ts in _mention_rows()],
        "entity_id string, document_id string, created_at date",
    )


END = D0 + datetime.timedelta(days=120)
INTERVAL = 30


def _run_reference(ref, cumulative):
    models, temporal = ref
    eng = temporal.TemporalGraphEngine(db_service=_Db(_mention_rows()))
    return asyncio.run(eng.generate_snapshots(
        "p", start_date=D0, end_date=END,
        interval=datetime.timedelta(days=INTERVAL),
        cumulative=cumulative,
    ))


@pytest.mark.parametrize("cumulative", [True, False])
def test_snapshot_series_parity(ref, spark, cumulative):
    from arkhammirror_spark.operators.graph_temporal import snapshot_series

    snaps = _run_reference(ref, cumulative)
    got = {
        r["snapshot_idx"]: r
        for r in snapshot_series(
            _spark_mentions(spark), D0.date(), END.date(), INTERVAL,
            cumulative=cumulative,
        ).collect()
    }
    assert len(got) == len(snaps)
    for k, s in enumerate(snaps):
        g = got[k]
        assert str(g["snapshot_date"]) == str(s.timestamp.date()), k
        assert g["node_count"] == s.node_count, (cumulative, k)
        assert g["edge_count"] == s.edge_count, (cumulative, k)
        assert g["density"] == pytest.approx(s.density, rel=1e-12)
        assert g["nodes_added"] == len(s.added_nodes), (cumulative, k)
        assert g["nodes_removed"] == len(s.removed_nodes), (cumulative, k)
        assert g["edges_added"] == len(s.added_edges), (cumulative, k)
        assert g["edges_removed"] == len(s.removed_edges), (cumulative, k)
    if not cumulative:
        # the fixture actually exercises removals and the gap entity
        assert any(len(s.removed_nodes) for s in snaps)


def test_interval_autofit_rule(ref):
    """The max_snapshots re-widening (:229-233) on a long range."""
    from arkhammirror_spark.operators.graph_temporal import _fit_interval

    start = D0.date()
    end = (D0 + datetime.timedelta(days=400)).timetuple() and (
        D0 + datetime.timedelta(days=400)
    ).date()
    # 400 days at 1-day interval = 400 intervals > 50 → widen to 8
    assert _fit_interval(start, end, 1, 50) == 400 // 50
    assert _fit_interval(start, end, 30, 50) == 30  # already fits
