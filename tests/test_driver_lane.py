"""The bounded driver lane (`operators/driver_lane.py`) and the declared
fixture schemas: `local_frame` gives the same rows and schema as
`createDataFrame(list)`, the PageRank and CC driver lanes equal their
distributed loops at the cap boundary (cap−1 / cap / cap+1), and a fixture
read is schema-declared (no inference job)."""

from __future__ import annotations

import datetime as dt
import glob
import os
import random

import pytest

from arkhammirror_spark.operators.driver_lane import bounded_collect, local_frame
from arkhammirror_spark.operators.graph import (
    connected_components_distributed,
    pagerank_distributed,
)
from arkhammirror_spark.schemas import FIXTURE_SCHEMAS

# every column type a lane returns through local_frame
_LANE_SCHEMA = "s string, l long, i int, d double, dt date"
_LANE_ROWS = [
    ("a", 1, 1, 0.5, dt.date(2020, 1, 31)),
    (None, None, None, None, None),
    ("ünïçødé ✓ 名前", 10**14 + 7, -(2**31), -0.0, dt.date(1900, 1, 1)),
    ("nul\x00inside", -(10**14) - 3, 2**31 - 1, 1e-300, dt.date(9999, 12, 31)),
    ("", 2**62, 0, float("inf"), dt.date(1970, 1, 1)),
]


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def _rows(df) -> list[str]:
    # repr keeps what == hides (-0.0 vs 0.0)
    return [repr(tuple(r)) for r in df.collect()]


@pytest.mark.parametrize("rows", [_LANE_ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_create_data_frame(spark, rows):
    got = local_frame(spark, rows, _LANE_SCHEMA)
    want = spark.createDataFrame(rows, _LANE_SCHEMA)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    assert "LocalRelation" in _plan(got)
    assert "LocalRelation" not in _plan(want)


def test_bounded_collect(spark):
    df = spark.range(5)
    assert [r.id for r in bounded_collect(df, 5)] == list(range(5))
    assert bounded_collect(df, 4) is None
    assert bounded_collect(df.where("id < 0"), 0) == []


# ---------------------------------------------------------------------------
# cap-boundary proofs: lane output == driver_cap=None output, row for row
# ---------------------------------------------------------------------------

_CAP = 12


def _random_graph(spark, n_edges: int, seed: int):
    """An edge frame with exactly `n_edges` distinct undirected edges: a
    random core with self-loops, two isolated pairs, and duplicate rows in
    both orientations (which the lanes' distinct must fold)."""
    rng = random.Random(seed)
    nodes = [f"n{i:02d}" for i in range(9)]
    und = {("p0", "p1"), ("q0", "q1"), ("n00", "n00"), ("n03", "n03")}
    while len(und) < n_edges:
        a, b = rng.choice(nodes), rng.choice(nodes)
        und.add((min(a, b), max(a, b)))
    und = sorted(und)
    rows = []
    for a, b in und:
        rows.append((a, b) if rng.random() < 0.5 else (b, a))
        if rng.random() < 0.3:  # the same edge again, either way round
            rows.append((b, a) if rng.random() < 0.5 else (a, b))
    return spark.createDataFrame(rows, "entity_a string, entity_b string")


def _lane_ran(df) -> bool:
    return "LocalRelation" in _plan(df)


@pytest.mark.parametrize("n_edges", [_CAP - 1, _CAP, _CAP + 1])
@pytest.mark.parametrize("seed", [1, 2])
def test_pagerank_lane_at_cap_boundary(spark, n_edges, seed):
    edges = _random_graph(spark, n_edges, seed)
    lane = pagerank_distributed(edges, driver_cap=_CAP)
    loop = pagerank_distributed(edges, driver_cap=None)
    assert _lane_ran(lane) == (n_edges <= _CAP)
    assert not _lane_ran(loop)
    got, want = sorted(lane.collect()), sorted(loop.collect())
    assert len(want) == len({n for e in edges.collect() for n in e})
    # exact doubles: the lane re-runs the loop's fixed-point arithmetic
    assert [(r["name"], r["rank"]) for r in got] == [
        (r["name"], r["rank"]) for r in want
    ]


@pytest.mark.parametrize("n_edges", [_CAP - 1, _CAP, _CAP + 1])
@pytest.mark.parametrize("seed", [1, 2])
def test_components_lane_at_cap_boundary(spark, n_edges, seed):
    edges = _random_graph(spark, n_edges, seed)
    lane = connected_components_distributed(edges, driver_cap=_CAP)
    loop = connected_components_distributed(edges, driver_cap=None)
    assert _lane_ran(lane) == (n_edges <= _CAP)
    assert sorted(lane.collect()) == sorted(loop.collect())


def test_lanes_on_the_empty_graph(spark):
    edges = spark.createDataFrame([], "entity_a string, entity_b string")
    for cap in (_CAP, None):
        assert pagerank_distributed(edges, driver_cap=cap).collect() == []
        assert connected_components_distributed(edges, driver_cap=cap).collect() == []


# ---------------------------------------------------------------------------
# declared fixture schemas
# ---------------------------------------------------------------------------

_TABLE_FILES = sorted(glob.glob("/root/testdata/sf*/*.parquet"))


@pytest.mark.skipif(not _TABLE_FILES, reason="fixture tables absent")
def test_fixture_schemas_equal_inference(spark):
    """Every table file of every scale factor infers exactly its declared
    schema (nullability included)."""
    seen = set()
    for path in _TABLE_FILES:
        name = os.path.basename(path)[: -len(".parquet")]
        assert spark.read.parquet(path).schema == FIXTURE_SCHEMAS[name], path
        seen.add(name)
    assert seen == set(FIXTURE_SCHEMAS)


def test_benchmark_tables_infer_the_declared_schemas(spark, tmp_path):
    """The benchmark's generated analyst tables read with the same schemas."""
    from perfbench.inputs import write_analyst_tables

    write_analyst_tables(str(tmp_path), seed=3, n_docs=40, n_lines=200)
    for name in ("documents", "lineitem"):
        path = str(tmp_path / f"{name}.parquet")
        assert spark.read.parquet(path).schema == FIXTURE_SCHEMAS[name], name


@pytest.mark.skipif(not _TABLE_FILES, reason="fixture tables absent")
def test_opening_a_fixture_starts_no_job(spark):
    from arkhammirror_spark.queries import _load

    sf = os.path.dirname(_TABLE_FILES[0])
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_started(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
            return tracker.getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    # the probe sees an inference job when one runs
    assert jobs_started(
        "fixture-infer-probe", lambda: spark.read.parquet(f"{sf}/documents.parquet")
    ), "schema inference started no job; the check below proves nothing"
    for name in FIXTURE_SCHEMAS:
        assert jobs_started(f"fixture-load-{name}", lambda: _load(spark, sf, name)) == [], name
