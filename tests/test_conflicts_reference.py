"""Differential tests: operators/conflicts.py (Spark four-arm detector) vs
the ACTUAL arkham-shard-timeline ConflictDetector (loaded by file path).

The reference (conflicts.py:38-404) runs O(n^2) Python loops over one
in-memory event list; parity is checked per conflict type as multisets of
normalized signatures (the Spark output is unordered, reference ids are
uuid4 so excluded)."""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import random
import sys
import types

import pytest

from pyspark.sql import functions as F

from arkhammirror_spark.operators.conflicts import (
    detect_temporal_conflicts,
)

REF_DIR = "/root/reference/packages/arkham-shard-timeline/arkham_shard_timeline"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_DIR), reason="reference tree not available"
)


def _load_reference():
    pkg = "arkham_shard_timeline"
    if pkg not in sys.modules:
        mod = types.ModuleType(pkg)
        mod.__path__ = [REF_DIR]
        sys.modules[pkg] = mod
    for leaf in ("models", "conflicts"):
        name = f"{pkg}.{leaf}"
        if name in sys.modules:
            continue
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(REF_DIR, f"{leaf}.py")
        )
        m = importlib.util.module_from_spec(spec)
        sys.modules[name] = m
        spec.loader.exec_module(m)
    return sys.modules[f"{pkg}.models"], sys.modules[f"{pkg}.conflicts"]


@pytest.fixture(scope="module")
def ref():
    return _load_reference()


_WORDS = ["filed", "signed", "met", "agreed", "report", "deal", "acme",
          "case", "court", "delayed", "hearing", "witness", "later",
          "after", "then", "board", "review"]


def _fuzz_events(seed: int, n: int = 16, span_prob: float = 0.75,
                 date_spread: int = 30):
    """Random events; ~25% without span (excluded from the inconsistency
    arm), dates over `date_spread` days so every arm can fire."""
    rng = random.Random(seed)
    base = dt.datetime(2024, 1, 1)
    out = []
    for i in range(n):
        words = rng.sample(_WORDS, rng.randint(2, 5))
        span = (
            (rng.randint(0, 400), rng.randint(401, 500))
            if rng.random() < span_prob
            else None
        )
        out.append(
            {
                "ord": i,
                "id": f"e{i}",
                "document_id": f"d{rng.randint(0, 3)}",
                "text": " ".join(words),
                "date_start": base + dt.timedelta(
                    days=rng.randint(0, date_spread)
                ),
                "confidence": round(rng.uniform(0.3, 1.0), 3),
                "entities": rng.sample(["A", "B", "C", "D"],
                                       rng.randint(0, 2)),
                "pos": span[0] if span else None,
            }
        )
    return out


def _to_ref(models, evs):
    return [
        models.TimelineEvent(
            id=e["id"], document_id=e["document_id"], text=e["text"],
            date_start=e["date_start"], confidence=e["confidence"],
            entities=list(e["entities"]),
            span=(e["pos"], e["pos"] + 100) if e["pos"] is not None else None,
        )
        for e in evs
    ]


def _ref_sigs(conflicts):
    """Normalize reference TemporalConflict objects into comparable sigs."""
    sigs = []
    for c in conflicts:
        t = c.type.value if hasattr(c.type, "value") else str(c.type)
        s = c.severity.value if hasattr(c.severity, "value") else str(c.severity)
        md = c.metadata or {}
        sigs.append((
            t, s, tuple(c.events), frozenset(c.documents), c.description,
            c.suggested_resolution,
            md.get("date_diff_days"), md.get("gap_days"),
            md.get("median_gap"), md.get("entity_id"),
            md.get("text1"), md.get("text2"),
        ))
    return sorted(sigs, key=repr)


def _spark_sigs(rows):
    sigs = []
    for r in rows:
        sigs.append((
            r["conflict_type"], r["severity"],
            (r["event1_id"], r["event2_id"]),
            frozenset({r["doc1"], r["doc2"]}),
            r["description"], r["suggested_resolution"],
            r["date_diff_days"], r["gap_days"], r["median_gap"],
            r["entity_id"], r["text1"], r["text2"],
        ))
    return sorted(sigs, key=repr)


def _spark_frame(spark, evs):
    rows = [
        (
            e["ord"], e["id"], e["document_id"], e["text"],
            e["date_start"].date(), e["confidence"], list(e["entities"]),
            e["pos"],
        )
        for e in evs
    ]
    return spark.createDataFrame(
        rows,
        "ord long, id string, document_id string, text string, "
        "date_start date, confidence double, entities array<string>, "
        "pos long",
    )


@pytest.mark.parametrize("seed", range(12))
def test_four_arm_parity(ref, spark, seed):
    models, rc = ref
    evs = _fuzz_events(seed)
    det = rc.ConflictDetector(tolerance_days=0)
    exp = _ref_sigs(det.detect_conflicts(_to_ref(models, evs)))
    got = _spark_sigs(
        detect_temporal_conflicts(_spark_frame(spark, evs)).collect()
    )
    assert got == exp


@pytest.mark.parametrize("seed", [200, 201])
def test_parity_wide_dates(ref, spark, seed):
    """Wide date spread exercises the gap arm (3x-median + 30-day rule) and
    the critical/high severity branches."""
    models, rc = ref
    evs = _fuzz_events(seed, n=18, date_spread=400)
    det = rc.ConflictDetector(tolerance_days=0)
    exp = _ref_sigs(det.detect_conflicts(_to_ref(models, evs)))
    got = _spark_sigs(
        detect_temporal_conflicts(_spark_frame(spark, evs)).collect()
    )
    assert got == exp


def test_planted_all_arms(ref, spark):
    """Deterministic fixture firing every arm at a known severity."""
    models, rc = ref
    base = dt.datetime(2024, 1, 1)
    evs = [
        # contradiction (shared entity, 120-day diff, conf>0.9 -> critical)
        {"ord": 0, "id": "c1", "document_id": "dA", "text": "contract signed",
         "date_start": base, "confidence": 0.95, "entities": ["X"], "pos": 10},
        {"ord": 1, "id": "c2", "document_id": "dB", "text": "deal closed",
         "date_start": base + dt.timedelta(days=120), "confidence": 0.95,
         "entities": ["X"], "pos": 5},
        # inconsistency: later-in-text event with "later" marker, earlier date
        {"ord": 2, "id": "i1", "document_id": "dC", "text": "initial filing",
         "date_start": base + dt.timedelta(days=200), "confidence": 0.5,
         "entities": [], "pos": 0},
        {"ord": 3, "id": "i2", "document_id": "dC",
         "text": "later the hearing happened",
         "date_start": base + dt.timedelta(days=150), "confidence": 0.5,
         "entities": [], "pos": 50},
        # gap: cluster then a 365-day jump
        {"ord": 4, "id": "g1", "document_id": "dD", "text": "routine update",
         "date_start": base + dt.timedelta(days=201), "confidence": 0.4,
         "entities": [], "pos": None},
        {"ord": 5, "id": "g2", "document_id": "dD", "text": "final notice",
         "date_start": base + dt.timedelta(days=600), "confidence": 0.4,
         "entities": [], "pos": None},
        # overlap: same entity, same date, different docs
        {"ord": 6, "id": "o1", "document_id": "dE", "text": "sighting one",
         "date_start": base + dt.timedelta(days=600), "confidence": 0.6,
         "entities": ["Y"], "pos": None},
        {"ord": 7, "id": "o2", "document_id": "dF", "text": "sighting two",
         "date_start": base + dt.timedelta(days=600), "confidence": 0.6,
         "entities": ["Y"], "pos": None},
    ]
    det = rc.ConflictDetector(tolerance_days=0)
    ref_out = det.detect_conflicts(_to_ref(models, evs))
    exp = _ref_sigs(ref_out)
    got_rows = detect_temporal_conflicts(_spark_frame(spark, evs)).collect()
    got = _spark_sigs(got_rows)
    assert got == exp
    by_type = {}
    for r in got_rows:
        by_type.setdefault(r["conflict_type"], []).append(r)
    assert any(
        r["severity"] == "critical"
        and {r["event1_id"], r["event2_id"]} == {"c1", "c2"}
        for r in by_type["contradiction"]
    )
    assert {(r["event1_id"], r["event2_id"]) for r in by_type["inconsistency"]} \
        == {("i1", "i2")}
    assert any(r["gap_days"] >= 365 for r in by_type["gap"])
    assert {(r["event1_id"], r["event2_id"], r["entity_id"])
            for r in by_type["overlap"]} == {("o1", "o2", "Y")}
