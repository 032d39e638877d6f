"""Differential tests: reference_impl.timeline_merge vs the ACTUAL
arkham-shard-timeline merging module (loaded by file path). The Spark merge
operator is tested against reference_impl in tests/test_timeline_spark.py."""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import random
import sys
import types

import pytest

from arkhammirror_spark.reference_impl import timeline_merge as ours

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
    for leaf in ("models", "merging"):
        name = f"{pkg}.{leaf}"
        if name in sys.modules:
            continue
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(REF_DIR, f"{leaf}.py")
        )
        m = importlib.util.module_from_spec(spec)
        sys.modules[name] = m
        spec.loader.exec_module(m)
    return sys.modules[f"{pkg}.models"], sys.modules[f"{pkg}.merging"]


@pytest.fixture(scope="module")
def ref():
    models, merging = _load_reference()
    return models, merging


_WORDS = ["filed", "signed", "met", "agreed", "report", "deal", "acme",
          "case", "court", "delayed", "hearing", "witness"]


def _fuzz_events(seed: int, n: int = 14):
    rng = random.Random(seed)
    base = dt.datetime(2024, 1, 1)
    out = []
    for i in range(n):
        words = rng.sample(_WORDS, rng.randint(2, 5))
        out.append(
            {
                "id": f"e{i}",
                "document_id": f"d{rng.randint(0, 3)}",
                "text": " ".join(words),
                "date_start": base + dt.timedelta(days=rng.randint(0, 20)),
                "date_end": None,
                "confidence": round(rng.uniform(0.3, 1.0), 3),
                "entities": rng.sample(["A", "B", "C", "D"], rng.randint(0, 2)),
            }
        )
    return out


def _to_ref(models, evs):
    return [
        models.TimelineEvent(
            id=e["id"], document_id=e["document_id"], text=e["text"],
            date_start=e["date_start"], date_end=e["date_end"],
            confidence=e["confidence"], entities=list(e["entities"]),
        )
        for e in evs
    ]


def _sig(ev) -> tuple:
    if isinstance(ev, dict):
        return (ev["id"], ev["document_id"], ev["text"], ev["date_start"],
                ev["confidence"])
    return (ev.id, ev.document_id, ev.text, ev.date_start, ev.confidence)


@pytest.mark.parametrize("seed", range(15))
def test_deduplicated_parity(ref, seed):
    models, merging = ref
    evs = _fuzz_events(seed)
    merger = merging.TimelineMerger()
    exp, exp_removed = merger._merge_deduplicated(_to_ref(models, evs))
    got, got_removed = ours.merge_deduplicated(evs)
    assert [_sig(e) for e in got] == [_sig(e) for e in exp]
    assert got_removed == exp_removed


@pytest.mark.parametrize("seed", range(15))
def test_consolidated_parity(ref, seed):
    models, merging = ref
    evs = _fuzz_events(seed)
    merger = merging.TimelineMerger()
    exp, exp_merged = merger._merge_consolidated(_to_ref(models, evs))
    got, got_merged = ours.merge_consolidated(evs)
    assert got_merged == exp_merged
    assert [_sig(e) for e in got] == [_sig(e) for e in exp]
    # consolidated composites carry the entity union
    for g, e in zip(got, exp):
        if g.get("consolidated"):
            assert sorted(g["entities"]) == sorted(e.entities)


@pytest.mark.parametrize("seed", range(15))
def test_source_priority_parity(ref, seed):
    models, merging = ref
    evs = _fuzz_events(seed)
    merger = merging.TimelineMerger()
    prio = ["d1", "d3"]
    exp = merger._merge_source_priority(_to_ref(models, evs), prio)
    got = ours.merge_source_priority(evs, prio)
    assert [_sig(e) for e in got] == [_sig(e) for e in exp]


@pytest.mark.parametrize("seed", range(5))
def test_date_range_parity(ref, seed):
    models, merging = ref
    evs = _fuzz_events(seed)
    merger = merging.TimelineMerger()
    exp = merger._calculate_date_range(_to_ref(models, evs))
    got = ours.date_range(evs)
    assert got == (exp.start, exp.end)

