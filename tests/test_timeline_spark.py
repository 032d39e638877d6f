"""The Spark timeline merge (operators/timeline.py::merge_timeline_events)
against the in-repo merger (reference_impl/timeline_merge.py), one group at
a time: every strategy, with and without an `entities` column."""

from __future__ import annotations

import datetime as dt
import random

import pytest

from arkhammirror_spark.operators.timeline import merge_timeline_events
from arkhammirror_spark.reference_impl import timeline_merge as tm

_TEXTS = ["court hearing delayed", "court hearing delayed again", "deal signed",
          "deal signed by acme"]
_GROUPS = {"g1": 1, "g2": 2, "g3": 4}
_PRIORITY = ["d1", "d3"]
_BASE = dt.date(2024, 1, 1)


def _events(seed: int, n: int = 10) -> list[dict]:
    """`n` events on distinct dates, so the merge order is fixed by date
    alone; four texts over twelve days make duplicates frequent."""
    rng = random.Random(seed)
    days = rng.sample(range(12), n)
    return [
        {
            "id": f"e{i:02d}",
            "document_id": f"d{rng.randint(0, 3)}",
            "text": rng.choice(_TEXTS),
            "date_start": _BASE + dt.timedelta(days=days[i]),
            "confidence": round(rng.uniform(0.3, 1.0), 3),
            "entities": rng.sample(["A", "B", "C", "D"], rng.randint(0, 2)),
        }
        for i in range(n)
    ]


def _local(strategy: str, evs: list[dict]) -> list[dict]:
    if strategy == "chronological":
        return tm.merge_chronological(evs)
    if strategy == "deduplicated":
        return tm.merge_deduplicated(evs)[0]
    if strategy == "consolidated":
        return tm.merge_consolidated(evs)[0]
    return tm.merge_source_priority(evs, _PRIORITY)


def _row(group: str, ev: dict) -> tuple:
    return (
        group, ev["id"], ev["document_id"], ev["text"], ev["date_start"],
        ev["confidence"], bool(ev.get("consolidated", False)),
        int(ev.get("source_count", 1)),
    )


def _frame(spark, by_group: dict[str, list[dict]], entities: bool):
    cols = ["id", "document_id", "text", "date_start", "confidence"]
    ddl = ("case_id string, id string, document_id string, text string, "
           "date_start date, confidence double")
    if entities:
        cols.append("entities")
        ddl += ", entities array<string>"
    rows = [(g, *(e[c] for c in cols)) for g, evs in by_group.items() for e in evs]
    # several input partitions, so a group's rows reach the merge shuffled
    return spark.createDataFrame(rows, ddl).repartition(4)


def _merged(spark, by_group, strategy, entities):
    df = _frame(spark, by_group, entities)
    priority = _PRIORITY if strategy == "source_priority" else None
    got = merge_timeline_events(
        df, group_col="case_id", strategy=strategy, priority_docs=priority
    ).collect()
    return sorted(tuple(r) for r in got)


_STRATEGIES = ["chronological", "deduplicated", "consolidated", "source_priority"]


@pytest.mark.parametrize("entities", [True, False], ids=["entities", "no_entities"])
@pytest.mark.parametrize("strategy", _STRATEGIES)
def test_merge_matches_the_local_merger(spark, strategy, entities):
    by_group = {g: _events(seed) for g, seed in _GROUPS.items()}
    want = sorted(
        _row(g, ev)
        for g, evs in by_group.items()
        for ev in _local(
            strategy,
            [e if entities else {**e, "entities": []} for e in evs],
        )
    )
    assert _merged(spark, by_group, strategy, entities) == want


@pytest.mark.parametrize("strategy", _STRATEGIES)
def test_date_ties_break_by_id(spark, strategy):
    """Events sharing a date, a text and a confidence: which one a merge
    keeps follows input order alone, and the operator merges them in id
    order whatever order the rows arrive in."""
    evs = [
        {"id": f"t{i}", "document_id": f"d{i % 4}", "text": "court hearing delayed",
         "date_start": _BASE, "confidence": 0.5, "entities": ["A"]}
        for i in range(6)
    ]
    want = sorted(_row("t", ev) for ev in _local(strategy, evs))
    assert _merged(spark, {"t": evs[::-1]}, strategy, True) == want
