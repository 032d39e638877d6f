"""Physical-plan hygiene inspection.

The north rule forbids per-row Python in the hot path and expects pushdown /
pruning to reach the scans; these helpers make those properties assertable
in tests and quickly checkable at a REPL (`.explain` grep, structured).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_row_python(df: DataFrame) -> bool:
    """True when the plan contains row-at-a-time Python (BatchEvalPython).
    Arrow-batched nodes (ArrowEvalPython / MapInPandas / PythonMapInArrow)
    are the allowed kind."""
    return "BatchEvalPython" in executed_plan(df)


def python_node_count(df: DataFrame) -> int:
    plan = executed_plan(df)
    return len(re.findall(r"MapInPandas|ArrowEvalPython|PythonMapInArrow|FlatMapGroupsInPandas", plan))


def plan_shape(df: DataFrame) -> dict[str, int]:
    """Counts of the plan nodes that set a query's cost: Exchange (shuffle,
    broadcast and reused), HashAggregate (hash and object-hash), Window,
    Python (Arrow-batched, as `python_node_count`) and Scan (file, RDD,
    in-memory and local) nodes."""
    names = [
        re.match(r"\w*", raw.lstrip(" :+-*(0123456789)")).group()
        for raw in executed_plan(df).splitlines()
    ]
    return {
        "Exchange": sum(n.endswith("Exchange") for n in names),
        "HashAggregate": sum(n.endswith("HashAggregate") for n in names),
        "Window": names.count("Window"),
        "Python": python_node_count(df),
        "Scan": sum(n == "Scan" or n.endswith("Scan") for n in names),
    }


_ORDER_DIR_RE = re.compile(r"\b(?:ASC|DESC) NULLS (?:FIRST|LAST)\b")


def unpartitioned_windows(df: DataFrame) -> list[str]:
    """Window plan nodes with NO partition spec (single-partition WindowExec
    — the `WARN WindowExec: No Partition Defined` scale-killer).

    A Window line prints up to three top-level bracket groups:
    `Window [funcs], [partSpec], [orderSpec]` — either spec may be absent.
    One group means frame-only (global); with two, the second is an order
    spec (→ global) iff it carries sort directions, else it is a partition
    spec. A constant partition key (partitionBy(lit(1))) is constant-folded
    by the optimizer and correctly shows up here as unpartitioned.
    """
    out = []
    for raw in executed_plan(df).splitlines():
        line = raw.lstrip(" :+-*(0123456789)")
        if not line.startswith("Window ["):
            continue
        depth = 0
        groups: list[str] = []
        buf: list[str] = []
        for ch in line[len("Window "):]:
            if ch == "[":
                if depth == 0:
                    buf = []
                depth += 1
                if depth == 1:
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append("".join(buf))
                    continue
            if depth >= 1:
                buf.append(ch)
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not _ORDER_DIR_RE.search(groups[1]):
            continue  # partition-only spec
        out.append(raw.strip())
    return out


def pushed_filters(df: DataFrame) -> list[str]:
    plan = executed_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schema(df: DataFrame) -> list[str]:
    plan = executed_plan(df)
    return re.findall(r"ReadSchema: ([^\n]*)", plan)
