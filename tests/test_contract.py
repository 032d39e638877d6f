"""Contract-shape guarantees: the external gate checks only the FIRST 50
`queries()` entries, so the packed contract must stay at <= 50 entries,
fully oracled, with no NULL-able padding (the gate's row compare sorts
rows as tuples; None is unorderable against str) and no array/map/struct
columns (the gate's pandas row-sort comparator factorizes cells; a list
cell raises `unhashable type: 'list'` — measured on canonical_urls in
round 4)."""

import ast
import json
import os
import re
import subprocess
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import types as T

from arkhammirror_spark import queries
from arkhammirror_spark.contract import MERGES, PROFILE_JOIN, build_contract
from arkhammirror_spark.queries import (
    _SENTINEL,
    ORACLE_SQL,
    QUERIES,
    padded_union,
    sentinel,
)


def test_contract_fits_the_50_entry_gate():
    contract, oracles = build_contract()
    assert len(contract) == 50
    assert set(contract) == set(oracles)


# The 50 contract names in served order: the external gate checks the first
# 50 `queries()` entries, so an order change moves entries in or out of it.
_CONTRACT_NAMES = [
    "date_extractions", "chunking", "anomalies", "simhash_neardup",
    "graph_node_labels", "graph_centrality", "graph_overview", "ann_topk",
    "container_extracts", "mentions", "mention_resolution", "content_scans",
    "image_hashes", "media_forensics", "credibility_analysis", "ach_analysis",
    "pattern_analysis", "interval_conflicts", "timeline_events", "claims",
    "graph_ego", "neardup_jaccard", "media_features", "doc_profile",
    "entities", "comention_edges", "exact_dedup", "pricing_summary",
    "top_orders_per_customer", "customer_nation_rollup", "bm25_search",
    "minhash_lsh_neardup", "relations_cooccur", "hybrid_search",
    "regex_search_email", "autocomplete_prefix", "reranked_search",
    "rels_dedup", "claim_contradictions", "embedding_neardup", "line_dedup",
    "canonical_urls", "gopher_quality", "events_rollup", "asof_latest_order",
    "range_window_events", "gopher_repetition", "webtext_prep",
    "main_content", "media_metadata",
]


def test_contract_names_are_pinned_in_order():
    contract, _ = build_contract()
    assert list(contract) == _CONTRACT_NAMES


_REGISTRY_DUMP = """
import json, sys
import arkhammirror_spark.{first}
from arkhammirror_spark.contract import build_contract
from arkhammirror_spark.queries import ORACLE_SQL, QUERIES
contract, oracles = build_contract()
json.dump({{"parts": list(QUERIES), "oracles": ORACLE_SQL,
           "contract": list(contract), "contract_oracles": oracles}}, sys.stdout)
"""


def _registry_after_importing(first: str) -> dict:
    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, "-c", _REGISTRY_DUMP.format(first=first)],
        cwd=repo, env={**os.environ, "PYTHONPATH": str(repo)},
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout)


@pytest.fixture(scope="module")
def registry_via_queries():
    reg = _registry_after_importing("queries")
    assert len(reg["parts"]) == 108
    assert reg["contract"] == _CONTRACT_NAMES
    return reg


@pytest.mark.parametrize(
    "first", ["queries_ext", "queries_ext2", "queries_ext3", "contract"]
)
def test_registry_is_the_same_whichever_module_is_imported_first(
    first, registry_via_queries
):
    """The four registry modules load as a chain; importing any of them (or
    the contract) first in a fresh interpreter must build the registry the
    `queries` import builds: every part, in the same order, with the same
    oracle text, and the same contract."""
    assert _registry_after_importing(first) == registry_via_queries


def test_every_part_query_is_served_exactly_once():
    """Each part-level registry entry is either a survivor in the contract
    or absorbed by exactly one merged entry — nothing dropped, nothing
    double-counted."""
    contract, _ = build_contract()
    absorbed: list[str] = []
    for _, parts in MERGES.values():
        absorbed.extend(src for _, src, _ in parts)
    absorbed.extend(PROFILE_JOIN[1])
    assert len(absorbed) == len(set(absorbed)), "a part is absorbed twice"
    survivors = set(QUERIES) - set(absorbed)
    assert survivors <= set(contract)
    # merged names don't shadow an existing part except the deliberate
    # reuses (the merged entry keeps the part's public name)
    shadowed = (set(MERGES) | {PROFILE_JOIN[0]}) & set(QUERIES)
    assert shadowed == {
        "mentions", "neardup_jaccard", "interval_conflicts", "claims",
        "graph_ego", "timeline_events",
    }
    # every absorbed part exists in the part registry with an oracle
    for src in absorbed:
        assert src in QUERIES and src in ORACLE_SQL, src


def test_merge_specs_reference_real_columns():
    """Every mapped source column must occur as a whole word in the part
    oracle's SQL text (cheap textual guard; the rehearsal suite checks
    values for real)."""
    for name, (columns, parts) in MERGES.items():
        out_names = {c for c, _ in columns}
        for tag, src, mapping in parts:
            assert set(mapping) <= out_names, (name, tag)
            for out, src_col in mapping.items():
                assert re.search(rf"\b{src_col}\b", ORACLE_SQL[src]), (
                    name, tag, out, src_col,
                )


def test_sentinels_cover_every_type_used():
    for _, (columns, _) in MERGES.items():
        for _, (styp, _) in columns:
            assert styp in _SENTINEL, styp


# the sentinel literals as they would be hand-written in Python or SQL text
# (`-424242` parses as a unary minus over 424242, which 424242.0 equals)
_SENTINEL_LITERALS = {"<na>", 424242, "'<na>'", "-424242", "-424242.0"}


def test_sentinels_are_written_only_in_the_table():
    """The query modules and the contract take every sentinel from
    `queries._SENTINEL`; a literal anywhere else is a second copy of the
    encoding. Oracle SQL texts are larger constants and never match."""
    pkg = Path(queries.__file__).parent
    sites = []
    for path in sorted([*pkg.glob("queries*.py"), pkg / "contract.py"]):
        tree = ast.parse(path.read_text())
        table = {
            id(n)
            for stmt in tree.body
            if isinstance(stmt, ast.Assign)
            and [getattr(t, "id", None) for t in stmt.targets] == ["_SENTINEL"]
            for n in ast.walk(stmt)
        }
        sites += [
            f"{path.name}:{n.lineno}: {n.value!r}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant) and id(n) not in table
            and n.value in _SENTINEL_LITERALS
        ]
    assert not sites, sites


_DUCK_TYPES = {
    "bigint": "BIGINT", "int": "INTEGER", "double": "DOUBLE",
    "string": "VARCHAR", "date": "DATE", "boolean": "BOOLEAN",
}


@pytest.fixture(scope="module")
def duck_sentinels():
    con = duckdb.connect()
    return {
        t: con.execute(f"SELECT ({sql})::{_DUCK_TYPES[t]}").fetchone()[0]
        for t, sql in _SENTINEL.items()
    }


def test_sentinels_agree_across_engines(spark, duck_sentinels):
    """Each table entry reads back as the same non-null value from Spark's
    typed sentinel column and from the DuckDB cast the oracles use."""
    row = spark.range(1).select(
        *[sentinel(t).alias(t) for t in _SENTINEL]
    ).first()
    for t in _SENTINEL:
        assert row[t] is not None and duck_sentinels[t] is not None, t
        assert row[t] == duck_sentinels[t], (t, row[t], duck_sentinels[t])


def test_padded_union_fills_absent_columns_with_sentinels(
    spark, duck_sentinels
):
    a = spark.createDataFrame([(1, "x")], "n int, s string")
    b = spark.createDataFrame([(True,)], "flag boolean")
    out = padded_union(
        "kind", "s string, flag boolean, n bigint, d date",
        [("a", a), ("b", b)],
    )
    assert out.schema.simpleString() == (
        "struct<kind:string,s:string,flag:boolean,n:bigint,d:date>"
    )
    rows = {r["kind"]: tuple(r) for r in out.collect()}
    na = duck_sentinels
    assert rows == {
        "a": ("a", "x", na["boolean"], 1, na["date"]),
        "b": ("b", na["string"], True, na["bigint"], na["date"]),
    }


def test_merged_oracle_padding_uses_sentinels_not_null():
    """The generated OUTER projections (everything before each part's
    subquery) must pad with typed sentinels, never NULL literals — NULLs
    inside the part oracles themselves (IS NOT NULL predicates, internal
    CTE columns) are fine and out of scope here; the sf0.01 gate
    simulation's runtime null audit covers actual output values."""
    _, oracles = build_contract()
    for name in MERGES:
        for segment in oracles[name].split("UNION ALL"):
            outer = segment.split("FROM (", 1)[0]
            assert "NULL::" not in outer.upper(), (name, outer[:120])


_CONTRACT, _ = build_contract()
_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.mark.parametrize("name", sorted(_CONTRACT))
def test_no_unorderable_column_types(spark, name):
    """Every contract output column must be a flat orderable scalar: the
    gate transports results through a pandas row-sort whose factorizer
    dies on list/dict cells (round-4 canonical_urls failure). Schema
    analysis only — nothing is executed."""
    schema = _CONTRACT[name](spark, _SF_DIR).schema
    banned = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)
    for f in schema.fields:
        assert not isinstance(f.dataType, banned), (
            f"{name}.{f.name}: {f.dataType.simpleString()} is not "
            "gate-orderable — serialize it (array_join / to_json) in the "
            "contract query"
        )
