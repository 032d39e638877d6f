"""Output checks, run outside every timed span.

Ingest: each url's `extracted_text` and mention multiset are hashed from a
plain-Python run of the reference path (`extract_one` + `mock_ner`) over
the generated pages, and compared with the committed `docs`/`mentions`
tables; the expected entity and edge row counts follow from the same
reference mentions. The mentions table carries no ordinal (mock-NER spans
all start at 0), so spans compare as a sorted multiset.

Analyst queries: every part's collected rows must equal its DuckDB oracle
(`queries.ORACLE_SQL`) on the same parquet files, as an order-independent
multiset; a mismatch reports both row counts and content hashes.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import math
import os
from collections import Counter

import pyarrow.parquet as pq

from arkhammirror_spark.catalog import ParquetSnapshotCatalog
from arkhammirror_spark.datagen.pages import DATAGEN_VERSION
from arkhammirror_spark.operators.extract import extract_one
from arkhammirror_spark.reference_impl.entity_filter import is_valid_entity
from arkhammirror_spark.reference_impl.ner import mock_ner

EDGE_LIMIT = 1000  # run_pipeline's comention edge build keeps the top 1000
MIN_EDGE_COUNT = 2


def _sha(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def _span_digest(spans) -> str:
    return _sha(sorted(spans))


def reference_docs(pages_path: str, seed: int, start: int, n: int, cache_dir: str) -> dict:
    """url -> [text sha, mentions sha, error?, valid entity keys, edge names]
    for one generated pages file, cached per (seed, rows, DATAGEN_VERSION)."""
    cache = os.path.join(
        cache_dir, f"ref-s{seed}-{start}+{n}-v{DATAGEN_VERSION}.json"
    )
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    out = {}
    for r in pq.read_table(pages_path).to_pylist():
        rec = extract_one(r["html"], r["text"], r["kind"])
        err = rec["error"] is not None
        ments = [] if err else mock_ner(rec["extracted_text"])
        valid = [m for m in ments if is_valid_entity(m["text"], m["entity_type"])]
        out[r["url"]] = [
            _sha(rec["extracted_text"]),
            _span_digest(
                (m["text"], m["entity_type"], m["start_char"], m["end_char"], m["confidence"])
                for m in ments
            ),
            err,
            sorted({f"{m['entity_type']}\t{m['text'].lower()}" for m in valid}),
            sorted({m["text"].lower() for m in valid}),
        ]
    os.makedirs(cache_dir, exist_ok=True)
    with open(cache + ".tmp", "w") as fh:
        json.dump(out, fh)
    os.replace(cache + ".tmp", cache)
    return out


def expected_aggregates(ref: dict) -> tuple[int, int]:
    """(entities rows, edges rows) that run_pipeline must commit for `ref`."""
    entities = set()
    pairs: Counter = Counter()
    for _, _, err, keys, names in ref.values():
        if err:
            continue
        entities.update(keys)
        pairs.update(itertools.combinations(names, 2))
    n_edges = sum(1 for c in pairs.values() if c >= MIN_EDGE_COUNT)
    return len(entities), min(EDGE_LIMIT, n_edges)


def _committed(out_dir: str, table: str, columns: list[str], latest: bool = False):
    """Rows of `table` from committed runs, read with pyarrow straight from
    the catalog's documented layout (`<root>/<table>/snapshot=<run id>/`),
    so the check does not go through the reader under test."""
    runs = [
        m["run_id"]
        for m in ParquetSnapshotCatalog(out_dir).committed_runs()
        if table in m["tables"]
    ]
    if latest:
        runs = runs[-1:]
    rows = []
    for run_id in runs:
        path = os.path.join(out_dir, table, f"snapshot={run_id}")
        rows.extend(pq.read_table(path, columns=columns).to_pylist())
    return rows


def check_ingest(out_dir: str, ref: dict) -> dict:
    """Compare a committed catalog with the reference; returns
    {checked, identical, problems}."""
    docs = _committed(out_dir, "docs", ["url", "extracted_text"])
    spans: dict[str, list] = {}
    for m in _committed(
        out_dir, "mentions",
        ["url", "text", "entity_type", "start_char", "end_char", "confidence"],
    ):
        spans.setdefault(m["url"], []).append(
            (m["text"], m["entity_type"], m["start_char"], m["end_char"], m["confidence"])
        )
    seen = Counter(d["url"] for d in docs)
    text_sha = {d["url"]: _sha(d["extracted_text"]) for d in docs}
    identical = 0
    for url, (t_sha, m_sha, *_rest) in ref.items():
        if (
            seen[url] == 1
            and text_sha[url] == t_sha
            and _span_digest(spans.get(url, [])) == m_sha
        ):
            identical += 1
    problems = []
    extra = set(seen) - set(ref)
    if extra:
        problems.append(f"{len(extra)} committed urls not offered")
    want_entities, want_edges = expected_aggregates(ref)
    got_entities = len(_committed(out_dir, "entities", ["name_lower"], latest=True))
    got_edges = len(_committed(out_dir, "edges", ["entity_a"], latest=True))
    if got_entities != want_entities:
        problems.append(f"entities rows {got_entities} != {want_entities}")
    if got_edges != want_edges:
        problems.append(f"edges rows {got_edges} != {want_edges}")
    if identical != len(ref):
        problems.append(f"{len(ref) - identical} of {len(ref)} urls differ")
    return {"checked": len(ref), "identical": identical, "problems": problems}


def _canon(val):
    if val is None:
        return None
    if isinstance(val, float):
        return "nan" if math.isnan(val) else round(val, 9)
    if isinstance(val, (list, tuple)):
        return tuple(_canon(v) for v in val)
    return str(val)


def _multiset(cols, rows) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


def check_part(columns: list[str], rows: list[tuple], oracle) -> str | None:
    """Compare one part's collected rows with its DuckDB oracle relation;
    returns what differs, or None."""
    got = _multiset(columns, rows)
    want = _multiset(list(oracle.columns), oracle.fetchall())
    if sorted(columns) != sorted(oracle.columns):
        return f"columns {sorted(columns)} != oracle {sorted(oracle.columns)}"
    if got != want:
        return f"{len(got)} rows (sha {_sha(got)[:12]}) != oracle {len(want)} rows (sha {_sha(want)[:12]})"
    return None
