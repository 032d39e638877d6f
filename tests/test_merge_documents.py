"""Differential tests: operators/dedup.py::merge_documents +
deduplication_stats vs the ACTUAL DeduplicationService (deduplication.py:
498-701) with its database stubbed as in-memory tables that execute the
service's own UPDATE/DELETE/INSERT statements."""

from __future__ import annotations

import asyncio
import importlib.util
import json
import os

import pytest

from pyspark.sql import functions as F

REF = ("/root/reference/packages/arkham-shard-documents/"
       "arkham_shard_documents/services/deduplication.py")

pytestmark = pytest.mark.skipif(
    not os.path.isfile(REF), reason="reference tree not available"
)


@pytest.fixture(scope="module")
def ref_mod():
    spec = importlib.util.spec_from_file_location("_ref_dedup_merge", REF)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Result:
    def __init__(self, rowcount: int):
        self.rowcount = rowcount


class _MergeDb:
    """Executes exactly the statements merge_documents issues, against
    plain dict/list tables."""

    def __init__(self, documents, mentions, claims):
        self.documents = {d["id"]: dict(d) for d in documents}
        self.mentions = [dict(m) for m in mentions]
        self.claims = [dict(c) for c in claims]
        self.history = []

    async def execute(self, q, p):
        if "arkham_entity_mentions" in q:
            n = 0
            for m in self.mentions:
                if m["document_id"] == p["dup_id"]:
                    m["document_id"] = p["primary_id"]
                    n += 1
            return _Result(n)
        if "arkham_claims" in q:
            n = 0
            for c in self.claims:
                if c["document_id"] == p["dup_id"]:
                    c["document_id"] = p["primary_id"]
                    n += 1
            return _Result(n)
        if "status = 'merged'" in q:
            d = self.documents.get(p["dup_id"])
            if d is not None:
                d["status"] = "merged"
                d["merged_into_id"] = json.loads(p["primary_json"])
            return _Result(1 if d else 0)
        if "status = 'archived'" in q:
            d = self.documents.get(p["dup_id"])
            if d is not None:
                d["status"] = "archived"
                d["archived_reason"] = json.loads(p["reason_json"])
            return _Result(1 if d else 0)
        if q.strip().startswith("DELETE FROM arkham_frame.chunks"):
            return _Result(0)
        if q.strip().startswith(
            "DELETE FROM arkham_documents.content_hashes"
        ):
            return _Result(0)
        if q.strip().startswith("DELETE FROM arkham_frame.documents"):
            self.documents.pop(p["dup_id"], None)
            return _Result(1)
        if "merge_history" in q:
            self.history.append(dict(p))
            return _Result(1)
        raise AssertionError(f"unexpected statement: {q}")


_GROUPS = {"d0": ["d1", "d2"], "d5": ["d6"]}


def _fixture():
    documents = [{"id": f"d{i}", "status": "active"} for i in range(8)]
    mentions = [
        {"document_id": f"d{i}", "mention_id": f"m{i}-{k}"}
        for i in range(8)
        for k in range(i % 3)
    ]
    claims = [
        {"document_id": f"d{i}", "claim_id": f"c{i}-{k}"}
        for i in range(8)
        for k in range(i % 2)
    ]
    return documents, mentions, claims


def _run_reference(ref_mod):
    documents, mentions, claims = _fixture()
    db = _MergeDb(documents, mentions, claims)
    svc = ref_mod.DeduplicationService(db)
    results = {}
    for primary, dups in _GROUPS.items():
        results[primary] = asyncio.run(
            svc.merge_documents(
                primary, dups, strategy="keep_primary",
                preserve_references=True, cleanup_action="soft_delete",
            )
        )
    return db, results


def _spark_frames(spark):
    documents, mentions, claims = _fixture()
    docs = spark.createDataFrame(
        [(d["id"], d["status"]) for d in documents], "doc_id string, status string"
    )
    men = spark.createDataFrame(
        [(m["document_id"], m["mention_id"]) for m in mentions],
        "document_id string, mention_id string",
    )
    cl = spark.createDataFrame(
        [(c["document_id"], c["claim_id"]) for c in claims],
        "document_id string, claim_id string",
    )
    group_rows = []
    for primary, dups in _GROUPS.items():
        for m in [primary] + dups:
            group_rows.append((primary, m))
    groups = spark.createDataFrame(
        group_rows, "primary_document_id string, member_id string"
    )
    return docs, men, cl, groups


def test_merge_parity(ref_mod, spark):
    from arkhammirror_spark.operators.dedup import merge_documents

    db, results = _run_reference(ref_mod)
    docs, men, cl, groups = _spark_frames(spark)
    out = merge_documents(docs, groups, mentions=men, claims=cl)

    # history vs per-call MergeResult
    hist = {r["primary_id"]: r for r in out["history"].collect()}
    assert set(hist) == set(results)
    for pid, mr in results.items():
        h = hist[pid]
        assert h["merged_count"] == mr.merged_count
        assert h["references_updated"] == mr.references_updated
        assert h["documents_cleaned"] == mr.documents_cleaned
        assert h["cleanup_action"] == mr.cleanup_action
        assert sorted(h["merged_document_ids"].split("|")) == sorted(
            _GROUPS[pid]
        )

    # the reference's own merge_history insert rows agree too
    by_primary = {r["primary_id"]: r for r in db.history}
    for pid, h in hist.items():
        r = by_primary[pid]
        assert r["refs"] == h["references_updated"]
        assert r["cleaned"] == h["documents_cleaned"]
        assert sorted(json.loads(r["dup_ids"])) == sorted(
            h["merged_document_ids"].split("|")
        )

    # re-pointed reference tables
    got_mentions = sorted(
        (r["document_id"], r["mention_id"])
        for r in out["mentions"].collect()
    )
    exp_mentions = sorted(
        (m["document_id"], m["mention_id"]) for m in db.mentions
    )
    assert got_mentions == exp_mentions
    got_claims = sorted(
        (r["document_id"], r["claim_id"]) for r in out["claims"].collect()
    )
    exp_claims = sorted(
        (c["document_id"], c["claim_id"]) for c in db.claims
    )
    assert got_claims == exp_claims

    # post-merge documents state
    got_docs = {r["doc_id"]: r.asDict() for r in out["documents"].collect()}
    assert set(got_docs) == set(db.documents)
    for did, d in db.documents.items():
        g = got_docs[did]
        assert g["status"] == d["status"], did
        assert g["merged_into_id"] == d.get("merged_into_id")


def test_dedup_stats_parity(ref_mod, spark):
    """get_deduplication_stats (deduplication.py:662-701): the stub
    fetch_one evaluates the same aggregate the reference SQL computes."""
    from arkhammirror_spark.operators.dedup import deduplication_stats

    doc_ids = [f"d{i}" for i in range(10)]
    # docs 0-6 have hashes; three share one sha, two share another
    hashes = {
        "d0": "sha_a", "d1": "sha_a", "d2": "sha_a",
        "d3": "sha_b", "d4": "sha_b", "d5": "sha_c", "d6": "sha_d",
    }

    class _StatsDb:
        async def fetch_one(self, q, p):
            with_hash = [d for d in doc_ids if d in hashes]
            return {
                "total_documents": len(doc_ids),
                "documents_with_hash": len(with_hash),
                "unique_content_hashes": len(
                    {hashes[d] for d in with_hash}
                ),
            }

    svc = ref_mod.DeduplicationService(_StatsDb())
    exp = asyncio.run(svc.get_deduplication_stats())

    docs = spark.createDataFrame([(d,) for d in doc_ids], "doc_id string")
    hdf = spark.createDataFrame(
        [(d, s) for d, s in hashes.items()],
        "doc_id string, content_sha256 string",
    )
    got = deduplication_stats(docs, hdf).collect()[0].asDict()
    assert got == exp
