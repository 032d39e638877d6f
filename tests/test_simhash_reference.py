"""Byte-parity differential for the documents shard's own SimHash
(arkham-shard-documents/services/deduplication.py:48-184): the ACTUAL
reference class, loaded by file path, vs the native
dedup.simhash64_reference operator — exact 64-bit equality per text,
including the tokenizer's unicode \\w semantics, duplicate-shingle
weighting, md5 big-endian bit order, and the empty-text -> 0 branch."""

from __future__ import annotations

import importlib.util
import os
import random
import string

import pytest

REF = ("/root/reference/packages/arkham-shard-documents/"
       "arkham_shard_documents/services/deduplication.py")

pytestmark = pytest.mark.skipif(
    not os.path.isfile(REF), reason="reference tree not available"
)


@pytest.fixture(scope="module")
def simhash_ref():
    spec = importlib.util.spec_from_file_location("_ref_dedup", REF)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.SimHash()


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


_CASES = [
    "The quick brown fox jumps over the lazy dog.",
    "hello, hello, HELLO!!! hello world; world... world",
    "single",
    "two words",
    "",
    "   \t\n  ",
    "!!! ... ;;; ###",  # normalizes away -> no tokens -> 0
    "café naïve résumé 中文处理 "
    "straße",
    "a b a b a b a b c",  # heavy duplicate shingles
    "Line one.\nLine two!\tTabbed three?",
]


def test_simhash_byte_parity_on_cases(spark, simhash_ref):
    from arkhammirror_spark.operators.dedup import simhash64_reference

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(_CASES)], ["doc_id", "text"]
    )
    got = {
        r["doc_id"]: r for r in simhash64_reference(df).collect()
    }
    for i, text in enumerate(_CASES):
        ref_u = simhash_ref.compute(text)
        g = got[i]
        assert g["simhash"] == _to_signed(ref_u), (i, text)
        assert g["simhash_bits"] == format(ref_u, "064b"), (i, text)


def test_simhash_byte_parity_fuzz(spark, simhash_ref):
    rng = random.Random(1234)
    alphabet = string.ascii_letters + string.digits + ".,;:!?'\"()- _"
    texts = []
    for _ in range(40):
        n = rng.randint(0, 60)
        words = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 10)))
            for _ in range(n)
        ]
        texts.append(" ".join(words))
    from arkhammirror_spark.operators.dedup import simhash64_reference

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in simhash64_reference(df).collect()}
    for i, text in enumerate(texts):
        ref_u = simhash_ref.compute(text)
        assert got[i]["simhash"] == _to_signed(ref_u), (i, text)


def test_reference_hamming_equals_bitcount_xor(simhash_ref):
    """SimHash.hamming_distance (:151-168) == the operator-side
    bit_count(xor) the banded joins use, and similarity_score mirrors
    1 - d/64."""
    rng = random.Random(5)
    SimHash = type(simhash_ref)
    for _ in range(50):
        a = rng.getrandbits(64)
        b = rng.getrandbits(64)
        d = SimHash.hamming_distance(a, b)
        assert d == bin(a ^ b).count("1")
        assert SimHash.similarity_score(a, b) == 1.0 - d / 64


def test_null_text_is_zero(spark):
    from arkhammirror_spark.operators.dedup import simhash64_reference

    df = spark.createDataFrame([(1, None)], "doc_id long, text string")
    r = simhash64_reference(df).collect()[0]
    assert r["simhash"] == 0 and r["simhash_bits"] == "0" * 64


# ---------------------------------------------------------------------------
# DeduplicationService differential: the service's simhashes and
# scan_project_duplicates (:403-490) with the service's DB stubbed to our
# fixture rows, vs the native operators on the same hashes.
# ---------------------------------------------------------------------------

_CLUSTER_TEXTS = [
    ("a1", "the quarterly budget report was filed on time by the finance "
           "team with full approval from management today"),
    ("a2", "the quarterly budget report was filed on time by the finance "
           "team with full approval from management yesterday"),
    ("a3", "the quarterly budget report was filed late by the finance "
           "team with full approval from management today"),
    ("b1", "completely different subject matter about oceanic plankton "
           "migration patterns in the southern hemisphere currents"),
    ("b2", "completely different subject matter about oceanic plankton "
           "migration patterns in the northern hemisphere currents"),
    ("c1", "an unrelated singleton document concerning medieval "
           "architecture and cathedral restoration techniques"),
]


@pytest.fixture(scope="module")
def dedup_service():
    spec = importlib.util.spec_from_file_location("_ref_dedup2", REF)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    sim = mod.SimHash()
    rows = [
        {"document_id": did, "simhash": sim.compute(t), "title": did,
         "created_at": i}
        for i, (did, t) in enumerate(_CLUSTER_TEXTS)
    ]

    class _Db:
        async def fetch_one(self, q, p):
            for r in rows:
                if r["document_id"] == p["doc_id"]:
                    return r
            return None

        async def fetch_all(self, q, p):
            if "source_id" in p:
                return [r for r in rows
                        if r["document_id"] != p["source_id"]]
            return rows

    svc = mod.DeduplicationService(_Db())
    return mod, svc, rows


def test_content_hashes_carry_reference_simhash(spark, dedup_service):
    from arkhammirror_spark.operators.dedup import content_hashes

    mod, svc, rows = dedup_service
    df = spark.createDataFrame(_CLUSTER_TEXTS, ["doc_id", "text"])
    hashes = content_hashes(df).localCheckpoint(eager=True)
    # the signed operator simhash carries the same 64 bits as the
    # reference's unsigned value
    by_id = {r["doc_id"]: r for r in hashes.collect()}
    for r in rows:
        u = r["simhash"]
        assert by_id[r["document_id"]]["simhash"] == (
            u - (1 << 64) if u >= (1 << 63) else u
        )


def test_duplicate_groups_match_reference_scan(spark, dedup_service):
    import asyncio

    from arkhammirror_spark.operators.dedup import (
        content_hashes,
        duplicate_groups,
    )

    mod, svc, rows = dedup_service
    ref_groups = asyncio.run(
        svc.scan_project_duplicates("p", threshold=0.8)
    )
    ref = {
        g.primary_document_id: sorted([g.primary_document_id]
                                      + g.duplicate_ids)
        for g in ref_groups
    }

    df = spark.createDataFrame(_CLUSTER_TEXTS, ["doc_id", "text"])
    hashes = content_hashes(df)
    got_rows = duplicate_groups(hashes, threshold=0.8).collect()
    got: dict = {}
    for r in got_rows:
        got.setdefault(r["primary_document_id"], []).append(r["member_id"])
    got = {k: sorted(v) for k, v in got.items()}
    assert got == ref  # memberships AND primaries agree on this corpus
    assert all(r["detection_method"] == "simhash" for r in got_rows)


def test_simhash_byte_parity_unicode_fuzz(spark, simhash_ref):
    """Unicode-heavy fuzz: the (?U)-flagged Java regex must track
    Python's unicode \\w on letters beyond ASCII, CJK, combining marks,
    and unicode whitespace."""
    rng = random.Random(77)
    pools = [
        "àéîõüçñß", "αβγδεζ", "абвгде", "中文字符処理", "ひらがな",
        string.ascii_letters, string.digits, "—…«»™©!?.,;:",
        "   \t",  # unicode + ascii whitespace
    ]
    texts = []
    for _ in range(25):
        n = rng.randint(0, 40)
        words = []
        for _ in range(n):
            pool = rng.choice(pools)
            words.append("".join(rng.choice(pool)
                                 for _ in range(rng.randint(1, 8))))
        texts.append(" ".join(words))
    from arkhammirror_spark.operators.dedup import simhash64_reference

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in simhash64_reference(df).collect()}
    for i, text in enumerate(texts):
        ref_u = simhash_ref.compute(text)
        assert got[i]["simhash"] == _to_signed(ref_u), (i, repr(text))
