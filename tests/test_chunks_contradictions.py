"""Tests for frame chunk strategies (C4–C8) and contradiction detection (CD1)."""

import pytest

from arkhammirror_spark.operators.contradictions import detect_contradictions
from arkhammirror_spark.operators.spans import _per_url
from arkhammirror_spark.reference_impl.frame_chunks import (
    chunk_code,
    chunk_fixed_size,
    chunk_fixed_tokens,
    chunk_markdown,
    chunk_paragraph,
    chunk_recursive,
    chunk_sentence,
    chunk_with_strategy,
)


class TestFrameChunks:
    def test_fixed_size_overlap(self):
        out = chunk_fixed_size("abcdefghij" * 3, chunk_size=10, chunk_overlap=3)
        assert out[0] == ("abcdefghij", 0, 10)
        assert out[1][1] == 7  # start moves back by overlap

    def test_fixed_tokens_ratio(self):
        out = chunk_fixed_tokens("x" * 100, chunk_size=10, chunk_overlap=0)
        # 10 tokens * 4 chars/token = 40-char chunks
        assert out[0][0] == "x" * 40

    def test_sentence_packing(self):
        text = "One sentence here. Two sentences now. Three arrive."
        out = chunk_sentence(text, chunk_size=40)
        assert out[0][0] == "One sentence here. Two sentences now."
        assert out[1][0] == "Three arrive."

    def test_paragraph(self):
        text = "para one body\n\npara two body\n\npara three body"
        out = chunk_paragraph(text, chunk_size=30)
        assert out[0][0] == "para one body\n\npara two body"
        assert out[1][0] == "para three body"
        assert out[1][1] == text.find("para three")

    def test_recursive_cascade(self):
        text = "aaa\n\nbbb\n\n" + "c" * 600 + "\n\nddd"
        out = chunk_recursive(text, chunk_size=500)
        texts = [t for t, _, _ in out]
        assert any("aaa" in t for t in texts)
        # the 600-char run is recursively split below 500
        assert all(len(t) <= 500 for t in texts)

    def test_markdown_sections(self):
        text = "# Title\nintro text\n## Sub\nmore body text here"
        out = chunk_markdown(text, chunk_size=500)
        assert [t for t, _, _ in out] == [
            "# Title\nintro text",
            "## Sub\nmore body text here",
        ]
        assert out[0][1] == 0
        assert out[1][1] == text.find("## Sub")

    def test_code_separators(self):
        text = "import os\n\ndef f():\n    pass\n\nclass C:\n    pass"
        out = chunk_code(text, chunk_size=30)
        joined = [t for t, _, _ in out]
        assert any(t.startswith("def f") or "def f" in t for t in joined)

    def test_strategy_dispatch(self):
        recs = chunk_with_strategy("Hello world. " * 50, "sentence", chunk_size=100)
        assert all(r["method"] == "sentence" for r in recs)
        assert [r["chunk_index"] for r in recs] == list(range(len(recs)))

    def test_spark_operator(self, spark):
        """A strategy dispatched per document through the span explode lane."""
        from arkhammirror_spark.schemas import CHUNK_STRUCT

        docs = spark.createDataFrame(
            [("u1", "One sentence here. Two sentences now. Three arrive.")],
            "url: string, extracted_text: string",
        )
        got = _per_url(
            docs, lambda t: chunk_with_strategy(t, "sentence", chunk_size=40), CHUNK_STRUCT
        ).collect()
        assert [r["text"] for r in got] == [
            "One sentence here. Two sentences now.",
            "Three arrive.",
        ]


class TestContradictions:
    def test_negation_and_numeric(self, spark):
        claims = spark.createDataFrame(
            [
                (1, "the project did launch in march with success"),
                (2, "the project did not launch in march with success"),
                (3, "revenue reached 100 million in the last quarter"),
                (4, "revenue reached 200 million in the last quarter"),
                (5, "completely unrelated topic about gardening tools"),
            ],
            "claim_id: long, claim_text: string",
        )
        got = detect_contradictions(claims).collect()
        found = {(r["id_a"], r["id_b"]): r["contradiction_type"] for r in got}
        assert found.get((1, 2)) == "direct"
        assert found.get((3, 4)) == "numeric"
        assert not any(5 in k for k in found)

    def test_confidence_scaling(self, spark):
        claims = spark.createDataFrame(
            [
                (1, "alpha beta did launch today"),
                (2, "alpha beta did not launch today"),
            ],
            "claim_id: long, claim_text: string",
        )
        r = detect_contradictions(claims).collect()[0]
        assert abs(r["confidence"] - r["similarity"] * 0.8) < 1e-12
        assert r["severity"] == "high"

    def test_df_cap_survives_adversarial_shared_token(self, spark):
        """Every claim shares 'the'; the DF cap must keep the candidate join
        off that corpus-wide key (no O(n²) pair blowup) while still finding
        the one true contradiction pair via its rare tokens."""
        n = 400
        rows = [(i, f"the item{i} value is fine") for i in range(n)]
        rows += [
            (n, "the rocket alpha did launch in june"),
            (n + 1, "the rocket alpha did not launch in june"),
        ]
        claims = spark.createDataFrame(rows, "claim_id: long, claim_text: string")
        from arkhammirror_spark.operators.contradictions import candidate_claim_pairs

        cands = candidate_claim_pairs(claims, threshold=0.5)
        got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
        assert (n, n + 1) in got
        # without the cap, 'the'/'is'/'value' keys alone give ~n²/2 ≈ 80k pairs
        assert len(got) < 50

    def test_fingerprint_channel_recovers_negated_boilerplate(self, spark):
        """Pairs whose ENTIRE shared vocabulary is above the DF cap (negated
        or numeric variants of corpus-wide boilerplate) must still block via
        the masked-fingerprint channel — the rare-token channel alone cannot
        see them."""
        n = 200
        rows = [
            (i, f"status alpha is ready count for metric extra{i}")
            for i in range(n)
        ]
        rows += [
            (900, "status alpha is ready"),
            (901, "status alpha is not ready"),
            (910, "count for metric is 100"),
            (911, "count for metric is 200"),
        ]
        claims = spark.createDataFrame(rows, "claim_id: long, claim_text: string")
        got = {
            (r["id_a"], r["id_b"]): r["contradiction_type"]
            for r in detect_contradictions(claims).collect()
        }
        assert got.get((900, 901)) == "direct"
        assert got.get((910, 911)) == "numeric"
        # fillers have unique fingerprints/rare tokens: no candidate blowup
        assert len(got) == 2

    def test_df_cap_preserves_similarity_exactness(self, spark):
        """Similarity is exact full-word-set Jaccard even though the join key
        excludes common tokens."""
        claims = spark.createDataFrame(
            [
                (1, "zebra quark common common2 common3"),
                (2, "zebra quark common common2 other"),
            ],
            "claim_id: long, claim_text: string",
        )
        from arkhammirror_spark.operators.contradictions import candidate_claim_pairs

        r = candidate_claim_pairs(claims, threshold=0.1).collect()[0]
        assert abs(r["similarity"] - 4 / 6) < 1e-12
