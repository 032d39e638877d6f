"""Tests for search / anomalies / dedup / similarity operators."""

import math

import pandas as pd
import pytest

from pyspark.sql import functions as F

from arkhammirror_spark.operators.anomalies import embedding_anomalies, zscore_anomalies
from arkhammirror_spark.operators.dedup import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_hashes,
    shingles,
    simhash64_reference,
    simhash_pairs_from_sigs,
    verified_neardup_pairs,
)
from arkhammirror_spark.operators.search import (
    autocomplete,
    bm25_scores,
    hybrid_merge,
    regex_search,
    tokenize_col,
)
from arkhammirror_spark.operators.similarity import (
    brute_force_topk,
    ivf_health_check,
    lsh_bucket_topk,
    optimal_lists,
    optimal_probes,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "quick quick quick brown foxes everywhere today"),
        (3, "a completely unrelated sentence about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "the quick brown fox jumps over the lazy cat today ok"),  # near dup
        (6, "email me at john.smith@example.com or call 555-123-4567 now"),
    ]
    return spark.createDataFrame(rows, "doc_id: long, text: string")


class TestBM25:
    def test_reference_formula(self, spark, docs):
        res = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["quick"]).collect()}
        # doc 2 has tf=3 → highest raw score → normalized 1.0
        assert res[2] == 1.0
        assert all(0 < v <= 1.0 for v in res.values())
        # manual check of the RSJ idf + bm25 for doc 2
        # corpus: 6 docs; 'quick' appears in docs 1,2,4,5 → df=4
        toks = {
            1: ["quick", "brown", "fox", "jumps", "over", "lazy", "dog"],
            2: ["quick", "quick", "quick", "brown", "foxes", "everywhere", "today"],
            3: ["completely", "unrelated", "sentence", "about", "spark", "engines"],
            4: ["quick", "brown", "fox", "jumps", "over", "lazy", "dog"],
            5: ["quick", "brown", "fox", "jumps", "over", "lazy", "cat", "today", "ok"],
            6: ["email", "me", "john", "smith", "example", "com", "call", "555", "123", "4567", "now"],
        }
        avg = sum(len(v) for v in toks.values()) / 6
        idf = math.log((6 - 4 + 0.5) / (4 + 0.5) + 1)

        def bm25(tf, dl):
            return idf * tf * 2.5 / (tf + 1.5 * (1 - 0.75 + 0.75 * dl / avg))

        expected = {d: bm25(toks[d].count("quick"), len(toks[d])) for d in (1, 2, 4, 5)}
        mx = max(expected.values())
        for d in (1, 2, 4, 5):
            assert abs(res[d] - expected[d] / mx) < 1e-9

    def test_stopwords_and_short_tokens_dropped(self, spark, docs):
        got = docs.select(tokenize_col(F.col("text")).alias("t")).where(
            F.col("doc_id").isNull() | True
        ).collect()
        flat = [t for r in got for t in r["t"]]
        assert "the" not in flat  # stopword
        assert all(len(t) > 1 for t in flat)


class TestRegexHybrid:
    def test_presets(self, spark, docs):
        docs = docs.withColumnRenamed("text", "t")
        emails = regex_search(docs, preset="email").collect()
        assert emails[0]["match_text"] == "john.smith@example.com"
        phones = regex_search(docs, preset="phone_us").collect()
        assert phones[0]["match_text"] == "555-123-4567"

    def test_hybrid_merge_full_outer(self, spark):
        sem = spark.createDataFrame([(1, 0.9), (2, 0.5)], "doc_id: long, score: double")
        kw = spark.createDataFrame([(2, 1.0), (3, 0.4)], "doc_id: long, score: double")
        got = {r["doc_id"]: r["hybrid_score"] for r in hybrid_merge(sem, kw).collect()}
        assert abs(got[1] - 0.9 * 0.5) < 1e-12
        assert abs(got[2] - (0.5 * 0.5 + 1.0 * 0.5)) < 1e-12
        assert abs(got[3] - 0.4 * 0.5) < 1e-12

    def test_autocomplete(self, spark, docs):
        got = autocomplete(docs, "the quick").collect()
        assert len(got) == 3  # docs 1, 4, 5 share the prefix


class TestAnomalies:
    def test_zscore_flags_outlier(self, spark):
        rows = [(i, 100.0) for i in range(30)] + [(99, 500.0)]
        df = spark.createDataFrame(rows, "doc_id: long, n_chars: double")
        got = zscore_anomalies(df, ["n_chars"], threshold=3.0).collect()
        assert [r["doc_id"] for r in got] == [99]
        r = got[0]
        import statistics

        vals = [100.0] * 30 + [500.0]
        z = abs((500 - statistics.mean(vals)) / statistics.stdev(vals))
        assert abs(r["z_score"] - z) < 1e-9
        assert r["confidence"] == min(1.0, z / 5.0)

    def test_embedding_outlier(self, spark):
        rows = [(i, [1.0, 0.0, 0.0]) for i in range(20)] + [(99, [-5.0, 8.0, 2.0])]
        df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")
        got = embedding_anomalies(df).collect()
        assert [r["vec_id"] for r in got] == [99]


class TestDedup:
    def test_exact(self, spark, docs):
        groups = exact_dedup(docs, "text", "doc_id").collect()
        dup = [g for g in groups if g["n_copies"] > 1]
        assert len(dup) == 1
        assert dup[0]["member_ids"] == [1, 4]
        assert dup[0]["keeper"] == 1

    def test_shingles_match_python(self, spark, docs):
        got = shingles(docs.where("doc_id = 1"), "doc_id").collect()
        text = "the quick brown fox jumps over the lazy dog"
        words = text.split()
        expected = {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
        assert {r["shingle"] for r in got} == expected

    def test_exact_jaccard_pairs(self, spark, docs):
        pairs = ngram_jaccard_pairs(docs).collect()
        assert {(p["id_a"], p["id_b"]) for p in pairs} == {(1, 4)}
        assert pairs[0]["jaccard"] == 1.0

    def test_jaccard_df_cap_drops_planted_hot_shingle(self, spark):
        """Adversarial skew shape: one boilerplate footer planted across
        every doc would emit O(n²) join rows; with df_cap its trigrams must
        be excluded from intersection AND sizes, so (a) docs related ONLY
        through the boilerplate stop pairing, (b) genuinely similar docs
        still pair with the exact Jaccard over the filtered universe, and
        (c) the audit frame reports exactly the planted shingles."""
        from arkhammirror_spark.operators.dedup import hot_shingles

        # a 40-word footer outweighs each doc's own words, so footer-only
        # overlap clears the 0.8 Jaccard cut
        footer = " all rights reserved " + " ".join(f"f{i}" for i in range(37))
        base = " ".join(f"w{i}" for i in range(30))
        rows = [(1, base + footer), (2, base + " extra" + footer)] + [
            (i, f"unique{i}" + footer) for i in range(3, 40)
        ]
        docs = spark.createDataFrame(rows, "doc_id: long, text: string")

        uncapped = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(docs).collect()
        }
        # footer-only overlap pairs every doc with every other
        assert len(uncapped) > 500

        capped = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, df_cap=10).collect()
        }
        # only the genuinely-similar pair survives; its Jaccard is exact
        # over the footer-free shingle universe: the 38 pure-footer
        # trigrams (df=39) drop, leaving doc 1 with 30 shingles (28 base
        # + 2 bridging), doc 2 with 31, sharing the 28 base trigrams ->
        # 28/33
        assert set(capped) == {(1, 2)}
        assert abs(capped[(1, 2)] - 28 / 33) < 1e-9

        sh = shingle_hashes(docs)
        audit = hot_shingles(sh, df_cap=10).collect()
        # hot shingles = the trigrams fully inside the footer; every
        # audited df exceeds the cap
        assert audit and all(r["df"] > 10 for r in audit)
        # the pure-footer trigram "all rights reserved" (df = 39) is caught
        import pyspark.sql.functions as SF

        hot_set = {r["h"] for r in audit}
        probe = spark.createDataFrame(
            [("all rights reserved",)], "shingle: string"
        ).select(SF.xxhash64("shingle").alias("h")).collect()[0]["h"]
        assert probe in hot_set

    def test_lsh_verified_equals_bruteforce(self, spark, docs):
        lsh = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in verified_neardup_pairs(docs).collect()
        }
        brute = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(docs).collect()
        }
        assert lsh == brute
        assert (1, 4) in lsh

    def test_minhash_identical_docs_identical_sigs(self, spark, docs):
        sh = shingle_hashes(docs)
        sigs = {r["doc_id"]: r["signature"] for r in minhash_signatures(sh, "doc_id").collect()}
        assert sigs[1] == sigs[4]
        assert sigs[1] != sigs[3]

    def test_shingle_hashes_carry_full_64bit_key(self, spark, docs):
        # the Jaccard equality key must be the RAW xxhash64 (full 64-bit
        # range, negatives included), not a 31-bit fold — a folded key
        # collides at ~n²/2³² per doc and silently inflates n_shared
        hs = [r["h"] for r in shingle_hashes(docs).collect()]
        assert min(hs) < 0 or max(hs) >= (1 << 31)  # escaped the [0, 2^31) fold
        # signature path still folds into [0, p): all minhash values bounded
        sh = shingle_hashes(docs)
        sigs = minhash_signatures(sh, "doc_id").collect()
        for r in sigs:
            assert all(0 <= v < (1 << 31) - 1 for v in r["signature"])

    def test_simhash_dup_and_neardup(self, spark, docs):
        sigs = simhash64_reference(docs)
        sims = {r["doc_id"]: r["simhash"] for r in sigs.collect()}
        assert sims[1] == sims[4]
        pairs = simhash_pairs_from_sigs(sigs, max_hamming=0).collect()
        assert {(p["id_a"], p["id_b"]) for p in pairs} >= {(1, 4)}


class TestSimilarity:
    def test_ivf_health_sizing_matches_python_twins(self, spark):
        """ivf_health_check's native lists/probes columns equal the Python
        sizing twins (which the reference-parity suite fuzzes) at every
        branch boundary of the lists formula."""
        counts = [0, 1, 999, 1000, 9_999, 10_000, 10_001, 999_999,
                  1_000_000, 1_000_001, 9_999_999, 5_000_000_000]
        cat = spark.createDataFrame(
            [(f"c{n}", n, 0, None) for n in counts],
            "name string, vector_count long, lists long, last_reindex string",
        )
        got = {
            r["vector_count"]: (r["optimal_lists"], r["optimal_probes"])
            for r in ivf_health_check(cat, "2026-01-01").collect()
        }
        assert got == {
            n: (optimal_lists(n), optimal_probes(optimal_lists(n)))
            for n in counts
        }

    @pytest.fixture(scope="class")
    def emb(self, spark):
        import random

        rng = random.Random(3)
        rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
        # plant a clone of vec 0
        rows.append((900, [x * 1.001 for x in rows[0][1]]))
        return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>").cache()

    def test_brute_force_finds_clone(self, spark, emb):
        qv = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
        top = brute_force_topk(emb.where("vec_id <> 0"), qv, k=3).collect()
        assert top[0]["vec_id"] == 900
        assert top[0]["score"] > 0.999

    def test_lsh_recall_vs_bruteforce(self, spark, emb):
        qv = [float(x) for x in emb.where("vec_id = 0").collect()[0]["embedding"]]
        pool = emb.where("vec_id <> 0")
        brute = [r["vec_id"] for r in brute_force_topk(pool, qv).collect()]
        ann = [r["vec_id"] for r in lsh_bucket_topk(pool, qv).collect()]
        # the clone must be recalled; overall recall@10 ≥ 4/10 for the bucketed probe
        assert ann and ann[0] == 900
        assert len(set(brute) & set(ann)) >= 4

    def test_banded_lsh_auto_r_scales_with_corpus(self, spark, emb):
        from arkhammirror_spark.operators.similarity import (
            pairwise_cosine_above_banded,
            recommended_rows_per_band,
        )

        assert recommended_rows_per_band(200) == 8
        assert recommended_rows_per_band(1_000_000) == 20
        assert recommended_rows_per_band(2) == 4  # floor
        # R derives from the corpus count; output is still the exact
        # verified pair set
        pairs = pairwise_cosine_above_banded(emb, 0.999).collect()
        assert {(p["id_a"], p["id_b"]) for p in pairs} == {(0, 900)}


class TestRerankers:
    def test_recency_blend(self, spark):
        import datetime as dt

        rows = [
            (1, 0.9, dt.date(2024, 1, 1)),
            (2, 0.9, dt.date(2024, 1, 11)),  # newest
            (3, 0.9, None),
        ]
        df = spark.createDataFrame(rows, "doc_id: long, score: double, created_at: date")
        from arkhammirror_spark.operators.search import recency_boost

        got = {r["doc_id"]: r["score"] for r in recency_boost(df).collect()}
        assert abs(got[2] - (0.9 * 0.5 + 1.0 * 0.5)) < 1e-12  # age 0
        assert abs(got[1] - (0.9 * 0.5 + (1 / (1 + 10 * 0.1)) * 0.5)) < 1e-12
        assert got[3] == 0.9  # null ts untouched

    def test_dedupe_and_diversify(self, spark):
        rows = [(1, "a", 0.9), (2, "a", 0.8), (3, "a", 0.7), (4, "a", 0.6), (5, "b", 0.5)]
        df = spark.createDataFrame(rows, "rid: long, doc_id: string, score: double")
        from arkhammirror_spark.operators.search import dedupe_results, diversify_by_source

        kept = dedupe_results(df).collect()
        assert {(r["rid"], r["doc_id"]) for r in kept} == {(1, "a"), (5, "b")}
        by_source = df.select(
            F.col("rid").alias("doc_id"), F.col("doc_id").alias("source"), "score"
        )
        div = diversify_by_source(by_source).collect()
        assert sorted(r["doc_id"] for r in div) == [1, 2, 3, 5]


class TestLshHotBucketCap:
    def test_identical_signature_cluster_is_capped(self, spark):
        """10k docs with the SAME signature land in one bucket per band;
        the guard must bound candidates to C(cap, 2) instead of ~50M and
        flag them truncated."""
        from arkhammirror_spark.operators.dedup import lsh_candidate_pairs

        sig = list(range(128))
        sigs = spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            F.array(*[F.lit(v) for v in sig]).alias("signature"),
        )
        pairs = lsh_candidate_pairs(sigs, "doc_id", bucket_cap=50).collect()
        assert len(pairs) == 50 * 49 // 2
        assert all(r["truncated"] for r in pairs)
        # survivors are the 50 smallest ids, all mutually paired
        ids = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
        assert ids == set(range(50))

    def test_cap_leaves_cold_buckets_exact_and_unflagged(self, spark):
        """Distinct-signature corpus: output under a cap of 50 == output
        under the default cap no bucket here reaches, nothing flagged
        truncated."""
        from arkhammirror_spark.operators.dedup import lsh_candidate_pairs

        # 40 docs in 20 identical-signature pairs -> 20 candidate pairs
        sigs = spark.range(40).select(
            F.col("id").alias("doc_id"),
            F.array(
                *[(F.col("id") / 2).cast("long") * 100 + F.lit(i)
                  for i in range(128)]
            ).alias("signature"),
        )
        capped = lsh_candidate_pairs(sigs, "doc_id", bucket_cap=50)
        uncapped = lsh_candidate_pairs(sigs, "doc_id")
        c = sorted((r["id_a"], r["id_b"], r["truncated"])
                   for r in capped.collect())
        u = sorted((r["id_a"], r["id_b"], r["truncated"])
                   for r in uncapped.collect())
        assert c == u
        assert len(c) == 20
        assert not any(t for _, _, t in c)
