"""Differential tests for entity correlation analysis: run the ACTUAL
reference code (arkham-shard-patterns/shard.py, loaded by file path from
/root/reference with its frame/models imports stubbed) side-by-side with
the Spark operators.

The Spark Pearson is the closed form (n*c - a*b)/sqrt((n*a - a^2) *
(n*b - b^2)) while the reference accumulates mean-centered float
products sequentially — mathematically identical, so scores compare at
1e-9 and the derived labels/descriptions compare exactly."""

from __future__ import annotations

import importlib.util
import math
import os
import random
import sys
import types

import pytest

REF = "/root/reference/packages"
SHARD = f"{REF}/arkham-shard-patterns/arkham_shard_patterns/shard.py"

pytestmark = pytest.mark.skipif(
    not os.path.isfile(SHARD), reason="reference tree not available"
)


@pytest.fixture(scope="module")
def patterns_ref():
    if "arkham_shard_patterns.shard" in sys.modules:
        return sys.modules["arkham_shard_patterns.shard"]
    frame = types.ModuleType("arkham_frame")
    frame.ArkhamShard = type("ArkhamShard", (), {})
    sys.modules.setdefault("arkham_frame", frame)
    pkg = types.ModuleType("arkham_shard_patterns")
    pkg.__path__ = []
    sys.modules.setdefault("arkham_shard_patterns", pkg)
    models = types.ModuleType("arkham_shard_patterns.models")

    class _AnyAttr(type):
        # enum-style class attributes appear in method default args
        # (e.g. PatternType.RECURRING_THEME) — answer anything
        def __getattr__(cls, name):
            return f"{cls.__name__}.{name}"

    for name in [
        "Correlation", "CorrelationRequest", "CorrelationResult",
        "DetectionMethod", "Pattern", "PatternAnalysisRequest",
        "PatternAnalysisResult", "PatternCriteria", "PatternFilter",
        "PatternMatch", "PatternMatchCreate", "PatternStatistics",
        "PatternStatus", "PatternType", "SourceType",
    ]:
        setattr(
            models, name,
            _AnyAttr(name, (), {
                # kwargs-storing __init__: model objects (Pattern,
                # PatternCriteria, PatternMatch) are constructed by the
                # keyword-detection code paths under test
                "__init__":
                    lambda self, **kw: self.__dict__.update(kw),
            }),
        )
    sys.modules.setdefault("arkham_shard_patterns.models", models)
    spec = importlib.util.spec_from_file_location(
        "arkham_shard_patterns.shard", SHARD
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["arkham_shard_patterns.shard"] = mod
    spec.loader.exec_module(mod)
    return mod


def _shard(patterns_ref):
    # __init__ needs frame services; the scoring methods don't
    return patterns_ref.PatternsShard.__new__(patterns_ref.PatternsShard)


def _ref_pearson(patterns_ref, x, y):
    return _shard(patterns_ref)._calculate_pearson(x, y)


def _ref_spearman(patterns_ref, x, y):
    return _shard(patterns_ref)._calculate_spearman(x, y)


def _closed_form_pearson(n, a, b, c):
    """Python mirror of operators.correlations._pearson_from_counts."""
    nd, ad, bd, cd = float(n), float(a), float(b), float(c)
    den = (nd * ad - ad * ad) * (nd * bd - bd * bd)
    if den <= 0.0:
        return 0.0
    return max(-1.0, min(1.0, (nd * cd - ad * bd) / math.sqrt(den)))


def test_pearson_closed_form_matches_reference_on_binary_vectors(
    patterns_ref,
):
    rng = random.Random(42)
    for trial in range(200):
        n = rng.randint(2, 60)
        x = [rng.randint(0, 1) for _ in range(n)]
        y = [rng.randint(0, 1) for _ in range(n)]
        ref = _ref_pearson(patterns_ref, x, y)
        got = _closed_form_pearson(n, sum(x), sum(y),
                                   sum(xi * yi for xi, yi in zip(x, y)))
        assert got == pytest.approx(ref, abs=1e-9), (trial, x, y)


def test_pearson_zero_variance_and_clamp(patterns_ref):
    # all-ones vector (entity in every doc) has zero variance -> 0.0
    assert _ref_pearson(patterns_ref, [1, 1, 1], [1, 0, 1]) == 0.0
    assert _closed_form_pearson(3, 3, 2, 2) == 0.0
    # identical vectors -> exactly 1.0 on both
    assert _ref_pearson(patterns_ref, [1, 0, 1, 0], [1, 0, 1, 0]) == 1.0
    assert _closed_form_pearson(4, 2, 2, 2) == 1.0


def _ref_find_correlations(patterns_ref, entity_docs, all_docs,
                           min_occurrences):
    """shard.py:720-803 main path replicated verbatim on top of the
    ACTUAL _calculate_pearson (the async wrapper only adds DB I/O)."""
    entity_ids = sorted(entity_docs)
    doc_list = list(all_docs)
    out = []
    assert len(doc_list) >= 2
    vectors = {
        e: [1 if d in entity_docs[e] else 0 for d in doc_list]
        for e in entity_ids
    }
    for i, e1 in enumerate(entity_ids):
        for e2 in entity_ids[i + 1:]:
            common = entity_docs[e1] & entity_docs[e2]
            c = len(common)
            if c < min_occurrences:
                continue
            r = _ref_pearson(patterns_ref, vectors[e1], vectors[e2])
            if r >= 0.7:
                t, d = "strong_positive", f"Strong positive correlation (r={r:.2f})"
            elif r >= 0.4:
                t, d = "moderate_positive", f"Moderate positive correlation (r={r:.2f})"
            elif r <= -0.7:
                t, d = "strong_negative", f"Strong negative correlation (r={r:.2f})"
            elif r <= -0.4:
                t, d = "moderate_negative", f"Moderate negative correlation (r={r:.2f})"
            else:
                t, d = "weak", f"Weak correlation (r={r:.2f})"
            out.append({
                "entity_a": e1, "entity_b": e2, "score": r, "c": c,
                "type": t,
                "description": f"{d}, co-occurred in {c} documents",
            })
    return out


def test_entity_correlations_operator_matches_reference_loop(
    spark, patterns_ref
):
    rng = random.Random(7)
    entities = [f"e{i:02d}" for i in range(12)]
    docs = list(range(40))
    rows = []
    entity_docs = {e: set() for e in entities}
    for e in entities:
        # skewed doc memberships incl. always-present and near-disjoint
        k = rng.randint(0, len(docs))
        chosen = set(rng.sample(docs, k))
        entity_docs[e] = chosen
        rows.extend((d, e) for d in chosen)
    # duplicate mention rows must not change DISTINCT occurrence counts
    rows.extend(rows[:25])
    all_docs = set().union(*entity_docs.values())
    expected = _ref_find_correlations(patterns_ref, entity_docs, all_docs,
                                      min_occurrences=2)

    from arkhammirror_spark.operators.correlations import entity_correlations

    df = spark.createDataFrame(rows, ["doc_id", "entity_text"])
    got = {
        (r["entity_a"], r["entity_b"]): r
        for r in entity_correlations(df).collect()
    }
    exp = {(e["entity_a"], e["entity_b"]): e for e in expected}
    assert set(got) == set(exp)
    for key, e in exp.items():
        g = got[key]
        assert g["correlation_score"] == pytest.approx(e["score"], abs=1e-9)
        assert g["co_occurrence_count"] == e["c"]
        assert g["correlation_type"] == e["type"], key
        assert g["description"] == e["description"], key
        assert g["n_docs"] == len(all_docs)


def test_spearman_matches_reference_including_int_cast_quirk(
    spark, patterns_ref
):
    from arkhammirror_spark.operators.correlations import spearman_int_rank

    rng = random.Random(99)
    cases = []
    for g in range(8):
        n = rng.randint(3, 30)
        # small value ranges force tie runs, incl. even-length ones whose
        # .5 average rank the reference truncates
        x = [rng.randint(0, 4) for _ in range(n)]
        y = [rng.randint(0, 4) for _ in range(n)]
        cases.append((g, x, y))
    rows = [(g, i, xi, yi)
            for g, x, y in cases for i, (xi, yi) in enumerate(zip(x, y))]
    df = spark.createDataFrame(rows, ["g", "i", "x", "y"])
    got = {
        r["g"]: r["spearman"]
        for r in spearman_int_rank(df, "x", "y", group_cols=["g"]).collect()
    }
    for g, x, y in cases:
        ref = _ref_spearman(patterns_ref, x, y)
        assert got[g] == pytest.approx(ref, abs=1e-9), (g, x, y)


def test_spearman_int_cast_quirk_differs_from_true_spearman(patterns_ref):
    """Pin that the quirk is real: an even tie run makes the reference's
    int-cast ranks disagree with float-rank Spearman, and our window
    algebra must land on the reference side."""
    x = [1, 1, 2, 3]  # tie at ranks 1,2 -> avg 1.5 -> int() -> 1
    y = [4, 1, 3, 2]
    ref = _ref_spearman(patterns_ref, x, y)
    # true (float-rank) spearman for comparison
    def true_rank(v):
        order = sorted(range(len(v)), key=lambda i: v[i])
        ranks = [0.0] * len(v)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) - 1 and v[order[j]] == v[order[j + 1]]:
                j += 1
            for k in range(i, j + 1):
                ranks[order[k]] = (i + j) / 2 + 1
            i = j + 1
        return ranks
    rx, ry = true_rank(x), true_rank(y)
    n = len(x)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = math.sqrt(sum((a - mx) ** 2 for a in rx)
                    * sum((b - my) ** 2 for b in ry))
    true_s = num / den
    assert ref != pytest.approx(true_s, abs=1e-6)


def test_description_dyadic_tie_rounds_to_even(spark, patterns_ref):
    """r = 0.625 exactly (n=12, a=4, b=4, c=3): the reference's Python
    :.2f prints '0.62' (decimal tie to even); Spark must match — Java's
    %s-format %.2f would print '0.63' (HALF_UP), which is why the
    operator formats via format_number."""
    from arkhammirror_spark.operators.correlations import entity_correlations

    docs_a = {0, 1, 2, 3}
    docs_b = {1, 2, 3, 4}
    rows = [(d, "aa") for d in docs_a] + [(d, "bb") for d in docs_b]
    # pads are single-doc entities: they stretch the union to 12 docs
    # (the reference unions the requested entities' docs) but form no
    # pair with c >= 2
    rows += [(d, f"pad{d}") for d in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "entity_text"])
    got = {
        (r["entity_a"], r["entity_b"]): r
        for r in entity_correlations(df).collect()
    }
    r = got[("aa", "bb")]
    assert r["correlation_score"] == pytest.approx(0.625)
    ref = _ref_pearson(patterns_ref, 
                       [1 if d in docs_a else 0 for d in range(12)],
                       [1 if d in docs_b else 0 for d in range(12)])
    assert ref == pytest.approx(0.625)
    expected = (f"Moderate positive correlation (r={ref:.2f}), "
                "co-occurred in 3 documents")
    assert r["description"] == expected
    assert "(r=0.62)" in r["description"]


# ---------------------------------------------------------------------------
# keyword pattern detection + matching (shard.py:1588-1650)
# ---------------------------------------------------------------------------

_PATTERN_DOCS = [
    (1, "Alpha budget budget Budget report filed. The budget meeting "
        "covered budget overruns and budget projections thoroughly "
        "again thoroughly thoroughly thoroughly thoroughly noted"),
    (2, "Second phase second-phase review: projections projections "
        "projections projections projections with short word noise a b"),
    (3, "budget addendum mentions projections once more and thoroughly."),
]


def _ref_detect(patterns_ref, text, min_confidence):
    """Run the ACTUAL _detect_patterns_keywords with create_pattern
    captured (the real one writes to the shard DB)."""
    import asyncio

    w = _shard(patterns_ref)
    created = []

    async def fake_create_pattern(**kw):
        created.append(kw)
        return kw

    w.create_pattern = fake_create_pattern
    return asyncio.run(w._detect_patterns_keywords(text, min_confidence))


def test_keyword_detection_matches_reference(spark, patterns_ref):
    from arkhammirror_spark.operators.patterns import (
        detect_recurring_patterns,
    )

    # the reference analyzes one blob: docs joined in id order
    blob = ""
    for _, t in sorted(_PATTERN_DOCS):
        blob += "\n\n" + t
    ref = _ref_detect(patterns_ref, blob, min_confidence=0.0)

    df = spark.createDataFrame(_PATTERN_DOCS, ["doc_id", "text"])
    got = detect_recurring_patterns(df, min_confidence=0.0).collect()

    assert [r["name"] for r in got] == [p["name"] for p in ref]
    for g, p in zip(got, ref):
        assert g["description"] == p["description"]
        assert g["confidence"] == pytest.approx(p["confidence"])
        assert g["n_occurrences"] == p["criteria"].min_occurrences


def test_keyword_detection_confidence_floor_and_first_order(
    spark, patterns_ref
):
    """min_confidence prunes on BOTH sides identically, and the kept
    patterns preserve first-appearance order (the reference's dict
    insertion order), not count order."""
    from arkhammirror_spark.operators.patterns import (
        detect_recurring_patterns,
    )

    blob = ""
    for _, t in sorted(_PATTERN_DOCS):
        blob += "\n\n" + t
    ref = _ref_detect(patterns_ref, blob, min_confidence=0.3)
    df = spark.createDataFrame(_PATTERN_DOCS, ["doc_id", "text"])
    got = detect_recurring_patterns(df, min_confidence=0.3).collect()
    assert [r["name"] for r in got] == [p["name"] for p in ref]
    assert len(got) > 0


def test_pattern_match_against_text_matches_reference(spark, patterns_ref):
    import asyncio

    from arkhammirror_spark.operators.patterns import match_patterns_to_docs

    models = sys.modules["arkham_shard_patterns.models"]
    w = _shard(patterns_ref)

    pats = [
        ("p-budget", ["missing", "budget"]),   # second keyword wins
        ("p-proj", ["projections"]),
        ("p-none", ["absentterm"]),
    ]
    pdf = spark.createDataFrame(
        [(n, kws) for n, kws in pats], "name string, keywords array<string>"
    )
    ddf = spark.createDataFrame(_PATTERN_DOCS, ["doc_id", "text"])
    got = {
        (r["pattern_name"], r["doc"]): r
        for r in match_patterns_to_docs(pdf, ddf).collect()
    }

    expected_keys = set()
    for name, kws in pats:
        pattern = models.Pattern(
            id=name, criteria=models.PatternCriteria(keywords=kws)
        )
        for doc_id, text in _PATTERN_DOCS:
            ref = asyncio.run(
                w._match_pattern_against_text(pattern, text)
            )
            if ref is None:
                assert (name, doc_id) not in got
                continue
            expected_keys.add((name, doc_id))
            g = got[(name, doc_id)]
            assert g["match_score"] == ref.match_score
            assert g["start_char"] == ref.start_char
            assert g["end_char"] == ref.end_char
            assert g["excerpt"] == ref.excerpt
    assert set(got) == expected_keys


def test_entity_correlations_fuzz_rounds(spark, patterns_ref):
    """Three more randomized rounds at varying densities — degenerate
    all-docs entities, singleton entities, disjoint halves."""
    for seed, n_entities, n_docs in [(11, 8, 15), (23, 15, 80), (31, 6, 200)]:
        rng = random.Random(seed)
        entities = [f"x{i:02d}" for i in range(n_entities)]
        entity_docs = {}
        rows = []
        for idx, e in enumerate(entities):
            if idx == 0:
                chosen = set(range(n_docs))       # zero-variance vector
            elif idx == 1:
                chosen = {rng.randrange(n_docs)}  # singleton
            else:
                k = rng.randint(1, n_docs)
                chosen = set(rng.sample(range(n_docs), k))
            entity_docs[e] = chosen
            rows.extend((d, e) for d in chosen)
        all_docs = set().union(*entity_docs.values())
        if len(all_docs) < 2:
            continue
        expected = _ref_find_correlations(
            patterns_ref, entity_docs, all_docs, min_occurrences=2
        )
        from arkhammirror_spark.operators.correlations import (
            entity_correlations,
        )

        df = spark.createDataFrame(rows, ["doc_id", "entity_text"])
        got = {
            (r["entity_a"], r["entity_b"]): r
            for r in entity_correlations(df).collect()
        }
        exp = {(e["entity_a"], e["entity_b"]): e for e in expected}
        assert set(got) == set(exp), seed
        for key, e in exp.items():
            g = got[key]
            assert g["correlation_score"] == pytest.approx(
                e["score"], abs=1e-9
            ), (seed, key)
            assert g["correlation_type"] == e["type"], (seed, key)
            assert g["description"] == e["description"], (seed, key)
