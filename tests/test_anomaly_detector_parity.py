"""Differential tests: the z-score anomaly lane vs the ACTUAL reference
AnomalyDetector (anomalies/detector.py) — real detector, scipy shimmed
(the detector imports scipy at module level but the statistical /
metadata / severity paths under test never call it)."""

from __future__ import annotations

import importlib.machinery
import importlib.util
import math
import os
import sys
import types

import pytest

REF_PKG = ("/root/reference/packages/arkham-shard-anomalies/"
           "arkham_shard_anomalies")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(REF_PKG), reason="reference tree not available"
)


@pytest.fixture(scope="module")
def ref():
    if "arkham_shard_anomalies.detector" in sys.modules:
        m = sys.modules
        return (m["arkham_shard_anomalies.models"],
                m["arkham_shard_anomalies.detector"])
    if "scipy" not in sys.modules:
        scipy = types.ModuleType("scipy")
        stats = types.ModuleType("scipy.stats")
        scipy.__spec__ = importlib.machinery.ModuleSpec("scipy", None)
        stats.__spec__ = importlib.machinery.ModuleSpec(
            "scipy.stats", None
        )
        stats.chi2 = types.SimpleNamespace(
            cdf=lambda x, df: math.erf(math.sqrt(x / 2.0)) if x > 0
            else 0.0
        )
        scipy.stats = stats
        sys.modules["scipy"] = scipy
        sys.modules["scipy.stats"] = stats
    pkg = types.ModuleType("arkham_shard_anomalies")
    pkg.__path__ = [REF_PKG]
    sys.modules.setdefault("arkham_shard_anomalies", pkg)
    if "arkham_shard_anomalies.models" not in sys.modules:
        mspec = importlib.util.spec_from_file_location(
            "arkham_shard_anomalies.models", f"{REF_PKG}/models.py"
        )
        models = importlib.util.module_from_spec(mspec)
        sys.modules["arkham_shard_anomalies.models"] = models
        mspec.loader.exec_module(models)
    models = sys.modules["arkham_shard_anomalies.models"]
    dspec = importlib.util.spec_from_file_location(
        "arkham_shard_anomalies.detector", f"{REF_PKG}/detector.py"
    )
    det = importlib.util.module_from_spec(dspec)
    sys.modules["arkham_shard_anomalies.detector"] = det
    dspec.loader.exec_module(det)
    return models, det


def _texts():
    """Corpus whose five text stats spread enough to hit every severity
    band at threshold 1.5."""
    out = []
    for i in range(24):
        words = ["w%d" % (j % 9) for j in range(8 + (i % 5))]
        out.append(" ".join(words) + ".")
    out.append("x. " * 200)            # sentence_count outlier
    out.append("supercalifragilistic " * 40)  # avg_word_length outlier
    out.append("a " * 900 + ".")       # word_count + char_count outlier
    # Unicode whitespace (NBSP, LINE SEPARATOR, ideographic space, NEL):
    # Python str.split() treats all of these as separators; the Spark lane
    # must too ((?U)\s+), not just ASCII \s.
    out.append("alpha\xa0beta\u2028gamma\u3000delta\x85eps. done.")
    return out


def test_severity_ladder_parity(ref):
    """_calculate_severity (:397-406) vs the Spark CASE, across the
    boundary values (>= semantics)."""
    from arkhammirror_spark.operators.anomalies import zscore_anomalies

    models, det_mod = ref
    det = det_mod.AnomalyDetector()
    t = det.config.z_score_threshold
    for z in [t, t + 0.01, 1.5 * t - 0.01, 1.5 * t, 2 * t - 0.01,
              2 * t, 2 * t + 3]:
        exp = det._calculate_severity(z, t).value
        # mirror the operator's CASE on driver floats
        if z >= 2 * t:
            got = "critical"
        elif z >= 1.5 * t:
            got = "high"
        elif z >= t:
            got = "medium"
        else:
            got = "low"
        assert got == exp, z


def test_text_stats_parity(ref):
    from pyspark.sql import SparkSession

    from arkhammirror_spark.operators.anomalies import text_stat_metrics

    models, det_mod = ref
    det = det_mod.AnomalyDetector()
    spark = SparkSession.getActiveSession() or SparkSession.builder.master(
        "local[4]"
    ).getOrCreate()
    texts = _texts()
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in text_stat_metrics(docs).collect()}
    for i, t in enumerate(texts):
        exp = det._calculate_text_stats(t)
        for k, v in exp.items():
            assert got[i][k] == pytest.approx(v, rel=1e-12), (i, k)


def test_statistical_anomalies_parity(ref, spark):
    """detect_statistical_anomalies (:139-209) per doc vs the corpus-wide
    Spark op: same flagged (doc, metric) set, z-scores, severities,
    confidences. numpy std is POPULATION by default — the reference
    builds corpus stats with np.std in its shard, but the detector takes
    them as inputs; both engines here use the same sample-std stats."""
    import statistics

    from arkhammirror_spark.operators.anomalies import (
        TEXT_STAT_METRICS, statistical_anomalies,
    )

    models, det_mod = ref
    cfg = models.DetectionConfig(z_score_threshold=1.5)
    det = det_mod.AnomalyDetector(cfg)
    texts = _texts()
    stats_all = {m: [] for m in TEXT_STAT_METRICS}
    per_doc = []
    for t in texts:
        s = det._calculate_text_stats(t)
        per_doc.append(s)
        for m in TEXT_STAT_METRICS:
            stats_all[m].append(s[m])
    corpus_stats = {
        m: {
            "mean": statistics.fmean(v),
            "std": statistics.stdev(v),
        }
        for m, v in stats_all.items()
    }
    exp = {}
    for i, t in enumerate(texts):
        for a in det.detect_statistical_anomalies(str(i), t, corpus_stats):
            exp[(i, a.field_name)] = a

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["metric"]): r
        for r in statistical_anomalies(docs, threshold=1.5).collect()
    }
    assert set(got) == set(exp)
    assert len(got) > 0
    sevs = set()
    for k, a in exp.items():
        r = got[k]
        assert r["z_score"] == pytest.approx(a.score, rel=1e-9), k
        assert r["severity"] == a.severity.value, k
        assert r["confidence"] == pytest.approx(a.confidence, rel=1e-12)
        sevs.add(a.severity.value)
    # the fixture actually exercises multiple severity bands
    assert {"medium", "critical"} <= sevs or {"high", "critical"} <= sevs


def test_metadata_anomalies_parity(ref, spark):
    """detect_metadata_anomalies (:321-382) is the same z-score shape on
    a metadata numeric — the generic operator with a file_size column
    must match it row-for-row."""
    import statistics

    from arkhammirror_spark.operators.anomalies import zscore_anomalies

    models, det_mod = ref
    det = det_mod.AnomalyDetector()  # default threshold 3.0
    sizes = [1000 + (i * 37) % 400 for i in range(30)] + [99999]
    mean = statistics.fmean(sizes)
    std = statistics.stdev(sizes)
    corpus_stats = {"file_size": {"mean": mean, "std": std}}
    exp = {}
    for i, s in enumerate(sizes):
        for a in det.detect_metadata_anomalies(
            str(i), {"file_size": s}, corpus_stats
        ):
            exp[i] = a
    docs = spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate(sizes)],
        "doc_id long, file_size double",
    )
    got = {
        r["doc_id"]: r
        for r in zscore_anomalies(docs, ["file_size"]).collect()
    }
    assert set(got) == set(exp) == {30}
    a = exp[30]
    assert got[30]["z_score"] == pytest.approx(a.score, rel=1e-12)
    assert got[30]["severity"] == a.severity.value
    assert got[30]["confidence"] == pytest.approx(a.confidence)


def test_content_anomalies_parity(ref, spark):
    """detect_content_anomalies (:64-137) per doc (corpus = the OTHER
    docs) vs the moment-algebra closed form + exact top-1: flags,
    min/mean/std distances, z, severity, confidence all match."""
    import numpy as np

    from arkhammirror_spark.operators.anomalies import content_anomalies

    models, det_mod = ref
    det = det_mod.AnomalyDetector()
    rng = np.random.RandomState(13)
    base = rng.randn(8)
    vecs = []
    for i in range(26):
        if i < 22:  # one loose cluster
            vecs.append(base + 0.25 * rng.randn(8))
        else:  # four genuinely distant directions
            w = rng.randn(8)
            w -= w.dot(base) / base.dot(base) * base
            vecs.append(w * 3 + 0.05 * rng.randn(8))
    vecs = [v.astype(float) for v in vecs]

    exp = {}
    exp_details = {}
    for i, v in enumerate(vecs):
        others = [vecs[j] for j in range(len(vecs)) if j != i]
        out = det.detect_content_anomalies(str(i), v, others, [])
        for a in out:
            exp[i] = a
            exp_details[i] = a.details

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in content_anomalies(emb).collect()}
    assert set(got) == set(exp)
    assert len(got) >= 3  # the distant directions actually flag
    for i, a in exp.items():
        r = got[i]
        d = exp_details[i]
        assert r["min_dist"] == pytest.approx(d["min_distance"], rel=1e-9)
        assert r["mean_dist"] == pytest.approx(
            d["mean_distance"], rel=1e-9
        )
        assert r["std_dist"] == pytest.approx(d["std_distance"], rel=1e-9)
        assert r["z_score"] == pytest.approx(a.score, rel=1e-9, abs=1e-12)
        assert r["severity"] == a.severity.value
        assert r["confidence"] == pytest.approx(a.confidence, rel=1e-9)


def test_red_flags_parity(ref, spark):
    """detect_red_flags (:211-319): every arm (money/dates/names/
    keywords), thresholds inclusive-exclusive boundaries, severities and
    confidences, vs the native four-regex pass."""
    from arkhammirror_spark.operators.anomalies import red_flags

    models, det_mod = ref
    det = det_mod.AnomalyDetector()
    names25 = " ".join(
        f"{f} {l}"
        for f in ["Alice", "Brian", "Carol", "David", "Emma"]
        for l in ["Moore", "Neal", "Owens", "Price", "Quinn"]
    )
    texts = [
        "plain text nothing here",
        " $1,234.56" * 11,                       # money > 10 fires
        " $9.99" * 10,                           # money == 10: no fire
        " 12/31/2024" * 16,                      # dates > 15 fires
        " Jan 5, 2024" * 16,                     # month-name date form
        " 1/2/99" * 15,                          # dates == 15: no fire
        names25,                                 # 25 unique names fires
        " Bob Smith" * 30,                       # 1 unique: no fire
        "this is Confidential and PROPRIETARY",  # case-insensitive kws
        "internal only - do not distribute",     # multi-word keywords
    ]
    exp = {}
    for i, t in enumerate(texts):
        for a in det.detect_red_flags(str(i), t, {}):
            exp[(i, a.details["pattern_type"])] = a
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["pattern_type"]): r
        for r in red_flags(docs).collect()
    }
    assert set(got) == set(exp)
    assert {(1, "money"), (3, "dates"), (4, "dates"), (6, "names"),
            (8, "sensitive_keywords"),
            (9, "sensitive_keywords")} <= set(got)
    assert (2, "money") not in got and (5, "dates") not in got
    assert (7, "names") not in got
    for k, a in exp.items():
        r = got[k]
        assert r["score"] == a.score, k
        assert r["severity"] == a.severity.value, k
        assert r["confidence"] == pytest.approx(a.confidence), k


def test_content_anomalies_banded_mode(ref, spark):
    """The banded NN scale path: on the clone corpus it agrees exactly
    with brute (every true NN is a clone, caught by any band); errors
    can only be CONSERVATIVE (flags are a superset on any corpus)."""
    import numpy as np

    from arkhammirror_spark.operators.anomalies import content_anomalies

    rng = np.random.RandomState(29)
    base = rng.randn(16)
    vecs = []
    for i in range(30):
        if i < 26:
            vecs.append(base + 0.05 * rng.randn(16))
        else:
            w = rng.randn(16)
            w -= w.dot(base) / base.dot(base) * base
            vecs.append(w * 2)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    brute = {r["vec_id"]: r for r in content_anomalies(
        emb, min_cluster_distance=0.5
    ).collect()}
    banded = {r["vec_id"]: r for r in content_anomalies(
        emb, min_cluster_distance=0.5, nn_mode="banded"
    ).collect()}
    # conservative: everything brute flags, banded flags too
    assert set(brute) <= set(banded)
    # moments are mode-independent (closed form) — identical where both flag
    for k in brute:
        assert banded[k]["mean_dist"] == pytest.approx(
            brute[k]["mean_dist"], rel=1e-12
        )
        assert banded[k]["std_dist"] == pytest.approx(
            brute[k]["std_dist"], rel=1e-12
        )
        # banded min_dist can only be >= brute (missed candidates)
        assert banded[k]["min_dist"] >= brute[k]["min_dist"] - 1e-12


def test_content_anomalies_auto_mode_switch(ref, spark):
    """nn_mode='auto' (the default) must equal the explicit brute lane
    at-or-below auto_brute_max and the explicit banded lane above it —
    same rows, same values, threshold inclusive on the brute side."""
    import numpy as np

    from arkhammirror_spark.operators.anomalies import content_anomalies

    rng = np.random.RandomState(31)
    base = rng.randn(12)
    vecs = [base + 0.05 * rng.randn(12) for _ in range(18)]
    w = rng.randn(12)
    w -= w.dot(base) / base.dot(base) * base
    vecs.append(w * 2)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )

    def rows(**kw):
        return sorted(
            (r["vec_id"], round(r["min_dist"], 9), round(r["z_score"], 9),
             r["severity"])
            for r in content_anomalies(
                emb, min_cluster_distance=0.5, **kw
            ).collect()
        )

    # n = 19 <= auto_brute_max=19 -> brute (inclusive boundary)
    assert rows(nn_mode="auto", auto_brute_max=19) == rows(nn_mode="brute")
    # n = 19 > auto_brute_max=18 -> banded
    assert rows(nn_mode="auto", auto_brute_max=18) == rows(nn_mode="banded")
    # the shipped default (auto, 8192) is the brute lane at fixture scale
    assert rows() == rows(nn_mode="brute")
