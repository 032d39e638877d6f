"""Anomaly detection — z-score operators, fully native.

Reference lineage (arkham-shard-anomalies/detector.py):
- A1 content anomaly :64-137 — embedding distance vs corpus mean/std;
- A2 statistical anomaly :139-209 — per-metric corpus mean/std, flag
  |z| > threshold, confidence = min(1, z/5);
- A3 metadata anomaly :321-383 — same pattern on metadata numerics.

The reference computes corpus stats per request in Python; here it's one
groupBy().agg(avg, stddev) reused via broadcast join — the canonical Spark
two-pass pattern. stddev is sample stddev (numpy default in the reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def zscore_anomalies(
    df: DataFrame,
    metrics: list[str],
    threshold: float = 3.0,
) -> DataFrame:
    """Rows whose |z| exceeds threshold on any metric; one row per
    (doc_id, metric)."""
    stacked = None
    for m in metrics:
        part = df.select(
            F.col("doc_id"),
            F.lit(m).alias("metric"),
            F.col(m).cast("double").alias("value"),
        )
        stacked = part if stacked is None else stacked.unionAll(part)

    stats = stacked.groupBy("metric").agg(
        F.avg("value").alias("corpus_mean"),
        F.stddev_samp("value").alias("corpus_std"),
    )

    joined = stacked.join(F.broadcast(stats), "metric")
    z = F.abs((F.col("value") - F.col("corpus_mean")) / F.col("corpus_std"))
    return (
        joined.where(F.col("corpus_std") > 0)
        .withColumn("z_score", z)
        .where(F.col("z_score") > threshold)
        .withColumn("confidence", F.least(F.lit(1.0), F.col("z_score") / 5.0))
        .withColumn(
            # _calculate_severity (detector.py:397-406): >= 2t critical,
            # >= 1.5t high, >= t medium, else low — emitted rows satisfy
            # z > t so the low branch never fires here, kept for parity
            "severity",
            F.when(F.col("z_score") >= 2 * threshold, "critical")
            .when(F.col("z_score") >= 1.5 * threshold, "high")
            .when(F.col("z_score") >= threshold, "medium")
            .otherwise("low"),
        )
    )


def text_stat_metrics(docs: DataFrame) -> DataFrame:
    """_calculate_text_stats (detector.py:384-395) as native columns:
    word_count (whitespace-run split, Python str.split semantics —
    `(?U)\\s+` matches the Unicode White_Space set like the simhash lane;
    the only residual deviation from str.split() is U+001C-001F, which
    Python treats as whitespace but Unicode does not), sentence_count
    (period split, empties INCLUDED — len(text.split('.')) counts dots
    + 1), avg_word_length, avg_sentence_length (words/sentences),
    char_count."""
    from .spread import spread

    # the per-doc split/aggregate lambdas below run interpreted; fan a
    # one-task scan out first (no-op at real scale)
    docs = spread(docs, "doc_id")
    words = F.filter(
        F.split(F.col("text"), r"(?U)\s+"), lambda w: F.length(w) > 0
    )
    word_count = F.size(words).cast("double")
    sentence_count = F.size(F.split(F.col("text"), r"\.", -1)).cast(
        "double"
    )
    total_word_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    ).cast("double")
    return docs.select(
        F.col("doc_id"),
        word_count.alias("word_count"),
        sentence_count.alias("sentence_count"),
        F.when(word_count > 0, total_word_len / word_count)
        .otherwise(F.lit(0.0)).alias("avg_word_length"),
        (word_count / sentence_count).alias("avg_sentence_length"),
        F.length(F.col("text")).cast("double").alias("char_count"),
    )


TEXT_STAT_METRICS = [
    "word_count", "sentence_count", "avg_word_length",
    "avg_sentence_length", "char_count",
]


def statistical_anomalies(docs: DataFrame, threshold: float = 3.0) -> DataFrame:
    """detect_statistical_anomalies (detector.py:139-209) corpus-wide:
    the reference's exact five text stats z-scored against the corpus,
    severity per _calculate_severity."""
    return zscore_anomalies(
        text_stat_metrics(docs), TEXT_STAT_METRICS, threshold=threshold
    )


def content_anomalies(
    emb: DataFrame,
    min_cluster_distance: float = 0.7,
    nn_mode: str = "auto",
    auto_brute_max: int = 8192,
) -> DataFrame:
    """A1 detect_content_anomalies, reference-FAITHFUL port
    (detector.py:64-137): for each document (vec_id, embedding),
    cosine distances to every OTHER document; flag when
    z = (min−mean)/std exceeds the threshold 3
    (with min ≤ mean this arm is structurally ≤ 0 — the reference's own
    quirk) OR the nearest neighbor is farther than
    ``min_cluster_distance``. Severity from z per _calculate_severity,
    std is POPULATION std (np.std default).

    The reference is O(n²) per corpus. Here the per-doc mean and std
    come from MOMENT ALGEBRA with no pair materialized: with unit
    vectors d̂, S = Σô and the D×D Gram matrix G = Σôôᵀ (one pass
    each, D²-bounded state),
        mean_cos(d) = (d̂·S − 1)/(n−1),
        E[cos²](d) = (d̂ᵀGd̂ − 1)/(n−1),  Var = E[cos²] − mean²
    — the −1 terms remove self. Only the MIN distance (max cosine) is a
    true neighbor query; it reuses the brute top-1 here and the
    similarity module's LSH/IVF lanes at scale.

    ``nn_mode="auto"`` (the default, mirroring the auto-R precedent)
    picks "brute" (exact all-pairs top-1, the oracle lane) when the
    corpus has at most ``auto_brute_max`` vectors (8192 ≈ 67M pair
    evaluations, fine on one executor wave) and "banded" (hyperplane-LSH
    candidates over 8 bands, conservative error direction — isolation can
    only be over-reported) above it, so a 100-TB caller gets the sublinear lane
    without remembering to flip the flag. The moments arm is
    mode-independent either way."""
    v = emb.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    norm = F.sqrt(
        F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x)
    )
    u = v.select(
        "_id",
        F.transform(F.col("v"), lambda x: x / norm).alias("u"),
    ).localCheckpoint(eager=True)
    n = u.count()
    if n < 2:
        raise ValueError("content_anomalies needs at least 2 vectors")
    if nn_mode == "auto":
        nn_mode = "brute" if n <= auto_brute_max else "banded"

    comp = u.select("_id", F.posexplode("u").alias("i", "x"))
    s_vec = comp.groupBy("i").agg(F.sum("x").alias("s"))
    gram = (
        comp.alias("a")
        .join(comp.alias("b"), F.col("a._id") == F.col("b._id"))
        .groupBy(
            F.col("a.i").alias("i"), F.col("b.i").alias("j")
        )
        .agg(F.sum(F.col("a.x") * F.col("b.x")).alias("g"))
    )
    # Gd = G·d̂ per doc: one join on component index, then d̂·Gd
    gd = (
        comp.join(gram, comp["i"] == gram["j"])
        .groupBy("_id", gram["i"])
        .agg(F.sum(F.col("x") * F.col("g")).alias("gd"))
    )
    quad = (
        gd.join(
            comp.withColumnRenamed("x", "xi"),
            ["_id", "i"],
        )
        .groupBy("_id")
        .agg(F.sum(F.col("gd") * F.col("xi")).alias("dGd"))
    )
    ds = (
        comp.join(s_vec, "i")
        .groupBy("_id")
        .agg(F.sum(F.col("x") * F.col("s")).alias("dS"))
    )
    # nearest neighbor (max cosine over others):
    # - "brute": exact all-pairs top-1 (the oracle path, O(n²))
    # - "banded": candidates from the banded hyperplane LSH; a vector
    #   whose true NN straddles every band reads as having NO near
    #   neighbor (max_cos → −1, min_dist → 2) — for THIS detector the
    #   error direction is conservative (isolation can only be
    #   over-reported, never hidden), which is why the approximation is
    #   sound at corpus scale where O(n²) is not an option
    dot = F.aggregate(
        F.zip_with(
            F.col("a.u"), F.col("b.u"), lambda x, y: x * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if nn_mode == "banded":
        from .similarity import hyperplane_bucket, recommended_rows_per_band

        r = recommended_rows_per_band(n)
        band_keys = [
            hyperplane_bucket(F.col("u"), r, plane_offset=b * r)
            for b in range(8)
        ]
        banded = u.select(
            "_id", "u",
            F.posexplode(F.array(*band_keys)).alias("band", "key"),
        )
        cand = (
            banded.alias("a")
            .join(
                banded.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a._id") != F.col("b._id")),
            )
            .groupBy(F.col("a._id").alias("_id"))
            .agg(F.max(dot).alias("max_cos"))
        )
        max_cos = u.select("_id").join(cand, "_id", "left").select(
            "_id", F.coalesce("max_cos", F.lit(-1.0)).alias("max_cos")
        )
    else:
        max_cos = (
            u.alias("a")
            .join(u.alias("b"), F.col("a._id") != F.col("b._id"))
            .groupBy(F.col("a._id").alias("_id"))
            .agg(F.max(dot).alias("max_cos"))
        )
    nn = F.lit(n - 1).cast("double")
    mean_cos = (F.col("dS") - 1) / nn
    e_cos2 = (F.col("dGd") - 1) / nn
    var = e_cos2 - mean_cos * mean_cos
    stats = (
        ds.join(quad, "_id")
        .join(max_cos, "_id")
        .select(
            "_id",
            (1 - F.col("max_cos")).alias("min_dist"),
            (1 - mean_cos).alias("mean_dist"),
            F.sqrt(F.greatest(var, F.lit(0.0))).alias("std_dist"),
        )
    )
    z = F.when(
        F.col("std_dist") > 0,
        (F.col("min_dist") - F.col("mean_dist")) / F.col("std_dist"),
    ).otherwise(F.lit(0.0))
    return (
        stats.withColumn("z_score", z)
        .where(
            (F.col("z_score") > 3.0)
            | (F.col("min_dist") > min_cluster_distance)
        )
        .withColumn(
            "severity",
            F.when(F.col("z_score") >= 6.0, "critical")
            .when(F.col("z_score") >= 4.5, "high")
            .when(F.col("z_score") >= 3.0, "medium")
            .otherwise("low"),
        )
        .withColumn(
            "confidence", F.least(F.lit(1.0), F.col("z_score") / 5.0)
        )
        .select(
            F.col("_id").alias("vec_id"), "min_dist", "mean_dist",
            "std_dist", "z_score", "severity", "confidence",
        )
    )


def embedding_anomalies(emb: DataFrame) -> DataFrame:
    """A1: distance of each (vec_id, embedding) from the corpus centroid,
    z-scored (detector.py:64-137); rows past z 1.5 are anomalies.

    Centroid via element-wise avg (posexplode + groupBy(pos)); distance is a
    native zip_with/aggregate fold — no UDF.
    """
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    centroid = (
        v.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.avg("x").alias("c"))
        .orderBy("pos")
        .agg(F.collect_list("c").alias("centroid"))
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("v"), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    with_dist = v.crossJoin(F.broadcast(centroid)).select(
        "vec_id", dist.alias("dist")
    )
    stats = with_dist.agg(
        F.avg("dist").alias("mean_d"), F.stddev_samp("dist").alias("std_d")
    )
    return (
        with_dist.crossJoin(F.broadcast(stats))
        .where(F.col("std_d") > 0)
        .withColumn("z_score", F.abs((F.col("dist") - F.col("mean_d")) / F.col("std_d")))
        .where(F.col("z_score") > 1.5)
        .withColumn("confidence", F.least(F.lit(1.0), F.col("z_score") / 5.0))
        .select("vec_id", "dist", "z_score", "confidence")
    )


# A4 detect_red_flags (detector.py:45-62, 211-319): the exact compiled
# patterns, thresholds, severities, and confidences
RED_FLAG_MONEY = (
    r"\$\s*\d+(?:,\d{3})*(?:\.\d{2})?|"
    r"\d+(?:,\d{3})*(?:\.\d{2})?\s*(?:USD|EUR|GBP|dollars?|euros?|pounds?)"
)
RED_FLAG_DATE = (
    r"\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b|"
    r"\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*"
    r"\s+\d{1,2},?\s+\d{4}\b"
)
RED_FLAG_NAME = r"\b[A-Z][a-z]+\s+[A-Z][a-z]+\b"
SENSITIVE_KEYWORDS = [
    "confidential", "secret", "classified", "private", "restricted",
    "internal only", "do not distribute", "proprietary", "privileged",
]


def red_flags(docs: DataFrame) -> DataFrame:
    """detect_red_flags (:211-319) corpus-wide, fully native: one row
    per FIRED arm per (doc_id, text) document — money count > 10 (high, 0.9), date
    count > 15 (medium, 0.8), UNIQUE capitalized-name pairs > 20
    (medium, 0.7), any sensitive keyword (critical, 1.0, score = number
    of distinct keywords present). The reference regex-scans one
    document per call; these are four regexp_extract_all columns in one
    Catalyst pass."""
    t = F.col("text")
    money = F.size(
        F.regexp_extract_all(t, F.lit("(?i)" + RED_FLAG_MONEY), F.lit(0))
    )
    dates = F.size(
        F.regexp_extract_all(t, F.lit("(?i)" + RED_FLAG_DATE), F.lit(0))
    )
    names = F.size(
        F.array_distinct(
            F.regexp_extract_all(t, F.lit(RED_FLAG_NAME), F.lit(0))
        )
    )
    low = F.lower(t)
    kw = F.size(
        F.filter(
            F.array(*[F.lit(k) for k in SENSITIVE_KEYWORDS]),
            lambda k: low.contains(k),
        )
    )
    base = docs.select("doc_id", money.alias("money"),
                       dates.alias("dates"), names.alias("names"),
                       kw.alias("kw"))

    def arm(cnt, gate, ptype, severity, conf):
        return base.where(gate).select(
            "doc_id",
            F.lit(ptype).alias("pattern_type"),
            cnt.cast("double").alias("score"),
            F.lit(severity).alias("severity"),
            F.lit(conf).alias("confidence"),
        )

    return (
        arm(F.col("money"), F.col("money") > 10, "money", "high", 0.9)
        .unionByName(arm(F.col("dates"), F.col("dates") > 15, "dates",
                         "medium", 0.8))
        .unionByName(arm(F.col("names"), F.col("names") > 20, "names",
                         "medium", 0.7))
        .unionByName(arm(F.col("kw"), F.col("kw") > 0,
                         "sensitive_keywords", "critical", 1.0))
    )
