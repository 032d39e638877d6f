"""ACH (Analysis of Competing Hypotheses) consistency-matrix scoring as a
groupBy + window — the reference computes it per matrix in driver Python
(arkham-shard-ach/arkham_shard_ach/scoring.py:20-129); here the ratings
table scores EVERY matrix in one pass, so a corpus of matrices scales like
any keyed aggregation.

Reference semantics (scoring.py + models.py):
- rating symbols ++/+/N/-/-- -> scores 2/1/0/-1/-2; N/A is skipped
  entirely (zero weight, models.py:33-48);
- inconsistency_count = count of '-' and '--' ratings (scoring.py:100-105);
- consistency_score = plain sum of rating scores (scoring.py:98);
- weighted_score = sum(score * evidence.credibility * evidence.relevance *
  rating.confidence) / sum(evidence.credibility * evidence.relevance)
  (scoring.py:107-114);
- normalized = ((weighted + 2) / 4) * 100, or 50 when nothing rated
  (scoring.py:112-119);
- rank: ascending inconsistency_count, then descending weighted_score
  (scoring.py:44-50); hypothesis id breaks residual ties deterministically
  (the reference relies on list order).

Numeric discipline: credibility / relevance / confidence arrive as CENTI
integers (0-100) so both aggregation sums are exact BIGINT; the two float
divisions are written as the same IEEE expression on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

RATING_SCORES = {"++": 2, "+": 1, "N": 0, "-": -1, "--": -2}


def rating_score_col(rating_col):
    return (
        F.when(rating_col == "++", 2)
        .when(rating_col == "+", 1)
        .when(rating_col == "N", 0)
        .when(rating_col == "-", -1)
        .when(rating_col == "--", -2)
    )


def ach_scores(ratings: DataFrame) -> DataFrame:
    """(matrix_id, hypothesis_id, evidence_id, rating,
    cred_centi, rel_centi, conf_centi) ->
    (matrix_id, hypothesis_id, consistency_score, inconsistency_count,
    weighted_score, normalized_score, evidence_count, rank).

    evidence_count counts ALL ratings incl. N/A (scoring.py:127);
    everything else skips N/A rows."""
    from pyspark.sql import Window

    applicable = F.col("rating") != "N/A"
    score = rating_score_col(F.col("rating"))
    # numerator in 1e-6 units, denominator in 1e-4 units — both BIGINT
    num = F.when(
        applicable, score * F.col("cred_centi") * F.col("rel_centi") * F.col("conf_centi")
    ).otherwise(F.lit(0))
    den = F.when(
        applicable, F.col("cred_centi") * F.col("rel_centi")
    ).otherwise(F.lit(0))
    agg = ratings.groupBy("matrix_id", "hypothesis_id").agg(
        F.sum(F.when(applicable, score).otherwise(0)).alias("consistency_score"),
        F.sum(
            F.when(applicable & score.isin(-1, -2), 1).otherwise(0)
        ).alias("inconsistency_count"),
        F.sum(num).alias("wnum"),
        F.sum(den).alias("wden"),
        F.count(F.lit(1)).alias("evidence_count"),
    )
    weighted = F.when(
        F.col("wden") > 0,
        F.col("wnum").cast("double") / (F.col("wden").cast("double") * F.lit(100.0)),
    ).otherwise(F.lit(0.0))
    normalized = F.when(
        F.col("wden") > 0,
        (F.col("weighted_score") + F.lit(2.0)) / F.lit(4.0) * F.lit(100.0),
    ).otherwise(F.lit(50.0))
    scored = agg.withColumn("weighted_score", weighted).withColumn(
        "normalized_score", normalized
    )
    w = Window.partitionBy("matrix_id").orderBy(
        F.asc("inconsistency_count"), F.desc("weighted_score"),
        F.asc("hypothesis_id"),
    )
    return scored.withColumn("rank", F.row_number().over(w)).select(
        "matrix_id", "hypothesis_id", "consistency_score",
        "inconsistency_count", "weighted_score", "normalized_score",
        "evidence_count", "rank",
    )


def diagnosticity(ratings: DataFrame) -> DataFrame:
    """Evidence whose ratings VARY across hypotheses is diagnostic
    (scoring.py:131-182): population variance of the rating scores per
    evidence row, kept when > 0.5 and rated against >= 2
    hypotheses. Returns (matrix_id, evidence_id, variance, mean_consistency,
    rating_count) — variance computed from exact integer sums
    (E[x^2] - E[x]^2 with one float division each)."""
    applicable = ratings.where(F.col("rating") != "N/A")
    score = rating_score_col(F.col("rating"))
    agg = applicable.groupBy("matrix_id", "evidence_id").agg(
        F.sum(score).alias("s1"),
        F.sum(score * score).alias("s2"),
        F.count(F.lit(1)).alias("rating_count"),
    ).where(F.col("rating_count") >= 2)
    n = F.col("rating_count").cast("double")
    mean = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mean * mean
    return (
        agg.select(
            "matrix_id",
            "evidence_id",
            var.alias("variance"),
            mean.alias("mean_consistency"),
            "rating_count",
        )
        .where(F.col("variance") > 0.5)
    )


# ---------------------------------------------------------------------------
# Sensitivity analysis (scoring.py:185-259)
# ---------------------------------------------------------------------------


def _new_ranks_without_uncertain(
    ratings: DataFrame, evidence: DataFrame
) -> DataFrame:
    """Re-rank hypotheses with uncertain evidence's ratings removed
    (scoring.py:203-222). Evidence is uncertain when credibility < 0.7 OR
    relevance < 0.7 (centi ints: < 70). Hypotheses whose every rating was
    removed stay in the ranking with the reference's zero-default score
    (HypothesisScore defaults, models.py:165-173)."""
    from pyspark.sql import Window

    uncertain = evidence.where(
        (F.col("cred_centi") < 70) | (F.col("rel_centi") < 70)
    ).select("matrix_id", "evidence_id")
    filtered = ratings.join(
        uncertain, ["matrix_id", "evidence_id"], "left_anti"
    )
    scored = ach_scores(filtered).select(
        "matrix_id", "hypothesis_id", "inconsistency_count",
        "weighted_score",
    )
    all_h = ratings.select("matrix_id", "hypothesis_id").distinct()
    full = (
        all_h.join(scored, ["matrix_id", "hypothesis_id"], "left")
        .withColumn(
            "inconsistency_count",
            F.coalesce("inconsistency_count", F.lit(0)),
        )
        .withColumn(
            "weighted_score", F.coalesce("weighted_score", F.lit(0.0))
        )
    )
    w = Window.partitionBy("matrix_id").orderBy(
        F.asc("inconsistency_count"), F.desc("weighted_score"),
        F.asc("hypothesis_id"),
    )
    return full.withColumn("new_rank", F.row_number().over(w)).select(
        "matrix_id", "hypothesis_id", "new_rank"
    )


def ach_sensitivity_changes(
    ratings: DataFrame, evidence: DataFrame
) -> DataFrame:
    """Rank changes after removing low-credibility evidence
    (scoring.py:228-243): one row per hypothesis whose rank moved —
    (matrix_id, hypothesis_id, original_rank, new_rank, change)."""
    old = ach_scores(ratings).select(
        "matrix_id", "hypothesis_id", F.col("rank").alias("original_rank")
    )
    new = _new_ranks_without_uncertain(ratings, evidence)
    return (
        old.join(new, ["matrix_id", "hypothesis_id"])
        .where(F.col("original_rank") != F.col("new_rank"))
        .select(
            "matrix_id", "hypothesis_id", "original_rank", "new_rank",
            (F.col("new_rank") - F.col("original_rank")).alias("change"),
        )
    )


def ach_sensitivity_summary(
    ratings: DataFrame, evidence: DataFrame
) -> DataFrame:
    """Per-matrix sensitivity verdict (scoring.py:245-259): max absolute
    rank change -> low (0) / moderate (1) / high (>1); matrices with no
    uncertain evidence short-circuit to low with zero changes
    (scoring.py:204-210)."""
    matrices = evidence.select("matrix_id").distinct()
    unc = (
        evidence.where(
            (F.col("cred_centi") < 70) | (F.col("rel_centi") < 70)
        )
        .groupBy("matrix_id")
        .agg(F.count(F.lit(1)).alias("uncertain_evidence_count"))
    )
    changes = (
        ach_sensitivity_changes(ratings, evidence)
        .groupBy("matrix_id")
        .agg(F.max(F.abs(F.col("change"))).alias("max_rank_change"),
             F.count(F.lit(1)).alias("n_rank_changes"))
    )
    out = (
        matrices.join(unc, "matrix_id", "left")
        .join(changes, "matrix_id", "left")
        .withColumn(
            "uncertain_evidence_count",
            F.coalesce("uncertain_evidence_count", F.lit(0)),
        )
        .withColumn(
            "max_rank_change",
            F.when(
                F.col("uncertain_evidence_count") == 0, F.lit(0)
            ).otherwise(F.coalesce("max_rank_change", F.lit(0))),
        )
        .withColumn(
            "n_rank_changes",
            F.when(
                F.col("uncertain_evidence_count") == 0, F.lit(0)
            ).otherwise(F.coalesce("n_rank_changes", F.lit(0))),
        )
    )
    sensitivity = (
        F.when(F.col("max_rank_change") == 0, "low")
        .when(F.col("max_rank_change") == 1, "moderate")
        .otherwise("high")
    )
    return out.select(
        "matrix_id", sensitivity.alias("sensitivity"),
        "uncertain_evidence_count", "max_rank_change", "n_rank_changes",
    )


# ---------------------------------------------------------------------------
# Evidence analyzer (evidence.py:18-316) — pure threshold/CASE rules.
# All float thresholds become exact integer compares on centi inputs:
# final_quality = ((cred+rel)/200 + qs)/2 = (cred+rel+200*qs)/400, and
# qs is a 0.2-step ladder so 200*qs is an exact int.
# ---------------------------------------------------------------------------

EVIDENCE_TYPES = [
    "fact", "testimony", "document", "physical", "circumstantial",
    "inference",
]


def evidence_quality(evidence: DataFrame) -> DataFrame:
    """assess_quality (evidence.py:18-81) per row: (matrix_id,
    evidence_id, source, cred_centi, rel_centi) -> quality score/level +
    csv-serialized issues and warnings in the reference's append order
    (credibility first, then relevance, then source)."""
    c, r = F.col("cred_centi"), F.col("rel_centi")
    qs200 = (
        F.when(c >= 80, 80).otherwise(0)
        + F.when(r >= 80, 80).otherwise(0)
        + F.when(
            F.col("source").isNotNull() & (F.trim(F.col("source")) != ""),
            40,
        ).otherwise(0)
    )
    final_400 = c + r + qs200  # final_quality = final_400 / 400
    issues = F.array_join(
        F.filter(
            F.array(
                F.when(
                    c < 30,
                    F.lit("Very low credibility - consider verifying source"),
                ),
                F.when(r < 30, F.lit("Low relevance to hypotheses")),
            ),
            lambda x: x.isNotNull(),
        ),
        "|",
    )
    warnings = F.array_join(
        F.filter(
            F.array(
                F.when(
                    (c >= 30) & (c < 50),
                    F.lit("Low credibility - use caution in analysis"),
                ),
                F.when(
                    (r >= 30) & (r < 50),
                    F.lit("Moderate relevance - may be tangential"),
                ),
                F.when(
                    F.col("source").isNull()
                    | (F.trim(F.col("source")) == ""),
                    F.lit("No source provided - consider documenting"),
                ),
            ),
            lambda x: x.isNotNull(),
        ),
        "|",
    )
    level = (
        F.when(final_400 >= 320, "high")
        .when(final_400 >= 200, "medium")
        .otherwise("low")
    )
    return evidence.select(
        "matrix_id", "evidence_id",
        (final_400.cast("double") / F.lit(400.0)).alias("quality_score"),
        level.alias("quality_level"),
        issues.alias("issues"),
        warnings.alias("warnings"),
    )


def evidence_gaps(
    ratings: DataFrame, evidence: DataFrame
) -> DataFrame:
    """identify_gaps (evidence.py:83-180) as a union of the four gap
    families, one row per gap: (matrix_id, gap_type, ref_id, severity,
    detail). detail carries the family-specific payload (rating_count,
    missing-types csv, low/total counts)."""
    substantive = (
        ratings.where(F.col("rating") != "N/A")
        .groupBy("matrix_id", "hypothesis_id")
        .agg(F.count(F.lit(1)).alias("n_sub"))
    )
    all_h = ratings.select("matrix_id", "hypothesis_id").distinct()
    cov = (
        all_h.join(substantive, ["matrix_id", "hypothesis_id"], "left")
        .withColumn("n_sub", F.coalesce("n_sub", F.lit(0)))
        .where(F.col("n_sub") < 3)
        .select(
            "matrix_id",
            F.lit("hypothesis_coverage").alias("gap_type"),
            F.col("hypothesis_id").alias("ref_id"),
            F.when(F.col("n_sub") == 0, "high")
            .otherwise("medium")
            .alias("severity"),
            F.col("n_sub").cast("string").alias("detail"),
        )
    )
    present = (
        evidence.groupBy("matrix_id")
        .agg(F.collect_set("evidence_type").alias("types"))
    )
    all_types = F.array(*[F.lit(t) for t in EVIDENCE_TYPES])
    diversity = present.select(
        "matrix_id",
        F.lit("evidence_diversity").alias("gap_type"),
        F.lit("").alias("ref_id"),
        F.lit("low").alias("severity"),
        F.array_join(
            F.array_sort(F.array_except(all_types, F.col("types"))), "|"
        ).alias("detail"),
    ).where(F.col("detail") != "")
    rated = ratings.select("matrix_id", "evidence_id").distinct()
    unrated = evidence.join(
        rated, ["matrix_id", "evidence_id"], "left_anti"
    ).select(
        "matrix_id",
        F.lit("unrated_evidence").alias("gap_type"),
        F.col("evidence_id").alias("ref_id"),
        F.lit("medium").alias("severity"),
        F.lit("").alias("detail"),
    )
    lowq = (
        evidence.groupBy("matrix_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("cred_centi") < 50) | (F.col("rel_centi") < 50),
                    1,
                ).otherwise(0)
            ).alias("n_low"),
            F.count(F.lit(1)).alias("n_total"),
        )
        # count > 0.3 * total, exactly: 10*count > 3*total
        .where(F.col("n_low") * 10 > F.col("n_total") * 3)
        .select(
            "matrix_id",
            F.lit("quality_concern").alias("gap_type"),
            F.lit("").alias("ref_id"),
            F.lit("high").alias("severity"),
            F.concat_ws(
                "/", F.col("n_low").cast("string"),
                F.col("n_total").cast("string"),
            ).alias("detail"),
        )
    )
    return cov.unionByName(diversity).unionByName(unrated).unionByName(lowq)


def compare_evidence_pairs(ratings: DataFrame) -> DataFrame:
    """compare_evidence (evidence.py:248-316) for every evidence pair in
    one pass: self-join on (matrix, hypothesis), counted into
    (matrix_id, evidence1_id, evidence2_id, agreement_count,
    disagreement_count). Blocked by the (matrix, hypothesis) key — never
    cartesian over matrices."""
    a = ratings.select(
        "matrix_id", "hypothesis_id",
        F.col("evidence_id").alias("evidence1_id"),
        F.col("rating").alias("r1"),
    )
    b = ratings.select(
        "matrix_id", "hypothesis_id",
        F.col("evidence_id").alias("evidence2_id"),
        F.col("rating").alias("r2"),
    )
    pairs = a.join(b, ["matrix_id", "hypothesis_id"]).where(
        F.col("evidence1_id") < F.col("evidence2_id")
    )
    return pairs.groupBy(
        "matrix_id", "evidence1_id", "evidence2_id"
    ).agg(
        F.sum(
            F.when(F.col("r1") == F.col("r2"), 1).otherwise(0)
        ).alias("agreement_count"),
        F.sum(
            F.when(F.col("r1") != F.col("r2"), 1).otherwise(0)
        ).alias("disagreement_count"),
    )


def suggest_evidence(
    ratings: DataFrame,
    evidence: DataFrame,
    hypotheses: DataFrame,
) -> DataFrame:
    """suggest_evidence (evidence.py:183-246): rule-based suggestions per
    hypothesis in the reference's emit order — the four type templates
    (document, testimony, physical, circumstantial) for types missing
    from the matrix, then the conflicting-evidence rule, then the
    limited-evidence rule; truncated to 5. hypotheses:
    (matrix_id, hypothesis_id, title)."""
    present = evidence.groupBy("matrix_id").agg(
        F.collect_set("evidence_type").alias("types")
    )
    per_h = ratings.groupBy("matrix_id", "hypothesis_id").agg(
        F.max(F.col("rating").isin("++", "+")).alias("has_pos"),
        F.max(F.col("rating").isin("--", "-")).alias("has_neg"),
        F.count(F.lit(1)).alias("n_ratings"),
    )
    t = F.col("title")
    base = (
        hypotheses.join(per_h, ["matrix_id", "hypothesis_id"], "left")
        .withColumn("has_pos", F.coalesce("has_pos", F.lit(False)))
        .withColumn("has_neg", F.coalesce("has_neg", F.lit(False)))
        .withColumn("n_ratings", F.coalesce("n_ratings", F.lit(0)))
        .join(present, "matrix_id", "left")
        .withColumn(
            "types",
            F.coalesce("types", F.array().cast("array<string>")),
        )
    )
    tmpl = [
        ("document", F.concat(
            F.lit("Look for documents that support or refute '"), t,
            F.lit("'"))),
        ("testimony", F.concat(
            F.lit("Seek witness testimony regarding '"), t, F.lit("'"))),
        ("physical", F.concat(
            F.lit("Examine physical evidence related to '"), t,
            F.lit("'"))),
        ("circumstantial", F.concat(
            F.lit("Consider circumstantial evidence surrounding '"), t,
            F.lit("'"))),
    ]
    items = [
        F.when(~F.array_contains(F.col("types"), ev_type), s)
        for ev_type, s in tmpl
    ]
    items.append(
        F.when(
            F.col("has_pos") & F.col("has_neg"),
            F.concat(
                F.lit("Conflicting evidence exists - seek additional "
                      "evidence to clarify '"), t, F.lit("'")),
        )
    )
    items.append(
        F.when(
            F.col("n_ratings") < 3,
            F.concat(
                F.lit("Limited evidence for '"), t,
                F.lit("' - conduct broader information gathering")),
        )
    )
    suggestions = F.slice(
        F.filter(F.array(*items), lambda x: x.isNotNull()),
        1, 5,
    )
    return base.select(
        "matrix_id", "hypothesis_id",
        F.posexplode(suggestions).alias("suggestion_idx", "suggestion"),
    )
