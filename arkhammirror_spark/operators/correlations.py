"""Entity correlation analysis — Pearson over binary occurrence vectors,
plus Spearman rank correlation with the reference's int-cast rank quirk.

Reference: arkham-shard-patterns/arkham_shard_patterns/shard.py:666-811
(`find_correlations` builds an entity x document binary occurrence matrix
over the union of the requested entities' documents, computes Pearson per
pair, classifies by +-0.4/+-0.7 thresholds, and filters pairs below
`min_occurrences` common documents), :813-843 (`_calculate_pearson` —
float means, zero-variance -> 0.0, clamp to [-1, 1]) and :845-877
(`_calculate_spearman` — tie-averaged 1-based ranks are cast to `int`,
truncating .5 averages, BEFORE Pearson; that truncation is reproduced
here exactly, not fixed).

Spark-first shape (no driver-side vectors, no per-row Python):

- the binary-vector Pearson collapses to four integer statistics —
  n = |union of docs|, a = |docs(e1)|, b = |docs(e2)|, c = |common| —
  because for 0/1 vectors sum(x) = sum(x^2) = a.  r =
  (n*c - a*b) / sqrt((n*a - a^2) * (n*b - b^2)), evaluated in double
  (overflow-safe past n ~ 3e9 where the BIGINT cross terms would wrap;
  exact at any n whose products stay under 2^53, i.e. every test scale).
- pair candidates come from a self-equi-join of the DISTINCT slim
  (entity, doc) frame on doc — shuffle keyed on doc_id, never all-pairs;
  `top_k` bounds per-doc fanout to K^2 and lets the per-entity count
  frames broadcast.
- pairs need 2 common documents (the reference's min_occurrences), so
  the reference's |union| < 2 degenerate branch cannot fire.

The reference sorts by |r| descending (shard.py:803); deterministic
tie-breaks on the pair names are added so LIMIT-ed outputs are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


_D = "double"


def _pearson_from_counts(n, a, b, c):
    """r over binary vectors from the four BIGINT counts, double math,
    zero-variance -> 0.0, clamped to [-1, 1] (shard.py:836-843)."""
    nd, ad, bd, cd = (x.cast(_D) for x in (n, a, b, c))
    var_a = nd * ad - ad * ad
    var_b = nd * bd - bd * bd
    den = var_a * var_b
    r = F.when(den <= F.lit(0.0), F.lit(0.0)).otherwise(
        (nd * cd - ad * bd) / F.sqrt(den)
    )
    return F.least(F.lit(1.0), F.greatest(F.lit(-1.0), r))


def _classify(r):
    """shard.py:776-790 threshold ladder."""
    return (
        F.when(r >= 0.7, F.lit("strong_positive"))
        .when(r >= 0.4, F.lit("moderate_positive"))
        .when(r <= -0.7, F.lit("strong_negative"))
        .when(r <= -0.4, F.lit("moderate_negative"))
        .otherwise(F.lit("weak"))
    )


def _describe(r, c):
    """shard.py:778-799 description strings, '%.2f' = Python ':.2f'."""
    label = (
        F.when(r >= 0.7, F.lit("Strong positive"))
        .when(r >= 0.4, F.lit("Moderate positive"))
        .when(r <= -0.7, F.lit("Strong negative"))
        .when(r <= -0.4, F.lit("Moderate negative"))
        .otherwise(F.lit("Weak"))
    )
    # format_number (Java DecimalFormat, HALF_EVEN), not %s-format's %.2f
    # (Java HALF_UP): Python's :.2f and DuckDB's printf round decimal ties
    # to even, so an exactly-dyadic r like 0.625 must print "0.62" —
    # format_string('%.2f', 0.625) prints "0.63" and diverges from both
    # the reference and the oracle (measured). format_number also keeps
    # "-0.00" for rounds-to-zero negatives, matching all three.
    return F.format_string(
        "%s correlation (r=%s), co-occurred in %d documents",
        label, F.format_number(r, 2), c
    )


def entity_correlations(
    mentions: DataFrame,
    entity_col: str = "entity_text",
    top_k: int | None = None,
) -> DataFrame:
    """(entity_a, entity_b, correlation_score, co_occurrence_count,
    correlation_type, description, n_docs) — one row per entity pair with
    >= 2 common documents (doc_id), ordered strongest-|r| first. Two
    common documents imply |union docs| >= 2, so the reference's
    single-document branch (shard.py:722-745) never fires.

    `top_k` keeps the K most document-frequent entities (ties broken by
    name), which makes the count-side joins broadcastable; without it,
    the joins shuffle on the entity key.
    """
    occ = (
        mentions.select(
            F.col(entity_col).alias("e"), F.col("doc_id").alias("d")
        )
        .distinct()
    )
    bounded = top_k is not None
    if top_k is not None:
        top = (
            occ.groupBy("e")
            .agg(F.count(F.lit(1)).alias("dc"))
            .orderBy(F.desc("dc"), F.asc("e"))
            .limit(top_k)
            .select("e")
        )
        occ = occ.join(F.broadcast(top), "e", "left_semi")
    # slim (string, long) frame reused 4x (stats, counts, both join sides):
    # truncate the upstream extraction lineage once, lazily so plain
    # schema analysis stays free (invariant 5: slim columns only)
    occ = occ.localCheckpoint(eager=False)

    stats = occ.agg(F.countDistinct("d").alias("n"))  # 1 row
    ecnt = occ.groupBy("e").agg(F.count(F.lit(1)).alias("a"))
    hint = F.broadcast if bounded else (lambda df: df)

    pairs = (
        occ.select(F.col("e").alias("entity_a"), "d")
        .join(occ.select(F.col("e").alias("entity_b"), "d"), "d")
        .where(F.col("entity_a") < F.col("entity_b"))
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
    )
    j = (
        pairs.join(
            hint(ecnt.select(F.col("e").alias("entity_a"),
                             F.col("a").alias("a_cnt"))),
            "entity_a",
        )
        .join(
            hint(ecnt.select(F.col("e").alias("entity_b"),
                             F.col("a").alias("b_cnt"))),
            "entity_b",
        )
        .crossJoin(F.broadcast(stats))
    )
    r = _pearson_from_counts(F.col("n"), F.col("a_cnt"), F.col("b_cnt"),
                             F.col("c"))
    return (
        j.select(
            "entity_a",
            "entity_b",
            r.alias("correlation_score"),
            F.col("c").cast("long").alias("co_occurrence_count"),
            _classify(r).alias("correlation_type"),
            _describe(r, F.col("c")).alias("description"),
            F.col("n").cast("long").alias("n_docs"),
        )
        .orderBy(F.abs(F.col("correlation_score")).desc(),
                 "entity_a", "entity_b")
    )


def spearman_int_rank(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: list[str],
) -> DataFrame:
    """Spearman rank correlation per group, reproducing the reference's
    int-cast quirk (shard.py:874-877): tie-averaged 1-based ranks are
    TRUNCATED to int before the Pearson step, so a tie pair at positions
    3,4 ranks as 3 (3.5 truncated), not 3.5.

    Rank construction is pure window algebra: avg_rank = rank() +
    (tie_count - 1)/2 (shard.py:851-868's (i+j)/2 + 1 rewritten on
    1-based min-rank), and int() on a positive value is floor, so
    int_rank = rank() + floor((tie_count - 1)/2) — all BIGINT, no floats
    until the final Pearson.  Sums of rank squares stay exact in BIGINT
    for groups up to ~2M rows (n^3 < 2^63); the closed-form Pearson then
    runs in double like `_pearson_from_counts`.

    Output: group_cols + (spearman double, n bigint).
    """
    gb = list(group_cols)

    def int_ranks(col: str, out: str):
        w_rank = Window.partitionBy(*gb).orderBy(col)
        w_tie = Window.partitionBy(*(gb + [col]))
        return (
            F.rank().over(w_rank)
            + F.floor((F.count(F.lit(1)).over(w_tie) - 1) / 2)
        ).cast("long").alias(out)

    ranked = df.select(
        *gb, int_ranks(x_col, "rx"), int_ranks(y_col, "ry")
    )
    rx, ry = F.col("rx"), F.col("ry")
    agg = ranked.groupBy(*gb).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rx).alias("sx"),
        F.sum(ry).alias("sy"),
        F.sum(rx * ry).alias("sxy"),
        F.sum(rx * rx).alias("sxx"),
        F.sum(ry * ry).alias("syy"),
    )
    nd = F.col("n").cast(_D)
    sx, sy, sxy, sxx, syy = (
        F.col(c).cast(_D) for c in ("sx", "sy", "sxy", "sxx", "syy")
    )
    var_x = nd * sxx - sx * sx
    var_y = nd * syy - sy * sy
    den = var_x * var_y
    r = F.when(den <= F.lit(0.0), F.lit(0.0)).otherwise(
        (nd * sxy - sx * sy) / F.sqrt(den)
    )
    r = F.least(F.lit(1.0), F.greatest(F.lit(-1.0), r))
    return agg.select(
        *gb, r.alias("spearman"), F.col("n").cast("long").alias("n")
    )
