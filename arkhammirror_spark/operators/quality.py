"""Gopher-style document quality rules — fully native column math.

The standard web-corpus quality gate from Rae et al. 2021 ("Scaling
Language Models: ... Gopher", §A1.1 quality filtering), the filter family
every large-scale training-data pipeline applies after main-content
extraction. All seven rules compile to Catalyst expressions over one
split — no Python anywhere:

- word count within [min_words, 100 000];
- mean word length within [3, 10];
- symbol-to-word ratio (# and ellipsis) ≤ 0.1;
- ≤ 90% of lines start with a bullet;
- ≤ 30% of lines end with an ellipsis;
- ≥ 80% of words contain at least one alphabetic character;
- at least 2 distinct required stop words present
  (the/be/to/of/and/that/have/with).

`gopher_quality` returns the per-rule measurements plus the combined
`passes` flag, so downstream consumers can re-threshold without a second
scan. Ratios are exact integer-count divisions (identical on any engine);
the one float mean is rounded at the comparison precision by callers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOP_WORDS_REQUIRED = ["the", "be", "to", "of", "and", "that", "have", "with"]
BULLET_CHARS = ("•", "‣", "▪", "-", "*")


# the Gopher repetition rules in use: n -> the largest passing fraction of
# chars covered by the top / by all duplicated word n-grams
_TOP_GRAM_MAX = {2: 0.20, 3: 0.18}
_DUP_GRAM_MAX = {5: 0.15}


def gopher_repetition(df: DataFrame) -> DataFrame:
    """The repetition half of the Gopher filters (Rae et al. 2021 §A1.1):
    repetitive documents are low-value training data even when the static
    rules pass.

    Per (doc_id, text) document:
    - dup_line_frac       — lines occurring more than once / lines;
    - dup_line_char_frac  — chars in all occurrences of duplicated lines /
                            chars across lines;
    - top_{n}gram_frac    — chars covered by the most frequent word n-gram
                            (count × gram length / doc chars), n ∈ {2, 3};
    - dup_{n}gram_frac    — chars covered by ALL word n-grams occurring
                            more than once (count × gram length / doc
                            chars; overlaps counted per occurrence — the
                            standard fast approximation of Gopher's
                            character-coverage definition, mirrored
                            exactly in the oracle), n = 5.

    Mechanics: one explode per n + per-(doc, gram) count + per-doc agg —
    all shuffles keyed by doc id, n small constants. `passes` applies the
    paper's thresholds (0.30/0.20 lines; 0.20/0.18 top 2/3-grams; 0.15 dup
    5-grams).
    """
    from .spread import spread

    text = F.col("text")
    # the four explode branches below each re-run the upstream scan; fan a
    # small single-file scan out first so the heavy split/explode work
    # parallelizes
    # the word array is a column of `base`, tokenized once per document:
    # written inline in the gram lambdas below it would be re-split for
    # every gram position (O(words²) per document)
    words = F.filter(F.split(F.lower(text), r"\s+"), lambda w: F.length(w) > 0)
    base = spread(df, "doc_id").select(
        F.col("doc_id").alias("_id"), text.alias("_t"), words.alias("_w")
    )
    total_chars = F.length("_t").cast("double")

    lines = F.filter(F.split(F.col("_t"), r"\n"), lambda l: F.length(F.trim(l)) > 0)
    lined = base.select(
        "_id", total_chars.alias("_chars"), F.explode_outer(lines).alias("line")
    )
    line_stats = (
        lined.groupBy("_id", "_chars", "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("_id", "_chars")
        .agg(
            F.sum("c").alias("n_lines"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("n_dup"),
            F.sum(F.col("c") * F.length("line")).alias("line_chars"),
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.length("line")).otherwise(0)
            ).alias("dup_line_chars"),
        )
        .select(
            "_id",
            "_chars",
            (F.col("n_dup") / F.greatest(F.col("n_lines"), F.lit(1)).cast("double"))
            .alias("dup_line_frac"),
            (
                F.col("dup_line_chars")
                / F.greatest(F.col("line_chars"), F.lit(1)).cast("double")
            ).alias("dup_line_char_frac"),
        )
    )

    words = F.col("_w")

    def gram_stats(n: int, top: bool) -> DataFrame:
        grams = F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(words) - n),
                lambda i: F.array_join(F.slice(words, i + 1, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        ex = base.select(
            "_id", total_chars.alias("_c"), F.explode_outer(grams).alias("g")
        )
        counts = ex.groupBy("_id", "_c", "g").agg(F.count(F.lit(1)).alias("c"))
        covered = F.col("c") * F.length("g")
        if top:
            agg = F.max(F.when(F.col("g").isNotNull(), covered).otherwise(0))
        else:
            agg = F.sum(
                F.when((F.col("c") > 1) & F.col("g").isNotNull(), covered).otherwise(0)
            )
        name = f"top_{n}gram_frac" if top else f"dup_{n}gram_frac"
        return counts.groupBy("_id", "_c").agg(agg.alias("_cov")).select(
            "_id",
            (F.col("_cov") / F.greatest(F.col("_c"), F.lit(1.0))).alias(name),
        )

    out = line_stats.drop("_chars")
    for n in _TOP_GRAM_MAX:
        out = out.join(gram_stats(n, top=True), "_id")
    for n in _DUP_GRAM_MAX:
        out = out.join(gram_stats(n, top=False), "_id")

    passes = (F.col("dup_line_frac") <= 0.30) & (
        F.col("dup_line_char_frac") <= 0.20
    )
    for n, cap in _TOP_GRAM_MAX.items():
        passes = passes & (F.col(f"top_{n}gram_frac") <= cap)
    for n, cap in _DUP_GRAM_MAX.items():
        passes = passes & (F.col(f"dup_{n}gram_frac") <= cap)
    return out.withColumnRenamed("_id", "doc_id").withColumn("passes", passes)


def gopher_quality(
    df: DataFrame, id_col: str = "doc_id", min_words: int = 50
) -> DataFrame:
    """The seven static rules over the `text` column, keyed by `id_col`;
    documents of at most 100 000 words pass the word-count rule."""
    text = F.col("text")
    words = F.filter(F.split(text, r"\s+"), lambda w: F.length(w) > 0)
    n_words = F.size(words)
    total_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = total_chars / F.greatest(n_words, F.lit(1)).cast("double")

    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = F.size(F.regexp_extract_all(text, F.lit(r"(\.\.\.|…)"), F.lit(0)))
    symbol_word_ratio = (n_hash + n_ellipsis) / F.greatest(
        n_words, F.lit(1)
    ).cast("double")

    lines = F.filter(F.split(text, r"\n"), lambda l: F.length(F.trim(l)) > 0)
    n_lines = F.size(lines)
    bullet_rx = "^[\\s]*[" + "".join(BULLET_CHARS).replace("-", "\\-") + "]"
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(bullet_rx)))
    n_ell_end = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    )
    bullet_line_frac = n_bullet / F.greatest(n_lines, F.lit(1)).cast("double")
    ellipsis_line_frac = n_ell_end / F.greatest(n_lines, F.lit(1)).cast("double")

    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_word_frac = n_alpha / F.greatest(n_words, F.lit(1)).cast("double")

    lowered = F.array_distinct(F.transform(words, F.lower))
    n_stop_hits = F.size(
        F.array_intersect(lowered, F.array(*[F.lit(s) for s in STOP_WORDS_REQUIRED]))
    )

    out = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        alpha_word_frac.alias("alpha_word_frac"),
        n_stop_hits.cast("long").alias("n_stop_hits"),
    )
    passes = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= 100_000)
        & (F.col("mean_word_len") >= 3.0)
        & (F.col("mean_word_len") <= 10.0)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_stop_hits") >= 2)
    )
    return out.withColumn("passes", passes)
