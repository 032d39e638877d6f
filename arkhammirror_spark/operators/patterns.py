"""Keyword pattern detection + pattern-vs-text matching — the always-
available (non-LLM) arm of the patterns shard, fully native Catalyst.

Reference: arkham-shard-patterns/arkham_shard_patterns/shard.py —
- `_detect_patterns_keywords` (:1588-1618): lowercase whitespace split,
  words longer than 4 chars, corpus-level counts, count >= 5 becomes a
  "Recurring: <word>" pattern with confidence min(count/20, 1.0),
  filtered by min_confidence, first TEN patterns kept in dict-insertion
  order — which is FIRST-APPEARANCE order of the word in the analyzed
  text, reproduced here exactly via min(struct(doc order, position));
- `_match_pattern_against_text` (:1620-1650): first keyword (criteria
  order) found as a lowercase substring wins; excerpt is the +-100-char
  window around the hit, match_score pinned 0.8, start/end chars of the
  keyword span.

The reference concatenates the requested documents into one blob and
counts in driver Python; at corpus scale the same semantics are one
explode + hash aggregation (counts and first positions combine
associatively — map-side partial agg, one shuffle on the word), and the
matcher is a pattern x document cross of bounded size (<= 10
patterns, broadcast) with native instr/substring — no Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def detect_recurring_patterns(
    docs: DataFrame, min_confidence: float = 0.0
) -> DataFrame:
    """(name, description, word, n_occurrences, confidence, first_doc,
    first_pos) — the reference's recurring-theme patterns (words of 5+
    chars seen at least 5 times, the first 10) over the corpus formed by
    all (doc_id, text) rows ordered by doc_id (its text-blob order)."""
    words = docs.select(
        F.col("doc_id").alias("_doc"),
        F.posexplode(
            F.split(F.lower(F.col("text")), r"\s+")
        ).alias("_pos", "word"),
    ).where((F.col("word") != "") & (F.length("word") > 4))
    counts = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min(F.struct("_doc", "_pos")).alias("_first"),
    )
    conf = F.least(
        F.col("n_occurrences").cast("double") / 20.0, F.lit(1.0)
    )
    return (
        counts.where(F.col("n_occurrences") >= 5)
        .withColumn("confidence", conf)
        .where(F.col("confidence") >= min_confidence)
        .orderBy(F.col("_first._doc"), F.col("_first._pos"))
        .limit(10)
        .select(
            F.concat(F.lit("Recurring: "), F.col("word")).alias("name"),
            F.format_string(
                "The term '%s' appears %d times",
                F.col("word"), F.col("n_occurrences"),
            ).alias("description"),
            "word",
            F.col("n_occurrences").cast("long").alias("n_occurrences"),
            "confidence",
            F.col("_first._doc").alias("first_doc"),
            F.col("_first._pos").cast("long").alias("first_pos"),
        )
    )


def match_patterns_to_docs(patterns: DataFrame, docs: DataFrame) -> DataFrame:
    """(pattern_name, doc, match_score, start_char, end_char, excerpt) —
    one row per (name, keywords) pattern and (doc_id, text) document
    whose text contains any of the
    pattern's keywords, FIRST keyword in criteria order winning
    (shard.py:1629-1631 loops keywords and returns on the first hit).

    `patterns` is small by construction (the reference matches at most
    100 listed patterns) — broadcast side of the cross."""
    kw = patterns.select(
        F.col("name").alias("pattern_name"),
        F.posexplode(F.col("keywords")).alias("_kwi", "keyword"),
    )
    d = docs.select(
        F.col("doc_id").alias("doc"),
        F.col("text").alias("_text"),
        F.lower(F.col("text")).alias("_ltext"),
    )
    hit = (
        d.crossJoin(F.broadcast(kw))
        # instr is 1-based, 0 = absent; the reference's find() is 0-based
        .withColumn("_idx", F.instr(F.col("_ltext"),
                                    F.lower(F.col("keyword"))) - 1)
        .where(F.col("_idx") >= 0)
    )
    w = Window.partitionBy("pattern_name", "doc").orderBy("_kwi")
    first_hit = (
        hit.withColumn("_rank", F.row_number().over(w))
        .where(F.col("_rank") == 1)
    )
    return first_hit.select(
        "pattern_name",
        "doc",
        F.lit(0.8).alias("match_score"),
        F.col("_idx").cast("long").alias("start_char"),
        (F.col("_idx") + F.length("keyword")).cast("long").alias(
            "end_char"
        ),
        # substring is 1-based; length = end - start
        F.expr(
            "substring(_text, CAST(greatest(0, _idx - 100) + 1 AS INT), "
            "CAST(least(length(_text), _idx + length(keyword) + 100) "
            "- greatest(0, _idx - 100) AS INT))"
        ).alias("excerpt"),
    )
