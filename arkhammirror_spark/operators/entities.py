"""Entity noise filtering + canonical entity aggregation — fully native.

The reference applies its noise filter row-at-a-time in Python
(arkham-shard-entities/shard.py:323-433) and upserts entities one by one with
a case-insensitive SQL lookup (shard.py:483-520). Both collapse into native
column expressions + one hash aggregation here — no Python in the plan, and
map-side partial aggregation halves the shuffle.

``valid_entity_col`` mirrors is_valid_entity exactly over the Unicode subsets
Java regex and Python agree on (\\p{L} ≡ str.isalpha for letters); the pytest
suite cross-checks it against reference_impl.is_valid_entity on fixture data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..reference_impl.entity_filter import GENERIC_TERMS, NOISE_WORDS

_GARBAGE_RLIKE = (
    r"^(\d+|\d+/\d+|\d+:\d+|\d+[.,]\d+|\d+%)$"
    r"|^[$]\d+|^\d+[$]"
    r"|^.{1,2}$"
    r"|^\d+(st|nd|rd|th)$"
)

_GENERIC_TYPES = ("PERSON", "ORG", "GPE", "ORGANIZATION")


def valid_entity_col(text: Column, entity_type: Column) -> Column:
    """Boolean column ≡ reference_impl.is_valid_entity(text, entity_type)."""
    lowered = F.trim(F.lower(text))
    n_words = F.size(F.split(text, r"\s+"))
    alpha_n = F.length(F.regexp_replace(text, r"[^\p{L}]", ""))

    single_word_ok = (
        (F.length(text) >= 3)
        & ~text.rlike(r"^\d+$")
        & ~(entity_type.isin(*_GENERIC_TYPES) & lowered.isin(*sorted(GENERIC_TERMS)))
    )

    return (
        (F.length(text) >= 2)
        & (F.length(text) <= 200)
        & ~lowered.rlike(_GARBAGE_RLIKE)
        & ~lowered.isin(*sorted(NOISE_WORDS))
        & ((n_words > 1) | single_word_ok)
        & (alpha_n > 0)
        & (alpha_n / F.length(text) >= 0.5)
    )


def filter_valid_mentions(mentions: DataFrame) -> DataFrame:
    return mentions.where(valid_entity_col(F.col("text"), F.col("entity_type")))


def aggregate_entities(mentions: DataFrame, doc_col: str = "url") -> DataFrame:
    """Case-insensitive entity dedup (shard-entities/shard.py:483-520 ≡
    groupBy(lower(name), type)): mention_count, doc_count, sorted doc-id set."""
    # doc_count derives from the collected distinct set: a separate
    # countDistinct beside other aggregates plans an Expand (every input
    # row duplicated per aggregate branch — double shuffle volume); the
    # set is collected anyway, so its size IS the distinct count.
    return (
        mentions.groupBy(
            F.lower(F.col("text")).alias("name_lower"),
            F.col("entity_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("mention_count"),
            F.sort_array(F.collect_set(F.col(doc_col))).alias("document_ids"),
        )
        .select(
            "name_lower", "entity_type", "mention_count",
            F.size("document_ids").cast("long").alias("doc_count"),
            "document_ids",
        )
    )


def dedup_relationships(rels: DataFrame) -> DataFrame:
    """E11 relationship dedup of (source_text, target_text, relation_type,
    confidence) rows (shard-entities/shard.py:597-615): the reference
    inserts a relationship only if no row with the same (source_id, target_id,
    relationship_type) exists, where entity ids key on lowercased names — so
    the set semantics are one global dropDuplicates on the lowercased triple,
    keeping the first-seen confidence (min confidence = deterministic stand-in
    for insert order, which the reference doesn't define across workers)."""
    keyed = rels.withColumn("_src", F.lower(F.col("source_text"))).withColumn(
        "_dst", F.lower(F.col("target_text"))
    )
    return (
        keyed.groupBy(F.col("_src").alias("source_lower"),
                      F.col("_dst").alias("target_lower"),
                      F.col("relation_type"))
        .agg(F.min("confidence").alias("confidence"),
             F.count(F.lit(1)).alias("n_evidence"))
    )


# Parse-shard → frame entity-type projection (arkham_shard_parse/shard.py:515-534)
_TYPE_MAP = {
    "PERSON": "PERSON",
    "ORG": "ORGANIZATION",
    "GPE": "LOCATION",
    "FAC": "LOCATION",
    "DATE": "DATE",
    "TIME": "DATE",
    "MONEY": "MONEY",
    "PERCENT": "OTHER",
    "PRODUCT": "PRODUCT",
    "EVENT": "EVENT",
    "LAW": "DOCUMENT",
    "LANGUAGE": "CONCEPT",
    "NORP": "ORGANIZATION",
    "CARDINAL": "OTHER",
    "ORDINAL": "OTHER",
    "QUANTITY": "OTHER",
    "WORK_OF_ART": "DOCUMENT",
    "OTHER": "OTHER",
}
