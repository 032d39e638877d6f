"""Entity linking.

Reference lineage:
- E12 linker (arkham-shard-parse/linkers/entity_linker.py:30-147): exact
  match → fuzzy (a stub returning no-match in the reference) → create-new.
  Spark restatement: one left join per strategy, confidence 1.0 for exact;
  the fuzzy tier is implemented (Levenshtein ≤ 2 on lowercase, best match by
  smallest distance then name) as the documented extension point the
  reference left open ("In production: Use Levenshtein distance").

Fuzzy-tier scale design: a raw `lev(m, c) <= k` theta-join compiles to a
BroadcastNestedLoopJoin — O(mentions × canonicals) edit-distance calls
(10^15 at 10^9 × 10^6). Instead we BLOCK on an equi-key (first character ×
length bucket, mention side exploded to the ±1 neighboring buckets so every
|len diff| <= k pair lands in a shared bucket) and Levenshtein-verify inside
the block. The first-character constraint is the one documented
approximation (a pair whose edit touches position 0 is missed); length
bucketing loses nothing for k < bucket width. Plans: shuffled hash/sort-merge
equi-join, never a nested loop (asserted in tests/test_plan_hygiene.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def link_mentions(mentions: DataFrame, canonical: DataFrame) -> DataFrame:
    """Attach (canonical_id, link_confidence, link_reason) to each
    mention's `text`: an exact match on the canonical `name_lower`, else
    the nearest name within Levenshtein distance 2."""
    m = mentions.withColumn("_mlow", F.lower(F.col("text")))
    c = canonical.select(
        F.col("name_lower").alias("_clow"), F.col("canonical_id").alias("_cid")
    )

    exact = m.join(F.broadcast(c), m["_mlow"] == c["_clow"], "left").select(
        *mentions.columns,
        F.col("_mlow"),
        F.col("_cid").alias("_exact_id"),
    )

    unmatched = exact.where(F.col("_exact_id").isNull()).drop("_exact_id")
    matched = exact.where(F.col("_exact_id").isNotNull()).select(
        *mentions.columns,
        F.col("_exact_id").alias("canonical_id"),
        F.lit(1.0).alias("link_confidence"),
        F.lit("exact_match").alias("link_reason"),
    )

    # --- fuzzy tier: blocked equi-join + in-block Levenshtein verify --------
    bucket_w = 4  # bucket width > k=2 ⇒ |len diff|<=k spans <=1 bucket boundary
    m_blocked = unmatched.withColumn(
        "_blk",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.substring(F.col("_mlow"), 1, 1),
                        ((F.length("_mlow") / bucket_w).cast("int") + d).cast("string"),
                    )
                    for d in (-1, 0, 1)
                ]
            )
        ),
    )
    c_blocked = c.withColumn(
        "_blk",
        F.concat_ws(
            "|",
            F.substring(F.col("_clow"), 1, 1),
            (F.length("_clow") / bucket_w).cast("int").cast("string"),
        ),
    )
    # bounded levenshtein (threshold form early-exits at k+1 → O(k·len) per
    # pair instead of O(len²)); returns -1 above the bound → null out
    dist = F.when(
        F.col("_clow").isNotNull()
        & (F.abs(F.length("_mlow") - F.length("_clow")) <= 2),
        F.nullif(
            F.levenshtein(F.col("_mlow"), F.col("_clow"), 2),
            F.lit(-1),
        ),
    )
    fz = (
        m_blocked.join(c_blocked, "_blk", "left")
        .withColumn("_dist", dist)
        .withColumn("_cid", F.when(F.col("_dist").isNotNull(), F.col("_cid")))
        .withColumn("_clow", F.when(F.col("_dist").isNotNull(), F.col("_clow")))
    )
    w = Window.partitionBy(*[F.col(x) for x in mentions.columns]).orderBy(
        F.asc_nulls_last("_dist"), F.asc_nulls_last("_clow")
    )
    fuzzy = (
        fz.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            *mentions.columns,
            F.col("_cid").alias("canonical_id"),
            F.when(F.col("_cid").isNotNull(), 1.0 - F.col("_dist") / 10.0)
            .otherwise(0.0)
            .alias("link_confidence"),
            F.when(F.col("_cid").isNotNull(), "fuzzy_match")
            .otherwise("no_match")
            .alias("link_reason"),
        )
    )
    return matched.unionByName(fuzzy)
