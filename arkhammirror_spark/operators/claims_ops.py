"""Claims similarity + merge lanes — native Spark restatement.

Reference lineage: arkham-shard-claims/shard.py —
- ``find_similar_claims`` (:880-924): per-claim similar-claim matches.
  Vector arm (:894-908): vector-service search, ``match_type="semantic"``,
  ``suggested_action = "merge" if score >= 0.95 else "review"``.
  Fallback arm (:909-922): word-set Jaccard (``_simple_similarity``,
  :1321-1330 — lowercase whitespace split, distinct words,
  |A∩B| / |A∪B|) against every other claim, ``match_type="fuzzy"``,
  ``suggested_action="review"``; both arms keep score ≥ threshold, sort
  by score descending, truncate to ``limit``.
- ``merge_claims`` (:926-983): per duplicate group, transfer evidence
  rows to the primary claim, union the merged claims' entity links into
  the primary, mark merged claims RETRACTED with a "Merged into {id}"
  note, then recount the primary's evidence
  (``_update_claim_evidence_counts``, :1187-1234 — total / supports /
  refutes).

The reference resolves ONE claim (or one merge group) per service call,
scanning up to 1000 claims in driver Python; here both lanes run
corpus-wide. Candidates for the fuzzy arm come from
``operators.contradictions.candidate_claim_pairs`` (shared-rare-token ∪
masked-fingerprint blocking — the skew design documented there), so the
whole corpus pairs in one shuffle instead of O(n) service calls. Only
the fallback arm is restated; the vector arm needs the vector service.
The merge lane is the claims analogue of
``operators.dedup.merge_documents``: the member→primary map drives
set-oriented joins (one per reference table + one count agg), so a
100-TB corpus merges in a constant number of shuffles instead of
per-claim UPDATE round trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .contradictions import candidate_claim_pairs

# find_similar_claims' word-Jaccard cut
_SIMILAR_THRESHOLD = 0.8


def _ranked_matches(pairs: DataFrame) -> DataFrame:
    """Symmetrize unordered (id_a < id_b) `similarity` pairs into
    per-claim match lists: score ≥ _SIMILAR_THRESHOLD, sorted score-desc
    (matched-id tiebreak for determinism — the reference's sort is stable
    on DB order, which has no cross-engine meaning), truncated to 10 per
    claim (shard.py:924), tagged fuzzy/review like the reference's
    fallback arm.
    """
    sym = pairs.select(
        F.col("id_a").alias("claim_id"),
        F.col("id_b").alias("matched_claim_id"),
        F.col("similarity").alias("similarity_score"),
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("claim_id"),
            F.col("id_a").alias("matched_claim_id"),
            F.col("similarity").alias("similarity_score"),
        )
    )
    w = Window.partitionBy("claim_id").orderBy(
        F.desc("similarity_score"), F.asc("matched_claim_id")
    )
    return (
        sym.where(F.col("similarity_score") >= _SIMILAR_THRESHOLD)
        .withColumn("match_rank", F.row_number().over(w))
        .where(F.col("match_rank") <= 10)
        .withColumn("match_type", F.lit("fuzzy"))
        .withColumn("suggested_action", F.lit("review"))
        .select(
            "claim_id", "matched_claim_id", "similarity_score",
            "match_type", "suggested_action", "match_rank",
        )
    )


def similar_claims(claims: DataFrame, df_cap: int | None = None) -> DataFrame:
    """Corpus-wide ``find_similar_claims`` fallback arm (shard.py:909-922)
    over (claim_id, claim_text): word-set Jaccard ≥ 0.8, fuzzy/review,
    top-10 per claim.

    ``candidate_claim_pairs`` computes the exact ``_simple_similarity``
    word-Jaccard over every candidate's FULL word sets — only candidate
    GENERATION is blocked (rare-token ∪ masked-fingerprint), with the
    recall contract documented in operators.contradictions. At threshold
    0.8 a qualifying pair shares ≥ 80% of its vocabulary, so a
    miss requires every shared token to sit above the DF cap AND the
    masked fingerprints to differ — boilerplate-only near-identical pairs
    block through the fingerprint channel by construction.
    """
    pairs = candidate_claim_pairs(
        claims, threshold=_SIMILAR_THRESHOLD, df_cap=df_cap
    )
    return _ranked_matches(pairs)


def merge_claims(
    claims: DataFrame,
    merge_plan: DataFrame,
    evidence: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Batch ``merge_claims`` (shard.py:926-983) over ALL merge groups.

    Inputs: ``claims`` keyed by ``claim_id`` with optional ``status`` and
    an ``entity_ids`` array of linked entity ids; ``merge_plan`` =
    (primary_claim_id, member_id) rows — e.g.
    :func:`operators.dedup.duplicate_groups` output renamed;
    ``evidence`` keyed by ``evidence_id`` with ``claim_id`` and
    ``relationship`` ('supports' / 'refutes' / other).

    Returns frames mirroring the reference's effects:

    - ``results`` — one row per primary: ``evidence_transferred`` (count
      of evidence rows moved, :932,944), ``entities_merged`` (distinct
      entity ids collected across merged claims, :933,949 — counted
      whether or not the primary already links them, matching the
      reference's set semantics), ``merged_count``.
    - ``claim_states`` — post-merge status per touched claim: members
      RETRACTED with ``notes = 'Merged into {primary}'`` (:951-956),
      primaries keep status but get the entity union (:958-962, sorted
      comma-joined for a deterministic scalar) and recounted
      ``evidence_count`` / ``supporting_count`` / ``refuting_count``
      (:964, :1187-1234).
    - ``evidence_out`` — evidence with ``claim_id`` re-pointed to the
      primary (:940-944).
    """
    plan = (
        merge_plan.select(
            F.col("primary_claim_id").alias("_primary"),
            F.col("member_id").alias("_member"),
        )
        # the reference skips members equal to the primary (:936)
        .where(F.col("_member") != F.col("_primary"))
        .distinct()
    )

    c = claims.withColumnRenamed("claim_id", "_cid")
    ent = F.col("entity_ids") if "entity_ids" in claims.columns else F.array()

    # evidence re-pointing: one left join against the member->primary map
    if evidence is not None:
        ev_map = plan.select(
            F.col("_member").alias("_ev_member"),
            F.col("_primary").alias("_ev_primary"),
        )
        evidence_out = (
            evidence.join(
                ev_map, evidence["claim_id"] == F.col("_ev_member"), "left"
            )
            .withColumn(
                "claim_id",
                F.coalesce(F.col("_ev_primary"), F.col("claim_id")),
            )
            .drop("_ev_member", "_ev_primary")
        )
        transferred = (
            evidence.join(ev_map, evidence["claim_id"] == F.col("_ev_member"))
            .groupBy(F.col("_ev_primary").alias("_primary"))
            .agg(F.count(F.lit(1)).alias("evidence_transferred"))
        )
    else:
        evidence_out = None
        transferred = plan.groupBy("_primary").agg(
            F.lit(0).cast("bigint").alias("evidence_transferred")
        )

    # entity union across each group's MERGED members (:947-949)
    member_entities = (
        plan.join(c, plan["_member"] == c["_cid"])
        .select("_primary", F.explode_outer(ent).alias("_eid"))
    )
    merged_ents = member_entities.groupBy("_primary").agg(
        F.count_distinct("_eid").alias("entities_merged"),
        F.array_sort(
            F.array_distinct(F.collect_list("_eid"))
        ).alias("_merged_eids"),
    )

    group_sizes = plan.groupBy("_primary").agg(
        F.count(F.lit(1)).alias("merged_count")
    )
    results = (
        group_sizes.join(transferred, "_primary", "left")
        .join(merged_ents.select("_primary", "entities_merged"), "_primary", "left")
        .select(
            F.col("_primary").alias("primary_claim_id"),
            "merged_count",
            F.coalesce("evidence_transferred", F.lit(0)).cast("bigint").alias(
                "evidence_transferred"
            ),
            F.coalesce("entities_merged", F.lit(0)).cast("bigint").alias(
                "entities_merged"
            ),
        )
    )

    # post-merge claim states for every touched claim
    members = plan.select(
        F.col("_member").alias("_cid"), F.col("_primary").alias("_into")
    )
    status_col = (
        F.col("status") if "status" in claims.columns else F.lit("unverified")
    )
    member_states = (
        c.join(members, "_cid")
        .select(
            F.col("_cid").alias("claim_id"),
            F.lit("retracted").alias("status"),
            F.concat(
                F.lit("Merged into "), F.col("_into").cast("string")
            ).alias("notes"),
            F.lit("member").alias("merge_role"),
            F.concat_ws(",", F.array_sort(ent)).alias("entity_ids_out"),
            F.lit(0).cast("bigint").alias("evidence_count"),
            F.lit(0).cast("bigint").alias("supporting_count"),
            F.lit(0).cast("bigint").alias("refuting_count"),
        )
    )

    primaries = c.join(
        merged_ents.withColumnRenamed("_primary", "_cid"), "_cid"
    ).select(
        F.col("_cid"),
        status_col.alias("status"),
        F.array_sort(
            F.array_union(F.coalesce(ent, F.array()), F.col("_merged_eids"))
        ).alias("_eids_out"),
    )
    if evidence_out is not None:
        ev_counts = evidence_out.groupBy("claim_id").agg(
            F.count(F.lit(1)).alias("evidence_count"),
            F.count_if(F.col("relationship") == "supports").alias(
                "supporting_count"
            ),
            F.count_if(F.col("relationship") == "refutes").alias(
                "refuting_count"
            ),
        )
        primaries = primaries.join(
            ev_counts, primaries["_cid"] == ev_counts["claim_id"], "left"
        ).drop("claim_id")
    else:
        primaries = (
            primaries.withColumn("evidence_count", F.lit(None))
            .withColumn("supporting_count", F.lit(None))
            .withColumn("refuting_count", F.lit(None))
        )
    primary_states = primaries.select(
        F.col("_cid").alias("claim_id"),
        "status",
        F.lit("").alias("notes"),
        F.lit("primary").alias("merge_role"),
        F.concat_ws(",", F.col("_eids_out")).alias("entity_ids_out"),
        F.coalesce("evidence_count", F.lit(0)).cast("bigint").alias(
            "evidence_count"
        ),
        F.coalesce("supporting_count", F.lit(0)).cast("bigint").alias(
            "supporting_count"
        ),
        F.coalesce("refuting_count", F.lit(0)).cast("bigint").alias(
            "refuting_count"
        ),
    )
    claim_states = member_states.unionByName(primary_states)

    out = {"results": results, "claim_states": claim_states}
    if evidence_out is not None:
        out["evidence_out"] = evidence_out
    return out
