"""Composite entity-importance scoring.

Reference lineage: arkham-shard-graph/scoring.py (`CompositeScorer`):
- ``calculate_scores`` (:150-234): per-entity composite = normalized
  weights · (centrality, frequency, recency, credibility, corroboration)
  × entity-type weight; rank by composite descending.
- ``_calculate_centrality_scores`` (:236-283): raw centrality normalized
  by the max, node-id → entity-id mapped.
- ``_calculate_frequency_scores`` (:285-330): TF-IDF style — tf =
  distinct-document count (falling back to ``node.document_count`` when
  the entity has no mention docs), idf = ln(total_docs/doc_count + 1),
  normalized by max.
- ``_calculate_recency_scores`` (:332-381): max over mentions of
  exp(−λ·age), λ = ln2 / half-life; no mentions → 0.0, mentions but no
  usable date (or full underflow) → 0.5; disabled half-life → 1.0.
- ``_calculate_credibility_scores`` (:383-424): mean source rating over
  rated mentions, 0.5 neutral everywhere ratings are absent.
- ``_calculate_corroboration_scores`` (:426-462): distinct-source count
  (fallback ``document_count``), score = 1 − 1/count, ≤1 → 0.

The reference scores ONE ≤500-node visualization graph per call in
driver Python; here the component scores and the composition are
corpus-wide DataFrame aggregations (mention tables join once per
component, every agg map-side combinable), so importance ranks over the
full entity graph in a fixed number of shuffles.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window, functions as F

from .driver_lane import bounded_collect, local_frame


@dataclass
class CompositeConfig:
    """ScoreConfig mirror (scoring.py:21-64)."""

    centrality_type: str = "pagerank"
    centrality_weight: float = 0.25
    frequency_weight: float = 0.20
    recency_weight: float = 0.20
    credibility_weight: float = 0.20
    corroboration_weight: float = 0.15
    recency_half_life_days: int | None = 30
    entity_type_weights: dict[str, float] = field(default_factory=dict)

    def normalized_weights(self) -> dict[str, float]:
        total = (
            self.centrality_weight + self.frequency_weight
            + self.recency_weight + self.credibility_weight
            + self.corroboration_weight
        )
        if total == 0:
            return {k: 0.2 for k in (
                "centrality", "frequency", "recency", "credibility",
                "corroboration")}
        return {
            "centrality": self.centrality_weight / total,
            "frequency": self.frequency_weight / total,
            "recency": self.recency_weight / total,
            "credibility": self.credibility_weight / total,
            "corroboration": self.corroboration_weight / total,
        }


# --- corpus-wide component scores + composition --------------------------


def composite_entity_scores(
    nodes: DataFrame,
    mentions: DataFrame | None = None,
    credibility: DataFrame | None = None,
    config: CompositeConfig | None = None,
    reference_date=None,
) -> DataFrame:
    """calculate_scores (:150-234) over DataFrames.

    ``nodes``: (node_id, entity_id, label, entity_type, degree,
    document_count). ``mentions``: (entity_id, document_id, mention_date,
    source_id) — any column may be null. ``credibility``: (source_id,
    rating). Centrality is degree centrality (:255-256, raw = node
    degree). ``reference_date``: an ISO string/date for the recency
    clock — REQUIRED when recency is enabled (the reference defaults to
    utcnow(), :347, which a deterministic engine must pin explicitly).

    Returns one row per node with every component score, the composite,
    source_count, and rank (composite desc, entity_id tiebreak — the
    reference's stable sort ties on input order, which has no
    distributed meaning)."""
    cfg = config or CompositeConfig()
    weights = cfg.normalized_weights()

    n = nodes.select(
        "node_id", "entity_id", "label", "entity_type",
        F.col("degree").cast("long").alias("degree"),
        F.col("document_count").cast("long").alias("document_count"),
    )

    # centrality: raw/max, node-keyed (:271-283)
    cent_raw = n.select("node_id", F.col("degree").cast("double").alias("raw"))
    cent_max = cent_raw.agg(
        F.max(F.when(F.col("raw") > 0, F.col("raw"))).alias("m")
    ).withColumn("_k", F.lit(1))
    cent = (
        cent_raw.withColumn("_k", F.lit(1))
        .join(F.broadcast(cent_max), "_k")
        .select(
            "node_id",
            (F.col("raw") / F.coalesce(F.col("m"), F.lit(1.0))).alias(
                "centrality_score"
            ),
        )
    )

    m = (
        mentions
        if mentions is not None
        else local_frame(
            n.sparkSession,
            [],
            "entity_id string, document_id string, mention_date date, "
            "source_id string",
        )
    )

    # frequency (:285-330): tf·idf over distinct docs, max-normalized
    ent_docs = m.where(F.col("document_id").isNotNull()).groupBy(
        "entity_id"
    ).agg(F.count_distinct("document_id").alias("n_docs"))
    # total_docs counts docs of GRAPH entities only (:296-303)
    total_docs = (
        m.where(F.col("document_id").isNotNull())
        .join(n.select("entity_id").distinct(), "entity_id", "left_semi")
        .agg(F.count_distinct("document_id").alias("total"))
        .withColumn("_k", F.lit(1))
    )
    freq_raw = (
        n.join(ent_docs, "entity_id", "left")
        .withColumn("_k", F.lit(1))
        .join(F.broadcast(total_docs), "_k")
        .select(
            "entity_id",
            F.coalesce("n_docs", F.col("document_count")).alias("dc"),
            F.greatest(F.coalesce("total", F.lit(0)), F.lit(1)).alias(
                "td"
            ),
        )
        .select(
            "entity_id",
            F.when(
                F.col("dc") > 0,
                F.col("dc") * F.log(F.col("td") / F.col("dc") + 1),
            ).otherwise(F.lit(0.0)).alias("raw"),
        )
    )
    freq_max = freq_raw.agg(
        F.max(F.when(F.col("raw") > 0, F.col("raw"))).alias("m")
    ).withColumn("_k", F.lit(1))
    freq = (
        freq_raw.withColumn("_k", F.lit(1))
        .join(F.broadcast(freq_max), "_k")
        .select(
            "entity_id",
            (F.col("raw") / F.coalesce(F.col("m"), F.lit(1.0))).alias(
                "frequency_score"
            ),
        )
    )

    # recency (:332-381): max exp-decay over dated mentions
    if cfg.recency_half_life_days is None:
        rec = n.select("entity_id", F.lit(1.0).alias("recency_score"))
    else:
        if reference_date is None:
            raise ValueError(
                "reference_date is required when recency is enabled — "
                "the engine pins the reference clock explicitly"
            )
        lam = math.log(2) / (cfg.recency_half_life_days * 86400.0)
        # mention_date is DATE-granular: age = datediff·86400, exactly
        # the reference's (ref − midnight-date).total_seconds() when the
        # reference clock is also midnight-pinned (which a deterministic
        # engine requires anyway)
        ref_d = F.lit(str(reference_date)).cast("date")
        age_s = F.greatest(
            F.lit(0.0),
            F.datediff(ref_d, F.col("mention_date")).cast("double")
            * 86400.0,
        )
        per_ent = (
            m.groupBy("entity_id").agg(
                F.max(
                    F.when(
                        F.col("mention_date").isNotNull(),
                        F.exp(-F.lit(lam) * age_s),
                    )
                ).alias("max_rec"),
            )
        )
        rec = n.join(per_ent, "entity_id", "left").select(
            "entity_id",
            F.when(F.col("max_rec") > 0, F.col("max_rec"))
            .when(F.col("max_rec").isNotNull(), F.lit(0.5))
            .otherwise(
                # entity has mention rows but none dated → 0.5; no
                # mention rows at all → 0.0 (:355-357, :379)
                F.lit(None)
            ).alias("r"),
        ).join(
            m.groupBy("entity_id").agg(F.count(F.lit(1)).alias("n_m")),
            "entity_id", "left",
        ).select(
            "entity_id",
            F.coalesce(
                "r",
                F.when(F.coalesce("n_m", F.lit(0)) > 0, 0.5).otherwise(
                    0.0
                ),
            ).alias("recency_score"),
        )

    # credibility (:383-424)
    if credibility is None:
        cred = n.select("entity_id", F.lit(0.5).alias("credibility_score"))
    else:
        rated = m.join(
            credibility.select(
                F.col("source_id").alias("_sid"),
                F.col("rating").cast("double").alias("rating"),
            ),
            m["source_id"] == F.col("_sid"),
        )
        per_ent = rated.groupBy("entity_id").agg(
            F.avg("rating").alias("avg_rating")
        )
        cred = n.join(per_ent, "entity_id", "left").select(
            "entity_id",
            F.coalesce("avg_rating", F.lit(0.5)).alias(
                "credibility_score"
            ),
        )

    # corroboration (:426-462) + source_count (:209-211)
    srcs = m.where(F.col("source_id").isNotNull()).groupBy(
        "entity_id"
    ).agg(F.count_distinct("source_id").alias("n_src"))
    corr = n.join(srcs, "entity_id", "left").select(
        "entity_id",
        F.coalesce("n_src", F.lit(0)).alias("source_count"),
        F.when(
            F.coalesce("n_src", F.lit(0)) <= 0, F.col("document_count")
        ).otherwise(F.col("n_src")).alias("cnt"),
    ).select(
        "entity_id", "source_count",
        F.when(F.col("cnt") <= 1, F.lit(0.0)).otherwise(
            1.0 - 1.0 / F.col("cnt")
        ).alias("corroboration_score"),
    )

    # type weight + composite (:197-207)
    tw = F.lit(1.0)
    for etype, wgt in cfg.entity_type_weights.items():
        tw = F.when(F.col("entity_type") == etype, F.lit(float(wgt))).otherwise(tw)

    out = (
        n.join(cent, "node_id")
        .join(freq, "entity_id")
        .join(rec, "entity_id")
        .join(cred, "entity_id")
        .join(corr, "entity_id")
        .withColumn(
            "composite_score",
            (
                F.lit(weights["centrality"]) * F.col("centrality_score")
                + F.lit(weights["frequency"]) * F.col("frequency_score")
                + F.lit(weights["recency"]) * F.col("recency_score")
                + F.lit(weights["credibility"]) * F.col("credibility_score")
                + F.lit(weights["corroboration"])
                * F.col("corroboration_score")
            ) * tw,
        )
    )
    # Global rank over ALL scored entities without an unpartitioned
    # row_number window (single-partition WindowExec at scale). The scored
    # frame is materialized once (slim scalar columns); bounded entity
    # sets (≤ cap) rank on the driver over collected (entity_id, score)
    # keys — identical total order (doubles, unique entity_id tiebreak) —
    # re-attached as a broadcast map. Larger sets take the distributed
    # form: range-partition by the rank key (boundaries pinned by a second
    # checkpoint so the per-partition counts and the final plan see the
    # SAME assignment), rank = rows-in-earlier-partitions + keyed
    # row_number. Keys are unique, so both forms equal the original
    # row_number exactly.
    spark = out.sparkSession
    out_cols = [
        "node_id", "entity_id", "label", "entity_type",
        "centrality_score", "frequency_score", "recency_score",
        "credibility_score", "corroboration_score", "composite_score",
        "degree", "document_count", "source_count", "rank",
    ]
    order = [F.desc("composite_score"), F.asc("entity_id")]
    base = out.localCheckpoint(eager=True)
    keys = bounded_collect(base.select("entity_id", "composite_score"), 100_000)
    if keys is not None:
        keys.sort(key=lambda r: (-r["composite_score"], r["entity_id"]))
        rank_df = local_frame(
            spark,
            [(r["entity_id"], i + 1) for i, r in enumerate(keys)],
            "entity_id string, rank int",
        )
        return base.join(F.broadcast(rank_df), "entity_id").select(*out_cols)

    nparts = max(2, spark.sparkContext.defaultParallelism)
    parted = (
        base.repartitionByRange(nparts, *order)
        .withColumn("_b", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_b"]: r["n"]
        for r in parted.groupBy("_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_expr = (
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
            ),
            F.col("_b"),
        )
        if offsets
        else F.lit(0)
    )
    rank_w = Window.partitionBy("_b").orderBy(*order)
    return parted.withColumn(
        "rank", (F.row_number().over(rank_w) + off_expr).cast("int")
    ).select(*out_cols)
