"""Temporal graph evolution — the per-snapshot summary series.

Reference lineage: arkham-shard-graph/temporal.py (`TemporalGraphEngine`):
- ``generate_snapshots`` (:189-265) + ``get_snapshot_at`` (:267-407):
  snapshots at interval steps (interval re-widened to fit the reference's
  max_snapshots=50, :229-233). Snapshot membership is MENTION-driven:
  an entity is present iff it has a mention passing the date filter
  (cumulative ``created_at <= ts``, or the inclusive window
  ``ts - interval <= created_at <= ts``, :298-306); an edge is present
  iff some document carries in-filter mentions of both entities
  (:344-363). Each snapshot records added/removed node and edge sets vs
  the previous snapshot (:249-256; snapshot 0 diffs the empty set) and
  the n(n−1)/2 density (:384-388).

The reference materializes every snapshot with one SQL round trip per
snapshot and diffs sets in driver Python. Here nothing is materialized
per snapshot:

- cumulative mode: membership is monotone, so each element reduces to
  its FIRST-member snapshot index (entities: min mention date; edges:
  min over docs of max(first mention of either endpoint in that doc))
  — counts come from one broadcast range-join against the
  ≤50-snapshot frame, added = the k_first group,
  removals are structurally zero.
- windowed mode: each mention lands in at most TWO windows (step ==
  window, inclusive bounds), so the membership frame is ≤2× the
  mention count — never |snapshots|× — and added/removed are two
  anti-joins against the k−1 shift.

Both modes cost a fixed number of shuffles regardless of snapshot
count; the reference's ORDER BY … LIMIT 500/1000 caps (:323, :362) are
visualization caps, deliberately absent from the corpus-scale series
(the repo-wide cap convention for graph lanes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _fit_interval(start, end, interval_days: int, max_snapshots: int) -> int:
    """The max_snapshots re-widening rule (:229-233) on driver ints."""
    total_days = (end - start).days
    total_intervals = max(1, total_days // max(1, interval_days))
    if total_intervals > max_snapshots:
        interval_days = max(1, total_days // max_snapshots)
    return interval_days


def _snaps_frame(spark, start, n_snap: int, interval_days: int):
    return spark.range(n_snap).select(
        F.col("id").alias("k"),
        F.date_add(
            F.lit(str(start)).cast("date"),
            (F.col("id") * interval_days).cast("int"),
        ).alias("snap_date"),
    )


def _pair_first(de_first: DataFrame) -> DataFrame:
    """(source, target, d0): per-document co-presence pairs, pair-doc
    first date = max of the endpoints' first mention dates in that doc,
    pair first date = min over docs — the cumulative-mode edge clock
    (temporal.py:350, MIN(GREATEST(m1.created_at, m2.created_at)))."""
    a, b = de_first.alias("a"), de_first.alias("b")
    return (
        a.join(
            b,
            (F.col("a.document_id") == F.col("b.document_id"))
            & (F.col("a.entity_id") < F.col("b.entity_id")),
        )
        .select(
            F.col("a.entity_id").alias("source"),
            F.col("b.entity_id").alias("target"),
            F.greatest(F.col("a.d0"), F.col("b.d0")).alias("pd0"),
        )
        .groupBy("source", "target")
        .agg(F.min("pd0").alias("d0"))
    )


def _entity_pairs_per_doc(de: DataFrame, extra_keys: list[str]):
    """Self-join document-level entity presence into unordered pairs —
    the co-mention shape (temporal.py:351-354, m1.entity_id <
    m2.entity_id)."""
    keys = ["document_id", *extra_keys]
    a = de.alias("a")
    b = de.alias("b")
    cond = F.col("a.entity_id") < F.col("b.entity_id")
    for kcol in keys:
        cond = cond & (F.col(f"a.{kcol}") == F.col(f"b.{kcol}"))
    sel = [
        F.col("a.entity_id").alias("source"),
        F.col("b.entity_id").alias("target"),
        *[F.col(f"a.{kcol}").alias(kcol) for kcol in keys],
    ]
    return a.join(b, cond).select(*sel)


def snapshot_series(
    mentions: DataFrame,
    start,
    end,
    interval_days: int,
    cumulative: bool,
) -> DataFrame:
    """The per-snapshot summary stream of generate_snapshots over
    (entity_id, document_id, created_at) mentions: one row per snapshot
    (at most 50) with node/edge counts, density, and added/removed counts
    vs the previous snapshot."""
    spark = mentions.sparkSession
    interval_days = _fit_interval(start, end, interval_days, 50)
    n_snap = (end - start).days // interval_days + 1
    snaps = _snaps_frame(spark, start, n_snap, interval_days)

    m = mentions.select(
        "entity_id", "document_id", F.to_date("created_at").alias("d")
    ).where(F.col("d").isNotNull())

    if cumulative:
        # entity first-member index: smallest k with snap_date >= min d
        ent_first = m.groupBy("entity_id").agg(F.min("d").alias("d0"))
        # doc-level first presence per entity, then pair-first
        de_first = m.groupBy("document_id", "entity_id").agg(
            F.min("d").alias("d0")
        )
        pairs = _pair_first(de_first)

        def summarize(el: DataFrame, prefix: str) -> DataFrame:
            days = F.datediff(F.col("d0"), F.lit(str(start)).cast("date"))
            kf = F.greatest(
                F.ceil(days / F.lit(interval_days)), F.lit(0)
            ).alias("k_first")
            sp = el.select(kf).where(F.col("k_first") < n_snap)
            counts = (
                sp.crossJoin(F.broadcast(snaps))
                .where(F.col("k") >= F.col("k_first"))
                .groupBy("k")
                .agg(F.count(F.lit(1)).alias(f"{prefix}_count"))
            )
            added = sp.groupBy(F.col("k_first").alias("k")).agg(
                F.count(F.lit(1)).alias(f"{prefix}s_added")
            )
            return (
                snaps.join(counts, "k", "left")
                .join(added, "k", "left")
                .select(
                    "k",
                    F.coalesce(f"{prefix}_count", F.lit(0)).alias(
                        f"{prefix}_count"
                    ),
                    F.coalesce(f"{prefix}s_added", F.lit(0)).alias(
                        f"{prefix}s_added"
                    ),
                    F.lit(0).alias(f"{prefix}s_removed"),
                )
            )

        node_sum = summarize(ent_first, "node")
        edge_sum = summarize(pairs, "edge")
    else:
        member_n, member_e = _window_memberships(
            m, snaps, interval_days
        )

        def summarize(mem: DataFrame, keys: list[str], prefix: str):
            counts = mem.groupBy("k").agg(
                F.count(F.lit(1)).alias(f"{prefix}_count")
            )
            prev = mem.select(
                *keys, (F.col("k") + 1).alias("k")
            ).where(F.col("k") < n_snap)
            added = (
                mem.join(prev, [*keys, "k"], "left_anti")
                .groupBy("k")
                .agg(F.count(F.lit(1)).alias(f"{prefix}s_added"))
            )
            removed = (
                prev.join(mem, [*keys, "k"], "left_anti")
                .groupBy("k")
                .agg(F.count(F.lit(1)).alias(f"{prefix}s_removed"))
            )
            return (
                snaps.join(counts, "k", "left")
                .join(added, "k", "left")
                .join(removed, "k", "left")
                .select(
                    "k",
                    F.coalesce(f"{prefix}_count", F.lit(0)).alias(
                        f"{prefix}_count"
                    ),
                    F.coalesce(f"{prefix}s_added", F.lit(0)).alias(
                        f"{prefix}s_added"
                    ),
                    F.coalesce(f"{prefix}s_removed", F.lit(0)).alias(
                        f"{prefix}s_removed"
                    ),
                )
            )

        node_sum = summarize(member_n, ["entity_id"], "node")
        edge_sum = summarize(member_e, ["source", "target"], "edge")

    n = F.col("node_count")
    e = F.col("edge_count")
    max_edges = F.when(n > 1, n * (n - 1) / 2).otherwise(F.lit(1.0))
    return (
        node_sum.join(edge_sum, "k")
        .join(snaps, "k")
        .select(
            F.col("k").cast("long").alias("snapshot_idx"),
            F.col("snap_date").alias("snapshot_date"),
            n.cast("long").alias("node_count"),
            e.cast("long").alias("edge_count"),
            (e / max_edges).alias("density"),
            F.col("nodes_added").cast("long"),
            F.col("nodes_removed").cast("long"),
            F.col("edges_added").cast("long"),
            F.col("edges_removed").cast("long"),
        )
    )


def _window_memberships(m: DataFrame, snaps, interval_days: int):
    """Distinct (entity, k) and (source, target, k) window memberships.
    Each mention joins at most two windows (inclusive bounds, step ==
    window), so the expansion is ≤2×|mentions|."""
    in_window = (F.col("d") <= F.col("snap_date")) & (
        F.col("d") >= F.date_sub(F.col("snap_date"), interval_days)
    )
    mk = m.crossJoin(F.broadcast(snaps)).where(in_window)
    member_n = mk.select("entity_id", "k").distinct()
    dek = mk.select("document_id", "entity_id", "k").distinct()
    member_e = _entity_pairs_per_doc(dek, ["k"]).select(
        "source", "target", "k"
    ).distinct()
    return member_n, member_e
