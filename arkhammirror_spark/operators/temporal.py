"""Temporal joins Spark's API lacks: as-of join and range join, built as
compositions of existing DataFrame ops (no UDF, no nested-loop join).

- `asof_join`: for every left row, the single latest right row with the
  same key and right_ts ≤ left_ts (the time-series standard; DuckDB/kdb
  `ASOF JOIN`). Spark has no operator for this, and the naive formulation
  (inequality join + per-left max) is a BroadcastNestedLoopJoin that
  explodes at scale. Here it is ONE union + ONE window: tag both sides,
  sort within key by (ts, side) with right rows first on ties, and carry
  the last non-null right payload forward. Cost = one shuffle on the key,
  O(n log n) per key — the merge-join shape a purpose-built engine uses.

- `range_join`: left rows matched to right INTERVALS containing them
  (point-in-interval). The naive `l.ts BETWEEN r.start AND r.end` is a
  nested-loop at scale; here intervals and points are bucketed into
  fixed-width time bins (intervals explode into every bin they overlap),
  the join is an EQUI-join on (key, bin), and the exact containment
  predicate refines. Bin width trades fan-out for candidate precision —
  set it near the typical interval length.

Both have exact DuckDB oracles (native ASOF JOIN / plain inequality
join), so the scale-shaped plans are value-pinned against the obvious
semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
) -> DataFrame:
    """Every left row + the latest right row with right_ts ≤ left_ts on
    the same key, as right_<c> columns for right_ts and each of
    `right_cols`. They come back null when no right row precedes the left
    row.

    Ties (right_ts == left_ts) match; multiple right rows
    at the SAME (key, ts) resolve to the one whose payload sorts last —
    deterministic under any partitioning (the window orders by every
    carried column).
    """
    lt = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    rt = (
        right.select(
            F.col(key),
            F.col(right_ts).alias("_ts"),
            F.struct(*[F.col(c) for c in [right_ts, *right_cols]]).alias("_r"),
        )
        .withColumn("_side", F.lit(0))
    )
    lt = lt.withColumn("_r", F.lit(None).cast(rt.schema["_r"].dataType))
    unioned = lt.select(
        key, "_ts", "_side", "_r",
        *[c for c in left.columns if c not in (key,)],
    ).unionByName(
        rt.select(
            key, "_ts", "_side", "_r",
            *[F.lit(None).cast(lt.schema[c].dataType).alias(c)
              for c in left.columns if c != key],
        )
    )
    # right rows sort before left at equal ts (≤ semantics). "_r" in the
    # ordering makes same-ts right duplicates resolve deterministically
    # (last payload wins).
    w = (
        Window.partitionBy(key)
        .orderBy(
            F.col("_ts").asc(), F.col("_side").asc(), F.col("_r").asc_nulls_first()
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = unioned.withColumn(
        "_match", F.last("_r", ignorenulls=True).over(w)
    )
    out = matched.where(F.col("_side") == 1).select(
        *[c for c in left.columns],
        *[
            F.col("_match").getField(c).alias(f"right_{c}")
            for c in [right_ts, *right_cols]
        ],
    )
    return out


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    point_ts: str,
    start_ts: str,
    end_ts: str,
) -> DataFrame:
    """points ⋈ intervals where start_ts ≤ point_ts ≤ end_ts on the same
    key, as a bin-bucketed (one-hour bins) inner EQUI-join + exact refine
    (no nested loop).

    Every interval lands in each bin it overlaps (explode over the bin
    sequence); points land in exactly one bin; candidates = equi-join on
    (key, bin); duplicates from multi-bin intervals are impossible since a
    point matches an interval in precisely the point's own bin.
    """
    def _epoch_s(name: str):
        # works for TIMESTAMP and TIMESTAMP_NTZ alike (unix_timestamp
        # rejects NTZ under ANSI; the driver's testdata ts columns are NTZ)
        return F.expr(
            "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
            f"CAST({name} AS TIMESTAMP_NTZ))"
        )

    p_bin = F.floor(_epoch_s(point_ts) / 3600)
    p = points.withColumn("_bin", p_bin.cast("long"))
    i_bins = F.sequence(
        F.floor(_epoch_s(start_ts) / 3600).cast("long"),
        F.floor(_epoch_s(end_ts) / 3600).cast("long"),
    )
    i = intervals.where(F.col(start_ts) <= F.col(end_ts)).withColumn(
        "_bin", F.explode(i_bins)
    )
    joined = p.join(i, [key, "_bin"], "inner").where(
        (F.col(point_ts) >= F.col(start_ts)) & (F.col(point_ts) <= F.col(end_ts))
    )
    return joined.drop("_bin")
