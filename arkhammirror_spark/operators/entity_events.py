"""Entity-event linking and entity timelines (Spark-first).

Re-expresses the reference TimelineShard's entity-linking surface as
DataFrame algebra:

- ``entity_name_index``      — the name/alias match list the reference
  builds driver-side (shard.py:559-664: primary names always included;
  an alias only if its lowercased string was not already claimed by any
  earlier name or alias in row order).
- ``link_entities_to_events`` — `_link_entities_to_events`
  (shard.py:559-664): case-insensitive word-boundary matching of entity
  names/aliases in event text, matched entity-ids unioned into the
  event's existing ``entities``. The reference iterates names
  longest-first with a per-entity skip, but that skip is a pure
  optimization — the matched SET is order-independent (an entity matches
  iff ANY of its names matches), so a join computes the same set.
- ``entity_timeline`` / ``entity_timeline_summary`` —
  `get_entity_timeline` (shard.py:485-557): filter events containing the
  entity, optional date range, min/max date range + related entities.

Scale shape: never cartesian. Event text is tokenized once
(``(?U)\\W+`` split, distinct tokens) and candidates come from an
equi-join on the index entry's FIRST word token — sound because a
``\\b name \\b`` regex match forces every word-token of the name to
appear as a complete token of the text (the name's internal non-word
chars and the boundary context delimit them). The full word-boundary
regex then verifies candidates JVM-side (RLIKE with a column pattern —
no Python in the plan). Index entries whose name has no word character
at all (pure punctuation; vanishingly rare) fall back to a
broadcast-join arm against the events so correctness never depends on
the blocking key. The index frame is tiny relative to the corpus
(entities ≪ events) and is always broadcast.

Determinism: the reference's alias-suppression depends on DB fetch
order; here row order is pinned by ``order_col`` (default: the entity
id), and the output ``entities`` array is sorted.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window, functions as F

# Java regex literal quoting for a lowercased name: wrap in \Q...\E and
# split any embedded \E terminator (the standard \Q-quoting escape).
_QUOTE_OPEN = "(?U)\\b\\Q"
_QUOTE_CLOSE = "\\E\\b"


def _literal_pattern(lower_col):
    escaped = F.replace(lower_col, F.lit("\\E"), F.lit("\\E\\\\E\\Q"))
    return F.concat(F.lit(_QUOTE_OPEN), escaped, F.lit(_QUOTE_CLOSE))


def entity_name_index(
    entities: DataFrame, id_col: str, order_col: str | None
) -> DataFrame:
    """(entity_id, match_lower, first_token, pattern) match list from the
    entities' `name` and (when present) `aliases` columns.

    Reference rules (shard.py:583-625): rows with NULL/empty name are
    skipped; every primary name enters the list; an alias enters only if
    its lowercase form was not already claimed by ANY earlier item (name
    or alias) in (row, item) order — equivalently, iff its position is
    the minimum over items sharing the lowercase string. Positions are
    (order_col value, item_idx) structs, so no global sort is needed.
    """
    order_col = order_col or id_col
    base = entities.where(F.col("name").isNotNull() & (F.col("name") != ""))
    names = base.select(
        F.col(id_col).alias("entity_id"),
        F.lower(F.col("name")).alias("match_lower"),
        F.struct(
            F.col(order_col).alias("r"), F.lit(0).alias("i")
        ).alias("pos"),
        F.lit(True).alias("is_name"),
    )
    items = names
    if "aliases" in entities.columns:
        aliases = base.select(
            F.col(id_col).alias("entity_id"),
            F.col(order_col).alias("_r"),
            F.posexplode(F.col("aliases")).alias("_i", "_alias"),
        ).where(
            F.col("_alias").isNotNull() & (F.col("_alias") != "")
        ).select(
            "entity_id",
            F.lower(F.col("_alias")).alias("match_lower"),
            F.struct(
                F.col("_r").alias("r"), (F.col("_i") + 1).alias("i")
            ).alias("pos"),
            F.lit(False).alias("is_name"),
        )
        items = names.unionByName(aliases)
    w = Window.partitionBy("match_lower")
    kept = (
        items.withColumn("_min_pos", F.min("pos").over(w))
        .where(F.col("is_name") | (F.col("pos") == F.col("_min_pos")))
        .select("entity_id", "match_lower")
        .distinct()
    )
    return kept.select(
        "entity_id",
        "match_lower",
        F.regexp_extract(F.col("match_lower"), r"(?U)\w+", 0).alias(
            "first_token"
        ),
        _literal_pattern(F.col("match_lower")).alias("pattern"),
    )


def link_entities_to_events(
    events: DataFrame,
    entities: DataFrame,
    event_id_col: str = "id",
    entity_id_col: str = "entity_id",
    order_col: str | None = None,
) -> DataFrame:
    """Events with ``entities`` = sorted(existing ∪ entity ids matched
    in their ``text``); the name index is broadcast.

    Matching is `re.search(r'\\b' + re.escape(name_lower) + r'\\b',
    text_lower)` per the reference (shard.py:636-648), run JVM-side as
    RLIKE over \\Q-quoted patterns. Events with NULL/empty text — and
    events matching nothing — keep their existing ``entities`` value
    untouched (including NULL), exactly like the reference's
    ``continue`` / no-merge paths. Event ids are assumed unique (the
    reference links a list of distinct event objects); duplicate ids
    would pool their matches through the groupBy.
    """
    from .spread import spread

    idx = entity_name_index(entities, entity_id_col, order_col)
    # spread: the tokenize explode + RLIKE verify below inherit a one-task
    # scan otherwise (single-file bench inputs); no-op at real scale
    ev = spread(events, event_id_col).select(
        F.col(event_id_col).alias("_eid"),
        F.lower(F.col("text")).alias("_tl"),
    ).where(F.col("_tl").isNotNull() & (F.col("_tl") != ""))

    # blocked arm: candidate (event, index entry) pairs share a word token
    tokens = ev.select(
        "_eid",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.col("_tl"), r"(?U)\W+"),
                    lambda t: F.length(t) > 0,
                )
            )
        ).alias("_tok"),
    )
    # hint at the join site (hinting the shared index frame would also
    # tag the no-token probe below, which has no join)
    tok_idx = F.broadcast(idx.where(F.col("first_token") != ""))
    blocked = tokens.join(
        tok_idx, tokens["_tok"] == F.col("first_token")
    ).select("_eid", "entity_id", "pattern")

    # rare no-word-char names (pure punctuation) can't be token-blocked;
    # they take a broadcast-cross arm bounded by the broadcast side. The
    # arm is added only when such names exist — probed with one tiny job
    # over the index (entities ≪ events) — so the common-case plan stays
    # a pure equi-join with no BroadcastNestedLoopJoin.
    no_tok = idx.where(F.col("first_token") == "")
    cand = blocked
    if no_tok.limit(1).count() > 0:
        cand = cand.unionByName(
            ev.select("_eid").crossJoin(
                F.broadcast(no_tok.select("entity_id", "pattern"))
            )
        )

    matched = (
        cand.join(ev, "_eid")
        .where(F.expr("rlike(_tl, pattern)"))
        .groupBy("_eid")
        .agg(F.collect_set("entity_id").alias("_matched"))
    )

    existing = (
        F.col("entities")
        if "entities" in events.columns
        else F.lit(None).cast("array<string>")
    )
    out_entities = F.when(
        F.col("_matched").isNotNull(),
        F.array_sort(
            F.array_union(
                F.coalesce(existing, F.array().cast("array<string>")),
                F.col("_matched"),
            )
        ),
    ).otherwise(existing)
    joined = events.join(
        matched, events[event_id_col] == matched["_eid"], "left"
    )
    keep = [c for c in events.columns if c != "entities"]
    return joined.select(
        *[events[c] for c in keep], out_entities.alias("entities")
    )


def entity_timeline(
    events: DataFrame, entity_id: str, start: dt.date, end: dt.date
) -> DataFrame:
    """Events whose `entities` mention the entity, `date_start`-range
    filtered
    (get_entity_timeline, shard.py:503-527: events strictly before
    `start` or strictly after `end` are dropped)."""
    return events.where(
        F.array_contains(F.col("entities"), entity_id)
        & (F.col("date_start") >= F.lit(start))
        & (F.col("date_start") <= F.lit(end))
    )


def entity_timeline_summary(
    events: DataFrame, entity_id: str, start: dt.date, end: dt.date
) -> DataFrame:
    """One row: (entity_id, event_count, range_start, range_end,
    related_entities csv) — get_entity_timeline's aggregate shape
    (shard.py:529-556: related = union of co-event entities minus the
    queried id)."""
    ev = entity_timeline(events, entity_id, start, end)
    related = F.array_join(
        F.array_sort(
            F.array_remove(
                F.coalesce(
                    F.array_distinct(F.flatten(F.collect_list("entities"))),
                    F.array().cast("array<string>"),
                ),
                entity_id,
            )
        ),
        ",",
    )
    return ev.agg(
        F.lit(entity_id).alias("entity_id"),
        F.count(F.lit(1)).alias("event_count"),
        F.min("date_start").alias("range_start"),
        F.max("date_start").alias("range_end"),
        related.alias("related_entities"),
    )
