"""Timeline event extraction — the T1 regex families, fully native.

Reference lineage: arkham-shard-timeline/arkham_shard_timeline/extraction.py
(patterns :36-98, dispatch :185-221). Regexes and confidences reproduced:
ISO w/ optional time 0.99; natural Month-Day-Year / Day-Month-Year 0.95;
numeric m/d/y; quarters; seasons; decades; relative (yesterday/last week/
N units ago) 0.7-ish per dates.py. All pattern families compile to
``regexp_extract_all`` + native date builders — zero Python in the plan
(the reference runs nine sequential ``finditer`` loops per document).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..reference_impl import timeline_merge as tm
from .lane import explode_lane

ISO_PAT = r"\b(\d{4})-(\d{1,2})-(\d{1,2})(?:T(\d{1,2}):(\d{1,2}):(\d{1,2}))?\b"
_MONTHS = (
    "January|February|March|April|May|June|July|August|September|October|"
    "November|December|Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Sept|Oct|Nov|Dec"
)
MDY_PAT = rf"(?i)\b({_MONTHS})\s+(\d{{1,2}})(?:st|nd|rd|th)?,?\s+(\d{{4}})\b"
DMY_PAT = rf"(?i)\b(\d{{1,2}})(?:st|nd|rd|th)?\s+(?:of\s+)?({_MONTHS}),?\s+(\d{{4}})\b"
QUARTER_PAT = r"(?i)\b(Q[1-4]|first|second|third|fourth)\s+quarter\s+(?:of\s+)?(\d{4})\b"
SEASON_PAT = r"(?i)\b(spring|summer|fall|autumn|winter)\s+(?:of\s+)?(\d{4})\b"
DECADE_PAT = r"(?i)\b(?:the\s+)?(\d{4})s\b"
NUMERIC_PAT = r"\b(\d{1,2})[/\-.](\d{1,2})[/\-.](\d{2,4})\b"
APPROX_PAT = r"(?i)\b(around|circa|about|approximately|roughly)\s+(\d{4})\b"
PERIOD_PAT = rf"(?i)\b(early|mid|late)\s+({_MONTHS})\s+(\d{{4}})\b"

_MONTH_NUM = {
    m: i + 1
    for i, ms in enumerate(
        [
            ("january", "jan"), ("february", "feb"), ("march", "mar"),
            ("april", "apr"), ("may",), ("june", "jun"), ("july", "jul"),
            ("august", "aug"), ("september", "sep", "sept"),
            ("october", "oct"), ("november", "nov"), ("december", "dec"),
        ]
    )
    for m in ms
}

_QUARTER_NUM = {"q1": 1, "q2": 2, "q3": 3, "q4": 4,
                "first": 1, "second": 2, "third": 3, "fourth": 4}
_SEASON_MONTH = {"spring": 3, "summer": 6, "fall": 9, "autumn": 9, "winter": 12}


def _month_map_col():
    return F.create_map(*[F.lit(x) for kv in _MONTH_NUM.items() for x in kv])


def _safe_date(yr, mon, day):
    """ANSI-safe date construction: invalid Gregorian combos → NULL (the
    reference skips them via ValueError; make_date would THROW under Spark
    4's default ANSI mode, and try_make_date isn't exposed in this build)."""
    return F.try_to_timestamp(
        F.format_string("%04d-%02d-%02d", yr, mon, day), F.lit("yyyy-MM-dd")
    ).cast("date")


def _extract_family(docs, pattern, kind, conf, builder):
    hits = docs.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col("t"), F.lit(pattern), F.lit(0))
        ).alias("date_text"),
    )
    conf_col = conf(F.col("date_text")) if callable(conf) else F.lit(conf)
    return (
        hits.withColumn("date_start", builder(F.col("date_text")))
        .where(F.col("date_start").isNotNull())
        .withColumn("event_kind", F.lit(kind))
        .withColumn("confidence", conf_col)
        .select("doc_id", "date_text", "date_start", "event_kind", "confidence")
    )


def extract_timeline_events(docs: DataFrame) -> DataFrame:
    """Union of the native T1 families over (doc_id, t) documents: iso, natural (mdy+dmy), numeric
    (m/d/y vs d/m/y disambiguation), quarter, season, decade, approximate
    (circa-year → June 30), period (early/mid/late Month Year). date_start
    is a DATE (quarter/season/decade/period → period start, matching
    extraction.py's date construction)."""
    mm = _month_map_col()

    def iso_builder(t):
        yr = F.regexp_extract(t, ISO_PAT, 1).cast("int")
        mon = F.regexp_extract(t, ISO_PAT, 2).cast("int")
        day = F.regexp_extract(t, ISO_PAT, 3).cast("int")
        return _safe_date(yr, mon, day)

    def mdy_builder(t):
        mon = mm.getItem(F.lower(F.regexp_extract(t, MDY_PAT, 1)))
        day = F.regexp_extract(t, MDY_PAT, 2).cast("int")
        yr = F.regexp_extract(t, MDY_PAT, 3).cast("int")
        return _safe_date(yr, mon, day)

    def dmy_builder(t):
        day = F.regexp_extract(t, DMY_PAT, 1).cast("int")
        mon = mm.getItem(F.lower(F.regexp_extract(t, DMY_PAT, 2)))
        yr = F.regexp_extract(t, DMY_PAT, 3).cast("int")
        return _safe_date(yr, mon, day)

    def quarter_builder(t):
        qmap = F.create_map(*[F.lit(x) for kv in _QUARTER_NUM.items() for x in kv])
        q = qmap.getItem(F.lower(F.regexp_extract(t, QUARTER_PAT, 1)))
        yr = F.regexp_extract(t, QUARTER_PAT, 2).cast("int")
        return F.make_date(yr, (q - 1) * 3 + 1, F.lit(1))

    def season_builder(t):
        smap = F.create_map(*[F.lit(x) for kv in _SEASON_MONTH.items() for x in kv])
        mon = smap.getItem(F.lower(F.regexp_extract(t, SEASON_PAT, 1)))
        yr = F.regexp_extract(t, SEASON_PAT, 2).cast("int")
        return F.make_date(yr, mon, F.lit(1))

    def decade_builder(t):
        yr = F.regexp_extract(t, DECADE_PAT, 1).cast("int")
        return F.make_date(yr, F.lit(1), F.lit(1))

    # numeric m/d/y vs d/m/y (extraction.py:332-376): 2-digit years pivot at
    # 50; try MM/DD first (conf 0.8), fall back to DD/MM (conf 0.7), keep the
    # first VALID interpretation only
    def _numeric_parts(t):
        p1 = F.regexp_extract(t, NUMERIC_PAT, 1).cast("int")
        p2 = F.regexp_extract(t, NUMERIC_PAT, 2).cast("int")
        yraw = F.regexp_extract(t, NUMERIC_PAT, 3).cast("int")
        yr = F.when(
            yraw < 100, F.when(yraw < 50, yraw + 2000).otherwise(yraw + 1900)
        ).otherwise(yraw)
        mdy = F.when((p1 <= 12) & (p2 <= 31), _safe_date(yr, p1, p2))
        dmy = F.when((p2 <= 12) & (p1 <= 31), _safe_date(yr, p2, p1))
        return mdy, dmy

    def numeric_builder(t):
        mdy, dmy = _numeric_parts(t)
        return F.coalesce(mdy, dmy)

    def numeric_conf(t):
        mdy, _dmy = _numeric_parts(t)
        return F.when(mdy.isNotNull(), F.lit(0.8)).otherwise(F.lit(0.7))

    def approx_builder(t):
        yr = F.regexp_extract(t, APPROX_PAT, 2).cast("int")
        return F.make_date(yr, F.lit(6), F.lit(30))

    # periods (extraction.py:647-688): early→1st, mid→11th, late→21st. The
    # year is REQUIRED here (the reference substitutes datetime.now().year
    # for a missing year — nondeterministic, so year-less matches are
    # skipped instead).
    def period_builder(t):
        qmap = F.create_map(F.lit("early"), F.lit(1), F.lit("mid"), F.lit(11),
                            F.lit("late"), F.lit(21))
        day = qmap.getItem(F.lower(F.regexp_extract(t, PERIOD_PAT, 1)))
        mon = mm.getItem(F.lower(F.regexp_extract(t, PERIOD_PAT, 2)))
        yr = F.regexp_extract(t, PERIOD_PAT, 3).cast("int")
        return _safe_date(yr, mon, day)

    parts = [
        _extract_family(docs, ISO_PAT, "iso", 0.99, iso_builder),
        _extract_family(docs, MDY_PAT, "natural_mdy", 0.95, mdy_builder),
        _extract_family(docs, DMY_PAT, "natural_dmy", 0.95, dmy_builder),
        _extract_family(docs, NUMERIC_PAT, "numeric", numeric_conf, numeric_builder),
        _extract_family(docs, QUARTER_PAT, "quarter", 0.9, quarter_builder),
        _extract_family(docs, SEASON_PAT, "season", 0.85, season_builder),
        _extract_family(docs, DECADE_PAT, "decade", 0.7, decade_builder),
        _extract_family(docs, APPROX_PAT, "approximate", 0.6, approx_builder),
        _extract_family(docs, PERIOD_PAT, "period", 0.7, period_builder),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


MERGED_SCHEMA = (
    "group_key string, id string, document_id string, text string, "
    "date_start date, confidence double, consolidated boolean, "
    "source_count int"
)


_MERGES = {
    "chronological": lambda evs, _priority: tm.merge_chronological(evs),
    "deduplicated": lambda evs, _priority: tm.merge_deduplicated(evs)[0],
    "consolidated": lambda evs, _priority: tm.merge_consolidated(evs)[0],
    "source_priority": tm.merge_source_priority,
}


def merge_timeline_events(
    events: DataFrame,
    group_col: str = "case_id",
    strategy: str = "deduplicated",
    priority_docs: list[str] | None = None,
) -> DataFrame:
    """T3 timeline merging (merging.py strategies), one merge per
    `group_col` timeline: the reference merges one bounded timeline at a
    time and each strategy's dedup/consolidate scan is ordered, so each
    group's events are collected into one array (sorted by id, so date ties
    break the same way on every run) and merged by one lane row. Input
    columns: group, id, document_id, text, date_start, confidence[,
    entities array].

    Returns merged rows tagged with consolidated/source_count.
    """
    if strategy not in _MERGES:
        raise ValueError(f"unknown merge strategy {strategy!r}")
    merge = _MERGES[strategy]
    priority = list(priority_docs or [])
    fields = ["id", "document_id", "text", "date_start", "confidence"]
    if "entities" in events.columns:
        fields.append("entities")

    def _merge(evs) -> list[dict]:
        rows = [
            {**ev, "entities": [] if ev.get("entities") is None else list(ev["entities"])}
            for ev in evs
        ]
        return [
            {**ev, "consolidated": ev.get("consolidated", False),
             "source_count": ev.get("source_count", 1)}
            for ev in merge(rows, priority)
        ]

    groups = events.groupBy(group_col).agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("events")
    )
    return explode_lane(groups, _merge, MERGED_SCHEMA)


def detect_interval_conflicts(events: DataFrame) -> DataFrame:
    """T3 conflicts/gaps: adjacent-event deltas per document via lag window
    (replaces arkham-shard-timeline/conflicts.py's procedural scan)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("date_start", "date_text")
    return (
        events.withColumn("prev_date", F.lag("date_start").over(w))
        .withColumn("gap_days", F.datediff(F.col("date_start"), F.col("prev_date")))
        .where(F.col("prev_date").isNotNull())
    )
