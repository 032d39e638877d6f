"""T3 temporal conflict detection — the full four-arm detector.

Reference lineage: arkham-shard-timeline/arkham_shard_timeline/conflicts.py
(ConflictDetector): contradictions :72-128, inconsistencies :130-198, gaps
:200-257, overlaps :259-319, similar-event matcher :321-351, date match
:353-369, severity :371-404. The reference runs O(n²) nested Python loops
over one in-memory event list; here every arm is a blocked join or window:

- contradictions: the `_are_similar_events` OR is three candidate
  generators (shared-entity equi-join, shared-word join with a distinct
  count ≥ 2, banded date-proximity join), unioned and de-duplicated, then
  the date-mismatch filter + severity as column expressions. Candidate
  volume is output-bound per arm — never all-pairs.
- inconsistencies: a per-document lag window over span position.
- gaps: per-timeline chronological lag + the reference's exact median
  selection (sorted_gaps[len // 2], the UPPER median element, not an
  interpolated percentile) via row_number.
- overlaps: explode entities, (entity, date)-keyed self-join — one
  conflict per shared entity per pair, exactly like the reference's
  per-entity loop.

Event ordering: the reference's pair orientation depends on list order
(doc groups keep first-appearance order; events keep append order), so
input rows carry an `ord` column — the reference list index — and
`doc_rank` = min(ord) per document reproduces the doc loop order.

Scale notes: the word-join arm has no stopword filter because the
reference has none — two shared "the"/"a" words make events similar. At
corpus scale that is the hot-shingle shape. The gap arm treats the whole
input as ONE timeline — a timeline is a bounded, per-case artifact in the
reference (its whole event list sat in one Python process) — and still
runs distributed. Dates match exactly (the reference's tolerance_days=0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .driver_lane import local_frame

MARKERS_LATER = ["later", "after", "following", "next", "then"]

_OUT_COLS = [
    "conflict_type", "severity", "event1_id", "event2_id", "doc1", "doc2",
    "entity_id", "description", "suggested_resolution", "date_diff_days",
    "gap_days", "median_gap", "text1", "text2",
]


def _prep(events: DataFrame) -> DataFrame:
    cols = {
        "ord": F.col("ord").cast("long"),
        "id": F.col("id").cast("string"),
        "document_id": F.col("document_id").cast("string"),
        "text": F.col("text").cast("string"),
        "date_start": F.col("date_start").cast("date"),
        "confidence": F.col("confidence").cast("double"),
        "entities": (
            F.col("entities")
            if "entities" in events.columns
            else F.array().cast("array<string>")
        ),
        "pos": (
            F.col("pos").cast("long")
            if "pos" in events.columns
            else F.lit(None).cast("long")
        ),
    }
    ev = events.select(*[c.alias(n) for n, c in cols.items()])
    ranks = ev.groupBy("document_id").agg(F.min("ord").alias("doc_rank"))
    # slim frame reused by every arm; lazy checkpoint keeps contract
    # schema analysis free while the candidate joins share one compute
    return ev.join(ranks, "document_id").localCheckpoint(eager=False)


def _pad(df: DataFrame) -> DataFrame:
    present = set(df.columns)
    longs = {"date_diff_days", "gap_days", "median_gap"}
    out = []
    for c in _OUT_COLS:
        if c in present:
            out.append(F.col(c))
        elif c in longs:
            out.append(F.lit(None).cast("long").alias(c))
        else:
            out.append(F.lit(None).cast("string").alias(c))
    return df.select(*out)


def _severity(conf1, conf2, dd):
    """conflicts.py:371-404: avg confidence > 0.9 and diff > 30 → critical;
    diff > 90 → high; diff > 7 → medium; else low."""
    avg_conf = (conf1 + conf2) / F.lit(2.0)
    return (
        F.when((avg_conf > 0.9) & (dd > 30), "critical")
        .when(dd > 90, "high")
        .when(dd > 7, "medium")
        .otherwise("low")
    )


def detect_contradictions(events: DataFrame) -> DataFrame:
    """Cross-document similar-event pairs with mismatched dates
    (conflicts.py:72-128); similar = a shared entity, ≥ 2 shared words or
    dates within 7 days. Pair orientation: event1 belongs to the doc
    whose first event appears earlier in the input order (`doc_rank`)."""
    ev = _prep(events)

    # --- candidate arm 1: shared entity (:335-337)
    ent = ev.select("ord", "doc_rank", F.explode("entities").alias("e"))
    c1 = (
        ent.alias("a")
        .join(
            ent.alias("b"),
            (F.col("a.e") == F.col("b.e"))
            & (F.col("a.doc_rank") < F.col("b.doc_rank")),
        )
        .select(F.col("a.ord").alias("ord_a"), F.col("b.ord").alias("ord_b"))
    )

    # --- candidate arm 2: >= 2 shared lowercase words, SET semantics
    # (:339-343 — Python set(text.split()) & set)
    words = ev.select(
        "ord", "doc_rank",
        F.explode(
            F.array_distinct(F.split(F.lower(F.col("text")), r"\s+"))
        ).alias("w"),
    ).where(F.length("w") > 0)
    c2 = (
        words.alias("a")
        .join(
            words.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_rank") < F.col("b.doc_rank")),
        )
        .groupBy(
            F.col("a.ord").alias("ord_a"), F.col("b.ord").alias("ord_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .select("ord_a", "ord_b")
    )

    # --- candidate arm 3: dates within 7 days (:345-348) — banded
    # join on 8-day buckets with ±1 probing (window 7 < bucket width 8 ⇒
    # a qualifying pair differs by at most one bucket; each pair matches
    # exactly one probe, so no within-arm duplicates)
    days = F.datediff(F.col("date_start"), F.lit("1970-01-01").cast("date"))
    keyed = ev.select(
        "ord", "doc_rank", days.alias("days"),
        F.floor(days / 8).alias("bkt"),
    )
    probes = keyed.select(
        "ord", "doc_rank", "days",
        F.explode(
            F.array(F.col("bkt") - 1, F.col("bkt"), F.col("bkt") + 1)
        ).alias("bkt"),
    )
    c3 = (
        probes.alias("a")
        .join(
            keyed.alias("b"),
            (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.doc_rank") < F.col("b.doc_rank")),
        )
        .where(F.abs(F.col("a.days") - F.col("b.days")) <= 7)
        .select(F.col("a.ord").alias("ord_a"), F.col("b.ord").alias("ord_b"))
    )

    cands = c1.unionByName(c2).unionByName(c3).distinct()

    a = ev.alias("x")
    b = ev.alias("y")
    dd = F.abs(F.datediff(F.col("x.date_start"), F.col("y.date_start")))
    return (
        cands.join(a, cands.ord_a == F.col("x.ord"))
        .join(b, cands.ord_b == F.col("y.ord"))
        .where(dd > 0)  # NOT _dates_match (:353-369)
        .select(
            F.lit("contradiction").alias("conflict_type"),
            _severity(
                F.col("x.confidence"), F.col("y.confidence"), dd
            ).alias("severity"),
            F.col("x.id").alias("event1_id"),
            F.col("y.id").alias("event2_id"),
            F.col("x.document_id").alias("doc1"),
            F.col("y.document_id").alias("doc2"),
            F.concat(
                F.lit("Contradictory dates: Event in "),
                F.col("x.document_id"),
                F.lit(" claims "),
                F.col("x.date_start").cast("string"),
                F.lit(", but event in "),
                F.col("y.document_id"),
                F.lit(" claims "),
                F.col("y.date_start").cast("string"),
            ).alias("description"),
            F.lit("verify_source").alias("suggested_resolution"),
            dd.cast("long").alias("date_diff_days"),
            F.col("x.text").alias("text1"),
            F.col("y.text").alias("text2"),
        )
    )


def detect_inconsistencies(events: DataFrame) -> DataFrame:
    """Adjacent in-text events whose dates run backwards while the later
    event carries a forward-sequence marker (conflicts.py:130-198).
    Events without a span are excluded, matching the reference filter."""
    ev = _prep(events).where(F.col("pos").isNotNull())
    # (pos, ord): Python's sort is stable, so span ties keep list order
    w = Window.partitionBy("document_id").orderBy("pos", "ord")
    marker = F.lit(False)
    low = F.lower(F.col("text"))
    for m in MARKERS_LATER:
        marker = marker | low.contains(m)
    adj = (
        ev.withColumn("prev_id", F.lag("id").over(w))
        .withColumn("prev_date", F.lag("date_start").over(w))
        .withColumn("prev_text", F.lag("text").over(w))
    )
    return (
        adj.where(
            F.col("prev_id").isNotNull()
            & (F.col("date_start") < F.col("prev_date"))
            & marker
        )
        .select(
            F.lit("inconsistency").alias("conflict_type"),
            F.lit("medium").alias("severity"),
            F.col("prev_id").alias("event1_id"),
            F.col("id").alias("event2_id"),
            F.col("document_id").alias("doc1"),
            F.col("document_id").alias("doc2"),
            F.concat(
                F.lit(
                    "Inconsistent sequence: Event 2 appears to be after "
                    "Event 1 but has earlier date ("
                ),
                F.col("date_start").cast("string"),
                F.lit(" vs "),
                F.col("prev_date").cast("string"),
                F.lit(")"),
            ).alias("description"),
            F.lit("review_context").alias("suggested_resolution"),
            F.col("prev_text").alias("text1"),
            F.col("text").alias("text2"),
        )
    )


def _gap_select(adj: DataFrame) -> DataFrame:
    return adj.where(
        (F.col("gap_days") > F.col("median_gap") * 3)
        & (F.col("gap_days") > 30)
    ).select(
        F.lit("gap").alias("conflict_type"),
        F.lit("low").alias("severity"),
        F.col("prev_id").alias("event1_id"),
        F.col("id").alias("event2_id"),
        F.col("prev_doc").alias("doc1"),
        F.col("document_id").alias("doc2"),
        F.concat(
            F.lit("Unexpected "),
            F.col("gap_days").cast("string"),
            F.lit("-day gap between events ("),
            F.col("prev_date").cast("string"),
            F.lit(" to "),
            F.col("date_start").cast("string"),
            F.lit(")"),
        ).alias("description"),
        F.lit("check_for_missing_data").alias("suggested_resolution"),
        F.col("gap_days"),
        F.col("median_gap"),
    )


_GAP_SCHEMA = (
    "conflict_type string, severity string, event1_id string, "
    "event2_id string, doc1 string, doc2 string, description string, "
    "suggested_resolution string, gap_days long, median_gap long"
)


def detect_gaps(events: DataFrame) -> DataFrame:
    """Chronological gaps > 3× the median gap and > 30 days
    (conflicts.py:200-257). The median is the reference's exact pick:
    sorted_gaps[len(gaps) // 2]. Fewer than 3 events → no conflicts.

    The whole input is ONE timeline — the reference's call shape (one
    project per scan), which is inherently a total order — and the arm
    runs distributed (no single-partition WindowExec anywhere):

    1. range-partition by the timeline order (date_start, ord) and PIN the
       assignment with an eager localCheckpoint;
    2. lag() per partition (keyed window), with each partition's first row
       stitched to the previous non-empty partition's last row — at most
       one boundary row per partition crosses the driver;
    3. the reference's exact median pick (sorted_gaps[n // 2], 1-based
       rank n//2+1) as a distributed order-statistic selection: range-
       partition the gaps, locate the target partition by per-partition
       counts, row_number only within it.

    Identical to a global window: (date_start, ord) is a total order
    (ord is the unique reference list index), so per-partition lag +
    boundary stitching reproduces the global lag row-for-row, and the
    selected gap value is the same order statistic regardless of how ties
    are split across partitions."""
    ev = _prep(events)
    spark = ev.sparkSession
    nparts = max(2, spark.sparkContext.defaultParallelism)
    parted = (
        ev.repartitionByRange(nparts, "date_start", "ord")
        .withColumn("_b", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # ONE pass for the event count and the per-partition boundary rows:
    # max(struct(date_start, ord, …)) picks each partition's last element
    # of the (date_start, ord) total order (ord is unique; a null
    # date_start compares smallest, matching asc-nulls-first), so no
    # separate count job or last-row window pass is needed.
    info = sorted(
        parted.groupBy("_b").agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                F.struct("date_start", "ord", "id", "document_id")
            ).alias("_last"),
        ).collect(),
        key=lambda r: r["_b"],
    )
    n_ev = sum(r["n"] for r in info)
    if n_ev < 3:
        return local_frame(spark, [], _GAP_SCHEMA)

    wb = Window.partitionBy("_b").orderBy("date_start", "ord")
    brows = []
    prev = None
    for r in info:  # one row per NON-EMPTY partition, in range order
        if prev is not None:
            brows.append(
                (r["_b"], prev["_last"]["id"], prev["_last"]["date_start"],
                 prev["_last"]["document_id"])
            )
        prev = r
    bdf = local_frame(
        spark,
        brows, "_b int, _bprev_id string, _bprev_date date, _bprev_doc string"
    )
    first = F.col("_rn") == 1
    adj = (
        parted.withColumn("_rn", F.row_number().over(wb))
        .withColumn("prev_id", F.lag("id").over(wb))
        .withColumn("prev_date", F.lag("date_start").over(wb))
        .withColumn("prev_doc", F.lag("document_id").over(wb))
        .join(F.broadcast(bdf), "_b", "left")
        .withColumn(
            "prev_id",
            F.when(first, F.col("_bprev_id")).otherwise(F.col("prev_id")),
        )
        .withColumn(
            "prev_date",
            F.when(first, F.col("_bprev_date")).otherwise(F.col("prev_date")),
        )
        .withColumn(
            "prev_doc",
            F.when(first, F.col("_bprev_doc")).otherwise(F.col("prev_doc")),
        )
        .where(F.col("prev_id").isNotNull())
        .withColumn(
            "gap_days",
            F.datediff(F.col("date_start"), F.col("prev_date")).cast("long"),
        )
    )
    # Exact median via a day-gap histogram: distinct integer day-gaps are
    # bounded by the timeline's span in days (plus null), so the grouped
    # counts are a bounded driver collect at ANY corpus size — one job,
    # no second range partitioning. The pick is the k-th order statistic
    # with nulls first (the asc-nulls-first semantics of the windowed
    # row_number form).
    hist = sorted(
        ((r["gap_days"], r["n"])
         for r in adj.groupBy("gap_days")
         .agg(F.count(F.lit(1)).alias("n"))
         .collect()),
        key=lambda t: (t[0] is not None, t[0] if t[0] is not None else 0),
    )
    n_gaps = sum(n for _, n in hist)
    if n_gaps == 0:
        return local_frame(spark, [], _GAP_SCHEMA)
    k = n_gaps // 2 + 1
    acc = 0
    med_val = None
    for v, cn in hist:
        if acc + cn >= k:
            med_val = v
            break
        acc += cn
    return _gap_select(
        adj.withColumn("median_gap", F.lit(med_val).cast("long"))
    )


def detect_overlaps(events: DataFrame) -> DataFrame:
    """Cross-document events sharing an entity on the same date
    (conflicts.py:259-319) — one conflict PER SHARED ENTITY per pair,
    exactly like the reference's per-entity loop; pair orientation is
    input order (ord). A plain (entity, date) equi-join."""
    ev = _prep(events)
    ent = ev.select(
        "ord", "id", "document_id", "date_start", "text", "confidence",
        F.explode("entities").alias("e"),
    )
    a, b = ent.alias("a"), ent.alias("b")
    cond = (
        (F.col("a.e") == F.col("b.e"))
        & (F.col("a.ord") < F.col("b.ord"))
        & (F.col("a.date_start") == F.col("b.date_start"))
    )
    return (
        a.join(b, cond)
        .where(F.col("a.document_id") != F.col("b.document_id"))
        .select(
            F.lit("overlap").alias("conflict_type"),
            F.lit("low").alias("severity"),
            F.col("a.id").alias("event1_id"),
            F.col("b.id").alias("event2_id"),
            F.col("a.document_id").alias("doc1"),
            F.col("b.document_id").alias("doc2"),
            F.col("a.e").alias("entity_id"),
            F.concat(
                F.lit("Potentially overlapping events for entity "),
                F.col("a.e"),
                F.lit(" around "),
                F.col("a.date_start").cast("string"),
            ).alias("description"),
            F.lit("review_compatibility").alias("suggested_resolution"),
            F.col("a.text").alias("text1"),
            F.col("b.text").alias("text2"),
        )
    )


def detect_temporal_conflicts(events: DataFrame) -> DataFrame:
    """All four arms unioned into one frame (detect_conflicts,
    conflicts.py:38-70). Input columns: ord (reference list index), id,
    document_id, text, date_start, confidence[, entities array<string>]
    [, pos (span start; null = no span)]."""
    return (
        _pad(detect_contradictions(events))
        .unionByName(_pad(detect_inconsistencies(events)))
        .unionByName(_pad(detect_gaps(events)))
        .unionByName(_pad(detect_overlaps(events)))
    )
