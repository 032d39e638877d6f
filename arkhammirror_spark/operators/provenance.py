"""Provenance analytics over the extracted-metadata table — document
timeline reconstruction and metadata-based document relationships,
fully native Catalyst.

Reference semantics: arkham-shard-provenance/forensics.py —
- build_timeline (:567-675): captured/digitized/modified events from EXIF,
  created/modified from PDF Info and Office core properties, each with its
  source and actor (camera string, software, creator/producer, author/
  last_modified_by), chronologically sorted;
- compare_documents (:677-808): pairwise similarity checks — same camera
  make+model (conf .9), same device serial (conf .99), same author
  (conf .8), same creator software (conf .5) — with first-match
  relationship precedence same_camera > same_source > same_author >
  unrelated and match_score = mean similarity confidence. The reference's
  exact-hash check (copy) needs a checksum the metadata frame lacks.

The reference compares TWO documents per call; at corpus scale the same
semantics become BLOCKED EQUI-JOINS on each similarity key ((make,
model), serial, author) — candidates only where a key matches,
never all-pairs, the same shape as the linking/near-dup lanes. Both
operators consume `extract_media_metadata`'s wide frame (raw NULLs, not
the contract sentinels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# similarity type -> confidence (forensics.py:711-774)
SIM_CONFIDENCE = {
    "same_device": 0.99,
    "same_camera": 0.9,
    "same_author": 0.8,
    "same_creator_software": 0.5,
}
# relationship precedence with assigned confidence — the reference's
# first-match-wins CHECK ORDER (forensics.py:708-788): camera, then
# serial, then author. A camera+serial pair therefore stays
# same_camera (the serial branch is guarded by `if not relationship_type`).
_REL_PRECEDENCE = [
    ("same_camera", "same_camera", 0.7),
    ("same_device", "same_source", 0.95),
    ("same_author", "same_author", 0.6),
]


def _parse_any_ts(col):
    return F.coalesce(
        F.expr(f"try_to_timestamp({col}, 'yyyy:MM:dd HH:mm:ss')"),
        F.expr(f"try_to_timestamp({col}, \"yyyy-MM-dd'T'HH:mm:ss\")"),
    )


def metadata_timeline(meta: DataFrame) -> DataFrame:
    """Wide metadata frame -> (media_id, event_type, event_ts raw + parsed,
    event_source, event_actor) rows, one per populated timestamp field,
    with the reference's dedup rules (digitized suppressed when equal to
    original, modified suppressed when equal to created)."""
    cam_actor = F.nullif(
        F.trim(F.concat_ws(" ", F.col("make"), F.col("model"))), F.lit("")
    )
    events = F.array(
        F.struct(
            F.lit("captured").alias("event_type"),
            F.col("datetime_original").alias("event_ts"),
            F.lit("exif").alias("event_source"),
            cam_actor.alias("event_actor"),
            F.col("datetime_original").isNotNull().alias("_keep"),
        ),
        F.struct(
            F.lit("digitized").alias("event_type"),
            F.col("datetime_digitized").alias("event_ts"),
            F.lit("exif").alias("event_source"),
            F.lit(None).cast("string").alias("event_actor"),
            (
                F.col("datetime_digitized").isNotNull()
                & ~F.col("datetime_digitized").eqNullSafe(
                    F.col("datetime_original")
                )
            ).alias("_keep"),
        ),
        F.struct(
            F.lit("modified").alias("event_type"),
            F.col("datetime_modified").alias("event_ts"),
            F.lit("exif").alias("event_source"),
            F.col("software").alias("event_actor"),
            F.col("datetime_modified").isNotNull().alias("_keep"),
        ),
        F.struct(
            F.lit("created").alias("event_type"),
            F.col("created").alias("event_ts"),
            F.col("kind").alias("event_source"),
            F.coalesce(F.col("creator"), F.col("author")).alias("event_actor"),
            F.col("created").isNotNull().alias("_keep"),
        ),
        F.struct(
            F.lit("modified").alias("event_type"),
            F.col("modified").alias("event_ts"),
            F.col("kind").alias("event_source"),
            F.coalesce(F.col("last_modified_by"), F.col("producer")).alias(
                "event_actor"
            ),
            (
                F.col("modified").isNotNull()
                & ~F.col("modified").eqNullSafe(F.col("created"))
            ).alias("_keep"),
        ),
    )
    out = (
        meta.select("media_id", F.explode(events).alias("e"))
        .where(F.col("e._keep"))
        .select(
            "media_id",
            "e.event_type",
            "e.event_ts",
            # sources 'pdf'/'ooxml' come from the kind column; 'ooxml'
            # maps to the reference's 'office'
            F.when(F.col("e.event_source") == "ooxml", "office")
            .otherwise(F.col("e.event_source"))
            .alias("event_source"),
            "e.event_actor",
        )
        .withColumn("event_parsed_ts", _parse_any_ts("event_ts"))
    )
    return out


def metadata_relationships(meta: DataFrame) -> DataFrame:
    """Wide metadata frame keyed by media_id -> (id_a, id_b, relationship_type, confidence,
    match_score, similarity_types). Candidates come ONLY from equality on
    a similarity key (blocked joins — scale-safe); unrelated pairs are
    not emitted (they are the complement)."""

    def key_join(frame, keys, sim_type):
        slim = frame.select(F.col("media_id").alias("_id"), *keys).dropna(
            subset=[k if isinstance(k, str) else k for k in keys]
        )
        a, b = slim.alias("a"), slim.alias("b")
        cond = (F.col("a._id") < F.col("b._id"))
        for k in keys:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        return a.join(b, cond).select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.lit(sim_type).alias("sim_type"),
            F.lit(SIM_CONFIDENCE[sim_type]).alias("sim_conf"),
        )

    sims = [
        key_join(meta, ["make", "model"], "same_camera"),
        key_join(meta, ["serial_number"], "same_device"),
        key_join(meta, ["author"], "same_author"),
        key_join(meta, ["creator"], "same_creator_software"),
    ]
    all_sims = sims[0]
    for s in sims[1:]:
        all_sims = all_sims.unionByName(s)

    agg = all_sims.groupBy("id_a", "id_b").agg(
        F.sort_array(F.collect_set("sim_type")).alias("similarity_types"),
        F.avg("sim_conf").alias("match_score"),
    )
    rel = F.lit("unrelated")
    conf = F.lit(0.0)
    for sim_type, rel_name, rel_conf in reversed(_REL_PRECEDENCE):
        hit = F.array_contains(F.col("similarity_types"), sim_type)
        rel = F.when(hit, rel_name).otherwise(rel)
        conf = F.when(hit, rel_conf).otherwise(conf)
    return agg.select(
        "id_a",
        "id_b",
        rel.alias("relationship_type"),
        "match_score",
        conf.alias("confidence"),
        "similarity_types",
    )


# ---------------------------------------------------------------------------
# full_scan composition (forensics.py:810-889)
# ---------------------------------------------------------------------------


def full_scan(media: DataFrame) -> DataFrame:
    """Complete forensic scan, one row per (media_id, payload) document (forensics.py:810-889):
    md5/sha256/sha512 + file size (calculate_hashes, :70-84), the
    kind-dispatched metadata walk, integrity analysis, and the timeline
    event count, with scan_status completed/failed.

    Single-pass shape: the payload crosses into Python ONCE — one pass of
    the row lane computes the metadata row AND the hashlib digests per
    batch (hashing natively in Catalyst would be JVM-fast but forces a
    second full scan of the payload column to join back; at 100 TB the
    Arrow transfer dominates, so it rides the pass that already moves the
    bytes).  The slim hash+metadata output (no payload) is lazily
    localCheckpointed before the timeline branch re-reads it, so the
    extraction UDF never runs twice.  The reference dispatches on the
    request's MIME type; this lane dispatches on the sniffed container
    kind (same branches, content-derived — a 100-TB crawl cannot trust
    declared MIME)."""
    import hashlib

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .lane import explode_lane
    from .media_metadata import METADATA_SCHEMA, metadata_row

    schema = StructType(
        METADATA_SCHEMA.fields
        + [
            StructField("file_hash_md5", StringType(), True),
            StructField("file_hash_sha256", StringType(), True),
            StructField("file_hash_sha512", StringType(), True),
            StructField("file_size", LongType(), True),
        ]
    )

    def _scan(payload) -> list[dict]:
        raw = bytes(payload) if payload is not None else b""
        return [{
            **metadata_row(payload),
            "file_hash_md5": hashlib.md5(raw).hexdigest(),
            "file_hash_sha256": hashlib.sha256(raw).hexdigest(),
            "file_hash_sha512": hashlib.sha512(raw).hexdigest(),
            "file_size": len(raw),
        }]

    scanned = explode_lane(
        media.select("media_id", "payload"), _scan, schema
    ).localCheckpoint(eager=False)
    timeline_counts = (
        metadata_timeline(scanned)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_timeline_events"))
    )
    return (
        scanned.join(timeline_counts, "media_id", "left")
        .withColumn(
            "n_timeline_events",
            F.coalesce("n_timeline_events", F.lit(0)).cast("long"),
        )
        .withColumn(
            "scan_status",
            F.when(F.col("error").isNotNull(), F.lit("failed")).otherwise(
                F.lit("completed")
            ),
        )
    )
