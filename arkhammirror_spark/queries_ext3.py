"""Round-4 driver-contract queries: media forensics (perceptual image
hashing + similar-image search, EXIF/embedded metadata), credibility
scoring, and ACH consistency-matrix scoring.

Same discipline as queries.py: identical column names/types on both
engines, deterministic ordering wherever LIMIT/top-N appears, pinned
VALUES oracles for lanes whose math lives in numpy (the image_features
pattern), full SQL mirrors for the column-math lanes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import ORACLE_SQL, _load, padded_union, register, sentinel


# ---------------------------------------------------------------------------
# Perceptual image hashing + similar-image search (media_forensics/services/
# perceptual_hash.py:57-132) — deterministic textured fixtures; pure
# gradients are a degenerate pHash case (low-DCT coefficients ~0, bits on
# the median knife-edge), cosine mixtures exercise all 64 bits.
# ---------------------------------------------------------------------------


def _textured_rgb(seed: int, edit: bool = False, mirror: bool = False):
    import numpy as np

    rng = np.random.RandomState(seed)
    h, w = 48, 64
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.zeros((h, w))
    for _ in range(6):
        fx, fy = rng.uniform(0.5, 3, 2)
        p1, p2 = rng.uniform(0, 2 * np.pi, 2)
        img += rng.uniform(0.5, 1.5) * np.cos(
            2 * np.pi * fx * xx / w + p1
        ) * np.cos(2 * np.pi * fy * yy / h + p2)
    g = ((img - img.min()) / (img.max() - img.min()) * 255).astype(np.uint8)
    if edit:
        g = g.copy()
        g[0:3, 0:3] = 255
    if mirror:
        g = np.ascontiguousarray(g[:, ::-1])
    return np.stack([g, g, g], axis=2)


def _phash_fixture(spark: SparkSession) -> DataFrame:
    """base + small-local-edit (near-dup pair) + mirror + an independent
    texture + a junk row that must quarantine."""
    from .operators.multimodal import encode_png

    rows = [
        ("img-base", "image", encode_png(_textured_rgb(7)), None),
        ("img-edit", "image", encode_png(_textured_rgb(7, edit=True)), None),
        ("img-mirror", "image", encode_png(_textured_rgb(7, mirror=True)), None),
        ("img-other", "image", encode_png(_textured_rgb(21)), None),
        ("img-junk", "image", b"\x89PNGnotreal", None),
    ]
    return spark.createDataFrame(
        rows,
        "media_id: string, media_type: string, payload: binary, duration_s: double",
    )


@register("image_phash", None)  # oracle (VALUES) attached below
def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three perceptual hashes over the stdlib decode lane, in the
    reference's hex format (perceptual_hash.py:106-109: row-major bits,
    first bit most significant, zfill 16). Junk row quarantines (excluded
    here; its absence is part of the pin)."""
    from .operators.phash import image_perceptual_hashes
    out = image_perceptual_hashes(_phash_fixture(spark))
    return out.where(F.col("error").isNull()).select(
        "media_id", "ahash", "dhash", "phash"
    )


@register("image_neardup", None)  # oracle (VALUES) attached below
def q_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similar-image pairs via the Manku block-combination hamming join over
    pHash signatures — the banded join is EXACTLY the brute-force Hamming
    ball (pigeonhole), so the pinned pairs double as a blocking-correctness
    check: the engineered base/edit near-dup must survive, the mirror and
    independent texture must not pair."""
    from .operators.phash import image_neardup
    pairs = image_neardup(_phash_fixture(spark))
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


ORACLE_SQL["image_phash"] = """
SELECT * FROM (VALUES
  ('img-base',   '4f7be0171fe4701f', '631c768a887339cc', '85e181e43f5272af'),
  ('img-edit',   '4f7be0171fe4701f', '631c768a887339cc', '85f181e43f52722f'),
  ('img-mirror', 'f2de07e8f8270ef8', '39c791aeee3163cc', 'd0b4d4b16a0727fa'),
  ('img-other',  '18c1c33e3ecfff30', '8eec709b8f64679b', 'de784ed80ea16197')
) AS fx(media_id, ahash, dhash, phash)
"""

ORACLE_SQL["image_neardup"] = """
SELECT * FROM (VALUES
  ('img-base', 'img-edit', 2::BIGINT)
) AS fx(id_a, id_b, hamming)
"""


# ---------------------------------------------------------------------------
# EXIF / embedded metadata + provenance anomaly rules (exif_extractor.py
# :99-261, provenance/forensics.py:224-565) — every container lane and
# every anomaly rule fires somewhere in the fixture.
# ---------------------------------------------------------------------------


def _metadata_fixture_rows() -> list[tuple[str, bytes]]:
    from .operators.media_metadata import (
        add_png_text,
        build_jpeg_exif,
        make_docx_with_core,
        make_pdf_with_info,
    )
    from .operators.multimodal import encode_png

    import numpy as np

    png = add_png_text(
        encode_png(np.zeros((4, 4, 3), dtype=np.uint8)),
        {"Software": "gimp 2.10", "Comment": "fixture"},
    )
    rows = [
        ("cam-full", build_jpeg_exif(
            make="Canon", model="EOS 5D", software="Adobe Photoshop 24",
            datetime_modified="2021:06:02 10:00:00",
            datetime_original="2021:06:01 09:00:00",
            datetime_digitized="2021:06:01 09:00:05",
            gps=(40.446195, -79.982195))),
        ("cam-clean", build_jpeg_exif(
            make="Nikon", model="D750",
            datetime_modified="2020:01:01 12:00:00",
            datetime_original="2020:01:01 12:00:00",
            datetime_digitized="2020:01:01 12:00:00")),
        ("stripped", build_jpeg_exif(no_exif=True)),
        ("gps-anon", build_jpeg_exif(gps=(48.8584, 2.2945))),
        ("shot-png", png),
        ("rep-pdf", make_pdf_with_info(
            {"Title": "Report (v2)", "Author": "A. Analyst",
             "Producer": "GPL Ghostscript 9.0",
             "CreationDate": "D:20230510120000Z",
             "ModDate": "D:20230101090000Z"})),
        ("memo-docx", make_docx_with_core(
            ["hello world"], title="Q3 Notes", author="Bob",
            modified="2022-04-01T10:00:00",
            last_modified_by="Carol", revision=1)),
        ("junk", b"\xff\xd8\x00broken marker stream"),
    ]
    return rows


def _metadata_fixture(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _metadata_fixture_rows(), "media_id: string, payload: binary"
    )


@register("media_metadata", None)  # oracle (VALUES) attached below
def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified metadata surface over JPEG-EXIF / PNG-tEXt / PDF-Info /
    OOXML-core lanes with the anomaly-rule warnings; corrupt containers
    quarantine (the junk row appears with err=1 and no fields). Round 5:
    the composed provenance full_scan (forensics.py:810-889) replaces the
    bare metadata walk — same metadata columns PLUS md5/sha256/sha512,
    file size, timeline event count, and scan status, all in one payload
    pass."""
    from .operators.provenance import full_scan
    out = full_scan(_metadata_fixture(spark))
    # absent fields surface as typed sentinels, not NULLs: the driver's
    # value compare sorts rows as tuples and None is unorderable vs str
    s = lambda c: F.coalesce(c, sentinel("string")).alias(c)  # noqa: E731
    return out.select(
        "media_id", "kind", s("make"), s("model"), s("software"),
        s("datetime_original"),
        F.coalesce("gps_lat", sentinel("double")).alias("gps_lat"),
        F.coalesce("gps_lon", sentinel("double")).alias("gps_lon"),
        s("title"), s("author"), s("producer"), s("created"), s("modified"),
        s("last_modified_by"),
        F.coalesce("revision", sentinel("int")).alias("revision"),
        s("png_text"),
        F.array_join("warnings", "|").alias("warnings"),
        "integrity_status",
        F.round("integrity_confidence", 6).alias("integrity_confidence"),
        F.array_join("integrity_findings", "|").alias("integrity_findings"),
        F.col("error").isNotNull().cast("int").alias("err"),
        "file_hash_md5",
        "file_hash_sha256",
        "file_hash_sha512",
        F.col("file_size").cast("long").alias("file_size"),
        "n_timeline_events",
        "scan_status",
    )


# ---------------------------------------------------------------------------
# Error-level analysis (media_forensics/services/ela_analyzer.py:42-169) —
# mock resave lane (no JPEG codec in this sandbox); diff/block-stat/
# interpretation math is the real reference pipeline.
# ---------------------------------------------------------------------------


def _ela_fixture(spark: SparkSession) -> DataFrame:
    import numpy as np

    from .operators.multimodal import encode_png

    h, w = 192, 256
    flat = np.full((h, w, 3), 100, dtype=np.uint8)
    rng = np.random.RandomState(13)
    # 96 quantizes exactly (zero mock-resave error), so flat blocks read 0
    # while noise blocks read ~52 — block_std > 20 fires the 'variable' branch
    split = np.full((h, w, 3), 96, dtype=np.uint8)
    split[:, w // 2:] = rng.randint(0, 256, size=(h, w // 2, 3), dtype=np.uint8)
    rows = [
        ("ela-flat", "image", encode_png(flat), None),
        ("ela-split", "image", encode_png(split), None),
        ("ela-junk", "image", b"\x89PNGnope", None),
    ]
    return spark.createDataFrame(
        rows,
        "media_id: string, media_type: string, payload: binary, duration_s: double",
    )


@register("ela_metrics", None)  # oracle (VALUES) attached below
def q_ela_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ela import ela_metrics
    out = ela_metrics(_ela_fixture(spark))
    return out.select(
        "media_id",
        F.round("mean_error", 6).alias("mean_error"),
        F.round("std_error", 6).alias("std_error"),
        "max_error",
        F.round("uniformity_score", 6).alias("uniformity_score"),
        "assessment",
        F.col("error").isNotNull().cast("int").alias("err"),
    ).select(  # sentinel-pad the quarantine row (driver sort needs no NULLs)
        "media_id",
        *[F.coalesce(c, sentinel("double")).alias(c) for c in (
            "mean_error", "std_error", "max_error", "uniformity_score")],
        F.coalesce("assessment", sentinel("string")).alias("assessment"),
        "err",
    )


# ---------------------------------------------------------------------------
# Provenance analytics (provenance/forensics.py:567-808): document
# timeline + blocked-join metadata relationships over a fixture with
# shared cameras/serials/authors so every similarity key and precedence
# branch fires.
# ---------------------------------------------------------------------------


def _provenance_fixture(spark: SparkSession) -> DataFrame:
    from .operators.media_metadata import (
        build_jpeg_exif,
        extract_media_metadata,
        make_docx_with_core,
        make_pdf_with_info,
    )

    rows = [
        ("j1", build_jpeg_exif(
            make="Canon", model="EOS", serial_number="SN-1",
            datetime_original="2021:06:01 09:00:00",
            datetime_digitized="2021:06:01 09:00:00",
            datetime_modified="2021:06:02 10:00:00", software="gimp")),
        ("j2", build_jpeg_exif(make="Canon", model="EOS",
                               serial_number="SN-1")),
        ("j3", build_jpeg_exif(make="Nikon", model="D750")),
        ("p1", make_pdf_with_info(
            {"Author": "Alice", "Creator": "Word",
             "CreationDate": "D:20230101090000Z",
             "ModDate": "D:20230102090000Z"})),
        ("p2", make_pdf_with_info(
            {"Author": "Alice", "Creator": "Word",
             "CreationDate": "D:20230301090000Z"})),
        ("d1", make_docx_with_core(
            ["x"], author="Alice", modified="2022-03-01T10:00:00",
            last_modified_by="Bob")),
    ]
    media = spark.createDataFrame(rows, "media_id: string, payload: binary")
    # slim checkpoint: BOTH provenance queries and the relationships
    # self-joins would otherwise re-run the container-walk Arrow pass
    return extract_media_metadata(media).localCheckpoint(eager=True)


@register("metadata_timeline", None)  # oracle (VALUES) attached below
def q_metadata_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document timeline reconstruction (forensics.py:567-675): one row
    per populated timestamp field with the reference's suppression rules
    (digitized == original dropped, modified == created dropped)."""
    from .operators.provenance import metadata_timeline
    out = metadata_timeline(_provenance_fixture(spark))
    return out.select(
        "media_id", "event_type", "event_ts", "event_source",
        F.coalesce("event_actor", sentinel("string")).alias("event_actor"),
    )


@register("metadata_relationships", None)  # oracle (VALUES) attached below
def q_metadata_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-based document relationships (forensics.py:677-808) as
    blocked equi-joins on each similarity key — the fixture exercises
    same_camera-beats-same_device precedence, multi-similarity match
    scores, and author blocking across pdf/office lanes."""
    from .operators.provenance import metadata_relationships
    out = metadata_relationships(_provenance_fixture(spark))
    return out.select(
        "id_a", "id_b", "relationship_type",
        F.round("match_score", 6).alias("match_score"),
        "confidence",
        F.array_join("similarity_types", "|").alias("similarity_types"),
    )


ORACLE_SQL["metadata_timeline"] = """
SELECT * FROM (VALUES
  ('d1', 'created', '2022-03-01T10:00:00', 'office', 'Alice'),
  ('j1', 'captured', '2021:06:01 09:00:00', 'exif', 'Canon EOS'),
  ('j1', 'modified', '2021:06:02 10:00:00', 'exif', 'gimp'),
  ('p1', 'created', '2023-01-01T09:00:00', 'pdf', 'Word'),
  ('p1', 'modified', '2023-01-02T09:00:00', 'pdf', '<na>'),
  ('p2', 'created', '2023-03-01T09:00:00', 'pdf', 'Word')
) AS fx(media_id, event_type, event_ts, event_source, event_actor)
"""

ORACLE_SQL["metadata_relationships"] = """
SELECT * FROM (VALUES
  ('d1', 'p1', 'same_author', 0.8::DOUBLE, 0.6::DOUBLE, 'same_author'),
  ('d1', 'p2', 'same_author', 0.8::DOUBLE, 0.6::DOUBLE, 'same_author'),
  ('j1', 'j2', 'same_camera', 0.945::DOUBLE, 0.7::DOUBLE,
   'same_camera|same_device'),
  ('p1', 'p2', 'same_author', 0.65::DOUBLE, 0.6::DOUBLE,
   'same_author|same_creator_software')
) AS fx(id_a, id_b, relationship_type, match_score, confidence,
        similarity_types)
"""


# ---------------------------------------------------------------------------
# Sun-position verification (media_forensics/services/sun_position.py
# :38-127) — zero-Python NOAA solar geometry; pinned VALUES oracle (trig
# libm differs between the JVM and DuckDB, so values pin at the
# reference's own 2-decimal rounding rather than mirroring the math).
# ---------------------------------------------------------------------------


@register("sun_positions", None)  # oracle (VALUES) attached below
def q_sun_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sunpos import sun_positions

    rows = [
        ("greenwich-solstice", 51.4778, -0.0014, "2023-06-21 12:02:00"),
        ("equator-equinox", 0.0, 0.0, "2023-03-20 12:07:00"),
        ("sydney-summer", -33.87, 151.21, "2023-01-15 02:00:00"),
        ("greenwich-midnight", 51.4778, -0.0014, "2023-06-21 00:00:00"),
        ("tokyo-morning", 35.6764, 139.6500, "2023-04-10 00:30:00"),
    ]
    df = spark.createDataFrame(
        rows, "pid: string, gps_lat: double, gps_lon: double, ts_s: string"
    ).select(
        "pid", "gps_lat", "gps_lon",
        F.to_timestamp_ntz("ts_s").alias("ts"),  # zone-free on any driver
    )
    return sun_positions(df).select(
        "pid", "sun_altitude", "sun_azimuth", "expected_shadow_direction",
        "shadow_length_ratio", "sun_above_horizon", "interpretation",
    )


ORACLE_SQL["sun_positions"] = """
SELECT * FROM (VALUES
  ('equator-equinox', 89.8::DOUBLE, 139.59::DOUBLE, 319.59::DOUBLE,
   0.0::DOUBLE, true,
   'Sun is high (midday), positioned to the Southeast. Shadows should point roughly opposite.'),
  ('greenwich-midnight', -15.08::DOUBLE, 359.61::DOUBLE, 179.61::DOUBLE,
   -424242.0::DOUBLE, false,
   'Sun is below the horizon - no direct sunlight possible'),
  ('greenwich-solstice', 61.96::DOUBLE, 180.12::DOUBLE, 0.12::DOUBLE,
   0.53::DOUBLE, true,
   'Sun is high (midday), positioned to the South. Shadows should point roughly opposite.'),
  ('sydney-summer', 77.29::DOUBLE, 4.59::DOUBLE, 184.59::DOUBLE,
   0.23::DOUBLE, true,
   'Sun is high (midday), positioned to the North. Shadows should point roughly opposite.'),
  ('tokyo-morning', 48.78::DOUBLE, 124.53::DOUBLE, 304.53::DOUBLE,
   0.88::DOUBLE, true,
   'Sun is moderate (mid-morning/afternoon), positioned to the Southeast. Shadows should point roughly opposite.')
) AS fx(pid, sun_altitude, sun_azimuth, expected_shadow_direction,
        shadow_length_ratio, sun_above_horizon, interpretation)
"""


ORACLE_SQL["ela_metrics"] = """
SELECT * FROM (VALUES
  ('ela-flat', 60.0::DOUBLE, 0.0::DOUBLE, 60.0::DOUBLE, 1.0::DOUBLE,
   'Highly uniform error levels', 0),
  ('ela-junk', -424242.0::DOUBLE, -424242.0::DOUBLE, -424242.0::DOUBLE,
   -424242.0::DOUBLE, '<na>', 1),
  ('ela-split', 26.246134::DOUBLE, 35.812431::DOUBLE, 105.0::DOUBLE,
   0.505081::DOUBLE, 'Variable error levels detected', 0)
) AS fx(media_id, mean_error, std_error, max_error, uniformity_score,
        assessment, err)
"""


# ---------------------------------------------------------------------------
# Credibility scoring (credibility/models.py:354-405, :447-486,
# shard.py:641-646) — assessments derived arithmetically from doc_ids so
# the DuckDB oracle recomputes the FULL math, not pinned values. All sums
# are BIGINT-exact (centi-integer weights/confidences); divisions are
# integer floor divs, so there is no float to drift.
# ---------------------------------------------------------------------------


@register("credibility_scores", None)  # oracle below
def q_credibility_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.credibility import (
        checklist_scores,
        deception_overall,
        factor_weighted_scores,
    )
    docs = _load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") % 10 < 3
    )
    k = F.col("k")
    factors = docs.select(
        F.col("doc_id").alias("source_id"),
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("k"),
    ).select(
        "source_id",
        F.element_at(
            F.array(F.lit(30), F.lit(25), F.lit(20), F.lit(15), F.lit(10)),
            k + 1,
        ).alias("weight_centi"),
        ((F.col("source_id") * (k + 7) + k * k * 13) % 101).alias("score"),
    )
    cred = factor_weighted_scores(factors)

    c, i = F.col("c"), F.col("i")
    inds = (
        docs.select(
            F.col("doc_id").alias("source_id"),
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("c"),
        )
        .select(
            "source_id", "c", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
        )
        .select(
            "source_id",
            F.element_at(
                F.array(F.lit("mom"), F.lit("pop"), F.lit("moses"), F.lit("eve")),
                c + 1,
            ).alias("checklist"),
            (((F.col("source_id") + c * 5 + i * 3) % 5) * 25).alias(
                "strength_score"
            ),
            (F.lit(50) + ((F.col("source_id") + c + i) % 6) * 10).alias(
                "conf_centi"
            ),
        )
    )
    overall = deception_overall(checklist_scores(inds))
    return cred.join(overall, "source_id").select(
        "source_id", "cred_score", "cred_level", "deception_score", "risk_level"
    )


ORACLE_SQL["credibility_scores"] = """
WITH src AS (SELECT doc_id FROM documents WHERE doc_id % 10 < 3),
ks AS (SELECT unnest(generate_series(0, 4)) AS k),
factors AS (
  SELECT doc_id AS source_id,
         CASE k WHEN 0 THEN 30 WHEN 1 THEN 25 WHEN 2 THEN 20
                WHEN 3 THEN 15 ELSE 10 END AS w,
         (doc_id * (k + 7) + k * k * 13) % 101 AS score
  FROM src, ks),
cred AS (
  SELECT source_id, (SUM(score * w) // SUM(w))::INTEGER AS cred_score
  FROM factors GROUP BY source_id),
cs AS (SELECT unnest(generate_series(0, 3)) AS c),
irows AS (SELECT unnest(generate_series(0, 3)) AS i),
inds AS (
  SELECT doc_id AS source_id, c,
         ((doc_id + c * 5 + i * 3) % 5) * 25 AS ss,
         50 + ((doc_id + c + i) % 6) * 10 AS conf
  FROM src, cs, irows),
cl AS (
  SELECT source_id, c,
         (SUM(ss * conf) // (COUNT(*) * 100))::INTEGER AS score
  FROM inds WHERE ss > 0 GROUP BY source_id, c),
overall AS (
  SELECT source_id,
         (SUM(CASE c WHEN 0 THEN 35 WHEN 1 THEN 15
                     WHEN 2 THEN 25 ELSE 25 END * score)
          // SUM(CASE c WHEN 0 THEN 35 WHEN 1 THEN 15
                        WHEN 2 THEN 25 ELSE 25 END))::INTEGER AS dscore
  FROM cl GROUP BY source_id)
SELECT cred.source_id, cred_score,
       CASE WHEN cred_score <= 20 THEN 'unreliable'
            WHEN cred_score <= 40 THEN 'low'
            WHEN cred_score <= 60 THEN 'medium'
            WHEN cred_score <= 80 THEN 'high'
            ELSE 'verified' END AS cred_level,
       dscore AS deception_score,
       CASE WHEN dscore <= 20 THEN 'minimal'
            WHEN dscore <= 40 THEN 'low'
            WHEN dscore <= 60 THEN 'moderate'
            WHEN dscore <= 80 THEN 'high'
            ELSE 'critical' END AS risk_level
FROM cred JOIN overall ON cred.source_id = overall.source_id
"""


# ---------------------------------------------------------------------------
# Credibility history trend (credibility/shard.py:560-592): per-source
# assessment sequences with improving/declining/volatile/stable
# classification; means and the variance gate are exact integer-sum
# comparisons so the DuckDB mirror cannot drift.
# ---------------------------------------------------------------------------


@register("credibility_trend", None)  # oracle below
def q_credibility_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.credibility import credibility_trend
    docs = _load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") % 10 < 3
    )
    i = F.col("i")
    # per-source assessment count 1..6 varies with doc_id (the <3 branch
    # must fire); seq 0 = most recent; scores arithmetic-derived
    assessments = docs.select(
        F.col("doc_id").alias("source_id"),
        F.explode(
            F.sequence(F.lit(0), (F.col("doc_id") % 6).cast("int"))
        ).alias("i"),
    ).select(
        "source_id",
        i.alias("seq"),
        ((F.col("source_id") * (i + 3) + i * 17) % 101).alias("score"),
    )
    return credibility_trend(assessments)


ORACLE_SQL["credibility_trend"] = """
WITH src AS (SELECT doc_id FROM documents WHERE doc_id % 10 < 3),
seqs AS (
  SELECT doc_id AS source_id, unnest(generate_series(0, (doc_id % 6)::INT)) AS seq
  FROM src),
a AS (
  SELECT source_id, seq, (source_id * (seq + 3) + seq * 17) % 101 AS score
  FROM seqs),
counted AS (
  SELECT source_id, COUNT(*) AS n, SUM(score) AS s1,
         SUM(score * score) AS s2,
         SUM(CASE WHEN seq <= 2 THEN score ELSE 0 END) AS recent3,
         MAX(CASE WHEN seq = 0 THEN score END) AS latest_score,
         MIN(score) AS min_score, MAX(score) AS max_score
  FROM a GROUP BY source_id),
older AS (
  SELECT a.source_id,
         SUM(CASE WHEN a.seq >= c.n - 3 THEN a.score ELSE 0 END) AS older3
  FROM a JOIN counted c ON a.source_id = c.source_id
  GROUP BY a.source_id)
SELECT c.source_id, c.n::BIGINT AS n_assessments,
       round(c.s1::DOUBLE / c.n::DOUBLE, 6) AS avg_score,
       c.latest_score, c.min_score, c.max_score,
       CASE WHEN c.n < 3 THEN 'stable'
            WHEN c.recent3 > o.older3 + 30 THEN 'improving'
            WHEN c.recent3 < o.older3 - 30 THEN 'declining'
            WHEN c.n * c.s2 - c.s1 * c.s1 > 400 * c.n * c.n THEN 'volatile'
            ELSE 'stable' END AS score_trend
FROM counted c JOIN older o ON c.source_id = o.source_id
"""


# ---------------------------------------------------------------------------
# ACH consistency-matrix scoring (ach/scoring.py:20-129) — three synthetic
# matrices scored in one keyed pass; full SQL mirror.
# ---------------------------------------------------------------------------


def _ach_ratings(spark: SparkSession) -> DataFrame:
    m, h, e = F.col("m"), F.col("h"), F.col("e")
    base = (
        spark.range(3)
        .select(F.col("id").alias("m"))
        .select("m", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("h"))
        .select("m", "h", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("e"))
    )
    return base.select(
        F.concat(F.lit("mx"), m).alias("matrix_id"),
        F.concat(F.lit("h"), h).alias("hypothesis_id"),
        F.concat(F.lit("e"), e).alias("evidence_id"),
        F.element_at(
            F.array(*[F.lit(s) for s in ["++", "+", "N", "-", "--", "N/A"]]),
            ((m * 3 + h * 7 + e * 5) % 6 + 1).cast("int"),
        ).alias("rating"),
        (F.lit(50) + (e * 7 + m) % 51).alias("cred_centi"),
        (F.lit(50) + (e * 11 + h) % 51).alias("rel_centi"),
        (F.lit(60) + ((h + e + m) % 5) * 10).alias("conf_centi"),
    )


@register("ach_scores", None)  # oracle below
def q_ach_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.ach import ach_scores

    out = ach_scores(_ach_ratings(spark))
    return out.select(
        "matrix_id", "hypothesis_id",
        F.col("consistency_score").cast("long").alias("consistency_score"),
        F.col("inconsistency_count").cast("long").alias("inconsistency_count"),
        F.round("weighted_score", 6).alias("weighted_score"),
        F.round("normalized_score", 6).alias("normalized_score"),
        F.col("evidence_count").cast("long").alias("evidence_count"),
        "rank",
    )


@register("ach_diagnosticity", None)  # oracle below
def q_ach_diagnosticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnosticity report (scoring.py:131-182): evidence whose ratings
    VARY across hypotheses differentiates them — population variance of
    rating scores per evidence row, kept when > 0.5 over >= 2 rated
    hypotheses. Same synthetic matrices as ach_scores."""
    from .operators.ach import diagnosticity

    out = diagnosticity(_ach_ratings(spark))
    return out.select(
        "matrix_id", "evidence_id",
        F.round("variance", 6).alias("variance"),
        F.round("mean_consistency", 6).alias("mean_consistency"),
        F.col("rating_count").cast("long").alias("rating_count"),
    )


ORACLE_SQL["ach_diagnosticity"] = """
WITH ms AS (SELECT unnest(generate_series(0, 2)) AS m),
hs AS (SELECT unnest(generate_series(0, 3)) AS h),
es AS (SELECT unnest(generate_series(0, 7)) AS e),
ratings AS (
  SELECT 'mx' || m AS matrix_id, 'e' || e AS evidence_id,
         list_extract(['++', '+', 'N', '-', '--', 'N/A'],
                      ((m * 3 + h * 7 + e * 5) % 6 + 1)::INT) AS rating
  FROM ms, hs, es),
scored AS (
  SELECT matrix_id, evidence_id,
         SUM(CASE WHEN rating = '++' THEN 2 WHEN rating = '+' THEN 1
                  WHEN rating = 'N' THEN 0 WHEN rating = '-' THEN -1
                  ELSE -2 END) AS s1,
         SUM(CASE WHEN rating = '++' THEN 4 WHEN rating = '+' THEN 1
                  WHEN rating = 'N' THEN 0 WHEN rating = '-' THEN 1
                  ELSE 4 END) AS s2,
         COUNT(*) AS n
  FROM ratings WHERE rating != 'N/A'
  GROUP BY matrix_id, evidence_id),
finals AS (
  SELECT matrix_id, evidence_id,
         (s2::DOUBLE / n::DOUBLE)
           - (s1::DOUBLE / n::DOUBLE) * (s1::DOUBLE / n::DOUBLE) AS variance,
         s1::DOUBLE / n::DOUBLE AS mean_consistency, n
  FROM scored WHERE n >= 2)
SELECT matrix_id, evidence_id, round(variance, 6) AS variance,
       round(mean_consistency, 6) AS mean_consistency,
       n::BIGINT AS rating_count
FROM finals WHERE variance > 0.5
"""


ORACLE_SQL["ach_scores"] = """
WITH ms AS (SELECT unnest(generate_series(0, 2)) AS m),
hs AS (SELECT unnest(generate_series(0, 3)) AS h),
es AS (SELECT unnest(generate_series(0, 7)) AS e),
ratings AS (
  SELECT 'mx' || m AS matrix_id, 'h' || h AS hypothesis_id,
         'e' || e AS evidence_id,
         list_extract(['++', '+', 'N', '-', '--', 'N/A'],
                      ((m * 3 + h * 7 + e * 5) % 6 + 1)::INT) AS rating,
         50 + (e * 7 + m) % 51 AS cred,
         50 + (e * 11 + h) % 51 AS rel,
         60 + ((h + e + m) % 5) * 10 AS conf
  FROM ms, hs, es),
scored AS (
  SELECT matrix_id, hypothesis_id,
         SUM(CASE WHEN rating = 'N/A' THEN 0
                  WHEN rating = '++' THEN 2 WHEN rating = '+' THEN 1
                  WHEN rating = 'N' THEN 0 WHEN rating = '-' THEN -1
                  ELSE -2 END) AS consistency_score,
         SUM(CASE WHEN rating IN ('-', '--') THEN 1 ELSE 0 END)
           AS inconsistency_count,
         SUM(CASE WHEN rating = 'N/A' THEN 0 ELSE
             (CASE WHEN rating = '++' THEN 2 WHEN rating = '+' THEN 1
                   WHEN rating = 'N' THEN 0 WHEN rating = '-' THEN -1
                   ELSE -2 END) * cred * rel * conf END) AS wnum,
         SUM(CASE WHEN rating = 'N/A' THEN 0 ELSE cred * rel END) AS wden,
         COUNT(*) AS evidence_count
  FROM ratings GROUP BY matrix_id, hypothesis_id),
finals AS (
  SELECT matrix_id, hypothesis_id, consistency_score, inconsistency_count,
         CASE WHEN wden > 0 THEN wnum::DOUBLE / (wden::DOUBLE * 100.0)
              ELSE 0.0 END AS weighted_score,
         CASE WHEN wden > 0
              THEN (wnum::DOUBLE / (wden::DOUBLE * 100.0) + 2.0) / 4.0 * 100.0
              ELSE 50.0 END AS normalized_score,
         evidence_count
  FROM scored)
SELECT matrix_id, hypothesis_id, consistency_score, inconsistency_count,
       round(weighted_score, 6) AS weighted_score,
       round(normalized_score, 6) AS normalized_score, evidence_count,
       row_number() OVER (PARTITION BY matrix_id
                          ORDER BY inconsistency_count ASC,
                                   weighted_score DESC,
                                   hypothesis_id ASC)::INT AS rank
FROM finals
"""


_MEDIA_METADATA_BASE_ORACLE = """
SELECT * FROM (VALUES
  ('cam-clean', 'jpeg', 'Nikon', 'D750', '<na>', '2020:01:01 12:00:00',
   -424242.0::DOUBLE, -424242.0::DOUBLE, '<na>', '<na>', '<na>', '<na>', '<na>', '<na>',
   -424242::INTEGER, '<na>', '',
   'clean', 1.0::DOUBLE, '', 0),
  ('cam-full', 'jpeg', 'Canon', 'EOS 5D', 'Adobe Photoshop 24',
   '2021:06:01 09:00:00', 40.446195::DOUBLE, -79.982195::DOUBLE, '<na>', '<na>',
   '<na>', '<na>', '<na>', '<na>', -424242::INTEGER, '<na>',
   'EDITING_SOFTWARE|TIMESTAMP_MISMATCH|DIGITIZED_MISMATCH',
   'clean', 1.0::DOUBLE, 'editing_software_detected', 0),
  ('gps-anon', 'jpeg', '<na>', '<na>', '<na>', '<na>', 48.8584::DOUBLE,
   2.2945::DOUBLE, '<na>', '<na>', '<na>', '<na>', '<na>', '<na>', -424242::INTEGER, '<na>',
   'NO_CAMERA|GPS_NO_CAMERA',
   'clean', 1.0::DOUBLE, '', 0),
  ('junk', 'jpeg', '<na>', '<na>', '<na>', '<na>', -424242.0::DOUBLE, -424242.0::DOUBLE, '<na>',
   '<na>', '<na>', '<na>', '<na>', '<na>', -424242::INTEGER, '<na>', '',
   'unknown', 0.0::DOUBLE, '', 1),
  ('memo-docx', 'ooxml', '<na>', '<na>', '<na>', '<na>', -424242.0::DOUBLE, -424242.0::DOUBLE,
   'Q3 Notes', 'Bob', '<na>', '2022-03-01T10:00:00', '2022-04-01T10:00:00',
   'Carol', 1, '<na>', 'REVISION_ANOMALY',
   'suspicious', 0.7::DOUBLE, 'revision_anomaly', 0),
  ('rep-pdf', 'pdf', '<na>', '<na>', '<na>', '<na>', -424242.0::DOUBLE, -424242.0::DOUBLE,
   'Report (v2)', 'A. Analyst', 'GPL Ghostscript 9.0', '2023-05-10T12:00:00',
   '2023-01-01T09:00:00', '<na>', -424242::INTEGER, '<na>',
   'TIMESTAMP_ANOMALY|PDF_TOOL_DETECTED',
   'suspicious', 0.925::DOUBLE, 'timestamp_anomaly|pdf_tool_detected', 0),
  ('shot-png', 'png', '<na>', '<na>', 'gimp 2.10', '<na>', -424242.0::DOUBLE,
   -424242.0::DOUBLE, '<na>', '<na>', '<na>', '<na>', '<na>', '<na>', -424242::INTEGER,
   'Comment=fixture;Software=gimp 2.10', '',
   'suspicious', 0.85::DOUBLE, 'exif_minimal|editing_software_detected', 0),
  ('stripped', 'jpeg', '<na>', '<na>', '<na>', '<na>', -424242.0::DOUBLE, -424242.0::DOUBLE,
   '<na>', '<na>', '<na>', '<na>', '<na>', '<na>', -424242::INTEGER, '<na>', 'NO_EXIF',
   'suspicious', 0.7::DOUBLE, 'exif_minimal', 0)
) AS fx(media_id, kind, make, model, software, datetime_original, gps_lat,
        gps_lon, title, author, producer, created, modified,
        last_modified_by, revision, png_text, warnings, integrity_status,
        integrity_confidence, integrity_findings, err)
"""


# ---------------------------------------------------------------------------
# Entity correlation analysis (patterns shard.py:666-877): Pearson over
# binary entity x document occurrence vectors, reduced to four integer
# counts (n, a, b, c) and evaluated in identical double math on both
# engines. Top-25 most document-frequent validated entities, pairs with
# >= 2 common documents.
# ---------------------------------------------------------------------------


@register("entity_correlations", None)  # oracle below
def q_entity_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.correlations import entity_correlations
    from .queries import _valid_mentions

    valid = _valid_mentions(spark, sf_dir).select(
        "doc_id", F.lower(F.col("text")).alias("entity")
    )
    out = entity_correlations(valid, entity_col="entity", top_k=25)
    return out.select(
        "entity_a",
        "entity_b",
        F.round("correlation_score", 6).alias("correlation_score"),
        "co_occurrence_count",
        "correlation_type",
        "description",
        "n_docs",
    )


def _entity_correlations_oracle() -> str:
    from .queries import _MENTIONS_CTE, _VALID_SQL

    return (
        _MENTIONS_CTE
        + f"""
, valid AS (SELECT doc_id, entity_text FROM mentions WHERE {_VALID_SQL}),
occ AS (SELECT DISTINCT lower(entity_text) AS e, doc_id AS d FROM valid),
top AS (SELECT e FROM (SELECT e, count(*) AS dc FROM occ GROUP BY e)
        ORDER BY dc DESC, e ASC LIMIT 25),
socc AS (SELECT occ.e, occ.d FROM occ JOIN top USING (e)),
stats AS (SELECT count(DISTINCT d) AS n FROM socc),
ecnt AS (SELECT e, count(*) AS a FROM socc GROUP BY e),
pairs AS (SELECT x.e AS entity_a, y.e AS entity_b, count(*) AS c
          FROM socc x JOIN socc y ON x.d = y.d AND x.e < y.e
          GROUP BY 1, 2 HAVING count(*) >= 2),
j AS (SELECT p.entity_a, p.entity_b, p.c, s.n,
             s.n::DOUBLE AS nd, ea.a::DOUBLE AS ad, eb.a::DOUBLE AS bd,
             p.c::DOUBLE AS cd
      FROM pairs p
      JOIN ecnt ea ON p.entity_a = ea.e
      JOIN ecnt eb ON p.entity_b = eb.e
      CROSS JOIN stats s),
scored AS (SELECT entity_a, entity_b, c, n,
        CASE WHEN (nd*ad - ad*ad) * (nd*bd - bd*bd) <= 0.0::DOUBLE
             THEN 0.0::DOUBLE
             ELSE least(1.0::DOUBLE, greatest(-1.0::DOUBLE,
               (nd*cd - ad*bd) / sqrt((nd*ad - ad*ad) * (nd*bd - bd*bd))))
        END AS r
      FROM j)
SELECT entity_a, entity_b,
       CASE WHEN n < 2 THEN 1.0::DOUBLE ELSE round(r, 6) END
         AS correlation_score,
       c::BIGINT AS co_occurrence_count,
       CASE WHEN n < 2 THEN 'co_occurrence'
            WHEN r >= 0.7 THEN 'strong_positive'
            WHEN r >= 0.4 THEN 'moderate_positive'
            WHEN r <= -0.7 THEN 'strong_negative'
            WHEN r <= -0.4 THEN 'moderate_negative'
            ELSE 'weak' END AS correlation_type,
       CASE WHEN n < 2 THEN printf('Found in %d common documents', c)
            ELSE printf(
              '%s correlation (r=%.2f), co-occurred in %d documents',
              CASE WHEN r >= 0.7 THEN 'Strong positive'
                   WHEN r >= 0.4 THEN 'Moderate positive'
                   WHEN r <= -0.7 THEN 'Strong negative'
                   WHEN r <= -0.4 THEN 'Moderate negative'
                   ELSE 'Weak' END,
              r, c) END AS description,
       n::BIGINT AS n_docs
FROM scored
"""
    )


ORACLE_SQL["entity_correlations"] = _entity_correlations_oracle()


# ---------------------------------------------------------------------------
# C2PA content credentials (media_forensics/services/c2pa_parser.py:85-236):
# stdlib JUMBF sniff over fixture JPEG/PNG payloads covering every signer
# branch, then the interpretation rules natively — the oracle pins the
# sniffed intermediate inputs (the byte walk is pytest-differential-covered)
# and mirrors the interpretation CASE logic in full SQL.
# ---------------------------------------------------------------------------

_C2PA_FIXTURES = [
    # media_id, kind, manifest store (None = no credentials)
    ("openai", "jpeg", {
        "active_manifest": "m1",
        "manifests": {"m1": {
            "claim_generator": "DALL-E 3",
            "signature_info": {"issuer": "OpenAI", "time": "2024-03-01"},
            "assertions": [
                {"label": "c2pa.actions",
                 "data": {"actions": [{"action": "c2pa.created"}]}}],
        }},
    }),
    ("adobe_ai", "png", {
        "active_manifest": "a1",
        "manifests": {"a1": {
            "claim_generator": "Adobe Photoshop",
            "signature_info": {"issuer": "Adobe Inc.",
                               "time": "2024-01-05"},
            "assertions": [
                {"label": "c2pa.actions",
                 "data": {"actions": [{"action": "c2pa.edited",
                                       "softwareAgent": "Firefly"}]}}],
        }},
    }),
    ("adobe_plain", "jpeg", {
        "active_manifest": "p1",
        "manifests": {"p1": {
            "claim_generator": "Adobe Lightroom",
            "signature_info": {"issuer": "Adobe Systems",
                               "time": "2024-02-02"},
            "assertions": [
                {"label": "c2pa.actions", "data": {"actions": [
                    {"action": "c2pa.color_adjustments"}]}}],
        }},
    }),
    ("microsoft", "jpeg", {
        "active_manifest": "d1",
        "manifests": {"d1": {
            "claim_generator": "Microsoft Designer",
            "signature_info": {"issuer": "Microsoft Corp",
                               "time": "2024-04-04"},
        }},
    }),
    ("leica", "png", {
        "active_manifest": "l1",
        "manifests": {"l1": {
            "claim_generator": "Leica M11-P",
            "signature_info": {"issuer": "Leica Camera AG",
                               "time": "2024-05-05"},
        }},
    }),
    ("unsigned", "jpeg", {
        "active_manifest": "u1",
        "manifests": {"u1": {"claim_generator": "cli-tool"}},
    }),
    ("plain", "jpeg", None),
]


@register("c2pa_scan", None)  # oracle below
def q_c2pa_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from .operators.c2pa import (
        embed_c2pa_jpeg,
        embed_c2pa_png,
        extract_c2pa,
        interpret_c2pa_cols,
    )
    from .operators.media_metadata import build_jpeg_exif
    from .operators.multimodal import encode_png

    base_jpeg = build_jpeg_exif()
    base_png = encode_png(np.zeros((4, 4), dtype=np.uint8))
    rows = []
    for mid, kind, store in _C2PA_FIXTURES:
        if store is None:
            payload = base_jpeg if kind == "jpeg" else base_png
        elif kind == "jpeg":
            payload = embed_c2pa_jpeg(base_jpeg, store)
        else:
            payload = embed_c2pa_png(base_png, store)
        rows.append((mid, payload))
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    ext = extract_c2pa(df)
    # the trust-anchors-loaded case (signature_valid -> confidence 'high'):
    # unreachable from the no-anchors stdlib lane, injected as a literal row
    trusted = spark.createDataFrame(
        [("trusted", True, None, True, "OpenAI", "2024-06-01",
          "DALL-E 3", "", "1")],
        ext.schema,
    )
    out = interpret_c2pa_cols(ext.unionByName(trusted))
    return out.select(
        "media_id",
        "has_c2pa",
        F.coalesce("signer", sentinel("string")).alias("signer"),
        F.coalesce("c2pa_ts", sentinel("string")).alias("c2pa_ts"),
        "finding",
        F.col("conf_level"),
        "interpretation",
        "implications",
        "is_ai_generated",
    )


def _c2pa_oracle() -> str:
    from .operators.c2pa import (
        _NO_C2PA_IMPL,
        _NO_C2PA_INTERP,
        _OPENAI_IMPL,
        _OPENAI_INTERP,
    )

    def sq(s: str) -> str:
        return s.replace("'", "''")

    return f"""
WITH inputs(media_id, has_c2pa, has_error, signature_valid, signer,
            c2pa_ts, actions_str) AS (VALUES
  ('openai', true, false, false, 'OpenAI', '2024-03-01',
   '{{''action'': ''c2pa.created''}}'),
  ('adobe_ai', true, false, false, 'Adobe Inc.', '2024-01-05',
   '{{''action'': ''c2pa.edited'', ''softwareAgent'': ''Firefly''}}'),
  ('adobe_plain', true, false, false, 'Adobe Systems', '2024-02-02',
   '{{''action'': ''c2pa.color_adjustments''}}'),
  ('microsoft', true, false, false, 'Microsoft Corp', '2024-04-04', ''),
  ('leica', true, false, false, 'Leica Camera AG', '2024-05-05', ''),
  ('unsigned', true, false, false, NULL, NULL, ''),
  ('plain', false, false, false, NULL, NULL, NULL),
  ('trusted', true, false, true, 'OpenAI', '2024-06-01', '')
),
d AS (SELECT *,
  ((NOT has_c2pa) OR has_error) AS no_c2pa,
  lower(coalesce(signer, '')) AS sl,
  lower(coalesce(actions_str, '')) AS al
  FROM inputs),
r AS (SELECT *,
  (contains(sl, 'openai') OR contains(sl, 'dall-e')) AS is_openai,
  contains(sl, 'adobe') AS is_adobe,
  (contains(al, 'generative') OR contains(al, 'firefly')) AS adobe_ai,
  contains(sl, 'microsoft') AS is_ms
  FROM d)
SELECT media_id, has_c2pa,
  coalesce(signer, '<na>') AS signer,
  coalesce(c2pa_ts, '<na>') AS c2pa_ts,
  CASE WHEN no_c2pa THEN 'NO_C2PA' ELSE 'C2PA_PRESENT' END AS finding,
  CASE WHEN no_c2pa THEN 'low'
       WHEN signature_valid THEN 'high' ELSE 'medium' END AS conf_level,
  CASE WHEN no_c2pa THEN '{sq(_NO_C2PA_INTERP)}'
       WHEN is_openai THEN '{sq(_OPENAI_INTERP)}'
       WHEN is_adobe THEN 'This content has Adobe Content Credentials.'
       WHEN is_ms THEN 'This content has Microsoft Content Credentials.'
       ELSE 'Content signed by: ' || coalesce(signer, 'None')
  END AS interpretation,
  CASE WHEN no_c2pa THEN '{sq(_NO_C2PA_IMPL)}'
       WHEN is_openai THEN '{sq(_OPENAI_IMPL)}'
       WHEN is_adobe AND adobe_ai
         THEN 'Contains AI-generated elements (Adobe Firefly)'
       WHEN is_adobe THEN 'Created or edited with Adobe software'
       WHEN is_ms
         THEN 'May have been created with Microsoft Designer or Copilot'
       ELSE 'Provenance verified through C2PA signature'
  END AS implications,
  CASE WHEN no_c2pa THEN false
       WHEN is_openai THEN true
       WHEN is_adobe AND adobe_ai THEN true
       ELSE false END AS is_ai_generated
FROM r
"""


ORACLE_SQL["c2pa_scan"] = _c2pa_oracle()


def _media_metadata_full_oracle() -> str:
    """Extend the pinned metadata VALUES with the full_scan columns:
    digests + sizes computed independently with hashlib over the SAME
    deterministic fixture payloads (builders pin zip timestamps),
    timeline event counts hand-derived from the metadata_timeline rules
    (cam-full: captured + digitized(!= original) + modified = 3;
    cam-clean: captured + modified, digitized==original suppressed = 2;
    stripped/gps-anon/shot-png: no timestamp fields = 0; rep-pdf and
    memo-docx: created + modified(!= created) = 2; junk: quarantined,
    no fields = 0), and scan_status derived from the oracled err flag."""
    import hashlib

    tl = {"cam-full": 3, "cam-clean": 2, "stripped": 0, "gps-anon": 0,
          "shot-png": 0, "rep-pdf": 2, "memo-docx": 2, "junk": 0}
    hrows = []
    for mid, payload in _metadata_fixture_rows():
        hrows.append(
            f"('{mid}', '{hashlib.md5(payload).hexdigest()}', "
            f"'{hashlib.sha256(payload).hexdigest()}', "
            f"'{hashlib.sha512(payload).hexdigest()}', "
            f"{len(payload)}::BIGINT, {tl[mid]}::BIGINT)"
        )
    values = ",\n  ".join(hrows)
    return f"""
SELECT o.*, h.file_hash_md5, h.file_hash_sha256, h.file_hash_sha512,
       h.file_size, h.n_timeline_events,
       CASE WHEN o.err = 1 THEN 'failed' ELSE 'completed' END AS scan_status
FROM ({_MEDIA_METADATA_BASE_ORACLE}) o
JOIN (VALUES
  {values}
) h(media_id, file_hash_md5, file_hash_sha256, file_hash_sha512,
    file_size, n_timeline_events)
  ON o.media_id = h.media_id
"""


ORACLE_SQL["media_metadata"] = _media_metadata_full_oracle()


# ---------------------------------------------------------------------------
# Spearman rank correlation with the reference's int-cast tie quirk
# (patterns shard.py:845-877) — derived integer pairs with engineered tie
# runs per group; FULL SQL mirror (the rank algebra is pure window math:
# int_rank = rank() + (ties-1)//2, then the closed-form Pearson in double).
# ---------------------------------------------------------------------------


@register("spearman_corr", None)  # oracle below
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.correlations import spearman_int_rank
    d = _load(spark, sf_dir, "documents").select("doc_id")
    df = d.select(
        (F.col("doc_id") % 6).alias("g"),
        ((F.col("doc_id") * 7) % 5).alias("x"),  # heavy ties: 5 values
        ((F.col("doc_id") * 3 + F.col("doc_id") % 2) % 4).alias("y"),
    )
    out = spearman_int_rank(df, "x", "y", group_cols=["g"])
    return out.select(
        F.col("g").cast("long").alias("group_id"),
        F.round("spearman", 6).alias("spearman"),
        F.col("n").cast("long").alias("n"),
    )


ORACLE_SQL["spearman_corr"] = """
WITH src AS (
  SELECT doc_id % 6 AS g, (doc_id * 7) % 5 AS x,
         (doc_id * 3 + doc_id % 2) % 4 AS y
  FROM documents
),
ranked AS (
  SELECT g,
    (rank() OVER (PARTITION BY g ORDER BY x)
       + (count(*) OVER (PARTITION BY g, x) - 1) // 2)::BIGINT AS rx,
    (rank() OVER (PARTITION BY g ORDER BY y)
       + (count(*) OVER (PARTITION BY g, y) - 1) // 2)::BIGINT AS ry
  FROM src
),
agg AS (
  SELECT g, count(*)::BIGINT AS n,
         sum(rx)::BIGINT AS sx, sum(ry)::BIGINT AS sy,
         sum(rx * ry)::BIGINT AS sxy,
         sum(rx * rx)::BIGINT AS sxx, sum(ry * ry)::BIGINT AS syy
  FROM ranked GROUP BY g
),
scored AS (
  SELECT g, n,
    CASE WHEN (n::DOUBLE * sxx - sx::DOUBLE * sx)
            * (n::DOUBLE * syy - sy::DOUBLE * sy) <= 0.0::DOUBLE
         THEN 0.0::DOUBLE
         ELSE least(1.0::DOUBLE, greatest(-1.0::DOUBLE,
           (n::DOUBLE * sxy - sx::DOUBLE * sy)
           / sqrt((n::DOUBLE * sxx - sx::DOUBLE * sx)
                  * (n::DOUBLE * syy - sy::DOUBLE * sy))))
    END AS r
  FROM agg
)
SELECT g::BIGINT AS group_id, round(r, 6) AS spearman, n FROM scored
"""


# ---------------------------------------------------------------------------
# Keyword pattern detection + pattern-vs-document matching (patterns
# shard.py:1588-1650) — full SQL mirrors: same whitespace split, >4-char
# words, count>=5 / conf=min(n/20,1) gates, FIRST-APPEARANCE top-10
# (encoded min(doc*1e6+pos) == Spark's min(struct(doc,pos)) since every
# doc has far fewer than 1e6 words), strpos/instr + substring excerpts.
# ---------------------------------------------------------------------------

_RECURRING_CTE = """
WITH wordsrc AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents
),
tok AS (
  SELECT doc_id, g.i AS i, ws[g.i] AS w
  FROM wordsrc, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
  WHERE ws[g.i] <> '' AND length(ws[g.i]) > 4
),
counts AS (
  SELECT w AS word, count(*) AS n,
         min(doc_id * 1000000 + (i - 1)) AS firstkey
  FROM tok GROUP BY w
),
kept AS (
  SELECT word, n, least(n::DOUBLE / 20.0, 1.0::DOUBLE) AS confidence,
         firstkey
  FROM counts
  WHERE n >= 5 AND least(n::DOUBLE / 20.0, 1.0::DOUBLE) >= 0.25
),
pats AS (SELECT * FROM kept ORDER BY firstkey LIMIT 10)
"""


@register("recurring_patterns", None)  # oracle below
def q_recurring_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.patterns import detect_recurring_patterns
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    out = detect_recurring_patterns(d, min_confidence=0.25)
    return out.select(
        "name",
        "description",
        "word",
        "n_occurrences",
        F.round("confidence", 6).alias("confidence"),
    )


ORACLE_SQL["recurring_patterns"] = _RECURRING_CTE + """
SELECT 'Recurring: ' || word AS name,
       printf('The term ''%s'' appears %d times', word, n) AS description,
       word, n::BIGINT AS n_occurrences,
       round(confidence, 6) AS confidence
FROM pats
"""


@register("pattern_doc_matches", None)  # oracle below
def q_pattern_doc_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.patterns import (
        detect_recurring_patterns,
        match_patterns_to_docs,
    )
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    pats = detect_recurring_patterns(d, min_confidence=0.25).select(
        "name", F.array("word").alias("keywords")
    )
    out = match_patterns_to_docs(pats, d)
    return out.select(
        "pattern_name",
        F.col("doc").cast("long").alias("doc_id"),
        "match_score",
        "start_char",
        "end_char",
        "excerpt",
    )


ORACLE_SQL["pattern_doc_matches"] = _RECURRING_CTE + """
, hits AS (
  SELECT 'Recurring: ' || p.word AS pattern_name, d.doc_id, d.text,
         p.word, strpos(lower(d.text), p.word) AS sp
  FROM documents d CROSS JOIN pats p
  WHERE strpos(lower(d.text), p.word) > 0
)
SELECT pattern_name, doc_id, 0.8::DOUBLE AS match_score,
       (sp - 1)::BIGINT AS start_char,
       (sp - 1 + length(word))::BIGINT AS end_char,
       substring(text, greatest(0, sp - 1 - 100) + 1,
                 least(length(text), sp - 1 + length(word) + 100)
                   - greatest(0, sp - 1 - 100)) AS excerpt
FROM hits
"""


# ---------------------------------------------------------------------------
# Byte-parity reference SimHash (arkham-shard-documents/services/
# deduplication.py:48-149) — full SQL mirror: same tokenizer (the corpus
# text is ASCII, so RE2's \w == Python's), same uni/bi/tri-gram shingles
# WITH duplicates, same md5 big-endian bits via two 32-bit halves, same
# MSB-first +-1 voting; output as the 64-char bitstring (no unsigned-64
# pitfalls on either engine).
# ---------------------------------------------------------------------------


@register("reference_simhash", None)  # oracle below
def q_reference_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash64_reference
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash64_reference(d).select("doc_id", "simhash_bits")


def _simhash_bits_cte(src: str) -> str:
    """CTE chain <src>(doc_id, text) -> bitstr(doc_id, bits): the full
    SQL mirror of simhash64_reference (same tokenizer, shingles with
    duplicates, md5 big-endian bits via two 32-bit halves, MSB-first
    voting)."""
    return r"""
norm AS (
  SELECT doc_id, regexp_replace(lower(text), '[^\w\s]', '', 'g') AS t
  FROM {src}
),
w AS (
  SELECT doc_id,
         list_filter(string_split_regex(t, '\s+'),
                     x -> length(x) > 0) AS ws
  FROM norm
),
sh AS (
  SELECT doc_id, g.tok FROM w, LATERAL (
    SELECT unnest(list_concat(list_concat(ws,
      CASE WHEN len(ws) >= 2
           THEN list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i + 1])
           ELSE []::VARCHAR[] END),
      CASE WHEN len(ws) >= 3
           THEN list_transform(generate_series(1, len(ws) - 2),
                i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])
           ELSE []::VARCHAR[] END)) AS tok) g
),
h AS (
  SELECT doc_id,
         ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
  FROM sh
),
bitsum AS (
  SELECT doc_id, b.i,
         sum(CASE WHEN (CASE WHEN b.i < 32 THEN (hi >> (31 - b.i))
                             ELSE (lo >> (63 - b.i)) END) & 1 = 1
                  THEN 1 ELSE -1 END) AS v
  FROM h, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) b
  GROUP BY doc_id, b.i
),
bitstr AS (
  SELECT doc_id,
         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, ''
                    ORDER BY i) AS bits
  FROM bitsum GROUP BY doc_id
)
""".replace("{src}", src)


ORACLE_SQL["reference_simhash"] = (
    "WITH" + _simhash_bits_cte("documents") + """
SELECT d.doc_id, coalesce(b.bits, repeat('0', 64)) AS simhash_bits
FROM documents d LEFT JOIN bitstr b USING (doc_id)
"""
)


# ---------------------------------------------------------------------------
# Per-document content-hash record (documents shard compute_hash,
# deduplication.py:213-241) — md5/sha256/length are native on both
# engines; the SimHash member of the record is served by the
# `reference_simhash` part (absorbed by simhash_neardup).
# ---------------------------------------------------------------------------


@register("doc_content_hashes", None)  # oracle below
def q_doc_content_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
        F.length("text").cast("long").alias("text_length"),
    )


ORACLE_SQL["doc_content_hashes"] = """
SELECT doc_id, md5(text) AS content_md5, sha256(text) AS content_sha256,
       length(text)::BIGINT AS text_length
FROM documents
"""


# ---------------------------------------------------------------------------
# SimHash duplicate groups over a planted near-dup corpus: doc_id%3
# variants of each anchor doc differ by one appended word (hamming << 12
# within a triplet, ~32 across), so the threshold-0.8 groups are the
# triplets. Spark runs the Manku banded join + distributed min-label
# components; the oracle brute-forces hamming over the bitstrings and
# resolves components with a recursive CTE — ids zero-padded on the
# Spark side so the string-min component label equals the numeric min.
# ---------------------------------------------------------------------------


@register("simhash_duplicate_groups", None)  # oracle below
def q_simhash_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import content_hashes, duplicate_groups
    # fixture cap: 1500 docs (500 triplets) exercises the full path at
    # every gate scale (sf<=0.01 passes all docs) without paying the
    # whole-corpus simhash in the sf0.1 sweep; the component loop's
    # per-round job overhead (~12 s flat, scale-independent) dominates
    # the entry's wall either way
    d = _load(spark, sf_dir, "documents").select("doc_id", "text").where(
        F.col("doc_id") < 1500
    )
    anchors = d.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("base"), F.col("text").alias("atext")
    )
    derived = (
        d.select(
            "doc_id",
            (F.col("doc_id") - F.col("doc_id") % 3).alias("base"),
        )
        .join(anchors, "base")
        .select(
            "doc_id",
            F.concat(
                F.col("atext"), F.lit(" variant"),
                (F.col("doc_id") % 3).cast("string"),
            ).alias("text"),
        )
    )
    # checkpoint the small derived frame: without it the anchor join +
    # concat subtree inlines into all 64 simhash aggregates and blows the
    # 64KB whole-stage codegen method limit (interpreted fallback, ~5x)
    padded = derived.select(
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("doc_id"),
        "text",
    ).localCheckpoint(eager=False)
    groups = duplicate_groups(content_hashes(padded), threshold=0.8)
    return groups.select(
        F.col("primary_document_id").cast("long").alias("primary_id"),
        F.col("member_id").cast("long").alias("member_id"),
    )


ORACLE_SQL["simhash_duplicate_groups"] = (
    """WITH RECURSIVE derived AS (
  SELECT v.doc_id, a.text || ' variant' || (v.doc_id % 3)::VARCHAR AS text
  FROM documents v JOIN documents a ON a.doc_id = v.doc_id - v.doc_id % 3
  WHERE v.doc_id < 1500
),"""
    + _simhash_bits_cte("derived")
    + """,
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM bitstr x JOIN bitstr y ON x.doc_id < y.doc_id
  WHERE len(list_filter(generate_series(1, 64),
                        i -> x.bits[i] <> y.bits[i])) <= 12
),
nodes AS (SELECT a AS n FROM pairs UNION SELECT b AS n FROM pairs),
edges2 AS (SELECT a AS s, b AS d FROM pairs
           UNION ALL SELECT b AS s, a AS d FROM pairs),
cc(n, c) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT e.d, cc.c FROM cc JOIN edges2 e ON cc.n = e.s
),
comp AS (SELECT n, min(c) AS c FROM cc GROUP BY n)
SELECT c::BIGINT AS primary_id, n::BIGINT AS member_id FROM comp
"""
)


# ---------------------------------------------------------------------------
# Dedup-lane finale: merge_documents + deduplication_stats
# (deduplication.py:498-701) over an analytically-known group fixture —
# consecutive doc_id triplets below 300 form the duplicate groups (group
# DISCOVERY is gated by the simhash_duplicate_groups part; this part
# gates the MERGE decision table), with doc_id%5 synthetic mentions and
# doc_id%4 claims per member. Four row kinds in one part: per-group
# history, post-merge document states, re-pointed reference counts, and
# the corpus stats row (paired-text sha256 fixture, hashes for
# doc_id%7>0 only so hash coverage < total).
# ---------------------------------------------------------------------------


@register("dedup_merge", None)  # oracle below
def q_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import deduplication_stats, merge_documents
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    docs = d.select("doc_id")
    grouped = docs.where(F.col("doc_id") < 300)
    groups = grouped.select(
        (F.col("doc_id") - F.col("doc_id") % 3).alias(
            "primary_document_id"
        ),
        F.col("doc_id").alias("member_id"),
    )
    n_m = (F.col("doc_id") % 5).cast("int")
    mentions = grouped.where(n_m > 0).select(
        F.col("doc_id").alias("document_id"),
        F.explode(F.sequence(F.lit(1), n_m)).alias("mention_i"),
    )
    n_c = (F.col("doc_id") % 4).cast("int")
    claims = grouped.where(n_c > 0).select(
        F.col("doc_id").alias("document_id"),
        F.explode(F.sequence(F.lit(1), n_c)).alias("claim_i"),
    )
    out = merge_documents(docs, groups, mentions=mentions, claims=claims)

    hist = out["history"].select(
        F.col("primary_id").alias("id"), "merged_count",
        "references_updated", "documents_cleaned",
    )
    docs_state = out["documents"].select(
        F.col("doc_id").alias("id"), "status",
        F.coalesce(
            F.col("merged_into_id").cast("long"), sentinel("bigint")
        ).alias("merged_into"),
    )
    refs = (
        out["mentions"]
        .groupBy(F.col("document_id").alias("id"))
        .agg(F.count(F.lit(1)).alias("references_updated"))
    )
    pair_base = d.select(
        (F.col("doc_id") - F.col("doc_id") % 2).alias("base"),
        F.col("doc_id").alias("v_id"),
    )
    anchor = d.select(F.col("doc_id").alias("base"), "text")
    hashes = (
        pair_base.join(anchor, "base")
        .where(F.col("v_id") % 7 > 0)
        .select(
            F.col("v_id").alias("doc_id"),
            F.sha2(F.col("text"), 256).alias("content_sha256"),
        )
    )
    stats = deduplication_stats(docs, hashes).select(
        F.col("total_documents").alias("stat_total"),
        F.col("documents_with_hash").alias("stat_with_hash"),
        F.col("unique_content_hashes").alias("stat_unique"),
        F.col("potential_duplicates").alias("stat_potential"),
    )
    return padded_union(
        "kind",
        "id bigint, status string, merged_into bigint, merged_count bigint, "
        "references_updated bigint, documents_cleaned bigint, "
        "stat_total bigint, stat_with_hash bigint, stat_unique bigint, "
        "stat_potential bigint",
        [("history", hist), ("doc", docs_state), ("refs", refs),
         ("stats", stats)],
    )


ORACLE_SQL["dedup_merge"] = """
WITH g AS (
  SELECT doc_id FROM documents WHERE doc_id < 300
),
dups AS (
  SELECT doc_id - doc_id % 3 AS primary_id, doc_id AS member_id
  FROM g WHERE doc_id % 3 <> 0
),
hist AS (
  SELECT 'history' AS kind, primary_id::BIGINT AS id,
         '<na>' AS status, -424242::BIGINT AS merged_into,
         count(*)::BIGINT AS merged_count,
         sum(member_id % 5 + member_id % 4)::BIGINT
           AS references_updated,
         count(*)::BIGINT AS documents_cleaned,
         -424242::BIGINT AS stat_total,
         -424242::BIGINT AS stat_with_hash,
         -424242::BIGINT AS stat_unique,
         -424242::BIGINT AS stat_potential
  FROM dups GROUP BY primary_id
),
docs_state AS (
  SELECT 'doc' AS kind, d.doc_id::BIGINT AS id,
         CASE WHEN dp.member_id IS NOT NULL THEN 'merged'
              ELSE 'active' END AS status,
         coalesce(dp.primary_id, -424242)::BIGINT AS merged_into,
         -424242::BIGINT AS merged_count,
         -424242::BIGINT AS references_updated,
         -424242::BIGINT AS documents_cleaned,
         -424242::BIGINT AS stat_total,
         -424242::BIGINT AS stat_with_hash,
         -424242::BIGINT AS stat_unique,
         -424242::BIGINT AS stat_potential
  FROM documents d LEFT JOIN dups dp ON d.doc_id = dp.member_id
),
refs AS (
  SELECT 'refs' AS kind,
         (doc_id - doc_id % 3)::BIGINT AS id,
         '<na>' AS status, -424242::BIGINT AS merged_into,
         -424242::BIGINT AS merged_count,
         sum(doc_id % 5)::BIGINT AS references_updated,
         -424242::BIGINT AS documents_cleaned,
         -424242::BIGINT AS stat_total,
         -424242::BIGINT AS stat_with_hash,
         -424242::BIGINT AS stat_unique,
         -424242::BIGINT AS stat_potential
  FROM g WHERE doc_id % 5 > 0
  GROUP BY doc_id - doc_id % 3
),
h AS (
  SELECT v.doc_id, sha256(a.text) AS content_sha256
  FROM documents v JOIN documents a
    ON a.doc_id = v.doc_id - v.doc_id % 2
  WHERE v.doc_id % 7 > 0
),
stats AS (
  SELECT 'stats' AS kind, -424242::BIGINT AS id, '<na>' AS status,
         -424242::BIGINT AS merged_into,
         -424242::BIGINT AS merged_count,
         -424242::BIGINT AS references_updated,
         -424242::BIGINT AS documents_cleaned,
         count(*)::BIGINT AS stat_total,
         count(h.content_sha256)::BIGINT AS stat_with_hash,
         count(DISTINCT h.content_sha256)::BIGINT AS stat_unique,
         greatest(count(h.content_sha256)
                  - count(DISTINCT h.content_sha256), 0)::BIGINT
           AS stat_potential
  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id
)
SELECT * FROM hist UNION ALL SELECT * FROM docs_state
UNION ALL SELECT * FROM refs UNION ALL SELECT * FROM stats
"""


# ---------------------------------------------------------------------------
# Claims similarity + merge lanes (claims shard.py:880-983) over
# analytically-known fixtures. similar_claims: claims are built from
# doc_id triplets sharing a base document's first-8-word prefix plus a
# group token and an alpha/beta variant, so in-group word-Jaccard
# straddles the 0.8 threshold exactly where prefix sets dedup; the
# group token (df = 3) guarantees blocked-candidate recall for every
# qualifying pair. claims_merge: triplet merge groups with doc_id%4
# synthetic evidence rows (supports/refutes/related cycling) and
# doc_id%{5,7} entity links; gates the ClaimMergeResult counts, member
# retractions + notes, primary entity unions and evidence recounts, and
# the re-pointed evidence table.
# ---------------------------------------------------------------------------


@register("similar_claims", None)  # oracle below
def q_similar_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.claims_ops import similar_claims
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.where(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("base_id"), "text"
    )
    members = d.where(F.col("doc_id") < 240).select(
        "doc_id", (F.col("doc_id") - F.col("doc_id") % 3).alias("base_id")
    )
    prefix = F.slice(
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"),
            lambda w: F.length(w) > 0,
        ),
        1, 8,
    )
    variant = F.when(F.col("doc_id") % 3 == 1, F.lit("beta")).otherwise(
        F.lit("alpha")
    )
    claims = members.join(base, "base_id").select(
        F.col("doc_id").alias("claim_id"),
        F.concat_ws(
            " ",
            F.concat(
                prefix,
                F.array(
                    F.concat(F.lit("grp"), F.col("base_id").cast("string")),
                    variant,
                ),
            ),
        ).alias("claim_text"),
    )
    # df_cap above the 240-claim fixture size → every token is a join
    # key and recall is exact (the brute-equivalent arm, mirroring the
    # oracle); production blocking recall (rare-token ∪ fingerprint) is
    # the documented contract in operators.contradictions, exercised by
    # the differential suite — at sf0.001 the tiny soup vocabulary makes
    # cross-group tokens corpus-common, exactly the recall gap the
    # docstring warns about
    out = similar_claims(claims, df_cap=100000)
    return out.select(
        F.col("claim_id").cast("long"),
        F.col("matched_claim_id").cast("long"),
        F.round("similarity_score", 6).alias("similarity_score"),
        "match_type", "suggested_action",
        F.col("match_rank").cast("int").alias("match_rank"),
    )


ORACLE_SQL["similar_claims"] = r"""
WITH m AS (
  SELECT doc_id, doc_id - doc_id % 3 AS base_id
  FROM documents WHERE doc_id < 240
),
b AS (
  SELECT doc_id AS base_id, text FROM documents WHERE doc_id % 3 = 0
),
claims AS (
  SELECT m.doc_id AS claim_id,
         array_to_string(
           list_append(
             list_append(
               list_slice(
                 list_filter(string_split_regex(lower(b.text), '\s+'),
                             w -> len(w) > 0),
                 1, 8),
               'grp' || m.base_id),
             CASE WHEN m.doc_id % 3 = 1 THEN 'beta' ELSE 'alpha' END),
           ' ') AS claim_text
  FROM m JOIN b USING (base_id)
),
toks AS (
  SELECT claim_id, unnest(list_distinct(
           list_filter(string_split_regex(lower(claim_text), '\s+'),
                       w -> len(w) > 0))) AS w
  FROM claims
),
sizes AS (SELECT claim_id, count(*) AS n FROM toks GROUP BY 1),
inter AS (
  SELECT a.claim_id AS ca, b.claim_id AS cb, count(*) AS i
  FROM toks a JOIN toks b ON a.w = b.w AND a.claim_id < b.claim_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT ca, cb, i::DOUBLE / (sa.n + sb.n - i) AS jac
  FROM inter
  JOIN sizes sa ON sa.claim_id = ca
  JOIN sizes sb ON sb.claim_id = cb
  WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.8
),
sym AS (
  SELECT ca AS claim_id, cb AS matched_claim_id, jac FROM pairs
  UNION ALL
  SELECT cb, ca, jac FROM pairs
),
ranked AS (
  SELECT claim_id, matched_claim_id, jac,
         row_number() OVER (
           PARTITION BY claim_id
           ORDER BY jac DESC, matched_claim_id ASC) AS match_rank
  FROM sym
)
SELECT claim_id::BIGINT AS claim_id,
       matched_claim_id::BIGINT AS matched_claim_id,
       round(jac, 6)::DOUBLE AS similarity_score,
       'fuzzy' AS match_type, 'review' AS suggested_action,
       match_rank::INTEGER AS match_rank
FROM ranked WHERE match_rank <= 10
"""


@register("claims_merge", None)  # oracle below
def q_claims_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.claims_ops import merge_claims
    g = _load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 300
    )
    claims = g.select(
        F.col("doc_id").alias("claim_id"),
        F.lit("unverified").alias("status"),
        F.array_distinct(
            F.array(
                F.concat(F.lit("e"), (F.col("doc_id") % 5).cast("string")),
                F.concat(F.lit("e"), (F.col("doc_id") % 7).cast("string")),
            )
        ).alias("entity_ids"),
    )
    # plan includes the primary itself as a member to exercise the
    # reference's self-skip (shard.py:936)
    plan = g.select(
        (F.col("doc_id") - F.col("doc_id") % 3).alias("primary_claim_id"),
        F.col("doc_id").alias("member_id"),
    )
    n_ev = (F.col("doc_id") % 4).cast("int")
    rels = F.array(F.lit("supports"), F.lit("refutes"), F.lit("related"))
    ev = (
        g.where(n_ev > 0)
        .select(
            F.col("doc_id").alias("claim_id"),
            F.explode(F.sequence(F.lit(1), n_ev)).alias("j"),
        )
        .select(
            (F.col("claim_id") * 10 + F.col("j")).alias("evidence_id"),
            "claim_id",
            F.element_at(
                rels, ((F.col("claim_id") + F.col("j")) % 3 + 1).cast("int")
            ).alias("relationship"),
        )
    )
    out = merge_claims(claims, plan, evidence=ev)

    res = out["results"].select(
        F.col("primary_claim_id").alias("id"), "merged_count",
        "evidence_transferred", "entities_merged",
    )
    states = out["claim_states"].select(
        F.col("claim_id").alias("id"), "status",
        F.when(F.col("notes") == "", sentinel("string")).otherwise(
            F.col("notes")
        ).alias("notes"),
        "merge_role", "entity_ids_out", "evidence_count",
        "supporting_count", "refuting_count",
    )
    ev_counts = (
        out["evidence_out"]
        .groupBy(F.col("claim_id").alias("id"))
        .agg(F.count(F.lit(1)).alias("evidence_count"))
    )
    return padded_union(
        "kind",
        "id bigint, status string, notes string, merge_role string, "
        "entity_ids_out string, merged_count bigint, "
        "evidence_transferred bigint, entities_merged bigint, "
        "evidence_count bigint, supporting_count bigint, "
        "refuting_count bigint",
        [("res", res), ("state", states), ("ev", ev_counts)],
    )


ORACLE_SQL["claims_merge"] = """
WITH g AS (SELECT doc_id FROM documents WHERE doc_id < 300),
mem AS (
  SELECT doc_id - doc_id % 3 AS p, doc_id AS m
  FROM g WHERE doc_id % 3 <> 0
),
ev AS (
  SELECT doc_id AS claim_id, doc_id * 10 + j.i AS evidence_id,
         CASE (doc_id + j.i) % 3 WHEN 0 THEN 'supports'
              WHEN 1 THEN 'refutes' ELSE 'related' END AS relationship
  FROM g, LATERAL (
    SELECT unnest(generate_series(1, doc_id % 4)) AS i) j
  WHERE doc_id % 4 > 0
),
ev_final AS (
  SELECT coalesce(mem.p, ev.claim_id) AS claim_id, ev.relationship
  FROM ev LEFT JOIN mem ON ev.claim_id = mem.m
),
trans AS (
  SELECT mem.p, count(*) AS c
  FROM ev JOIN mem ON ev.claim_id = mem.m GROUP BY 1
),
ments AS (
  SELECT p, 'e' || (m % 5) AS e FROM mem
  UNION SELECT p, 'e' || (m % 7) FROM mem
),
ment_cnt AS (SELECT p, count(DISTINCT e) AS c FROM ments GROUP BY p),
groups AS (SELECT p, count(*) AS merged_count FROM mem GROUP BY p),
res AS (
  SELECT 'res' AS kind, g2.p::BIGINT AS id,
         '<na>' AS status, '<na>' AS notes, '<na>' AS merge_role,
         '<na>' AS entity_ids_out,
         g2.merged_count::BIGINT AS merged_count,
         coalesce(t.c, 0)::BIGINT AS evidence_transferred,
         coalesce(mc.c, 0)::BIGINT AS entities_merged,
         -424242::BIGINT AS evidence_count,
         -424242::BIGINT AS supporting_count,
         -424242::BIGINT AS refuting_count
  FROM groups g2
  LEFT JOIN trans t ON t.p = g2.p
  LEFT JOIN ment_cnt mc ON mc.p = g2.p
),
member_states AS (
  SELECT 'state' AS kind, m::BIGINT AS id, 'retracted' AS status,
         'Merged into ' || p AS notes, 'member' AS merge_role,
         array_to_string(list_sort(list_distinct(
           ['e' || (m % 5), 'e' || (m % 7)])), ',') AS entity_ids_out,
         -424242::BIGINT AS merged_count,
         -424242::BIGINT AS evidence_transferred,
         -424242::BIGINT AS entities_merged,
         0::BIGINT AS evidence_count, 0::BIGINT AS supporting_count,
         0::BIGINT AS refuting_count
  FROM mem
),
prim_ev AS (
  SELECT claim_id,
         count(*) AS n,
         count(*) FILTER (relationship = 'supports') AS ns,
         count(*) FILTER (relationship = 'refutes') AS nr
  FROM ev_final GROUP BY 1
),
prim_ents AS (
  SELECT p,
         array_to_string(list_sort(list_distinct(
           list(e) || ['e' || (p % 5), 'e' || (p % 7)])), ',') AS eout
  FROM ments GROUP BY p
),
primary_states AS (
  SELECT 'state' AS kind, g2.p::BIGINT AS id, 'unverified' AS status,
         '<na>' AS notes, 'primary' AS merge_role,
         pe.eout AS entity_ids_out,
         -424242::BIGINT AS merged_count,
         -424242::BIGINT AS evidence_transferred,
         -424242::BIGINT AS entities_merged,
         coalesce(pv.n, 0)::BIGINT AS evidence_count,
         coalesce(pv.ns, 0)::BIGINT AS supporting_count,
         coalesce(pv.nr, 0)::BIGINT AS refuting_count
  FROM groups g2
  JOIN prim_ents pe ON pe.p = g2.p
  LEFT JOIN prim_ev pv ON pv.claim_id = g2.p
),
ev_rows AS (
  SELECT 'ev' AS kind, claim_id::BIGINT AS id, '<na>' AS status,
         '<na>' AS notes, '<na>' AS merge_role, '<na>' AS entity_ids_out,
         -424242::BIGINT AS merged_count,
         -424242::BIGINT AS evidence_transferred,
         -424242::BIGINT AS entities_merged,
         count(*)::BIGINT AS evidence_count,
         -424242::BIGINT AS supporting_count,
         -424242::BIGINT AS refuting_count
  FROM ev_final GROUP BY claim_id
)
SELECT * FROM res UNION ALL SELECT * FROM member_states
UNION ALL SELECT * FROM primary_states UNION ALL SELECT * FROM ev_rows
"""


# ---------------------------------------------------------------------------
# Hidden-content / steganography scan (anomalies/hidden_content.py:65-531)
# over formula-generated payloads: 3x1024-byte chunks per doc built
# natively via unhex (headers by doc_id%3: PNG / %PDF- / non-UTF8), body
# byte formulas give exact chunk entropies (two-value ~1 bit, j%16 = 4
# bits, j%64 = 6 bits, odd-multiplier full cycles = 8.0 bits), so the
# oracle recomputes Shannon entropy from the SAME byte distribution in
# SQL (GROUP BY byte value, -sum(p*log2 p)). doc_id%2 plants one
# high-entropy chunk (entropy_spike arm), doc_id%10==9 makes every chunk
# near-uniform (high_global_entropy arm), ext by doc_id%4 vs the sniffed
# MIME drives the mismatch decision table. Image arms are exercised by
# the differential + DataFrame tests (tests/test_hidden_content.py) --
# the kind-0 rows here pass an image MIME with an undecodable payload,
# gating the reference's silent-arm-absent path (:212-214).
# ---------------------------------------------------------------------------


def _hidden_payload_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = _load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 60
    )
    kind = F.col("doc_id") % 3
    hot = F.col("doc_id") % 10 == 9
    v = F.col("doc_id") % 2

    hdr = F.when(kind == 0, F.array(*[F.lit(x) for x in
                                      [137, 80, 78, 71, 13, 10, 26, 10]]))\
        .when(kind == 1, F.array(*[F.lit(x) for x in
                                   [37, 80, 68, 70, 45, 49, 46, 52]]))\
        .otherwise(F.array(*[F.lit(x) for x in
                             [254, 255, 65, 66, 67, 68, 69, 70]]))

    def body(j):
        # j is the absolute position column (8..3071)
        did = F.col("doc_id")
        hot_byte = (
            F.when(j < 1024, (j * 37 + did) % 256)
            .when(j < 2048, (j * 31 + did) % 256)
            .otherwise((j * 29 + did) % 256)
        )
        cold_byte = (
            F.when(j < 1024, F.lit(65) + (did + j) % 2)
            .when(
                j < 2048,
                F.when(v == 1, (j * 31 + did) % 256).otherwise(j % 16),
            )
            .otherwise(j % 64)
        )
        return F.when(hot, hot_byte).otherwise(cold_byte)

    bytes_arr = F.concat(
        hdr,
        F.transform(F.sequence(F.lit(8), F.lit(3071)), body),
    )
    hexstr = F.array_join(
        F.transform(
            bytes_arr, lambda b: F.lpad(F.hex(b.cast("bigint")), 2, "0")
        ),
        "",
    )
    ext = F.element_at(
        F.array(F.lit(".png"), F.lit(".pdf"), F.lit(".txt"), F.lit(".xyz")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    mime = F.when(kind == 0, F.lit("image/png")).otherwise(
        F.lit("text/plain")
    )
    return ids.select(
        "doc_id",
        F.unhex(hexstr).alias("data"),
        ext.alias("ext"),
        mime.alias("mime"),
    )


@register("hidden_content", None)  # oracle below
def q_hidden_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.hidden_content import hidden_content_scan

    media = _hidden_payload_spark(spark, sf_dir)
    out = hidden_content_scan(
        media, id_col="doc_id", with_hashes=False
    )
    return out.select(
        F.col("doc_id").cast("long"),
        F.round("entropy_global", 6).alias("entropy_global"),
        F.col("n_regions").cast("long"),
        F.col("n_high_regions").cast("long"),
        F.round("max_region_entropy", 6).alias("max_region_entropy"),
        "magic_expected", "magic_actual", "file_mismatch",
        "findings",
        F.round("stego_confidence", 6).alias("stego_confidence"),
        "scan_status",
    )


ORACLE_SQL["hidden_content"] = """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 60),
bytes AS (
  SELECT doc_id, p.j,
         CASE
           WHEN p.j < 8 THEN
             CASE doc_id % 3
               WHEN 0 THEN [137,80,78,71,13,10,26,10][p.j + 1]
               WHEN 1 THEN [37,80,68,70,45,49,46,52][p.j + 1]
               ELSE [254,255,65,66,67,68,69,70][p.j + 1]
             END
           WHEN doc_id % 10 = 9 THEN
             CASE WHEN p.j < 1024 THEN (p.j * 37 + doc_id) % 256
                  WHEN p.j < 2048 THEN (p.j * 31 + doc_id) % 256
                  ELSE (p.j * 29 + doc_id) % 256 END
           WHEN p.j < 1024 THEN 65 + (doc_id + p.j) % 2
           WHEN p.j < 2048 THEN
             CASE WHEN doc_id % 2 = 1 THEN (p.j * 31 + doc_id) % 256
                  ELSE p.j % 16 END
           ELSE p.j % 64
         END AS b
  FROM ids, LATERAL (SELECT unnest(generate_series(0, 3071)) AS j) p
),
chunk_counts AS (
  SELECT doc_id, j // 1024 AS c, b, count(*) AS n
  FROM bytes GROUP BY 1, 2, 3
),
chunk_ent AS (
  SELECT doc_id, c,
         -sum((n / 1024.0) * log2(n / 1024.0)) AS e
  FROM chunk_counts GROUP BY 1, 2
),
glob_counts AS (
  SELECT doc_id, b, count(*) AS n FROM bytes GROUP BY 1, 2
),
glob_ent AS (
  SELECT doc_id, -sum((n / 3072.0) * log2(n / 3072.0)) AS e
  FROM glob_counts GROUP BY 1
),
per_doc AS (
  SELECT i.doc_id,
         g.e AS entropy_global,
         3::BIGINT AS n_regions,
         (SELECT count(*) FROM chunk_ent ce
           WHERE ce.doc_id = i.doc_id AND ce.e >= 7.0) AS n_high,
         (SELECT max(e) FROM chunk_ent ce
           WHERE ce.doc_id = i.doc_id) AS max_e,
         CASE i.doc_id % 3 WHEN 0 THEN 'image/png'
              WHEN 1 THEN 'application/pdf'
              ELSE 'application/octet-stream' END AS actual,
         CASE i.doc_id % 4 WHEN 0 THEN 'image/png'
              WHEN 1 THEN 'application/pdf'
              WHEN 2 THEN 'text/plain'
              ELSE 'unknown' END AS expected
  FROM ids i JOIN glob_ent g USING (doc_id)
),
scanned AS (
  SELECT doc_id, entropy_global, n_regions, n_high, max_e,
         expected, actual,
         CASE WHEN expected = 'unknown' THEN false
              ELSE expected <> actual END AS mismatch,
         entropy_global >= 7.5 AS glob_hi
  FROM per_doc
)
SELECT doc_id::BIGINT AS doc_id,
       round(entropy_global, 6)::DOUBLE AS entropy_global,
       n_regions, n_high::BIGINT AS n_high_regions,
       round(max_e, 6)::DOUBLE AS max_region_entropy,
       expected AS magic_expected, actual AS magic_actual,
       mismatch AS file_mismatch,
       concat_ws('|',
         CASE WHEN n_high > 0
              THEN 'Found ' || n_high || ' high-entropy regions' END,
         CASE WHEN glob_hi
              THEN 'Very high global entropy: '
                   || printf('%.3f', entropy_global) END,
         CASE WHEN mismatch
              THEN 'File type mismatch: expected ' || expected
                   || ', found ' || actual END
       ) AS findings,
       round(CASE
         WHEN mismatch THEN 0.9
         WHEN glob_hi THEN 0.8
         WHEN n_high > 0 THEN 0.7
         ELSE 0.0 END, 6)::DOUBLE AS stego_confidence,
       'completed' AS scan_status
FROM scanned
"""


# ---------------------------------------------------------------------------
# Composite entity-importance scoring (graph/scoring.py:150-462) over an
# analytically-known graph: 40 entities with formula degrees/doc-counts,
# i%5 mentions each (doc d{(2i+k)%9}, date 2026-(1+(i+k)%5)-(1+k) when
# (i+k)%4>0, source s{(i+k)%4} when k%2==0), ratings s0/.9 s1/.4 s2/.7.
# Degree centrality keeps every arm SQL-expressible; the five other
# centrality types are gated by the differential suite
# (tests/test_graph_scoring.py). Weights are the reference defaults
# (.25/.20/.20/.20/.15, already normalized) with type weights
# person=1.2 / location=0.9, recency half-life 30d pinned to 2026-06-01.
# ---------------------------------------------------------------------------


@register("composite_scores", None)  # oracle below
def q_composite_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph_scoring import (
        CompositeConfig, composite_entity_scores,
    )
    ids = _load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 40
    )
    i = F.col("doc_id")
    nodes = ids.select(
        F.concat(F.lit("n"), i.cast("string")).alias("node_id"),
        F.concat(F.lit("E"), i.cast("string")).alias("entity_id"),
        F.concat(F.lit("Entity "), i.cast("string")).alias("label"),
        F.element_at(
            F.array(F.lit("person"), F.lit("organization"),
                    F.lit("location")),
            (i % 3 + 1).cast("int"),
        ).alias("entity_type"),
        ((i * 3) % 11).cast("long").alias("degree"),
        ((i * 5) % 7).cast("long").alias("document_count"),
    )
    ks = ids.where(i % 5 > 0).select(
        "doc_id", F.explode(F.sequence(F.lit(0), i % 5 - 1)).alias("k")
    )
    ik = F.col("doc_id") + F.col("k")
    mentions = ks.select(
        F.concat(F.lit("E"), F.col("doc_id").cast("string")).alias(
            "entity_id"
        ),
        F.concat(
            F.lit("d"), ((F.col("doc_id") * 2 + F.col("k")) % 9).cast(
                "string"
            )
        ).alias("document_id"),
        F.when(
            ik % 4 > 0,
            F.make_date(
                F.lit(2026), (F.lit(1) + ik % 5).cast("int"),
                (F.lit(1) + F.col("k")).cast("int"),
            ),
        ).alias("mention_date"),
        F.when(
            F.col("k") % 2 == 0,
            F.concat(F.lit("s"), (ik % 4).cast("string")),
        ).alias("source_id"),
    )
    cred = spark.createDataFrame(
        [("s0", 0.9), ("s1", 0.4), ("s2", 0.7)],
        "source_id string, rating double",
    )
    cfg = CompositeConfig(
        centrality_type="degree",
        entity_type_weights={"person": 1.2, "location": 0.9},
    )
    out = composite_entity_scores(
        nodes, mentions=mentions, credibility=cred, config=cfg,
        reference_date="2026-06-01",
    )
    return out.select(
        "node_id", "entity_id", "entity_type",
        F.round("centrality_score", 6).alias("centrality_s"),
        F.round("frequency_score", 6).alias("frequency_s"),
        F.round("recency_score", 6).alias("recency_s"),
        F.round("credibility_score", 6).alias("credibility_s"),
        F.round("corroboration_score", 6).alias("corroboration_s"),
        F.round("composite_score", 6).alias("composite"),
        F.col("source_count").cast("long").alias("source_count"),
        F.col("rank").cast("int").alias("rank_pos"),
    )


ORACLE_SQL["composite_scores"] = """
WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 40),
nodes AS (
  SELECT i, 'n' || i AS node_id, 'E' || i AS entity_id,
         ['person','organization','location'][(i % 3 + 1)::INT]
           AS entity_type,
         (i * 3) % 11 AS degree, (i * 5) % 7 AS document_count
  FROM ids
),
ments AS (
  SELECT i, 'E' || i AS entity_id,
         'd' || ((i * 2 + g.k) % 9) AS document_id,
         CASE WHEN (i + g.k) % 4 > 0 THEN
           make_date(2026, (1 + (i + g.k) % 5)::INT, (1 + g.k)::INT)
         END AS mention_date,
         CASE WHEN g.k % 2 = 0 THEN 's' || ((i + g.k) % 4) END
           AS source_id
  FROM ids, LATERAL (
    SELECT unnest(generate_series(0, (i % 5 - 1)::INT)) AS k) g
  WHERE i % 5 > 0
),
ratings AS (
  SELECT * FROM (VALUES ('s0', 0.9), ('s1', 0.4), ('s2', 0.7))
    AS r(source_id, rating)
),
cent AS (
  SELECT entity_id,
         degree::DOUBLE /
           (SELECT max(degree) FROM nodes WHERE degree > 0)
           AS centrality_s
  FROM nodes
),
ent_docs AS (
  SELECT entity_id, count(DISTINCT document_id) AS n_docs
  FROM ments WHERE document_id IS NOT NULL GROUP BY 1
),
tot AS (
  SELECT greatest(count(DISTINCT document_id), 1) AS td FROM ments
  WHERE document_id IS NOT NULL
),
freq_raw AS (
  SELECT n.entity_id,
         CASE WHEN coalesce(e.n_docs, n.document_count) > 0 THEN
           coalesce(e.n_docs, n.document_count)
             * ln(t.td::DOUBLE / coalesce(e.n_docs, n.document_count)
                  + 1)
         ELSE 0.0 END AS raw
  FROM nodes n LEFT JOIN ent_docs e USING (entity_id), tot t
),
freq AS (
  SELECT entity_id,
         raw / coalesce(
           (SELECT max(raw) FROM freq_raw WHERE raw > 0), 1.0)
           AS frequency_s
  FROM freq_raw
),
rec_per AS (
  SELECT entity_id,
         max(CASE WHEN mention_date IS NOT NULL THEN
           exp(-ln(2) * datediff('day', mention_date,
                                 DATE '2026-06-01') / 30.0)
         END) AS max_rec,
         count(*) AS n_m
  FROM ments GROUP BY 1
),
rec AS (
  SELECT n.entity_id,
         CASE WHEN r.max_rec > 0 THEN r.max_rec
              WHEN r.max_rec IS NOT NULL THEN 0.5
              WHEN coalesce(r.n_m, 0) > 0 THEN 0.5
              ELSE 0.0 END AS recency_s
  FROM nodes n LEFT JOIN rec_per r USING (entity_id)
),
cred_per AS (
  SELECT m.entity_id, avg(r.rating) AS avg_rating
  FROM ments m JOIN ratings r USING (source_id)
  GROUP BY 1
),
cred AS (
  SELECT n.entity_id, coalesce(c.avg_rating, 0.5) AS credibility_s
  FROM nodes n LEFT JOIN cred_per c USING (entity_id)
),
srcs AS (
  SELECT entity_id, count(DISTINCT source_id) AS n_src
  FROM ments WHERE source_id IS NOT NULL GROUP BY 1
),
corr AS (
  SELECT n.entity_id, coalesce(s.n_src, 0) AS source_count,
         CASE WHEN coalesce(
                CASE WHEN coalesce(s.n_src, 0) <= 0
                     THEN n.document_count
                     ELSE s.n_src END, 0) <= 1 THEN 0.0
              ELSE 1.0 - 1.0 / (CASE WHEN coalesce(s.n_src, 0) <= 0
                                     THEN n.document_count
                                     ELSE s.n_src END)
         END AS corroboration_s
  FROM nodes n LEFT JOIN srcs s USING (entity_id)
),
composed AS (
  SELECT n.node_id, n.entity_id, n.entity_type,
         c.centrality_s, f.frequency_s, r.recency_s, cd.credibility_s,
         co.corroboration_s, co.source_count,
         (0.25 * c.centrality_s + 0.20 * f.frequency_s
          + 0.20 * r.recency_s + 0.20 * cd.credibility_s
          + 0.15 * co.corroboration_s)
         * CASE n.entity_type WHEN 'person' THEN 1.2
                WHEN 'location' THEN 0.9 ELSE 1.0 END AS composite
  FROM nodes n
  JOIN cent c USING (entity_id) JOIN freq f USING (entity_id)
  JOIN rec r USING (entity_id) JOIN cred cd USING (entity_id)
  JOIN corr co USING (entity_id)
)
SELECT node_id, entity_id, entity_type,
       round(centrality_s, 6)::DOUBLE AS centrality_s,
       round(frequency_s, 6)::DOUBLE AS frequency_s,
       round(recency_s, 6)::DOUBLE AS recency_s,
       round(credibility_s, 6)::DOUBLE AS credibility_s,
       round(corroboration_s, 6)::DOUBLE AS corroboration_s,
       round(composite, 6)::DOUBLE AS composite,
       source_count::BIGINT AS source_count,
       row_number() OVER (ORDER BY composite DESC, entity_id ASC)::INT
         AS rank_pos
FROM composed
"""


# ---------------------------------------------------------------------------
# Temporal graph snapshots (graph/temporal.py:189-407): mention fixture
# 'E'||i%20 x 'd'||i%13 at 2026-01-01 + (i*11)%120 days, 5 snapshots at
# 30-day steps, BOTH membership modes — cumulative (monotone counts,
# structurally zero removals) and windowed (inclusive 30-day windows,
# real removals + re-appearances). The oracle recomputes membership,
# deltas, and density from the same formulas in SQL.
# ---------------------------------------------------------------------------


@register("temporal_snapshots", None)  # oracle below
def q_temporal_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from .operators.graph_temporal import snapshot_series
    ids = _load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 300
    )
    i = F.col("doc_id")
    mentions = ids.select(
        F.concat(F.lit("E"), (i % 20).cast("string")).alias("entity_id"),
        F.concat(F.lit("d"), (i % 13).cast("string")).alias(
            "document_id"
        ),
        F.date_add(
            F.lit("2026-01-01").cast("date"),
            ((i * 11) % 120).cast("int"),
        ).alias("created_at"),
    )
    start = datetime.date(2026, 1, 1)
    end = datetime.date(2026, 5, 1)  # 120 days
    frames = [
        (kind, snapshot_series(
            mentions, start, end, 30, cumulative=cumulative
        ).select(
            "snapshot_idx", "snapshot_date",
            F.col("node_count").alias("n_nodes"),
            F.col("edge_count").alias("n_edges"),
            F.round("density", 6).alias("density"),
            "nodes_added", "nodes_removed", "edges_added", "edges_removed",
        ))
        for kind, cumulative in [("cum", True), ("win", False)]
    ]
    return padded_union(
        "kind",
        "snapshot_idx bigint, snapshot_date string, n_nodes bigint, "
        "n_edges bigint, density double, nodes_added bigint, "
        "nodes_removed bigint, edges_added bigint, edges_removed bigint",
        frames,
    )


ORACLE_SQL["temporal_snapshots"] = """
WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 300),
m AS (
  SELECT DISTINCT 'E' || (i % 20) AS e, 'd' || (i % 13) AS doc,
         DATE '2026-01-01' + ((i * 11) % 120)::INT AS d
  FROM ids
),
snaps AS (
  SELECT g.k, DATE '2026-01-01' + (30 * g.k)::INT AS sd
  FROM (SELECT unnest(generate_series(0, 4)) AS k) g
),
ef AS (SELECT e, min(d) AS d0 FROM m GROUP BY 1),
def_ AS (SELECT doc, e, min(d) AS d0 FROM m GROUP BY 1, 2),
pf AS (
  SELECT a.e AS s, b.e AS t, min(greatest(a.d0, b.d0)) AS d0
  FROM def_ a JOIN def_ b ON a.doc = b.doc AND a.e < b.e
  GROUP BY 1, 2
),
efk AS (
  SELECT e, greatest(ceil(
    datediff('day', DATE '2026-01-01', d0) / 30.0), 0) AS kf
  FROM ef
),
pfk AS (
  SELECT s, t, greatest(ceil(
    datediff('day', DATE '2026-01-01', d0) / 30.0), 0) AS kf
  FROM pf
),
cum AS (
  SELECT 'cum' AS kind, s.k,
         (SELECT count(*) FROM efk WHERE kf <= s.k) AS n_nodes,
         (SELECT count(*) FROM pfk WHERE kf <= s.k) AS n_edges,
         (SELECT count(*) FROM efk WHERE kf = s.k) AS nodes_added,
         0 AS nodes_removed,
         (SELECT count(*) FROM pfk WHERE kf = s.k) AS edges_added,
         0 AS edges_removed,
         s.sd
  FROM snaps s
),
mn AS (
  SELECT DISTINCT m.e, s.k
  FROM m JOIN snaps s ON m.d <= s.sd AND m.d >= s.sd - 30
),
med AS (
  SELECT DISTINCT m.doc, m.e, s.k
  FROM m JOIN snaps s ON m.d <= s.sd AND m.d >= s.sd - 30
),
me AS (
  SELECT DISTINCT a.e AS s_, b.e AS t, a.k
  FROM med a JOIN med b
    ON a.doc = b.doc AND a.k = b.k AND a.e < b.e
),
win AS (
  SELECT 'win' AS kind, s.k,
         (SELECT count(*) FROM mn WHERE mn.k = s.k) AS n_nodes,
         (SELECT count(*) FROM me WHERE me.k = s.k) AS n_edges,
         (SELECT count(*) FROM mn x WHERE x.k = s.k AND NOT EXISTS (
            SELECT 1 FROM mn y WHERE y.e = x.e AND y.k = s.k - 1))
           AS nodes_added,
         (SELECT count(*) FROM mn x WHERE x.k = s.k - 1 AND NOT EXISTS (
            SELECT 1 FROM mn y WHERE y.e = x.e AND y.k = s.k))
           AS nodes_removed,
         (SELECT count(*) FROM me x WHERE x.k = s.k AND NOT EXISTS (
            SELECT 1 FROM me y
            WHERE y.s_ = x.s_ AND y.t = x.t AND y.k = s.k - 1))
           AS edges_added,
         (SELECT count(*) FROM me x WHERE x.k = s.k - 1 AND NOT EXISTS (
            SELECT 1 FROM me y
            WHERE y.s_ = x.s_ AND y.t = x.t AND y.k = s.k))
           AS edges_removed,
         s.sd
  FROM snaps s
),
u AS (SELECT * FROM cum UNION ALL SELECT * FROM win)
SELECT kind, k::BIGINT AS snapshot_idx, sd::VARCHAR AS snapshot_date,
       n_nodes::BIGINT AS n_nodes, n_edges::BIGINT AS n_edges,
       round(n_edges / (CASE WHEN n_nodes > 1
                        THEN n_nodes * (n_nodes - 1) / 2.0
                        ELSE 1.0 END), 6)::DOUBLE AS density,
       nodes_added::BIGINT AS nodes_added,
       nodes_removed::BIGINT AS nodes_removed,
       edges_added::BIGINT AS edges_added,
       edges_removed::BIGINT AS edges_removed
FROM u
"""


# ---------------------------------------------------------------------------
# Causal graph analysis (graph/causal.py:109-586) over an index-ordered
# fixture DAG (V{c} -> V{c+4+i%3}, strengths 0.5..0.9 — offsets 4..6
# keep the Kahn depth ~5 so the distributed layering costs ~5 rounds,
# not 19; the max-length path prune is gated by the differential suite
# instead): edge-order
# witness from the DISTRIBUTED Kahn layering, DAG/cycle verdicts for the
# acyclic fixture and a planted V19->V00 cycle, path counts/strength
# sums and the do() effect via recursive-CTE enumeration (the fixture's
# strictly-increasing indices make every path simple, so the oracle's
# reachability CTEs are exact), and the confounder set for (V05, V09).
# ---------------------------------------------------------------------------


@register("causal_analysis", None)  # oracle below
def q_causal_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.causal import (
        causal_ordering_distributed,
        find_causal_paths,
        identify_confounders,
        intervention_effect,
        validate_dag,
    )
    ids = _load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 200
    )
    i = F.col("doc_id")
    ci, ei = i % 20, i % 20 + 4 + i % 3

    def vname(col):
        return F.concat(F.lit("V"), F.lpad(col.cast("string"), 2, "0"))

    ed = (
        ids.select(
            vname(ci).alias("cause"), vname(ei).alias("effect"),
            (0.5 + (i % 5) / 10.0).alias("strength"),
        )
        .where(ei <= 19)
        .distinct()
    )
    edge_rows = [
        (r["cause"], r["effect"], r["strength"]) for r in ed.collect()
    ]
    node_ids = sorted({c for c, _, _ in edge_rows}
                      | {e for _, e, _ in edge_rows})

    # distributed Kahn layers → per-edge topological witness
    layers = causal_ordering_distributed(ed)
    order_rows = (
        ed.join(
            layers.withColumnRenamed("node", "cause")
            .withColumnRenamed("layer", "lc"),
            "cause",
        )
        .join(
            layers.withColumnRenamed("node", "effect")
            .withColumnRenamed("layer", "le"),
            "effect",
        )
        .select(
            F.col("cause").alias("a"), F.col("effect").alias("b"),
            ((F.col("lc") >= 0) & (F.col("lc") < F.col("le"))).alias(
                "flag"
            ),
        )
    )

    # None where a driver row's kind has no value; sentinel-padded below
    driver_rows = []
    ok, _cycles = validate_dag(edge_rows, node_ids)
    driver_rows.append(("dag", "acyclic", None, None, None, ok))
    cyc_rows = edge_rows + [("V19", "V00", 0.1)]
    ok_c, _ = validate_dag(cyc_rows, node_ids)
    driver_rows.append(("dag", "cyclic", None, None, None, ok_c))
    for a, b in [("V00", "V12"), ("V03", "V15")]:
        paths = find_causal_paths(edge_rows, a, b)
        driver_rows.append((
            "path", a, b, len(paths),
            sum(p["total_strength"] for p in paths), True,
        ))
    for c in identify_confounders(edge_rows, "V08", "V16"):
        driver_rows.append((
            "confounder", "V08", c["id"], None, None,
            c["affects_treatment"] and c["affects_outcome"],
        ))
    iv = intervention_effect(edge_rows, "V00", "V12")
    driver_rows.append((
        "intervention", "V00", "V12", iv["n_paths"],
        iv["estimated_effect"], True,
    ))
    ddf = spark.createDataFrame(
        driver_rows,
        "kind string, a string, b string, n long, strength double, "
        "flag boolean",
    ).select(
        "kind", "a",
        F.coalesce("b", sentinel("string")).alias("b"),
        F.coalesce("n", sentinel("bigint")).alias("n"),
        # HALF_UP like the DuckDB oracle; python round() is banker's
        F.coalesce(F.round("strength", 6), sentinel("double")).alias(
            "strength"
        ),
        "flag",
    )
    return padded_union(
        "kind", "a string, b string, n bigint, strength double, flag boolean",
        [("order", order_rows), (F.col("kind"), ddf)],
    )


ORACLE_SQL["causal_analysis"] = """
WITH RECURSIVE ids AS (
  SELECT doc_id AS i FROM documents WHERE doc_id < 200
),
ed AS (
  SELECT DISTINCT
    'V' || lpad((i % 20)::VARCHAR, 2, '0') AS cause,
    'V' || lpad((i % 20 + 4 + i % 3)::VARCHAR, 2, '0') AS effect,
    0.5 + (i % 5) / 10.0 AS strength
  FROM ids WHERE i % 20 + 4 + i % 3 <= 19
),
p AS (
  SELECT cause AS src, effect AS cur, strength AS prod, 2 AS n_nodes
  FROM ed WHERE cause IN ('V00', 'V03', 'V08')
  UNION ALL
  SELECT p.src, ed.effect, p.prod * ed.strength, p.n_nodes + 1
  FROM p JOIN ed ON ed.cause = p.cur
  WHERE p.n_nodes < 10
),
order_rows AS (
  SELECT 'order' AS kind, cause AS a, effect AS b,
         -424242::BIGINT AS n, -424242.0::DOUBLE AS strength,
         true AS flag
  FROM ed
),
dag_rows AS (
  SELECT 'dag', 'acyclic', '<na>', -424242::BIGINT, -424242.0::DOUBLE,
         true
  UNION ALL
  SELECT 'dag', 'cyclic', '<na>', -424242::BIGINT, -424242.0::DOUBLE,
         false
),
path_rows AS (
  SELECT 'path' AS kind, q.a, q.b,
         count(p.cur)::BIGINT AS n,
         round(coalesce(sum(p.prod), 0), 6)::DOUBLE AS strength,
         true AS flag
  FROM (VALUES ('V00', 'V12'), ('V03', 'V15')) q(a, b)
  LEFT JOIN p ON p.src = q.a AND p.cur = q.b
  GROUP BY q.a, q.b
),
reach_fwd AS (
  -- forward reachability (paths are always simple here)
  SELECT cause AS src, effect AS dst FROM ed
  UNION
  SELECT r.src, ed.effect FROM reach_fwd r
  JOIN ed ON ed.cause = r.dst
),
anc AS (SELECT dst AS node, src AS ancestor FROM reach_fwd),
onpath AS (
  SELECT DISTINCT m.node FROM (
    SELECT dst AS node FROM reach_fwd WHERE src = 'V08'
  ) m
  JOIN reach_fwd r2 ON r2.src = m.node AND r2.dst = 'V16'
),
conf AS (
  SELECT a1.ancestor AS id
  FROM anc a1 JOIN anc a2
    ON a1.ancestor = a2.ancestor
   AND a1.node = 'V08' AND a2.node = 'V16'
  WHERE a1.ancestor NOT IN (SELECT node FROM onpath)
    AND a1.ancestor NOT IN ('V08', 'V16')
),
conf_rows AS (
  SELECT 'confounder' AS kind, 'V08' AS a, id AS b,
         -424242::BIGINT AS n, -424242.0::DOUBLE AS strength,
         true AS flag
  FROM conf
),
iv_rows AS (
  SELECT 'intervention' AS kind, 'V00' AS a, 'V12' AS b,
         count(*)::BIGINT AS n,
         round(avg(prod), 6)::DOUBLE AS strength, true AS flag
  FROM p WHERE src = 'V00' AND cur = 'V12'
)
SELECT * FROM order_rows UNION ALL SELECT * FROM dag_rows
UNION ALL SELECT * FROM path_rows UNION ALL SELECT * FROM conf_rows
UNION ALL SELECT * FROM iv_rows
"""


# ---------------------------------------------------------------------------
# Geospatial graph analysis (graph/geospatial.py:115-482): 80 fixture
# nodes cycling the coordinate-resolution arms (explicit columns /
# label-anchored sentence parens / DMS description / none — the
# printf'd arm-1 strings round-trip exactly because the formula values
# are dyadic halves and quarters), haversine edge distances over
# numbered pairs, corpus bounds + center, and a bounds-filtered count +
# total distance. Oracle recomputes coordinates from the generation
# formulas and the haversine in SQL trig.
# ---------------------------------------------------------------------------


@register("geo_analysis", None)  # oracle below
def q_geo_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.geospatial import (
        edge_distances, extract_geo_nodes, filter_by_bounds, geo_bounds,
    )
    ids = _load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 80
    )
    i = F.col("doc_id")
    arm = i % 4
    lat0 = ((i * 7) % 120 - 60 + 0.5)
    lng0 = ((i * 11) % 300 - 150 + 0.25)
    lat1 = ((i * 13) % 120 - 60 + 0.5)
    lng1 = ((i * 17) % 300 - 150 + 0.25)
    dms = F.format_string(
        "%d°%d'%d\"%s %d°%d'%d\"%s",
        ((i * 3) % 89).cast("int"), ((i * 5) % 59).cast("int"),
        ((i * 7) % 59).cast("int"),
        F.when(i % 2 == 0, F.lit("N")).otherwise(F.lit("S")),
        ((i * 11) % 179).cast("int"), ((i * 13) % 59).cast("int"),
        ((i * 17) % 59).cast("int"),
        F.when(i % 3 == 0, F.lit("E")).otherwise(F.lit("W")),
    )
    label = F.concat(F.lit("L"), i.cast("string"))
    nodes = ids.select(
        label.alias("node_id"), label.alias("label"),
        F.when(arm == 0, lat0).alias("lat"),
        F.when(arm == 0, lng0).alias("lng"),
        F.when(
            arm == 1,
            F.concat(
                label, F.lit(" town ("),
                F.format_string("%.4f", lat1), F.lit(", "),
                F.format_string("%.4f", lng1), F.lit(")"),
            ),
        ).otherwise(F.lit("")).alias("sentence"),
        F.when(arm == 2, dms).otherwise(F.lit("")).alias("description"),
        F.lit("").alias("address"),
    )
    gnodes = extract_geo_nodes(nodes).localCheckpoint(eager=True)
    edges = ids.select(
        label.alias("source"),
        F.concat(F.lit("L"), ((i + 7) % 80).cast("string")).alias(
            "target"
        ),
    )
    gedges = edge_distances(gnodes, edges)

    node_rows = gnodes.select(
        F.col("node_id").alias("name"),
        F.col("location_type").alias("label"),
        F.round("latitude", 6).alias("lat"),
        F.round("longitude", 6).alias("lng"),
    )
    edge_rows = gedges.select(
        F.col("source_id").alias("name"),
        F.col("target_id").alias("label"),
        F.round("distance_km", 3).alias("km"),
    )
    b = geo_bounds(gnodes)
    bounds_rows = [
        ("bounds", b.select(
            F.lit(k).alias("name"),
            F.round(f"{k}_lat", 6).alias("lat"),
            F.round(f"{k}_lng", 6).alias("lng"),
        ))
        for k in ("min", "max", "center")
    ]
    filt = filter_by_bounds(gnodes, gedges, -30, 30, -60, 60)
    filt_row = (
        filt["nodes"].agg(F.count(F.lit(1)).alias("n"))
        .withColumn("_k", F.lit(1))
        .join(filt["total"].withColumn("_k", F.lit(1)), "_k")
        .select(
            F.lit("box").alias("name"), F.col("n").alias("size"),
            F.round("total_distance_km", 3).alias("km"),
        )
    )
    return padded_union(
        "gkind",
        "name string, label string, size bigint, lat double, lng double, "
        "km double",
        [("node", node_rows), ("edge", edge_rows), *bounds_rows,
         ("filtered", filt_row)],
    )


ORACLE_SQL["geo_analysis"] = """
WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 80),
coords AS (
  SELECT 'L' || i AS name,
         CASE i % 4
           WHEN 0 THEN (i * 7) % 120 - 60 + 0.5
           WHEN 1 THEN (i * 13) % 120 - 60 + 0.5
           WHEN 2 THEN ((i * 3) % 89 + ((i * 5) % 59) / 60.0
                        + ((i * 7) % 59) / 3600.0)
                       * (CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END)
         END AS lat,
         CASE i % 4
           WHEN 0 THEN (i * 11) % 300 - 150 + 0.25
           WHEN 1 THEN (i * 17) % 300 - 150 + 0.25
           WHEN 2 THEN ((i * 11) % 179 + ((i * 13) % 59) / 60.0
                        + ((i * 17) % 59) / 3600.0)
                       * (CASE WHEN i % 3 = 0 THEN 1 ELSE -1 END)
         END AS lng,
         CASE i % 4 WHEN 0 THEN 'exact' ELSE 'parsed' END AS ltype,
         i
  FROM ids WHERE i % 4 <> 3
),
node_rows AS (
  SELECT 'node' AS gkind, name, ltype AS label,
         -424242::BIGINT AS size, round(lat, 6)::DOUBLE AS lat,
         round(lng, 6)::DOUBLE AS lng, -424242.0::DOUBLE AS km
  FROM coords
),
e0 AS (
  SELECT 'L' || i AS s, 'L' || ((i + 7) % 80) AS t FROM ids
),
ed AS (
  SELECT e0.s, e0.t, a.lat AS lat1, a.lng AS lng1,
         b.lat AS lat2, b.lng AS lng2
  FROM e0 JOIN coords a ON a.name = e0.s
  JOIN coords b ON b.name = e0.t
),
dist AS (
  SELECT s, t,
         2 * 6371.0 * atan2(
           sqrt(pow(sin(radians(lat2 - lat1) / 2), 2)
                + cos(radians(lat1)) * cos(radians(lat2))
                  * pow(sin(radians(lng2 - lng1) / 2), 2)),
           sqrt(1 - (pow(sin(radians(lat2 - lat1) / 2), 2)
                     + cos(radians(lat1)) * cos(radians(lat2))
                       * pow(sin(radians(lng2 - lng1) / 2), 2)))
         ) AS km,
         lat1, lng1, lat2, lng2
  FROM ed
),
edge_rows AS (
  SELECT 'edge' AS gkind, s AS name, t AS label,
         -424242::BIGINT AS size, -424242.0::DOUBLE AS lat,
         -424242.0::DOUBLE AS lng, round(km, 3)::DOUBLE AS km
  FROM dist
),
bounds_rows AS (
  SELECT 'bounds' AS gkind, 'min' AS name, '<na>' AS label,
         -424242::BIGINT AS size, round(min(lat), 6)::DOUBLE AS lat,
         round(min(lng), 6)::DOUBLE AS lng, -424242.0::DOUBLE AS km
  FROM coords
  UNION ALL
  SELECT 'bounds', 'max', '<na>', -424242::BIGINT,
         round(max(lat), 6)::DOUBLE, round(max(lng), 6)::DOUBLE,
         -424242.0::DOUBLE
  FROM coords
  UNION ALL
  SELECT 'bounds', 'center', '<na>', -424242::BIGINT,
         round((min(lat) + max(lat)) / 2, 6)::DOUBLE,
         round((min(lng) + max(lng)) / 2, 6)::DOUBLE,
         -424242.0::DOUBLE
  FROM coords
),
inbox AS (
  SELECT name FROM coords
  WHERE lat BETWEEN -30 AND 30 AND lng BETWEEN -60 AND 60
),
filt_row AS (
  SELECT 'filtered' AS gkind, 'box' AS name, '<na>' AS label,
         (SELECT count(*) FROM inbox)::BIGINT AS size,
         -424242.0::DOUBLE AS lat, -424242.0::DOUBLE AS lng,
         round(coalesce((
           SELECT sum(km) FROM dist
           WHERE s IN (SELECT name FROM inbox)
             AND t IN (SELECT name FROM inbox)), 0), 3)::DOUBLE AS km
)
SELECT * FROM node_rows UNION ALL SELECT * FROM edge_rows
UNION ALL SELECT * FROM bounds_rows UNION ALL SELECT * FROM filt_row
"""


# ---------------------------------------------------------------------------
# Entity-event linking + entity timeline (timeline/shard.py:559-664,
# 485-557) — pinned entity fixture over the documents vocabulary so the
# word-boundary matcher, the alias first-occurrence rule, and the
# timeline filter/summary all fire on real corpus text. The Spark lane
# runs the token-blocked join (operators/entity_events.py); the oracle
# re-derives the SAME semantics in SQL (min-pos alias acceptance +
# regex word-boundary match) — names are metachar-free so both engines'
# literal-quoting is the identity.
# ---------------------------------------------------------------------------

# (entity_id, name, aliases) — e02's alias collides with e01's name
# (suppressed), e04's primary name reclaims e01's alias (kept), e07 has
# an empty name (row dropped entirely, alias never considered), e08's
# alias collides with e05's name (suppressed), e09's name never occurs
# but its alias does.
_EE_ENTITIES = [
    ("e01", "spark", ["vector stream"]),
    ("e02", "merge", ["spark"]),
    ("e03", "customer line", ["batch batch"]),
    ("e04", "vector stream", []),
    ("e05", "slow join", ["big merge"]),
    ("e06", "window window", []),
    ("e07", "", ["query row"]),
    ("e08", "hash scan", ["slow join"]),
    ("e09", "zzz qqq", ["order sort"]),
]

_EE_TARGET = "e03"
_EE_LO = "2019-01-01"
_EE_HI = "2024-01-31"
_EE_MOD = 13  # doc_id % 13 == 0 bounds the fixture corpus


def _ee_entities_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _EE_ENTITIES, "id string, name string, aliases array<string>"
    )


def _ee_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _load(spark, sf_dir, "documents")
        .where(F.col("doc_id") % _EE_MOD == 0)
        .select("doc_id", "text")
    )


def _ee_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, entities array) — docs as pseudo-events."""
    from .operators.entity_events import link_entities_to_events

    docs = _ee_docs(spark, sf_dir).withColumn(
        "entities", F.array().cast("array<string>")
    )
    # slim (doc_id, entities) lazy checkpoint: the timeline join and the
    # stats arms each branch over this frame — without truncation the
    # tokenize + RLIKE link pass recomputes once per branch
    return link_entities_to_events(
        docs,
        _ee_entities_df(spark),
        event_id_col="doc_id",
        entity_id_col="id",
        order_col="id",
    ).select("doc_id", "entities").localCheckpoint(eager=False)


def _ee_items_sql() -> str:
    """Exploded (id, s, pos, is_name) VALUES — the mechanical explode of
    _EE_ENTITIES; the acceptance rule itself stays in SQL."""
    rows = []
    for r_idx, (eid, name, aliases) in enumerate(_EE_ENTITIES):
        if name:
            rows.append(f"('{eid}', '{name.lower()}', {r_idx * 100}, TRUE)")
        if name:  # empty-name rows are dropped by the reference SQL WHERE
            for i, a in enumerate(aliases):
                rows.append(
                    f"('{eid}', '{a.lower()}', {r_idx * 100 + i + 1}, FALSE)"
                )
    return ",\n    ".join(rows)


_EE_KEPT_SQL = f"""
items(id, s, pos, is_name) AS (VALUES
    {_ee_items_sql()}),
kept AS (
  SELECT DISTINCT id, s FROM (
    SELECT id, s, is_name, pos,
           min(pos) OVER (PARTITION BY s) AS mp
    FROM items)
  WHERE is_name OR pos = mp
),
d AS (
  SELECT doc_id, lower(text) AS tl FROM documents
  WHERE doc_id % {_EE_MOD} = 0
),
links AS (
  SELECT DISTINCT d.doc_id, k.id AS entity_id
  FROM d, kept k
  WHERE regexp_matches(d.tl, '\\b' || k.s || '\\b')
)"""


@register(
    "entity_event_links",
    f"""WITH {_EE_KEPT_SQL.lstrip()}
SELECT doc_id, entity_id FROM links""",
)
def q_entity_event_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_link_entities_to_events over the bounded corpus: one row per
    (doc, matched entity)."""
    return _ee_linked(spark, sf_dir).select(
        "doc_id", F.explode("entities").alias("entity_id")
    )


def _ee_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeline events (the q_timeline_events phrase fixture, bounded)
    carrying doc-level linked entities."""
    from .operators.timeline import extract_timeline_events
    from .queries_ext import _TL_PHRASES

    phr = F.array(*[F.lit(p) for p in _TL_PHRASES])
    docs = _ee_docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.element_at(
                phr, (F.col("doc_id") % len(_TL_PHRASES) + 1).cast("int")
            ),
        ).alias("t"),
    )
    ev = extract_timeline_events(docs)
    # slim (dates + entities) lazy checkpoint — the summary arms aggregate
    # this frame several ways; truncation keeps the nine-family timeline
    # regex pass to one execution
    return ev.join(
        _ee_linked(spark, sf_dir), "doc_id", "left"
    ).localCheckpoint(eager=False)


def _ee_tl_sql(select: str) -> str:
    """Timeline-arm oracle: the full timeline_events oracle (already a
    value-exact mirror of extract_timeline_events) bounded to the fixture
    corpus, filtered to events whose doc links the target entity inside
    the date range — get_entity_timeline's filter (shard.py:518-527)."""
    from .queries_ext import _TIMELINE_SQL

    return f"""WITH {_EE_KEPT_SQL.lstrip()},
ev AS (
  SELECT t.doc_id, t.date_text, t.date_start
  FROM ({_TIMELINE_SQL}) t
  WHERE t.doc_id % {_EE_MOD} = 0
),
tl AS (
  SELECT ev.* FROM ev
  WHERE EXISTS (SELECT 1 FROM links l
                WHERE l.doc_id = ev.doc_id
                  AND l.entity_id = '{_EE_TARGET}')
    AND ev.date_start >= DATE'{_EE_LO}'
    AND ev.date_start <= DATE'{_EE_HI}'
)
{select}"""


@register(
    "entity_timeline_events",
    _ee_tl_sql("SELECT doc_id, date_text, date_start FROM tl"),
)
def q_entity_timeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_entity_timeline filter shape: events mentioning the target
    entity inside the date range."""
    from .operators.entity_events import entity_timeline
    import datetime as _dt

    tl = entity_timeline(
        _ee_events(spark, sf_dir),
        _EE_TARGET,
        _dt.date.fromisoformat(_EE_LO),
        _dt.date.fromisoformat(_EE_HI),
    )
    return tl.select("doc_id", "date_text", "date_start")


@register(
    "entity_timeline_stats",
    _ee_tl_sql(f"""SELECT
  (SELECT count(*) FROM tl)::BIGINT AS event_count,
  (SELECT min(date_start) FROM tl) AS range_start,
  (SELECT max(date_start) FROM tl) AS range_end,
  coalesce((SELECT string_agg(DISTINCT entity_id, ',' ORDER BY entity_id)
            FROM links
            WHERE doc_id IN (SELECT DISTINCT doc_id FROM tl)
              AND entity_id != '{_EE_TARGET}'), '') AS related_entities"""),
)
def q_entity_timeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """get_entity_timeline aggregate shape: count, date range, related
    entities (co-event entity union minus the target), csv-serialized."""
    from .operators.entity_events import entity_timeline_summary
    import datetime as _dt

    return entity_timeline_summary(
        _ee_events(spark, sf_dir),
        _EE_TARGET,
        _dt.date.fromisoformat(_EE_LO),
        _dt.date.fromisoformat(_EE_HI),
    ).select(
        "event_count", "range_start", "range_end", "related_entities"
    )


# ---------------------------------------------------------------------------
# Round-7 ACH surfaces: sensitivity analysis (scoring.py:185-259),
# evidence analyzer (evidence.py:18-316), argumentation transform
# (graph/argumentation.py:97-260) — same three synthetic matrices as
# ach_scores plus a per-evidence attribute fixture (the ratings fixture
# varies cred/rel per row for weighting coverage; evidence-level rules
# need one attribute set per evidence item, including an unrated e8).
# ---------------------------------------------------------------------------

_ACH_TYPES_PRESENT = ["fact", "document", "testimony", "physical"]


def _ach_evidence(spark: SparkSession) -> DataFrame:
    m, e = F.col("m"), F.col("e")
    base = (
        spark.range(3)
        .select(F.col("id").alias("m"))
        .select("m", F.explode(F.sequence(F.lit(0), F.lit(8))).alias("e"))
    )
    return base.select(
        F.concat(F.lit("mx"), m).alias("matrix_id"),
        F.concat(F.lit("e"), e).alias("evidence_id"),
        F.repeat(F.lit("d"), (F.lit(40) + e * 12 + m).cast("int")).alias(
            "description"
        ),
        F.element_at(
            F.array(*[F.lit(t) for t in _ACH_TYPES_PRESENT]),
            ((e + m) % 4 + 1).cast("int"),
        ).alias("evidence_type"),
        F.when((e + m) % 3 == 0, F.lit("")).otherwise(
            F.concat(F.lit("src"), e.cast("string"))
        ).alias("source"),
        (F.lit(20) + (e * 17 + m) % 81).cast("int").alias("cred_centi"),
        (F.lit(20) + (e * 23 + m * 7) % 81).cast("int").alias("rel_centi"),
    )


def _ach_hypotheses(spark: SparkSession) -> DataFrame:
    m, h = F.col("m"), F.col("h")
    base = (
        spark.range(3)
        .select(F.col("id").alias("m"))
        .select("m", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("h"))
    )
    return base.select(
        F.concat(F.lit("mx"), m).alias("matrix_id"),
        F.concat(F.lit("h"), h).alias("hypothesis_id"),
        F.concat(F.lit("Hyp h"), h.cast("string"), F.lit(" mx"),
                 m.cast("string")).alias("title"),
    )


@register("ach_sensitivity", None)  # oracle below
def q_ach_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity analysis (scoring.py:185-259): rank changes after
    dropping uncertain (<0.7 cred/relevance) evidence + per-matrix
    sensitivity verdict."""
    from .operators.ach import (
        ach_sensitivity_changes, ach_sensitivity_summary,
    )

    ratings = _ach_ratings(spark)
    evidence = _ach_evidence(spark)
    ch = ach_sensitivity_changes(ratings, evidence).select(
        "matrix_id", "hypothesis_id", "original_rank", "new_rank", "change",
    )
    su = ach_sensitivity_summary(ratings, evidence).select(
        "matrix_id", "sensitivity",
        F.col("uncertain_evidence_count").alias("uncertain_count"),
        "max_rank_change",
    )
    return padded_union(
        "kind",
        "matrix_id string, hypothesis_id string, original_rank int, "
        "new_rank int, change int, sensitivity string, "
        "uncertain_count bigint, max_rank_change int",
        [("change", ch), ("summary", su)],
    )


@register("ach_evidence", None)  # oracle below
def q_ach_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence analyzer (evidence.py:18-316): per-item quality
    assessment, gap analysis, pairwise agreement, rule-based
    suggestions."""
    from .operators.ach import (
        compare_evidence_pairs, evidence_gaps, evidence_quality,
        suggest_evidence,
    )

    ratings = _ach_ratings(spark)
    evidence = _ach_evidence(spark)
    hyps = _ach_hypotheses(spark)
    q = evidence_quality(evidence).select(
        "matrix_id", F.col("evidence_id").alias("id1"),
        F.round("quality_score", 6).alias("q_score"),
        F.col("quality_level").alias("q_level"), "issues", "warnings",
    )
    g = evidence_gaps(ratings, evidence).select(
        "matrix_id", F.col("ref_id").alias("id1"), "severity",
        F.col("gap_type").alias("detail"),
        F.col("detail").alias("suggestion"),
    )
    c = compare_evidence_pairs(ratings).select(
        "matrix_id", F.col("evidence1_id").alias("id1"),
        F.col("evidence2_id").alias("id2"),
        F.col("agreement_count").alias("agree"),
        F.col("disagreement_count").alias("disagree"),
    )
    s = suggest_evidence(ratings, evidence, hyps).select(
        "matrix_id", F.col("hypothesis_id").alias("id1"),
        F.col("suggestion_idx").alias("sugg_idx"), "suggestion",
    )
    return padded_union(
        "kind",
        "matrix_id string, id1 string, id2 string, q_score double, "
        "q_level string, issues string, warnings string, severity string, "
        "detail string, agree bigint, disagree bigint, sugg_idx int, "
        "suggestion string",
        [("quality", q), ("gap", g), ("compare", c), ("suggest", s)],
    )


@register("ach_argumentation", None)  # oracle below
def q_ach_argumentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACH -> argumentation graph (argumentation.py:97-260): hypothesis
    and evidence nodes, support/attack edges, Dung-style statuses."""
    from .operators.ach import ach_scores
    from .operators.argumentation import (
        argument_edges, argument_statuses, evidence_nodes,
        hypothesis_nodes,
    )

    ratings = _ach_ratings(spark)
    evidence = _ach_evidence(spark)
    hyps = _ach_hypotheses(spark)
    sc = ach_scores(ratings)
    hn = hypothesis_nodes(hyps, sc).select(
        "matrix_id", F.col("node_id").alias("id1"), "label",
        F.round("confidence", 6).alias("confidence"),
        F.col("consistency_score").alias("consistency"),
        F.col("rank").alias("rank_pos"), "is_lead",
    )
    en = evidence_nodes(evidence).select(
        "matrix_id", F.col("node_id").alias("id1"), "label",
        F.round("credibility", 6).alias("credibility"),
        F.col("evidence_type").alias("evtype"),
        F.col("source").alias("esource"),
    )
    ed = argument_edges(ratings).select(
        "matrix_id", F.col("source").alias("id1"),
        F.col("target").alias("id2"), "edge_type", "strength",
        "rating_value", F.round("confidence", 6).alias("net"),
    )
    st = argument_statuses(ratings).select(
        "matrix_id", F.col("node_id").alias("id1"), "status",
        F.col("support_count").alias("support"),
        F.col("attack_count").alias("attack"),
        F.round("net_score", 6).alias("net"),
    )
    return padded_union(
        "kind",
        "matrix_id string, id1 string, id2 string, label string, "
        "confidence double, consistency bigint, rank_pos int, "
        "is_lead boolean, credibility double, evtype string, "
        "esource string, edge_type string, strength double, "
        "rating_value string, status string, support bigint, "
        "attack bigint, net double",
        [("hyp_node", hn), ("ev_node", en), ("edge", ed), ("status", st)],
    )


_ACH_FIX_SQL = """
ms AS (SELECT unnest(generate_series(0, 2)) AS m),
hs AS (SELECT unnest(generate_series(0, 3)) AS h),
es AS (SELECT unnest(generate_series(0, 7)) AS e),
ratings AS (
  SELECT 'mx' || m AS matrix_id, 'h' || h AS hypothesis_id,
         'e' || e AS evidence_id,
         list_extract(['++', '+', 'N', '-', '--', 'N/A'],
                      ((m * 3 + h * 7 + e * 5) % 6 + 1)::INT) AS rating,
         50 + (e * 7 + m) % 51 AS cred,
         50 + (e * 11 + h) % 51 AS rel,
         60 + ((h + e + m) % 5) * 10 AS conf
  FROM ms, hs, es),
ev AS (
  SELECT 'mx' || m AS matrix_id, 'e' || e AS evidence_id,
         repeat('d', (40 + e * 12 + m)::INT) AS description,
         list_extract(['fact', 'document', 'testimony', 'physical'],
                      ((e + m) % 4 + 1)::INT) AS evidence_type,
         CASE WHEN (e + m) % 3 = 0 THEN '' ELSE 'src' || e END AS source,
         20 + (e * 17 + m) % 81 AS ecred,
         20 + (e * 23 + m * 7) % 81 AS erel
  FROM ms, (SELECT unnest(generate_series(0, 8)) AS e) es9),
hyp AS (
  SELECT 'mx' || m AS matrix_id, 'h' || h AS hypothesis_id,
         'Hyp h' || h || ' mx' || m AS title
  FROM ms, hs)
"""

_ACH_SCORE_AGG_SQL = """
  SELECT matrix_id, hypothesis_id,
         SUM(CASE WHEN rating = 'N/A' THEN 0
                  WHEN rating = '++' THEN 2 WHEN rating = '+' THEN 1
                  WHEN rating = 'N' THEN 0 WHEN rating = '-' THEN -1
                  ELSE -2 END) AS consistency_score,
         SUM(CASE WHEN rating IN ('-', '--') THEN 1 ELSE 0 END)
           AS inconsistency_count,
         SUM(CASE WHEN rating = 'N/A' THEN 0 ELSE
             (CASE WHEN rating = '++' THEN 2 WHEN rating = '+' THEN 1
                   WHEN rating = 'N' THEN 0 WHEN rating = '-' THEN -1
                   ELSE -2 END) * cred * rel * conf END) AS wnum,
         SUM(CASE WHEN rating = 'N/A' THEN 0 ELSE cred * rel END) AS wden
"""


ORACLE_SQL["ach_sensitivity"] = f"""
WITH {_ACH_FIX_SQL.strip()},
old_scored AS ({_ACH_SCORE_AGG_SQL} FROM ratings
               GROUP BY matrix_id, hypothesis_id),
old_ranked AS (
  SELECT matrix_id, hypothesis_id,
         row_number() OVER (
           PARTITION BY matrix_id
           ORDER BY inconsistency_count ASC,
                    CASE WHEN wden > 0
                         THEN wnum::DOUBLE / (wden::DOUBLE * 100.0)
                         ELSE 0.0 END DESC,
                    hypothesis_id ASC)::INT AS rank
  FROM old_scored),
unc AS (SELECT matrix_id, evidence_id FROM ev
        WHERE ecred < 70 OR erel < 70),
fr AS (
  SELECT r.* FROM ratings r
  LEFT JOIN unc u ON r.matrix_id = u.matrix_id
                 AND r.evidence_id = u.evidence_id
  WHERE u.evidence_id IS NULL),
f_scored AS ({_ACH_SCORE_AGG_SQL} FROM fr
             GROUP BY matrix_id, hypothesis_id),
all_h AS (SELECT DISTINCT matrix_id, hypothesis_id FROM ratings),
f_full AS (
  SELECT a.matrix_id, a.hypothesis_id,
         coalesce(f.inconsistency_count, 0) AS inconsistency_count,
         coalesce(CASE WHEN f.wden > 0
                       THEN f.wnum::DOUBLE / (f.wden::DOUBLE * 100.0)
                       ELSE 0.0 END, 0.0) AS weighted_score
  FROM all_h a
  LEFT JOIN f_scored f
    ON a.matrix_id = f.matrix_id AND a.hypothesis_id = f.hypothesis_id),
new_ranked AS (
  SELECT matrix_id, hypothesis_id,
         row_number() OVER (
           PARTITION BY matrix_id
           ORDER BY inconsistency_count ASC, weighted_score DESC,
                    hypothesis_id ASC)::INT AS new_rank
  FROM f_full),
changes AS (
  SELECT o.matrix_id, o.hypothesis_id, o.rank AS original_rank,
         n.new_rank, n.new_rank - o.rank AS change
  FROM old_ranked o
  JOIN new_ranked n
    ON o.matrix_id = n.matrix_id AND o.hypothesis_id = n.hypothesis_id
  WHERE o.rank != n.new_rank),
summ AS (
  SELECT mm.matrix_id, coalesce(u.ucnt, 0) AS ucnt,
         CASE WHEN coalesce(u.ucnt, 0) = 0 THEN 0
              ELSE coalesce(c.maxc, 0) END AS maxc
  FROM (SELECT DISTINCT matrix_id FROM ev) mm
  LEFT JOIN (SELECT matrix_id, count(*) AS ucnt FROM unc
             GROUP BY 1) u ON mm.matrix_id = u.matrix_id
  LEFT JOIN (SELECT matrix_id, max(abs(change)) AS maxc FROM changes
             GROUP BY 1) c ON mm.matrix_id = c.matrix_id)
SELECT 'change' AS kind, matrix_id, hypothesis_id,
       original_rank::INT AS original_rank, new_rank::INT AS new_rank,
       change::INT AS change, '<na>' AS sensitivity,
       -424242::BIGINT AS uncertain_count, -424242::INT AS max_rank_change
FROM changes
UNION ALL
SELECT 'summary', matrix_id, '<na>', -424242::INT, -424242::INT,
       -424242::INT,
       CASE WHEN maxc = 0 THEN 'low' WHEN maxc = 1 THEN 'moderate'
            ELSE 'high' END,
       ucnt::BIGINT, maxc::INT
FROM summ
"""


ORACLE_SQL["ach_evidence"] = f"""
WITH {_ACH_FIX_SQL.strip()},
q AS (
  SELECT matrix_id, evidence_id,
         ecred + erel
         + (CASE WHEN ecred >= 80 THEN 80 ELSE 0 END)
         + (CASE WHEN erel >= 80 THEN 80 ELSE 0 END)
         + (CASE WHEN trim(source) != '' THEN 40 ELSE 0 END) AS f400,
         concat_ws('|',
           CASE WHEN ecred < 30
                THEN 'Very low credibility - consider verifying source'
                END,
           CASE WHEN erel < 30 THEN 'Low relevance to hypotheses' END
         ) AS issues,
         concat_ws('|',
           CASE WHEN ecred >= 30 AND ecred < 50
                THEN 'Low credibility - use caution in analysis' END,
           CASE WHEN erel >= 30 AND erel < 50
                THEN 'Moderate relevance - may be tangential' END,
           CASE WHEN trim(source) = ''
                THEN 'No source provided - consider documenting' END
         ) AS warnings
  FROM ev),
pres AS (SELECT matrix_id, list(DISTINCT evidence_type) AS types
         FROM ev GROUP BY 1),
cov AS (
  SELECT r.matrix_id, r.hypothesis_id,
         SUM(CASE WHEN r.rating != 'N/A' THEN 1 ELSE 0 END) AS n_sub
  FROM ratings r GROUP BY 1, 2),
gap_cov AS (
  SELECT matrix_id, 'hypothesis_coverage' AS gap_type,
         hypothesis_id AS ref_id,
         CASE WHEN n_sub = 0 THEN 'high' ELSE 'medium' END AS severity,
         n_sub::VARCHAR AS detail
  FROM cov WHERE n_sub < 3),
gap_div AS (
  SELECT matrix_id, 'evidence_diversity' AS gap_type, '' AS ref_id,
         'low' AS severity,
         array_to_string(list_sort(list_filter(
           ['fact', 'testimony', 'document', 'physical',
            'circumstantial', 'inference'],
           t -> NOT list_contains(types, t))), '|') AS detail
  FROM pres
  WHERE len(list_filter(
          ['fact', 'testimony', 'document', 'physical',
           'circumstantial', 'inference'],
          t -> NOT list_contains(types, t))) > 0),
gap_unr AS (
  SELECT e.matrix_id, 'unrated_evidence' AS gap_type,
         e.evidence_id AS ref_id, 'medium' AS severity, '' AS detail
  FROM ev e
  LEFT JOIN (SELECT DISTINCT matrix_id, evidence_id FROM ratings) r
    ON e.matrix_id = r.matrix_id AND e.evidence_id = r.evidence_id
  WHERE r.evidence_id IS NULL),
gap_q AS (
  SELECT matrix_id, 'quality_concern' AS gap_type, '' AS ref_id,
         'high' AS severity,
         n_low::VARCHAR || '/' || n_total::VARCHAR AS detail
  FROM (SELECT matrix_id,
               SUM(CASE WHEN ecred < 50 OR erel < 50 THEN 1 ELSE 0 END)
                 AS n_low,
               COUNT(*) AS n_total
        FROM ev GROUP BY 1)
  WHERE n_low * 10 > n_total * 3),
gaps AS (SELECT * FROM gap_cov UNION ALL SELECT * FROM gap_div
         UNION ALL SELECT * FROM gap_unr UNION ALL SELECT * FROM gap_q),
cmp AS (
  SELECT a.matrix_id, a.evidence_id AS id1, b.evidence_id AS id2,
         SUM(CASE WHEN a.rating = b.rating THEN 1 ELSE 0 END) AS agree,
         SUM(CASE WHEN a.rating != b.rating THEN 1 ELSE 0 END)
           AS disagree
  FROM ratings a
  JOIN ratings b ON a.matrix_id = b.matrix_id
                AND a.hypothesis_id = b.hypothesis_id
                AND a.evidence_id < b.evidence_id
  GROUP BY 1, 2, 3),
sug_base AS (
  SELECT h.matrix_id, h.hypothesis_id, h.title,
         MAX(CASE WHEN r.rating IN ('++', '+') THEN 1 ELSE 0 END)
           AS has_pos,
         MAX(CASE WHEN r.rating IN ('--', '-') THEN 1 ELSE 0 END)
           AS has_neg,
         COUNT(r.rating) AS nr
  FROM hyp h
  LEFT JOIN ratings r ON h.matrix_id = r.matrix_id
                     AND h.hypothesis_id = r.hypothesis_id
  GROUP BY 1, 2, 3),
sug_list AS (
  SELECT b.matrix_id, b.hypothesis_id,
         (list_filter([
           CASE WHEN NOT list_contains(p.types, 'document')
                THEN 'Look for documents that support or refute ''' ||
                     b.title || '''' END,
           CASE WHEN NOT list_contains(p.types, 'testimony')
                THEN 'Seek witness testimony regarding ''' || b.title ||
                     '''' END,
           CASE WHEN NOT list_contains(p.types, 'physical')
                THEN 'Examine physical evidence related to ''' ||
                     b.title || '''' END,
           CASE WHEN NOT list_contains(p.types, 'circumstantial')
                THEN 'Consider circumstantial evidence surrounding ''' ||
                     b.title || '''' END,
           CASE WHEN b.has_pos = 1 AND b.has_neg = 1
                THEN 'Conflicting evidence exists - seek additional ' ||
                     'evidence to clarify ''' || b.title || '''' END,
           CASE WHEN b.nr < 3
                THEN 'Limited evidence for ''' || b.title ||
                     ''' - conduct broader information gathering' END
         ], x -> x IS NOT NULL))[1:5] AS l
  FROM sug_base b JOIN pres p ON b.matrix_id = p.matrix_id),
sug AS (
  SELECT matrix_id, hypothesis_id, (i - 1)::INT AS sugg_idx,
         l[i::INT] AS suggestion
  FROM sug_list, unnest(generate_series(1, len(l))) AS t(i))
SELECT 'quality' AS kind, matrix_id, evidence_id AS id1, '<na>' AS id2,
       round(f400::DOUBLE / 400.0, 6) AS q_score,
       CASE WHEN f400 >= 320 THEN 'high' WHEN f400 >= 200 THEN 'medium'
            ELSE 'low' END AS q_level,
       issues, warnings, '<na>' AS severity, '<na>' AS detail,
       -424242::BIGINT AS agree, -424242::BIGINT AS disagree,
       -424242::INT AS sugg_idx, '<na>' AS suggestion
FROM q
UNION ALL
SELECT 'gap', matrix_id, ref_id, '<na>', -424242.0::DOUBLE, '<na>',
       '<na>', '<na>', severity, gap_type, -424242::BIGINT,
       -424242::BIGINT, -424242::INT, detail
FROM gaps
UNION ALL
SELECT 'compare', matrix_id, id1, id2, -424242.0::DOUBLE, '<na>', '<na>',
       '<na>', '<na>', '<na>', agree::BIGINT, disagree::BIGINT,
       -424242::INT, '<na>'
FROM cmp
UNION ALL
SELECT 'suggest', matrix_id, hypothesis_id, '<na>', -424242.0::DOUBLE,
       '<na>', '<na>', '<na>', '<na>', '<na>', -424242::BIGINT,
       -424242::BIGINT, sugg_idx, suggestion
FROM sug
"""


ORACLE_SQL["ach_argumentation"] = f"""
WITH {_ACH_FIX_SQL.strip()},
scored AS ({_ACH_SCORE_AGG_SQL},
         COUNT(*) AS evidence_count
  FROM ratings GROUP BY matrix_id, hypothesis_id),
finals AS (
  SELECT matrix_id, hypothesis_id, consistency_score,
         inconsistency_count,
         CASE WHEN wden > 0 THEN wnum::DOUBLE / (wden::DOUBLE * 100.0)
              ELSE 0.0 END AS weighted_score,
         CASE WHEN wden > 0
              THEN (wnum::DOUBLE / (wden::DOUBLE * 100.0) + 2.0)
                   / 4.0 * 100.0
              ELSE 50.0 END AS normalized_score
  FROM scored),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY matrix_id
           ORDER BY inconsistency_count ASC, weighted_score DESC,
                    hypothesis_id ASC)::INT AS rank
  FROM finals),
hn AS (
  SELECT h.matrix_id, 'hyp_' || h.hypothesis_id AS id1, h.title AS label,
         round(f.normalized_score, 6) AS confidence,
         f.consistency_score, f.rank,
         f.rank = MIN(f.rank) OVER (PARTITION BY f.matrix_id) AS is_lead
  FROM hyp h
  JOIN ranked f ON h.matrix_id = f.matrix_id
               AND h.hypothesis_id = f.hypothesis_id),
en AS (
  SELECT matrix_id, 'ev_' || evidence_id AS id1,
         CASE WHEN len(description) > 100
              THEN substr(description, 1, 100) || '...'
              ELSE description END AS label,
         round(ecred::DOUBLE / 100.0, 6) AS credibility,
         evidence_type, source
  FROM ev),
edges AS (
  SELECT matrix_id, 'ev_' || evidence_id AS id1,
         'hyp_' || hypothesis_id AS id2,
         CASE WHEN rating IN ('++', '+') THEN 'supports'
              WHEN rating IN ('-', '--') THEN 'attacks'
              ELSE 'neutral' END AS edge_type,
         (CASE WHEN rating = '++' THEN 2 WHEN rating = '+' THEN 1
               WHEN rating = 'N' THEN 0 WHEN rating = '-' THEN -1
               ELSE -2 END)::DOUBLE AS strength,
         rating AS rating_value,
         round(conf::DOUBLE / 100.0, 6) AS e_conf
  FROM ratings WHERE rating != 'N/A'),
st AS (
  SELECT matrix_id, 'hyp_' || hypothesis_id AS id1,
         SUM(CASE WHEN rating IN ('++', '+') THEN 1 ELSE 0 END)
           AS support,
         SUM(CASE WHEN rating IN ('-', '--') THEN 1 ELSE 0 END)
           AS attack,
         SUM(CASE WHEN rating = 'N/A' OR rating = 'N' THEN 0 ELSE
             (CASE WHEN rating = '++' THEN 2 WHEN rating = '+' THEN 1
                   WHEN rating = '-' THEN -1 ELSE -2 END) * conf END)
           AS net_centi
  FROM ratings GROUP BY 1, 2),
sts AS (
  SELECT matrix_id, id1, support, attack,
         net_centi::DOUBLE / 100.0 AS net,
         CASE WHEN attack = 0 AND support > 0 THEN 'accepted'
              WHEN support = 0 AND attack > 0 THEN 'rejected'
              WHEN net_centi::DOUBLE / 100.0 > 1.0 THEN 'accepted'
              WHEN net_centi::DOUBLE / 100.0 < -1.0 THEN 'rejected'
              ELSE 'undecided' END AS status
  FROM st)
SELECT 'hyp_node' AS kind, matrix_id, id1, '<na>' AS id2, label,
       confidence, consistency_score::BIGINT AS consistency,
       rank AS rank_pos, is_lead, -424242.0::DOUBLE AS credibility,
       '<na>' AS evtype, '<na>' AS esource, '<na>' AS edge_type,
       -424242.0::DOUBLE AS strength, '<na>' AS rating_value,
       '<na>' AS status, -424242::BIGINT AS support,
       -424242::BIGINT AS attack, -424242.0::DOUBLE AS net
FROM hn
UNION ALL
SELECT 'ev_node', matrix_id, id1, '<na>', label, -424242.0::DOUBLE,
       -424242::BIGINT, -424242::INT, false, credibility, evidence_type,
       source, '<na>', -424242.0::DOUBLE, '<na>', '<na>',
       -424242::BIGINT, -424242::BIGINT, -424242.0::DOUBLE
FROM en
UNION ALL
SELECT 'edge', matrix_id, id1, id2, '<na>', -424242.0::DOUBLE,
       -424242::BIGINT, -424242::INT, false, -424242.0::DOUBLE, '<na>',
       '<na>', edge_type, strength, rating_value, '<na>',
       -424242::BIGINT, -424242::BIGINT, e_conf
FROM edges
UNION ALL
SELECT 'status', matrix_id, id1, '<na>', '<na>', -424242.0::DOUBLE,
       -424242::BIGINT, -424242::INT, false, -424242.0::DOUBLE, '<na>',
       '<na>', '<na>', -424242.0::DOUBLE, '<na>', status,
       support::BIGINT, attack::BIGINT, round(net, 6)
FROM sts
"""


# ---------------------------------------------------------------------------
# Sankey flow analysis (graph/flows.py:47-457) over the co-mention graph:
# entity-type layered flows, type-aggregated relationship flows, and the
# small-flow "Other" rollup — entity/relationship types derived
# deterministically from the co-mention names so both engines type the
# same graph.
# ---------------------------------------------------------------------------

_FLOW_NTYPES = ["person", "organization", "location", "event"]
_FLOW_RTYPES = ["works_for", "located_in", "mentioned_with"]


@register("graph_flows", None)  # oracle below
def q_graph_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.flows import (
        aggregate_flows, extract_entity_flows, extract_relationship_flows,
    )
    from .queries import _comention

    # co-mention edges over a third of the corpus: the flow semantics are
    # corpus-size-independent and the full-corpus comention lane is already
    # gated by `comention_edges`, so this part doesn't pay the Python NER
    # pass twice over everything
    edges0 = _comention(
        spark, sf_dir, docs_where=F.col("doc_id") % 3 == 0
    ).localCheckpoint(eager=True)
    names = (
        edges0.select(F.col("entity_a").alias("id"))
        .unionByName(edges0.select(F.col("entity_b").alias("id")))
        .distinct()
    )
    ntype = F.element_at(
        F.array(*[F.lit(t) for t in _FLOW_NTYPES]),
        ((F.length("id") * 7 + F.ascii("id")) % 4 + 1).cast("int"),
    )
    nodes = names.select(
        "id", F.col("id").alias("label"), ntype.alias("entity_type")
    )
    rtype = F.element_at(
        F.array(*[F.lit(t) for t in _FLOW_RTYPES]),
        (F.col("co_occurrence_count") % 3 + 1).cast("int"),
    )
    edges = edges0.select(
        F.col("entity_a").alias("source"),
        F.col("entity_b").alias("target"),
        rtype.alias("relationship_type"),
        F.col("co_occurrence_count").cast("double").alias("weight"),
    )
    fn, fl, stats = extract_entity_flows(
        nodes, edges, source_types=["person"],
        target_types=["location", "event"],
        intermediate_types=["organization"],
    )
    # slim eager checkpoints: six union branches below (enode/eflow/
    # agg_node/agg_link/stats) would otherwise re-derive the layered joins
    # from the comention checkpoint once per branch
    fn = fn.localCheckpoint(eager=True)
    fl = fl.localCheckpoint(eager=True)
    an, al = aggregate_flows(fn, fl, min_value=3.0, max_links=25)
    _, rl, _ = extract_relationship_flows(nodes, edges)

    def _node_rows(df):
        return df.select(
            F.col("id").alias("id1"), F.round("value", 6).alias("value"),
            "layer", "label", F.col("entity_type").alias("etype"),
        )

    def _link_rows(df):
        return df.select(
            F.col("source").alias("id1"), F.col("target").alias("id2"),
            F.round("value", 6).alias("value"), "category",
        )

    st = stats.select(F.round("total_flow", 6).alias("total"), "layer_count")
    return padded_union(
        "kind",
        "id1 string, id2 string, value double, category string, "
        "layer bigint, label string, etype string, total double, "
        "layer_count bigint",
        [("enode", _node_rows(fn)), ("eflow", _link_rows(fl)),
         ("agg_node", _node_rows(an)), ("agg_link", _link_rows(al)),
         ("rflow", _link_rows(rl)), ("stats", st)],
    )


def _graph_flows_oracle() -> str:
    comention = ORACLE_SQL["comention_edges"]
    # mirror the doc_id % 3 bound of q_graph_flows' comention edges (the
    # comention SQL reads `documents` exactly once, in its cased CTE)
    assert comention.count("FROM documents") == 1
    comention = comention.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE doc_id % 3 = 0) documents",
    )

    return f"""
WITH edges0 AS ({comention}),
names AS (
  SELECT DISTINCT name FROM (
    SELECT entity_a AS name FROM edges0
    UNION ALL SELECT entity_b FROM edges0)),
nodes AS (
  SELECT name AS id,
         list_extract(['person', 'organization', 'location', 'event'],
                      ((length(name) * 7 + ascii(name)) % 4 + 1)::INT)
           AS entity_type
  FROM names),
edges AS (
  SELECT entity_a AS source, entity_b AS target,
         list_extract(['works_for', 'located_in', 'mentioned_with'],
                      (co_occurrence_count % 3 + 1)::INT) AS category,
         co_occurrence_count::DOUBLE AS weight
  FROM edges0),
layered AS (
  SELECT id, CASE WHEN entity_type = 'person' THEN 0
                  WHEN entity_type IN ('location', 'event') THEN 2
                  WHEN entity_type = 'organization' THEN 1
             END AS layer
  FROM nodes WHERE entity_type IN
    ('person', 'organization', 'location', 'event')),
eflow AS (
  SELECT CASE WHEN s.layer > t.layer THEN e.target ELSE e.source END
           AS source,
         CASE WHEN s.layer > t.layer THEN e.source ELSE e.target END
           AS target,
         e.weight AS value, e.category
  FROM edges e
  JOIN layered s ON e.source = s.id
  JOIN layered t ON e.target = t.id
  WHERE s.layer != t.layer),
enode AS (
  SELECT n.id, n.id AS label, n.entity_type, l.layer, v.value
  FROM (SELECT id, SUM(value) AS value FROM (
          SELECT source AS id, value FROM eflow
          UNION ALL SELECT target, value FROM eflow)
        GROUP BY id) v
  JOIN nodes n ON v.id = n.id
  JOIN layered l ON v.id = l.id),
stats AS (
  SELECT coalesce((SELECT SUM(value) FROM eflow), 0.0) AS total_flow,
         coalesce((SELECT MAX(layer) FROM enode), 0) + 1 AS layer_count),
ranked AS (
  SELECT *, row_number() OVER (
      ORDER BY value DESC, source ASC, target ASC, category ASC) AS rnk
  FROM eflow),
kept AS (SELECT * FROM ranked WHERE rnk <= 25 AND value >= 3.0),
dropped AS (
  SELECT d.*, coalesce(ls.layer, 0) AS slayer,
         coalesce(lt.layer, 1) AS tlayer
  FROM (SELECT * FROM ranked WHERE NOT (rnk <= 25 AND value >= 3.0)) d
  LEFT JOIN (SELECT id, layer FROM enode) ls ON d.source = ls.id
  LEFT JOIN (SELECT id, layer FROM enode) lt ON d.target = lt.id),
pairs AS (
  SELECT slayer, tlayer, SUM(value) AS value, MIN(rnk) AS first_rank
  FROM dropped GROUP BY 1, 2 HAVING SUM(value) > 0),
other_links AS (
  SELECT 'other_layer_' || slayer AS source,
         'other_layer_' || tlayer AS target, value,
         'aggregated' AS category
  FROM pairs),
other_nodes AS (
  SELECT 'other_layer_' || layer AS id, 'Other' AS label,
         'other' AS entity_type, layer, value
  FROM (SELECT layer, value, first_rank,
               row_number() OVER (PARTITION BY layer
                                  ORDER BY first_rank ASC) AS rn
        FROM (SELECT slayer AS layer, value, first_rank FROM pairs
              UNION ALL
              SELECT tlayer, value, first_rank FROM pairs))
  WHERE rn = 1),
agg_nodes AS (
  SELECT e.* FROM enode e
  WHERE e.id IN (SELECT source FROM kept UNION SELECT target FROM kept)
  UNION ALL SELECT * FROM other_nodes),
agg_links AS (
  SELECT source, target, value, category FROM kept
  UNION ALL SELECT * FROM other_links),
rflow AS (
  SELECT 'type_' || sn.entity_type AS source,
         'type_' || tn.entity_type AS target,
         SUM(e.weight) AS value, e.category
  FROM edges e
  JOIN nodes sn ON e.source = sn.id
  JOIN nodes tn ON e.target = tn.id
  GROUP BY sn.entity_type, tn.entity_type, e.category)
SELECT 'enode' AS kind, id AS id1, '<na>' AS id2,
       round(value, 6) AS value, '<na>' AS category,
       layer::BIGINT AS layer, label, entity_type AS etype,
       -424242.0::DOUBLE AS total, -424242::BIGINT AS layer_count
FROM enode
UNION ALL
SELECT 'eflow', source, target, round(value, 6), category,
       -424242::BIGINT, '<na>', '<na>', -424242.0::DOUBLE,
       -424242::BIGINT
FROM eflow
UNION ALL
SELECT 'agg_node', id, '<na>', round(value, 6), '<na>', layer::BIGINT,
       label, entity_type, -424242.0::DOUBLE, -424242::BIGINT
FROM agg_nodes
UNION ALL
SELECT 'agg_link', source, target, round(value, 6), category,
       -424242::BIGINT, '<na>', '<na>', -424242.0::DOUBLE,
       -424242::BIGINT
FROM agg_links
UNION ALL
SELECT 'rflow', source, target, round(value, 6), category,
       -424242::BIGINT, '<na>', '<na>', -424242.0::DOUBLE,
       -424242::BIGINT
FROM rflow
UNION ALL
SELECT 'stats', '<na>', '<na>', -424242.0::DOUBLE, '<na>',
       -424242::BIGINT, '<na>', '<na>', round(total_flow, 6),
       layer_count::BIGINT
FROM stats
"""


ORACLE_SQL["graph_flows"] = _graph_flows_oracle()


# ---------------------------------------------------------------------------
# Graph filter + export sinks (graph/builder.py:458-547,
# graph/exporter.py:24-265) over a pinned literal graph — export hashes
# are corpus-independent, so both arms gate at every SF identically.
# ---------------------------------------------------------------------------

_GF_NODES = [
    ("n0", "Node 0", "organization", 2), ("n1", "Node 1", "person", 6),
    ("n2", "Node 2", "location", 3), ("n3", "Node 3", "organization", 7),
    ("n4", "Node 4", "person", 3), ("n5", "Node 5", "location", 3),
    ("n6", "Node 6", "organization", 1), ("n7", "Node 7", "person", 4),
    ("n8", "Node 8", "location", 7), ("n9", "Node 9", "organization", 2),
    ("n10", "Node 10", "person", 2), ("n11", "Node 11", "location", 3),
    ("n12", "Node 12", "organization", 3), ("n13", "Node 13", "person", 6),
]
_GF_EDGES = [
    ("n12", "n4", "located_in", 5.0), ("n5", "n3", "works_for", 0.5),
    ("n3", "n13", "located_in", 6.0), ("n13", "n1", "located_in", 0.5),
    ("n4", "n7", "located_in", 2.0), ("n8", "n9", "works_for", 1.5),
    ("n3", "n2", "mentioned_with", 5.0), ("n8", "n10", "located_in", 7.0),
    ("n10", "n8", "mentioned_with", 3.0), ("n0", "n4", "located_in", 5.5),
    ("n0", "n7", "located_in", 5.0), ("n2", "n12", "works_for", 5.5),
    ("n13", "n3", "works_for", 3.0), ("n8", "n6", "works_for", 2.0),
    ("n2", "n5", "mentioned_with", 1.0), ("n5", "n1", "located_in", 6.5),
    ("n1", "n8", "mentioned_with", 5.5), ("n8", "n7", "located_in", 7.5),
    ("n3", "n1", "located_in", 8.0), ("n1", "n3", "works_for", 3.5),
    ("n11", "n8", "mentioned_with", 6.5), ("n7", "n9", "works_for", 6.5),
    ("n1", "n13", "located_in", 7.5), ("n13", "n12", "works_for", 1.5),
    ("n11", "n13", "located_in", 8.5), ("n3", "n11", "mentioned_with", 3.5),
]


def _gf_frames(spark: SparkSession):
    nodes = spark.createDataFrame(
        _GF_NODES, "id string, label string, entity_type string, degree int"
    )
    edges = spark.createDataFrame(
        _GF_EDGES,
        "source string, target string, relationship_type string, "
        "weight double",
    )
    return nodes, edges


@register("graph_export_filter", None)  # oracle below
def q_graph_export_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_graph (multi-criteria, stored-degree semantics, degree
    recompute, isolated-node drop) + the three export serializers hashed
    over the filtered graph."""
    import hashlib

    from .operators.graph import filter_graph
    from .operators.graph_export import (
        export_gexf, export_graphml, export_json,
    )

    nodes, edges = _gf_frames(spark)
    fn, fe = filter_graph(
        nodes, edges,
        entity_types=["person", "organization"],
        min_degree=2,
        min_edge_weight=2.0,
        relationship_types=["works_for", "mentioned_with"],
    )
    fn = fn.orderBy("id").localCheckpoint(eager=True)
    fe = fe.orderBy("source", "target").localCheckpoint(eager=True)
    node_rows = fn.select(F.col("id").alias("id1"), F.col("degree").alias("n"))
    edge_rows = fe.select(
        F.col("source").alias("id1"), F.col("target").alias("id2"),
        F.col("weight").alias("w"), F.col("relationship_type").alias("payload"),
    )
    exports = [
        ("json", export_json(fn, fe, "proj1")),
        ("graphml", export_graphml(fn, fe, "proj1")),
        ("gexf", export_gexf(fn, fe, "proj1")),
    ]
    exp_rows = spark.createDataFrame(
        [(fmt, hashlib.sha256(s.encode()).hexdigest(), len(s))
         for fmt, s in exports],
        "id1 string, id2 string, n long",
    )
    return padded_union(
        "kind", "id1 string, id2 string, n bigint, w double, payload string",
        [("fnode", node_rows), ("fedge", edge_rows), ("export", exp_rows)],
    )


def _gf_oracle() -> str:
    node_vals = ",\n    ".join(
        f"('{i}', '{l}', '{t}', {d})" for i, l, t, d in _GF_NODES
    )
    edge_vals = ",\n    ".join(
        f"('{s}', '{t}', '{r}', {w})" for s, t, r, w in _GF_EDGES
    )
    # export shas pinned ONCE from the export strings and verified
    # byte-identical against the actual reference GraphExporter on the
    # same filtered graph (see test_graph_export.py for the live
    # byte-parity differential)
    return f"""
WITH nodes(id, label, entity_type, degree) AS (VALUES
    {node_vals}),
edges(source, target, relationship_type, weight) AS (VALUES
    {edge_vals}),
kept_nodes AS (
  SELECT * FROM nodes
  WHERE entity_type IN ('person', 'organization') AND degree >= 2),
kept_edges AS (
  SELECT e.* FROM edges e
  JOIN kept_nodes a ON e.source = a.id
  JOIN kept_nodes b ON e.target = b.id
  WHERE e.weight >= 2.0
    AND e.relationship_type IN ('works_for', 'mentioned_with')),
new_deg AS (
  SELECT id, count(*) AS degree FROM (
    SELECT source AS id FROM kept_edges
    UNION ALL SELECT target FROM kept_edges)
  GROUP BY id)
SELECT 'fnode' AS kind, n.id AS id1, '<na>' AS id2,
       d.degree::BIGINT AS n, -424242.0::DOUBLE AS w,
       '<na>' AS payload
FROM kept_nodes n JOIN new_deg d ON n.id = d.id
UNION ALL
SELECT 'fedge', source, target, -424242::BIGINT, weight,
       relationship_type
FROM kept_edges
UNION ALL
SELECT 'export', fmt, sha, len::BIGINT, -424242.0::DOUBLE, '<na>'
FROM (VALUES
  ('json',
   'a7b04f3f22a9b26a2f7ccb5ed6169c30260e87a8350b12317ad71b5fb59c1555',
   1787),
  ('graphml',
   'c375e9f428fd3e5a8de5f7addca3aeadd2d95d5185eb0f0d7334cc03c7b89d18',
   2424),
  ('gexf',
   'cd7ab89f5ed409fd764eff60c38910f4c3b48ea8b6493141fb905291f84968a3',
   2798)) t(fmt, sha, len)
"""


ORACLE_SQL["graph_export_filter"] = _gf_oracle()


# ---------------------------------------------------------------------------
# Ingest image-quality classification + OCR routing
# (ingest/classifiers/image_quality.py:41-341, ingest/models.py:67-136)
# — deterministic PNG fixtures, one per heuristic regime; oracle is a
# pinned VALUES table (the image_features pattern: the numpy lane's
# outputs are pinned once and verified against the ACTUAL reference
# classifier by tests/test_image_quality.py's injected-PIL differential).
# ---------------------------------------------------------------------------


def _iq_fixture_media():
    import numpy as np

    rng = np.random.RandomState(17)
    h, w = 48, 64
    yy, xx = np.mgrid[0:h, 0:w]
    textured = np.zeros((h, w))
    for _ in range(6):
        fx, fy = rng.uniform(0.5, 3, 2)
        p1, p2 = rng.uniform(0, 2 * np.pi, 2)
        textured += rng.uniform(0.5, 1.5) * np.cos(
            2 * np.pi * fx * xx / w + p1
        ) * np.cos(2 * np.pi * fy * yy / h + p2)
    textured = (
        (textured - textured.min())
        / (textured.max() - textured.min()) * 255
    ).astype(np.uint8)
    blank_white = np.full((h, w), 252, dtype=np.uint8)
    lowc = np.full((h, w), 128, dtype=np.uint8)
    lowc[rng.rand(h, w) < 0.10] = 180
    ramp = np.tile(np.linspace(0, 63, w).astype(np.uint8), (h, 1))
    table = np.full((h, w), 230, dtype=np.uint8)
    table[8::16, :] = 20
    clean = np.zeros((200, 256), dtype=np.uint8)
    clean[:, 128:] = 128
    return [
        ("iq-textured", np.stack([textured] * 3, axis=2), 300),
        ("iq-blank", blank_white, 150),
        ("iq-lowc", lowc, 96),
        ("iq-table", table, 72),
        ("iq-ramp", ramp, 201),
        ("iq-clean", clean, 150),
    ]


@register("image_quality", None)  # oracle below
def q_image_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.image_quality import (
        classify_image_quality, image_quality_metrics, ocr_route,
    )
    from .operators.multimodal import encode_png

    media = spark.createDataFrame(
        [
            (mid, bytearray(encode_png(arr)), dpi)
            for mid, arr, dpi in _iq_fixture_media()
        ],
        "media_id string, payload binary, dpi int",
    )
    metrics = image_quality_metrics(media).join(
        media.select("media_id", "dpi"), "media_id"
    )
    classified = classify_image_quality(metrics, dpi_col="dpi")
    routed = ocr_route(classified)
    return routed.select(
        "media_id",
        F.col("dpi").cast("int").alias("dpi"),
        "is_grayscale",
        F.round("compression_ratio", 6).alias("compression_ratio"),
        F.round("contrast_ratio", 6).alias("contrast_ratio"),
        F.round("skew_angle", 6).alias("skew_angle"),
        "has_noise", "layout_complexity", "is_blank", "classification",
        "needs_downscale",
        F.round("downscale_factor", 6).alias("downscale_factor"),
        "issues", "route",
    )




# pinned from the fixture run; every row verified against the ACTUAL
# ImageQualityClassifier + ImageQualityScore + get_ocr_route by the
# injected-PIL differential suite (tests/test_image_quality.py)
ORACLE_SQL["image_quality"] = """
SELECT * FROM (VALUES
  ('iq-blank', 150, true, 0.030924::DOUBLE, 0.0::DOUBLE, 0.0::DOUBLE,
   false, 'simple', true, 'fixable', false, 1.0::DOUBLE,
   'low_contrast:0.00', ''),
  ('iq-clean', 150, true, 0.006074::DOUBLE, 0.8::DOUBLE, 0.0::DOUBLE,
   false, 'simple', false, 'clean', false, 1.0::DOUBLE, '',
   'gpu-paddle'),
  ('iq-lowc', 96, true, 0.145508::DOUBLE, 0.195507::DOUBLE,
   0.077205::DOUBLE, true, 'simple', false, 'messy', false,
   1.0::DOUBLE, 'low_dpi:96|low_contrast:0.20|noisy',
   'cpu-image|gpu-paddle'),
  ('iq-ramp', 201, true, 0.051432::DOUBLE, 0.230912::DOUBLE,
   0.0::DOUBLE, false, 'simple', false, 'fixable', true,
   0.746269::DOUBLE, 'low_contrast:0.23',
   'cpu-image:downscale|cpu-image|gpu-paddle'),
  ('iq-table', 72, true, 0.035156::DOUBLE, 0.635411::DOUBLE,
   10.0::DOUBLE, true, 'table', false, 'messy', false, 1.0::DOUBLE,
   'low_dpi:72|skewed:10.0deg|noisy', 'cpu-image|gpu-paddle'),
  ('iq-textured', 300, false, 0.503906::DOUBLE, 0.626987::DOUBLE,
   0.017442::DOUBLE, true, 'simple', false, 'fixable', true,
   0.5::DOUBLE, 'noisy', 'cpu-image:downscale|cpu-image|gpu-paddle')
) t(media_id, dpi, is_grayscale, compression_ratio, contrast_ratio,
    skew_angle, has_noise, layout_complexity, is_blank, classification,
    needs_downscale, downscale_factor, issues, route)
"""


# ---------------------------------------------------------------------------
# Filename-based file-type classification + worker routing
# (ingest/classifiers/file_type.py:12-195) — full SQL mirror of the
# extension/category/MIME/route tables over a pinned filename fixture.
# ---------------------------------------------------------------------------

_FT_NAMES = [
    "report.pdf", "memo.DOCX", "data.xlsx", "notes.txt", "page.HTML",
    "feed.json", "scan.png", "photo.JPEG", "pic.tiff", "song.mp3",
    "voice.wav", "bundle.zip", "backup.tar", "packed.7z", "mail.eml",
    "old.msg", "sheet.csv", "plain.md", "clip.flac", "archive.gz",
    "noext", ".hidden", "trailing.", "double.tar.gz", "weird.xyz",
    "UPPER.PDF",
]


@register("file_routes", None)  # oracle below
def q_file_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.extract import file_type_info

    files = spark.createDataFrame(
        [(n,) for n in _FT_NAMES], "file_name string"
    )
    return file_type_info(files).select(
        "file_name", "extension", "category", "mime_type", "file_route"
    )


def _file_routes_oracle() -> str:
    from .operators.extract import _FALLBACK_MIME, FILE_TYPE_ROUTES

    names = ",\n    ".join(f"('{n}')" for n in _FT_NAMES)
    cat_whens = "\n".join(
        f"    WHEN ext = '{e}' THEN '{cat if cat in ('document', 'image', 'audio', 'archive') else 'document'}'"
        for cat, (exts, _) in FILE_TYPE_ROUTES.items()
        for e in exts
    )
    mime_whens = "\n".join(
        f"    WHEN ext = '{e}' THEN '{m}'"
        for e, m in _FALLBACK_MIME.items()
    )
    route_whens = "\n".join(
        f"    WHEN ext = '{e}' THEN '{'|'.join(pipe)}'"
        for _, (exts, pipe) in FILE_TYPE_ROUTES.items()
        for e in exts
    )
    return f"""
WITH files(file_name) AS (VALUES
    {names}),
extd AS (
  SELECT file_name,
         lower(regexp_extract(file_name,
               '.+(\\.[^./\\\\]+)$', 1)) AS ext
  FROM files)
SELECT file_name, ext AS extension,
       CASE
{cat_whens}
    ELSE 'unknown' END AS category,
       CASE
{mime_whens}
    ELSE 'application/octet-stream' END AS mime_type,
       CASE
{route_whens}
    ELSE 'cpu-light' END AS file_route
FROM extd
"""


ORACLE_SQL["file_routes"] = _file_routes_oracle()
