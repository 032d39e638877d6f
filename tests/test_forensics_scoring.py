"""Media forensics (EXIF/metadata, perceptual-hash helpers) and analytic
scoring (credibility, ACH) unit tests — reference-semantics parity on
deterministic fixtures."""

import pytest
from pyspark.sql import functions as F

from arkhammirror_spark.operators.media_metadata import (
    add_png_text,
    build_jpeg_exif,
    gps_to_decimal,
    make_docx_with_core,
    make_pdf_with_info,
    metadata_warnings,
    parse_jpeg_metadata,
    parse_pdf_metadata,
    parse_png_text,
    parse_ooxml_metadata,
    sniff_kind,
)


class TestExifWalk:
    def test_full_exif_roundtrip(self):
        j = build_jpeg_exif(
            make="Canon", model="EOS 5D", software="darktable 4.2",
            datetime_modified="2021:06:02 10:00:00",
            datetime_original="2021:06:01 09:00:00",
            datetime_digitized="2021:06:01 09:00:00",
            gps=(40.446195, -79.982195),
        )
        m = parse_jpeg_metadata(j)
        assert m["make"] == "Canon" and m["model"] == "EOS 5D"
        assert m["datetime_original"] == "2021:06:01 09:00:00"
        # GPS DMS encode -> decimal decode round-trips at 6 decimals
        # (exif_extractor.py:171-194 rounding)
        assert m["gps_lat"] == 40.446195
        assert m["gps_lon"] == -79.982195

    def test_gps_southern_western_negative(self):
        assert gps_to_decimal([(33, 1), (52, 1), (0, 1)], "S") < 0
        assert gps_to_decimal([(33, 1), (52, 1), (0, 1)], "N") > 0

    def test_warning_rules_exif(self):
        """exif_extractor.py:221-261 rule-by-rule."""
        no_exif = parse_jpeg_metadata(build_jpeg_exif(no_exif=True))
        assert metadata_warnings("jpeg", no_exif) == ["NO_EXIF"]
        edited = parse_jpeg_metadata(build_jpeg_exif(
            make="X", software="Adobe Photoshop",
            datetime_modified="2021:01:02 00:00:00",
            datetime_original="2021:01:01 00:00:00"))
        w = metadata_warnings("jpeg", edited)
        assert "EDITING_SOFTWARE" in w and "TIMESTAMP_MISMATCH" in w
        gps_only = parse_jpeg_metadata(build_jpeg_exif(gps=(1.0, 2.0)))
        w2 = metadata_warnings("jpeg", gps_only)
        assert "GPS_NO_CAMERA" in w2 and "NO_CAMERA" in w2
        clean = parse_jpeg_metadata(build_jpeg_exif(
            make="Nikon",
            datetime_modified="2020:01:01 12:00:00",
            datetime_original="2020:01:01 12:00:00",
            datetime_digitized="2020:01:01 12:00:00"))
        assert metadata_warnings("jpeg", clean) == []

    def test_corrupt_marker_stream_raises(self):
        with pytest.raises(ValueError):
            parse_jpeg_metadata(b"\xff\xd8\x00broken")

    def test_big_endian_tiff(self):
        """MM byte order parses identically (the walker honors the header)."""
        j = build_jpeg_exif(make="LE", model="M")
        # rebuild as big-endian by byte-level surgery is impractical; instead
        # assert the II path and that an MM header with wrong magic is empty
        from arkhammirror_spark.operators.media_metadata import parse_exif_tiff

        assert parse_exif_tiff(b"MM\x00\x00\x00\x00\x00\x08") == {}
        assert parse_jpeg_metadata(j)["make"] == "LE"


class TestContainerMetadata:
    def test_png_text_chunks(self):
        import numpy as np

        from arkhammirror_spark.operators.multimodal import (
            decode_image,
            encode_png,
        )

        png = add_png_text(
            encode_png(np.zeros((4, 4, 3), dtype=np.uint8)),
            {"Software": "gimp", "Comment": "c"},
        )
        assert parse_png_text(png) == {"Software": "gimp", "Comment": "c"}
        assert decode_image(png).shape == (4, 4, 3)  # chunks don't break decode

    def test_pdf_info_and_anomalies(self):
        pdf = make_pdf_with_info(
            {"Title": "T (x)", "Producer": "pdftk 3.0",
             "CreationDate": "D:20230510120000Z",
             "ModDate": "D:20230101090000Z"}
        )
        m = parse_pdf_metadata(pdf)
        assert m["title"] == "T (x)"  # escaped parens round-trip
        assert m["created"] == "2023-05-10T12:00:00"
        w = metadata_warnings("pdf", m)
        assert "TIMESTAMP_ANOMALY" in w and "PDF_TOOL_DETECTED" in w

    def test_ooxml_core_and_revision_rules(self):
        dx = make_docx_with_core(
            ["x"], title="T", author="A", modified="2022-04-01T10:00:00",
            last_modified_by="B", revision=1,
        )
        m = parse_ooxml_metadata(dx)
        assert m["title"] == "T" and m["revision"] == 1
        assert metadata_warnings("ooxml", m) == ["REVISION_ANOMALY"]
        heavy = parse_ooxml_metadata(make_docx_with_core(
            ["x"], author="A", modified="2022-03-01T10:00:00",
            last_modified_by="A", revision=150,
        ))
        assert metadata_warnings("ooxml", heavy) == ["HIGH_REVISION_COUNT"]

    def test_sniff(self):
        assert sniff_kind(b"\xff\xd8\xff") == "jpeg"
        assert sniff_kind(b"%PDF-1.4") == "pdf"
        assert sniff_kind(b"PK\x03\x04") == "ooxml"
        assert sniff_kind(b"\x89PNG\r\n\x1a\n") == "png"
        assert sniff_kind(b"hello") == "unknown"


class TestMetadataFuzz:
    def test_tiff_walker_never_crashes_on_mutations(self):
        """Truncations and random byte flips of a valid EXIF JPEG must
        either parse (possibly partially) or raise ValueError — never an
        unhandled struct/index error (the per-row quarantine contract)."""
        import random

        base = build_jpeg_exif(
            make="Canon", model="EOS 5D", software="x",
            datetime_original="2021:06:01 09:00:00", gps=(40.0, -75.0),
        )
        rng = random.Random(3)
        for i in range(200):
            raw = bytearray(base)
            if i % 2 == 0:
                raw = raw[: rng.randrange(2, len(raw))]
            else:
                for _ in range(rng.randrange(1, 6)):
                    raw[rng.randrange(len(raw))] = rng.randrange(256)
            try:
                parse_jpeg_metadata(bytes(raw))
            except ValueError:
                pass  # quarantine lane

    def test_png_and_pdf_walkers_never_crash_on_mutations(self):
        import random

        import numpy as np

        from arkhammirror_spark.operators.multimodal import encode_png

        png = add_png_text(
            encode_png(np.zeros((4, 4, 3), dtype=np.uint8)), {"k": "v"}
        )
        pdf = make_pdf_with_info({"Title": "t", "ModDate": "D:20230101090000Z"})
        rng = random.Random(5)
        for base in (png, pdf):
            for i in range(150):
                raw = bytearray(base)
                if i % 2 == 0:
                    raw = raw[: rng.randrange(1, len(raw))]
                else:
                    for _ in range(rng.randrange(1, 6)):
                        raw[rng.randrange(len(raw))] = rng.randrange(256)
                try:
                    if bytes(raw[:5]) == b"%PDF-":
                        parse_pdf_metadata(bytes(raw))
                    elif bytes(raw[:8]) == b"\x89PNG\r\n\x1a\n":
                        parse_png_text(bytes(raw))
                except ValueError:
                    pass


class TestPhashKernels:
    def test_resample_box_preserves_mean_any_ratio(self):
        """Box resample is an exact partition of the source area, so the
        global mean must be preserved for arbitrary (including
        non-integer-ratio) target sizes."""
        import numpy as np

        from arkhammirror_spark.operators.phash import resample_box

        rng = np.random.RandomState(11)
        for _ in range(25):
            h, w = rng.randint(5, 60), rng.randint(5, 60)
            nh, nw = rng.randint(2, 40), rng.randint(2, 40)
            a = rng.randint(0, 256, size=(h, w)).astype(np.float64)
            r = resample_box(a, nw, nh)
            assert r.shape == (nh, nw)
            # weighted mean of target cells equals source mean when cells
            # are weighted by their source-area share; for uniform grids
            # target cells cover equal area, so the plain mean matches
            assert abs(r.mean() - a.mean()) < 1e-7

    def test_dct_matrix_matches_direct_definition(self):
        """The matrix-product 2D DCT must equal the direct O(n^2) DCT-II
        (orthonormal) definition on random inputs — the scipy-free claim."""
        import numpy as np

        from arkhammirror_spark.operators.phash import dct_matrix

        rng = np.random.RandomState(4)
        n = 16
        p = rng.rand(n, n)
        d = dct_matrix(n)
        got = d @ p @ d.T

        def direct(k, l):
            ck = np.sqrt(1.0 / n) if k == 0 else np.sqrt(2.0 / n)
            cl = np.sqrt(1.0 / n) if l == 0 else np.sqrt(2.0 / n)
            s = 0.0
            for i in range(n):
                for j in range(n):
                    s += (p[i, j]
                          * np.cos(np.pi * (i + 0.5) * k / n)
                          * np.cos(np.pi * (j + 0.5) * l / n))
            return ck * cl * s

        for k, l in [(0, 0), (1, 3), (7, 7), (15, 2), (4, 15)]:
            assert abs(got[k, l] - direct(k, l)) < 1e-10

    def test_hex_long_roundtrip_random_bits(self):
        import random

        from arkhammirror_spark.operators.phash import _bits_to_hex_and_long

        rng = random.Random(9)
        for _ in range(100):
            bits = [rng.random() < 0.5 for _ in range(64)]
            hx, sig = _bits_to_hex_and_long(bits)
            assert len(hx) == 16
            assert int(hx, 16) == sig % (1 << 64)
            # first bit is the most significant (reference format)
            assert (int(hx, 16) >> 63) == (1 if bits[0] else 0)


class TestEla:
    def test_interpretation_matches_reference_math(self):
        """ela_analyzer.py:114-145 recomputed by hand, incl. the trailing-
        block exclusion of its range(0, dim - 64, 64) loops."""
        import numpy as np

        from arkhammirror_spark.operators.ela import ela_from_arrays

        orig = np.zeros((192, 256, 3), dtype=np.uint8)
        resaved = orig.copy()
        resaved[:, :, :] = 2  # uniform error 2, scaled 30
        got = ela_from_arrays(orig, resaved)
        assert got["mean_error"] == 30.0 and got["std_error"] == 0.0
        assert got["max_error"] == 30.0
        assert got["uniformity_score"] == 1.0
        assert got["assessment"] == "Highly uniform error levels"
        # blocks: y in range(0,128,64) x in range(0,192,64) -> 2x3 = 6 blocks
        # (the reference loop drops the trailing 64px band on each axis)

    def test_gated_lanes(self, spark):
        import numpy as np

        from arkhammirror_spark.operators.ela import ela_metrics
        from arkhammirror_spark.operators.multimodal import encode_png

        arr = np.full((80, 80, 3), 100, dtype=np.uint8)
        media = spark.createDataFrame(
            [("a", "image", encode_png(arr), None),
             ("bad", "image", b"junkbytes", None)],
            "media_id: string, media_type: string, payload: binary, duration_s: double",
        )
        got = {r["media_id"]: r for r in ela_metrics(media).collect()}
        assert got["a"]["error"] is None and got["a"]["engine"] == "mock"
        assert got["a"]["mean_error"] == 60.0  # 100 -> 96 quantize, x15
        assert got["bad"]["error"] is not None and got["bad"]["engine"] == "mock"


class TestSunPosition:
    def test_known_positions_match_noaa(self, spark):
        """Spot-check the native NOAA solar geometry against independently
        known values: Greenwich summer-solstice noon altitude ~61.9 deg
        (90 - 51.48 + 23.44), equinox solar noon at the equator near
        zenith, and a southern-hemisphere sun positioned to the North."""
        from arkhammirror_spark.operators.sunpos import sun_positions

        rows = [
            ("greenwich", 51.4778, -0.0014, "2023-06-21 12:02:00"),
            ("equator", 0.0, 0.0, "2023-03-20 12:07:00"),
            ("sydney", -33.87, 151.21, "2023-01-15 02:00:00"),
            ("midnight", 51.4778, -0.0014, "2023-06-21 00:00:00"),
        ]
        df = spark.createDataFrame(
            rows, "pid: string, gps_lat: double, gps_lon: double, ts_s: string"
        ).select("pid", "gps_lat", "gps_lon",
                 F.to_timestamp_ntz("ts_s").alias("ts"))
        got = {r["pid"]: r for r in
               sun_positions(df).collect()}
        g = got["greenwich"]
        assert abs(g["sun_altitude"] - 61.9) < 0.5
        assert abs(g["sun_azimuth"] - 180.0) < 3.0
        assert g["sun_above_horizon"] is True
        assert "high (midday)" in g["interpretation"]
        assert abs(g["expected_shadow_direction"] - (g["sun_azimuth"] + 180) % 360) < 0.02
        e = got["equator"]
        assert e["sun_altitude"] > 88.0
        s = got["sydney"]
        assert s["sun_altitude"] > 60.0
        # southern-hemisphere summer: sun to the north
        assert s["sun_azimuth"] < 90 or s["sun_azimuth"] > 270
        m = got["midnight"]
        assert m["sun_above_horizon"] is False
        assert m["shadow_length_ratio"] == -424242.0
        assert m["interpretation"].startswith("Sun is below the horizon")

    def test_shadow_ratio_is_inverse_tan(self, spark):
        from math import radians, tan

        from arkhammirror_spark.operators.sunpos import sun_positions

        df = spark.createDataFrame(
            [("x", 40.0, -75.0, "2023-09-01 15:00:00")],
            "pid: string, gps_lat: double, gps_lon: double, ts_s: string",
        ).select("pid", "gps_lat", "gps_lon",
                 F.to_timestamp_ntz("ts_s").alias("ts"))
        r = sun_positions(df).collect()[0]
        # ratio computed from the unrounded altitude; compare loosely
        assert abs(r["shadow_length_ratio"]
                   - 1.0 / tan(radians(r["sun_altitude"]))) < 0.02


class TestCredibilityScoring:
    def test_factor_weighted_matches_reference_math(self, spark):
        """shard.py:641-646: int(sum(score*weight)/sum(weight))."""
        from arkhammirror_spark.operators.credibility import (
            factor_weighted_scores,
        )

        rows = [
            ("s1", "reliability", 30, 80), ("s1", "evidence", 25, 60),
            ("s1", "bias", 20, 40), ("s1", "expertise", 15, 90),
            ("s1", "timeliness", 10, 10),
            ("s2", "reliability", 50, 10), ("s2", "evidence", 50, 15),
        ]
        df = spark.createDataFrame(
            rows,
            "source_id: string, factor_type: string, weight_centi: int, score: int",
        )
        got = {r["source_id"]: r for r in factor_weighted_scores(df).collect()}

        def ref(pairs):
            tw = sum(w for w, _ in pairs)
            return int(sum(s * w for w, s in pairs) / tw)

        assert got["s1"]["cred_score"] == ref(
            [(30, 80), (25, 60), (20, 40), (15, 90), (10, 10)]
        )
        assert got["s2"]["cred_score"] == ref([(50, 10), (50, 15)]) == 12
        assert got["s2"]["cred_level"] == "unreliable"

    def test_checklist_ignores_unassessed(self, spark):
        """models.py:367-391: strength none rows must not dilute."""
        from arkhammirror_spark.operators.credibility import checklist_scores

        rows = [
            ("s1", "mom", 100, 100), ("s1", "mom", 0, 100),
            ("s1", "mom", 50, 80),
        ]
        df = spark.createDataFrame(
            rows,
            "source_id: string, checklist: string, strength_score: int, conf_centi: int",
        )
        got = checklist_scores(df).collect()[0]
        # reference: total = 100*1.0 + 50*0.8 = 140; n_assessed = 2
        assert got["score"] == int(140 / 200 * 100) == 70

    def test_trend_classification_branches(self, spark):
        """shard.py:560-592: improving/declining/volatile/stable with the
        <3-assessments stable default; seq 0 is most recent."""
        from arkhammirror_spark.operators.credibility import credibility_trend

        rows = []
        # improving: recent (90,90,90) vs older (10,10,10)
        for seq, s in enumerate([90, 90, 90, 10, 10, 10]):
            rows.append(("up", seq, s))
        # declining: mirror
        for seq, s in enumerate([10, 10, 10, 90, 90, 90]):
            rows.append(("down", seq, s))
        # volatile: flat means but variance > 400 (spread 0/100)
        for seq, s in enumerate([0, 100, 50, 0, 100, 50]):
            rows.append(("wild", seq, s))
        # stable: tight spread
        for seq, s in enumerate([50, 52, 48, 51, 49, 50]):
            rows.append(("calm", seq, s))
        # short history -> stable regardless of shape
        rows += [("short", 0, 100), ("short", 1, 0)]
        df = spark.createDataFrame(
            rows, "source_id: string, seq: int, score: int"
        )
        got = {r["source_id"]: r for r in credibility_trend(df).collect()}
        assert got["up"]["score_trend"] == "improving"
        assert got["down"]["score_trend"] == "declining"
        assert got["wild"]["score_trend"] == "volatile"
        assert got["calm"]["score_trend"] == "stable"
        assert got["short"]["score_trend"] == "stable"
        assert got["up"]["latest_score"] == 90
        assert got["up"]["n_assessments"] == 6
        assert abs(got["up"]["avg_score"] - 50.0) < 1e-9
        # reference math check: variance of wild = 1666.67 > 400
        ref_var = sum((s - 50) ** 2 for s in [0, 100, 50, 0, 100, 50]) / 6
        assert ref_var > 400

    def test_overall_weights_and_risk(self, spark):
        from arkhammirror_spark.operators.credibility import deception_overall

        rows = [("s1", "mom", 80), ("s1", "pop", 20), ("s1", "moses", 60),
                ("s1", "eve", 40)]
        df = spark.createDataFrame(
            rows, "source_id: string, checklist: string, score: int"
        )
        got = deception_overall(df).collect()[0]
        expect = int((0.35 * 80 + 0.15 * 20 + 0.25 * 60 + 0.25 * 40) / 1.0)
        assert got["deception_score"] == expect == 56
        assert got["risk_level"] == "moderate"


class TestAchScoring:
    def _ratings(self, spark):
        rows = [
            # h1: one inconsistency, strong support otherwise
            ("m", "h1", "e1", "++", 100, 100, 100),
            ("m", "h1", "e2", "-", 50, 100, 100),
            ("m", "h1", "e3", "N/A", 100, 100, 100),
            # h2: no inconsistencies, mild support
            ("m", "h2", "e1", "+", 100, 100, 100),
            ("m", "h2", "e2", "N", 50, 100, 100),
            ("m", "h2", "e3", "+", 80, 50, 50),
        ]
        return spark.createDataFrame(
            rows,
            "matrix_id: string, hypothesis_id: string, evidence_id: string, "
            "rating: string, cred_centi: int, rel_centi: int, conf_centi: int",
        )

    def test_scores_match_reference_math(self, spark):
        from arkhammirror_spark.operators.ach import ach_scores

        got = {r["hypothesis_id"]: r for r in
               ach_scores(self._ratings(spark)).collect()}
        h1 = got["h1"]
        # scoring.py:81-119 recomputed by hand (credibility*relevance weights)
        num = 2 * 1.0 * 1.0 * 1.0 + (-1) * 0.5 * 1.0 * 1.0
        den = 1.0 * 1.0 + 0.5 * 1.0
        assert h1["consistency_score"] == 1
        assert h1["inconsistency_count"] == 1
        assert abs(h1["weighted_score"] - num / den) < 1e-9
        assert abs(h1["normalized_score"] - ((num / den + 2) / 4 * 100)) < 1e-9
        assert h1["evidence_count"] == 3  # N/A still counted (scoring.py:127)
        # ranking: fewer inconsistencies wins regardless of weighted score
        assert got["h2"]["rank"] == 1 and h1["rank"] == 2

    def test_all_na_hypothesis_gets_neutral_defaults(self, spark):
        """scoring.py:112-119: nothing rated (all N/A) -> weighted 0.0,
        normalized 50.0; evidence_count still counts the N/A rows."""
        from arkhammirror_spark.operators.ach import ach_scores

        df = spark.createDataFrame(
            [("m", "h1", "e1", "N/A", 100, 100, 100),
             ("m", "h1", "e2", "N/A", 100, 100, 100),
             ("m", "h2", "e1", "+", 100, 100, 100)],
            "matrix_id: string, hypothesis_id: string, evidence_id: string, "
            "rating: string, cred_centi: int, rel_centi: int, conf_centi: int",
        )
        got = {r["hypothesis_id"]: r for r in ach_scores(df).collect()}
        h1 = got["h1"]
        assert h1["weighted_score"] == 0.0
        assert h1["normalized_score"] == 50.0
        assert h1["evidence_count"] == 2
        assert h1["inconsistency_count"] == 0
        # both have 0 inconsistencies; h2's weighted 1.0 beats h1's 0.0
        assert got["h2"]["rank"] == 1

    def test_diagnosticity_flags_varying_evidence(self, spark):
        from arkhammirror_spark.operators.ach import diagnosticity

        rows = [
            ("m", "h1", "ediag", "++", 100, 100, 100),
            ("m", "h2", "ediag", "--", 100, 100, 100),
            ("m", "h1", "eflat", "+", 100, 100, 100),
            ("m", "h2", "eflat", "+", 100, 100, 100),
        ]
        df = spark.createDataFrame(
            rows,
            "matrix_id: string, hypothesis_id: string, evidence_id: string, "
            "rating: string, cred_centi: int, rel_centi: int, conf_centi: int",
        )
        got = diagnosticity(df).collect()
        assert [r["evidence_id"] for r in got] == ["ediag"]
        assert got[0]["variance"] == 4.0  # scores {2,-2}: var = 4
