"""WARC source: parser unit tests, segment files read through Spark's
binaryFile source, and the end-to-end WARC → pages → extract_docs chain."""

import gzip

import pytest

from arkhammirror_spark.sources.warc import (
    build_warc,
    parse_warc_records,
    warc_to_pages,
)

RECORDS = [
    {"url": "https://a.example/1", "date": "2026-01-02T03:04:05Z",
     "payload": b"<html><body><p>John Smith met Acme Corp.</p></body></html>"},
    {"url": "https://a.example/req", "warc_type": "request",
     "payload": b"GET / HTTP/1.1"},
    {"url": "https://b.example/2", "date": "2026-02-03T04:05:06Z",
     "payload": "Résumé text only.".encode("utf-8")},
    {"url": None, "warc_type": "warcinfo", "payload": b"software: test"},
]


def read_warc(spark, path_glob: str):
    """WARC segment files → pages through Spark's binaryFile source."""
    return warc_to_pages(spark.read.format("binaryFile").load(path_glob))


class TestParser:
    def test_responses_only_with_http_split(self):
        raw = build_warc(RECORDS, gzip_members=False)
        recs = parse_warc_records(raw)
        assert [r["url"] for r in recs] == ["https://a.example/1", "https://b.example/2"]
        assert recs[0]["payload"].startswith(b"<html>")
        assert recs[0]["content_type"] == "text/html"
        assert recs[0]["error"] is None

    def test_gzip_multi_member(self):
        raw = build_warc(RECORDS, gzip_members=True)
        assert raw[:2] == b"\x1f\x8b"
        recs = parse_warc_records(raw)
        assert len(recs) == 2 and recs[1]["url"] == "https://b.example/2"

    def test_truncated_body_quarantined(self):
        raw = build_warc([RECORDS[0]], gzip_members=False)
        recs = parse_warc_records(raw[: len(raw) - 30])
        assert len(recs) == 1
        assert recs[0]["url"] == "https://a.example/1"
        assert "truncated" in recs[0]["error"]

    def test_bad_content_length_quarantined(self):
        raw = build_warc([RECORDS[0]], gzip_members=False)
        bad = raw.replace(b"Content-Length: ", b"Content-Length: x", 1)
        recs = parse_warc_records(bad)
        assert any(r["error"] and "Content-Length" in r["error"] for r in recs)

    def test_deterministic_bytes(self):
        assert build_warc(RECORDS) == build_warc(RECORDS)

    def test_gzip_bomb_capped_not_oomed(self):
        # 64 KiB of zeros compresses ~1000:1; shrink the ratio cap so the
        # parser must abort mid-stream instead of materializing the payload
        from arkhammirror_spark.reference_impl import archive as arc

        bomb = gzip.compress(b"\x00" * (64 * 1024))
        old = arc.MAX_COMPRESSION_RATIO
        arc.MAX_COMPRESSION_RATIO = 10
        try:
            with pytest.raises(ValueError, match="ratio|cap"):
                parse_warc_records(bomb)
        finally:
            arc.MAX_COMPRESSION_RATIO = old

    def test_gzip_bomb_is_error_row_in_pages(self, spark):
        # monkeypatching the cap can't reach the separate python worker
        # processes, so trip the DEFAULT 1000x ratio cap for real: gzip on
        # zeros achieves ~1026:1 (deflate max ≈ 1032:1), deterministically
        # above the cap — the chunked loop must abort, not materialize
        big_bomb = gzip.compress(b"\x00" * (10 * 1024 * 1024))
        seg = spark.createDataFrame(
            [("mem://bomb", bytearray(big_bomb))], "path string, content binary"
        )
        rows = warc_to_pages(seg).collect()
        assert len(rows) == 1
        assert rows[0]["error"] and (
            "ratio" in rows[0]["error"] or "cap" in rows[0]["error"]
        )
        assert rows[0]["html"] is None


class TestSparkReader:
    def test_read_warc_files(self, spark, tmp_path):
        import datetime as dt

        import pyspark.sql.functions as F

        undated = {"url": "https://c.example/3", "date": "not a date", "payload": b"x"}
        p = tmp_path / "seg-00000.warc.gz"
        p.write_bytes(build_warc(RECORDS + [undated]))
        pages = read_warc(spark, str(tmp_path / "*.warc.gz")).withColumn(
            "epoch_s", F.unix_seconds("warc_ts")
        )
        rows = {r["url"]: r for r in pages.collect()}
        assert set(rows) == {"https://a.example/1", "https://b.example/2", "https://c.example/3"}

        def epoch(iso: str) -> int:
            return int(dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp())

        # the exact instant of each WARC-Date, whatever the session time zone
        assert rows["https://a.example/1"]["epoch_s"] == epoch(RECORDS[0]["date"])
        assert rows["https://b.example/2"]["epoch_s"] == epoch(RECORDS[2]["date"])
        # an unparseable WARC-Date reads null, the record survives
        assert rows["https://c.example/3"]["warc_ts"] is None
        assert rows["https://c.example/3"]["error"] is None
        assert bytes(rows["https://a.example/1"]["html"]).startswith(b"<html>")
        assert rows["https://a.example/1"]["error"] is None

    def test_corrupt_segment_is_one_error_row(self, spark):
        seg = spark.createDataFrame(
            [("s1", b"\x1f\x8bnot really gzip")], "path: string, content: binary"
        )
        rows = warc_to_pages(seg).collect()
        assert len(rows) == 1 and rows[0]["error"] is not None
        # the error row names its segment, not a page
        assert rows[0]["url"] is None
        assert rows[0]["warc_path"] == "s1"
        assert rows[0]["html"] is None

    def test_end_to_end_warc_to_extraction(self, spark, tmp_path):
        """WARC bytes → pages → extract_docs: the full ingest chain."""
        import pyspark.sql.functions as F

        from arkhammirror_spark.operators.extract import extract_docs

        p = tmp_path / "seg.warc.gz"
        p.write_bytes(build_warc(RECORDS))
        pages = read_warc(spark, str(p)).where("error is null").select(
            "url", "warc_ts", "html", "text"
        )
        docs = extract_docs(pages)
        got = {r["url"]: r for r in docs.collect()}
        assert "John Smith met Acme Corp." in got["https://a.example/1"]["extracted_text"]
        names = [m["text"] for m in got["https://a.example/1"]["_mentions"]]
        assert "John Smith" in names
        # the utf-8 text-only record went through the decode cascade
        assert "Résumé" in got["https://b.example/2"]["extracted_text"]


    def test_instants_survive_a_non_utc_session(self, spark, tmp_path):
        """WARC-Date → pages → docs keeps each record's instant when the
        session time zone is not UTC: Python sees session-local wall times."""
        import datetime as dt

        import pyspark.sql.functions as F

        from arkhammirror_spark.operators.extract import extract_docs

        p = tmp_path / "seg.warc.gz"
        p.write_bytes(build_warc(RECORDS))
        zone = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        try:
            pages = read_warc(spark, str(p)).where("error is null")
            got = {
                r["url"]: (r["pages_s"], r["docs_s"])
                for r in extract_docs(pages.select("url", "warc_ts", "html", "text"))
                .select("url", F.unix_seconds("warc_ts").alias("docs_s"))
                .join(pages.select("url", F.unix_seconds("warc_ts").alias("pages_s")), "url")
                .collect()
            }
        finally:
            spark.conf.set("spark.sql.session.timeZone", zone)
        want = {
            r["url"]: int(dt.datetime.fromisoformat(r["date"].replace("Z", "+00:00")).timestamp())
            for r in RECORDS if r.get("date")
        }
        assert got == {u: (s, s) for u, s in want.items()}


class TestWarcRoundTripFuzz:
    def test_build_parse_round_trip(self):
        """Fuzz: build_warc(records) → parse_warc_records recovers every
        response record's url/payload byte-for-byte, plain and gzipped."""
        import random

        from hypothesis import given, settings
        from hypothesis import strategies as st

        payload_st = st.binary(min_size=0, max_size=400)

        @settings(max_examples=40, deadline=None)
        @given(st.lists(
            st.tuples(st.sampled_from(["response", "request", "metadata"]),
                      payload_st),
            min_size=1, max_size=8,
        ), st.booleans())
        def check(specs, gz):
            records = [
                {"url": f"https://fz.example/{i}", "warc_type": t,
                 "payload": p, "http": False}
                for i, (t, p) in enumerate(specs)
            ]
            recs = parse_warc_records(build_warc(records, gzip_members=gz))
            expected = [
                (r["url"], r["payload"]) for r in records
                if r["warc_type"] == "response"
            ]
            assert [(r["url"], r["payload"]) for r in recs] == expected
            assert all(r["error"] is None for r in recs)

        check()
