"""WARC source: Common-Crawl-style web archives → the pages table.

The north-star input is "an Iceberg table of Common-Crawl-style pages
(url, warc_ts, html, text, lang)"; this module is the ingestion edge that
builds that table from raw WARC segments (the format Common Crawl actually
ships: WARC/1.0, per-record-gzipped members concatenated into .warc.gz).

Design:
- `parse_warc_records` is a dependency-free parser (stdlib gzip + bytes
  scanning) for WARC 1.0/1.1: keeps `response` records, splits the HTTP
  header block from the payload, honors Content-Length, quarantines
  malformed records as error rows instead of failing the split.
- `warc_to_pages` turns a DataFrame of (path, content) binary rows into the
  pages schema — one pass of the per-row lane, so ingestion composes with
  extract_docs into a single WARC → extracted-docs job.
- `build_warc` writes deterministic WARC bytes (fixture/datagen helper —
  every field pinned, no wall clock).
"""

from __future__ import annotations

import gzip
import io

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.lane import error_text, explode_lane

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("warc_path", StringType(), True),
        StructField("error", StringType(), True),
    ]
)

_CRLF2 = b"\r\n\r\n"


def _bounded_gunzip(raw: bytes) -> bytes:
    """Decompress a (possibly multi-member) gzip stream with the same
    bomb caps as reference_impl.archive — chunked, so a hostile 1000×+
    .warc.gz quarantines as an error row instead of OOMing the executor.
    GzipFile reads concatenated members transparently."""
    from ..reference_impl.archive import (
        MAX_COMPRESSION_RATIO,
        MAX_UNCOMPRESSED_SIZE,
        _bomb_check,
    )

    cap = min(MAX_UNCOMPRESSED_SIZE, MAX_COMPRESSION_RATIO * len(raw))
    chunks: list[bytes] = []
    total = 0
    with gzip.GzipFile(fileobj=io.BytesIO(raw)) as gf:
        while True:
            chunk = gf.read(min(1 << 20, cap + 1 - total))
            if not chunk:
                break
            chunks.append(chunk)
            total += len(chunk)
            if total > cap:
                _bomb_check(len(raw), total, 1)  # raises the precise reason
                raise ValueError("gzip stream exceeded decompression cap")
    return b"".join(chunks)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # first line is the version/status
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode(
                "latin-1", "replace"
            )
    return headers


def parse_warc_records(raw: bytes) -> list[dict]:
    """All `response` records in a WARC (plain or gzipped, multi-member).

    Returns dicts with url, warc_date (ISO string), payload (bytes after the
    HTTP header block), content_type, error (None unless the record was
    malformed — then the partial fields + error survive for quarantine).
    """
    if raw[:2] == b"\x1f\x8b":
        raw = _bounded_gunzip(raw)  # handles concatenated members, bomb-capped

    out: list[dict] = []
    pos = 0
    n = len(raw)
    while pos < n:
        start = raw.find(b"WARC/", pos)
        if start < 0:
            break
        head_end = raw.find(_CRLF2, start)
        if head_end < 0:
            out.append(
                {"url": None, "warc_date": None, "payload": None,
                 "content_type": None,
                 "error": "truncated WARC header block"}
            )
            break
        headers = _parse_headers(raw[start:head_end])
        body_start = head_end + len(_CRLF2)
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            out.append(
                {"url": headers.get("warc-target-uri"),
                 "warc_date": headers.get("warc-date"),
                 "payload": None, "content_type": None,
                 "error": "missing/invalid Content-Length"}
            )
            pos = body_start
            continue
        body = raw[body_start : body_start + length]
        pos = body_start + length
        if headers.get("warc-type") != "response":
            continue  # request/metadata/warcinfo records are not pages
        rec: dict = {
            "url": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": None,
            "error": None,
        }
        if len(body) < length:
            rec["payload"] = None
            rec["error"] = f"truncated record body ({len(body)}/{length} bytes)"
            out.append(rec)
            continue
        # split the HTTP response header from the payload
        http_end = body.find(_CRLF2)
        if body[:5] == b"HTTP/" and http_end >= 0:
            http_headers = _parse_headers(body[:http_end])
            rec["content_type"] = http_headers.get("content-type")
            rec["payload"] = body[http_end + len(_CRLF2) :]
        else:
            rec["payload"] = body  # bare payload (no HTTP envelope)
        out.append(rec)
    return out


def _segment_pages(path: str | None, content) -> list[dict]:
    """One segment's pages rows; a segment that fails to parse (bad gzip
    etc.) is one error row naming its path."""
    if content is None:
        return []
    try:
        recs = parse_warc_records(bytes(content))
    except Exception as exc:
        return [{"url": None, "warc_path": path, "error": error_text(exc)}]
    return [
        {
            "url": r["url"],
            "warc_ts": pd.to_datetime(r["warc_date"], utc=True, errors="coerce"),
            "html": r["payload"],
            "warc_path": path,
            "error": r["error"],
        }
        for r in recs
    ]


def warc_to_pages(segments: DataFrame) -> DataFrame:
    """(path, content) binary rows → pages rows (one pass of the per-row
    lane; every row sets its own url, so the lane's key is a null url)."""
    return explode_lane(
        segments.select(F.lit(None).cast("string").alias("url"), "path", "content"),
        _segment_pages,
        PAGES_SCHEMA,
    )


def build_warc(records: list[dict], gzip_members: bool = True) -> bytes:
    """Deterministic WARC bytes for fixtures: records are dicts with url,
    date (ISO string), payload (bytes), warc_type ('response' default),
    http (bool: wrap payload in an HTTP/1.1 200 envelope)."""
    members: list[bytes] = []
    for i, rec in enumerate(records):
        payload = rec.get("payload", b"")
        if rec.get("http", True):
            body = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "
                + str(len(payload)).encode()
                + _CRLF2
                + payload
            )
        else:
            body = payload
        head = (
            b"WARC/1.0\r\n"
            b"WARC-Type: " + rec.get("warc_type", "response").encode() + b"\r\n"
            b"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-"
            + f"{i:012d}".encode() + b">\r\n"
            b"WARC-Target-URI: " + (rec.get("url") or "").encode() + b"\r\n"
            b"WARC-Date: " + rec.get("date", "2026-01-01T00:00:00Z").encode() + b"\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        )
        # head lines already end with \r\n; one more blank line closes the block
        member = head + b"\r\n" + body + _CRLF2
        if gzip_members:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gf:
                gf.write(member)
            members.append(buf.getvalue())
        else:
            members.append(member)
    return b"".join(members)
