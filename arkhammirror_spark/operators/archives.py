"""Archive explosion operator (S11): archive rows → member rows.

The reference recursively extracts archives to a filesystem silo and
re-ingests each member (archive_worker.py:93-516). Spark restatement: one
pass of the row lane turns each archive payload into (url, member_name,
member_payload) rows — which feed straight back into ``extract_docs`` (the
member urls are ``{url}!{member}``, so lineage stays visible). Bombs and
traversal names quarantine per the error-column contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from ..reference_impl.archive import extract_archive_members, sniff_archive
from .lane import explode_lane

MEMBER_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("member_name", StringType(), True),
        StructField("payload", BinaryType(), True),
        StructField("error", StringType(), True),
    ]
)


def explode_archives(pages: DataFrame) -> DataFrame:
    """Archive rows (url, html payload) → one row per member (+ one error row per bad archive,
    keyed by the archive's url)."""

    def _members(url, payload) -> list[dict]:
        raw = bytes(payload) if payload is not None else b""
        if sniff_archive(raw) is None:
            return []
        return [
            {"url": f"{url}!{name}", "member_name": name, "payload": data}
            for name, data in extract_archive_members(raw)
        ]

    src = pages.select("url", F.col("url").alias("archive_url"), "html")
    return explode_lane(src, _members, MEMBER_SCHEMA)
