"""Input sources.

The production input is an Iceberg table of Common-Crawl-style pages
(BASELINE.json input_hint); in this sandbox that's parquet with the same
fixed schema. All readers declare explicit schemas — the reference's
fixed-DDL regime (documents.py:149-247), never inferSchema.

A WARC ingestion job would land (url, warc_ts, html, text, lang) rows into
this table upstream; this module reads the landed table, it does not parse
WARC containers (out of scope for the extraction core).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import FIXTURE_SCHEMAS, PAGES_SCHEMA


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Read a pages table with the declared schema (schema-on-write regime)."""
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A driver fixture table, read with its declared schema (no
    schema-inference job)."""
    return spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver's tables as temp views for spark.sql access."""
    import os

    for t in FIXTURE_SCHEMAS:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            read_table(spark, sf_dir, t).createOrReplaceTempView(t)
