"""Input sources: the driver's fixture tables, read with the explicit
schemas declared in ``schemas.FIXTURE_SCHEMAS`` — the reference's fixed-DDL
regime (documents.py:149-247), never inferSchema. WARC containers are
parsed by ``sources.warc``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schemas import FIXTURE_SCHEMAS


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A driver fixture table, read with its declared schema (no
    schema-inference job)."""
    return spark.read.schema(FIXTURE_SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")
