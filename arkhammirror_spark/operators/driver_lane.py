"""The bounded driver lane shared by the adaptive graph and timeline operators.

A lane probes its (checkpointed, slim) input with ONE bounded collect: at
most `cap` rows are the whole input and the algorithm runs on the driver;
more rows send the caller to its distributed form. The lane's result goes
back to Spark as an Arrow table, which plans as a `LocalRelation` (a
`LocalTableScan`), not as a `LogicalRDD` of pickled rows: no parallelize,
no Python serializer, size statistics the planner can read.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType


def bounded_collect(df: DataFrame, cap: int) -> list[Row] | None:
    """All rows of `df` when there are at most `cap` of them, else None.
    `limit(cap+1).collect()` decides and fetches in the same job(s)."""
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str
) -> DataFrame:
    """`spark.createDataFrame(rows, schema)` built from a `pyarrow.Table`:
    the same rows and schema, planned as a `LocalRelation`. `rows` are
    tuples in the order of the DDL `schema`'s columns."""
    struct = DataType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
