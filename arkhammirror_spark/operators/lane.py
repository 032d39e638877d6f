"""The per-row Python lane: one Arrow-batched ``mapInPandas`` pass that
applies a per-row function and explodes its records into rows.

Every row-wise operator routes its Python work through ``explode_lane`` —
the ingest path (extract, the WARC reader, the page generator) included —
so three decisions live here once:

- the quarantine format: a row whose function raises becomes a key + error
  row (``error_text``) when the output schema has an ``error`` field, and
  fails the task otherwise;
- nulls: a null input value reads None (Arrow hands a numeric column
  holding nulls over as NaN), and pandas turns an output integer column
  holding a None into float64 (shearing the low bits off 64-bit values) or
  object, so such a column is rebuilt from the Python values as a nullable
  ``Int64``-family array; a ``TimestampType`` column is parsed with
  ``pd.to_datetime(utc=True)``;
- executor shipping (``shipping.ensure_shipped``), which every pandas-UDF
  closure over this package needs.

Two modules keep a pandas UDF of their own, and call ``ensure_shipped``
themselves: ``graph.py``, whose betweenness pre-aggregates per batch, and
``timeline.py``, whose merge is a grouped ``applyInPandas``.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
    TimestampType,
)

_NULLABLE_INT = {
    LongType: "Int64", IntegerType: "Int32", ShortType: "Int16", ByteType: "Int8",
}


def error_text(exc: BaseException) -> str:
    """The quarantine string a failed row carries."""
    return f"{type(exc).__name__}: {exc}"


def _values(col: pd.Series) -> list:
    """A column's values with every null read as None: Arrow hands a
    numeric or timestamp column holding nulls over as NaN/NaT."""
    if col.dtype != object and col.hasnans:
        return col.astype(object).where(col.notna(), None).tolist()
    return col.tolist()


def explode_lane(
    df: DataFrame, fn: Callable[..., list[dict]], schema: StructType | str
) -> DataFrame:
    """One ``mapInPandas`` pass over ``df``: its first column is the key,
    and ``fn`` gets the values of the others, in order, for each row and
    returns a list of records (dicts); a null value reads None. Each
    record becomes an output row keyed by the row's key unless the record
    sets the key field itself; ``schema`` (a StructType or DDL string) is
    the full output schema with the key field first, and a field a record
    lacks reads None."""
    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    key = schema.fields[0].name
    names = schema.fieldNames()
    quarantine = "error" in names
    ints = {
        f.name: _NULLABLE_INT[type(f.dataType)]
        for f in schema.fields if type(f.dataType) in _NULLABLE_INT
    }
    stamps = [f.name for f in schema.fields if isinstance(f.dataType, TimestampType)]

    def _frame(keys: list, recs: list[dict]) -> pd.DataFrame:
        cols = {n: keys if n == key else [r.get(n) for r in recs] for n in names}
        out = pd.DataFrame(cols, columns=names)
        for n, dtype in ints.items():
            if out[n].dtype.kind in "fO":  # a None made it float or object
                out[n] = pd.array(cols[n], dtype=dtype)
        for n in stamps:
            out[n] = pd.to_datetime(out[n], utc=True)
        return out

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list = []
            recs: list[dict] = []
            cols = [_values(c) for _, c in pdf.items()]
            for k, *vals in zip(*cols):
                try:
                    out = fn(*vals)
                except Exception as exc:
                    if not quarantine:
                        raise
                    out = [{"error": error_text(exc)}]
                for rec in out:
                    keys.append(rec.get(key, k))
                    recs.append(rec)
            yield _frame(keys, recs)

    return df.mapInPandas(_run, schema)
