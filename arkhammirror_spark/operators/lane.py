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
  ``Int64``-family array;
- time zones: an instant crosses into Python zone-free. ``mapInPandas``
  would hand a ``TimestampType`` input over as a naive session-local wall
  time, which cannot be mapped back (the two 01:30 instants of a
  fall-back night read the same), so the lane casts it to epoch
  microseconds natively and the function gets a tz-aware UTC datetime; a
  ``TimestampType`` output is parsed with ``pd.to_datetime(utc=True)``, so
  a passed-through input keeps its instant;
- executor shipping (``shipping.ensure_shipped``), which every pandas-UDF
  closure over this package needs.

It is the package's only pandas UDF: a grouped operator collects each
group into an array column and runs one lane row per group, and a batched
one (betweenness) builds one lane row per batch.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
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
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def error_text(exc: BaseException) -> str:
    """The quarantine string a failed row carries."""
    return f"{type(exc).__name__}: {exc}"


def _values(col: pd.Series, instant: bool) -> list:
    """A column's values with every null read as None: Arrow hands a
    numeric column holding nulls over as NaN. An ``instant`` column holds
    epoch microseconds and reads tz-aware UTC datetimes."""
    if col.dtype != object and col.hasnans:
        vals = col.astype(object).where(col.notna(), None).tolist()
    else:
        vals = col.tolist()
    if instant:
        return [None if v is None else _EPOCH + timedelta(microseconds=int(v)) for v in vals]
    return vals


def explode_lane(
    df: DataFrame, fn: Callable[..., list[dict]], schema: StructType | str
) -> DataFrame:
    """One ``mapInPandas`` pass over ``df``: its first column is the key,
    and ``fn`` gets the values of the others, in order, for each row and
    returns a list of records (dicts); a null value reads None and a
    timestamp reads a tz-aware UTC datetime. Each record becomes an output
    row keyed by the row's key unless the record sets the key field itself;
    ``schema`` (a StructType or DDL string) is the full output schema with
    the key field first, and a field a record lacks reads None."""
    from ..shipping import ensure_shipped

    ensure_shipped(df.sparkSession)
    instants = [isinstance(f.dataType, TimestampType) for f in df.schema.fields]
    df = df.select(*[
        F.unix_micros(F.col(f.name)).alias(f.name) if instant else F.col(f.name)
        for f, instant in zip(df.schema.fields, instants)
    ])
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
            cols = [_values(c, instant) for (_, c), instant in zip(pdf.items(), instants)]
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
