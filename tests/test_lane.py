"""The per-row lane (operators/lane.py): key handling, quarantine rows,
null-safe integer columns and the frame it builds per batch."""

import datetime as dt

import pytest

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from arkhammirror_spark.operators.lane import error_text, explode_lane

_KEYED = "k string, v long"


def _schema(*fields):
    return StructType([StructField("k", StringType(), False), *fields])


def test_long_column_with_none_is_exact(spark):
    """A None in a LongType column must not send it through float64:
    2^62 + 1 has no float64 representation. One partition, so the None and
    the big values share a batch."""
    big = (1 << 62) + 1
    df = spark.createDataFrame([("a", 1), ("b", 0), ("c", -1)], _KEYED).coalesce(1)
    schema = _schema(StructField("x", LongType()), StructField("y", IntegerType()))
    out = explode_lane(
        df, lambda v: [{"x": v * big or None, "y": v * 7 or None}], schema
    )
    got = {r["k"]: (r["x"], r["y"]) for r in out.collect()}
    assert got == {"a": (big, 7), "b": (None, None), "c": (-big, -7)}


def test_null_inputs_read_none(spark):
    """Arrow hands a numeric or timestamp column holding nulls to pandas as
    NaN/NaT; the function sees None."""
    df = spark.createDataFrame(
        [("a", 5, 1.5, None), ("b", None, None, None)],
        "k string, v long, d double, t timestamp",
    ).coalesce(1)
    out = explode_lane(
        df,
        lambda v, d, t: [{"seen": repr((v, d, t))}],
        _schema(StructField("seen", StringType())),
    )
    got = {r["k"]: r["seen"] for r in out.collect()}
    assert got == {"a": "(5.0, 1.5, None)", "b": "(None, None, None)"}


def test_quarantine_row_holds_key_error_and_nulls(spark):
    df = spark.createDataFrame([("ok", 2), ("bad", 0)], _KEYED)
    schema = _schema(
        StructField("q", DoubleType()),
        StructField("tags", ArrayType(StringType())),
        StructField("error", StringType()),
    )
    out = explode_lane(df, lambda v: [{"q": 1 / v, "tags": ["t"]}], schema)
    got = {r["k"]: r.asDict() for r in out.collect()}
    assert got["ok"] == {"k": "ok", "q": 0.5, "tags": ["t"], "error": None}
    assert got["bad"] == {
        "k": "bad", "q": None, "tags": None,
        "error": error_text(ZeroDivisionError("division by zero")),
    }
    assert got["bad"]["error"] == "ZeroDivisionError: division by zero"


def test_schema_without_error_field_reraises(spark):
    df = spark.createDataFrame([("bad", 0)], _KEYED)
    out = explode_lane(df, lambda v: [{"q": 1 / v}], _schema(StructField("q", DoubleType())))
    with pytest.raises(Exception, match="ZeroDivisionError"):
        out.collect()


def test_record_key_wins_over_row_key(spark):
    """A record that sets the key field keeps it (explode_archives keys
    members as url!member); records without it get the row's key."""
    df = spark.createDataFrame([("u", 2)], _KEYED)
    schema = _schema(StructField("i", LongType()))
    out = explode_lane(
        df,
        lambda v: [{"i": 0}] + [{"k": f"u!m{i}", "i": i} for i in range(1, v + 1)],
        schema,
    )
    assert sorted((r["k"], r["i"]) for r in out.collect()) == [
        ("u", 0), ("u!m1", 1), ("u!m2", 2),
    ]


def test_missing_field_reads_none_not_nan(spark):
    df = spark.createDataFrame([("a", 1), ("b", 2)], _KEYED)
    schema = _schema(
        StructField("d", DoubleType()),
        StructField("arr", ArrayType(DoubleType())),
        StructField("ts", TimestampType()),
    )
    out = explode_lane(
        df,
        lambda v: [{"d": 1.5, "arr": [1.0], "ts": "2024-02-03T04:05:06Z"}] if v == 1 else [{}],
        schema,
    )
    got = {r["k"]: r for r in out.collect()}
    assert got["b"]["d"] is None and got["b"]["arr"] is None and got["b"]["ts"] is None
    assert got["a"]["d"] == 1.5 and got["a"]["arr"] == [1.0]
    assert got["a"]["ts"].astimezone(dt.timezone.utc).replace(tzinfo=None) == (
        dt.datetime(2024, 2, 3, 4, 5, 6)
    )


def test_empty_batches_give_the_typed_empty_frame(spark):
    schema = _schema(
        StructField("x", LongType()),
        StructField("ts", TimestampType()),
        StructField("error", StringType()),
    )
    for df in (
        spark.createDataFrame([], _KEYED),
        spark.createDataFrame([("a", 1), ("b", 2)], _KEYED),
    ):
        out = explode_lane(df, lambda v: [], schema)
        assert out.schema == schema
        assert out.collect() == []


def test_instants_cross_the_lane_in_any_session_zone(spark):
    """The two 01:30 instants of the 2025-11-02 fall-back in Los Angeles
    share one local wall time; a pass-through must return each instant (and
    the null) unchanged, and the function sees tz-aware UTC datetimes."""
    import pyspark.sql.functions as F

    first = int(dt.datetime(2025, 11, 2, 8, 30, tzinfo=dt.timezone.utc).timestamp()) * 10**6
    second = first + 3600 * 10**6
    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        df = spark.createDataFrame(
            [("a", first), ("b", second), ("n", None)], "k string, us long"
        ).select("k", F.timestamp_micros("us").alias("ts"))
        out = explode_lane(
            df,
            lambda ts: [{"ts": ts, "seen": None if ts is None else ts.isoformat()}],
            _schema(StructField("ts", TimestampType()), StructField("seen", StringType())),
        )
        got = {
            r["k"]: (r["us"], r["seen"])
            for r in out.select("k", F.unix_micros("ts").alias("us"), "seen").collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert got == {
        "a": (first, "2025-11-02T08:30:00+00:00"),
        "b": (second, "2025-11-02T09:30:00+00:00"),
        "n": (None, None),
    }
