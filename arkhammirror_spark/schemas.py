"""Explicit StructType schemas for every table in the pipeline.

The reference declares fixed DDL at service startup (documents.py:149-247,
entities.py:257-357); we mirror that regime: explicit schemas everywhere,
never inferSchema. Input table shape is fixed by BASELINE.json input_hint:
pages(url string, warc_ts timestamp, html binary, text string, lang string).

The driver's fixture tables (documents, embeddings, events and the TPC-H
tables) are read with `FIXTURE_SCHEMAS`, each equal to what parquet
inference gives for every scale factor (nullable columns, NTZ timestamps),
so opening a fixture runs no schema-inference job.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        # payload kind hint used by the format dispatcher (mirrors the
        # reference's file-type classifier, file_type.py:71-105); derived
        # from content sniffing when absent.
        StructField("kind", StringType(), True),
    ]
)

MENTION_STRUCT_FIELDS = [
    StructField("text", StringType(), False),
    StructField("entity_type", StringType(), False),
    StructField("start_char", IntegerType(), False),
    StructField("end_char", IntegerType(), False),
    StructField("confidence", DoubleType(), False),
]

# docs: one row per page/url after extraction + normalization (FIXTURES.md §4),
# with the fused mock-NER pass and the audit side-channel (the `_` fields,
# dropped from the public docs table): _part_id = the extract task's
# partition (native spark_partition_id(), never null); _batch_ms = the row's
# own extract time, summed per partition into the audit's wall_ms;
# _mentions = full mention structs;
# _names = sorted distinct lowercase names that pass the noise filter (the
# edge-build input — persisting just this array instead of the full mention
# structs keeps the cached working set small at corpus scale);
# _n_mentions = len(_mentions)
DOCS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("extracted_text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("lang_conf", DoubleType(), True),
        StructField("quality_score", DoubleType(), True),
        StructField("quality_issues", ArrayType(StringType()), True),
        StructField("word_count", LongType(), True),
        StructField("n_pages", IntegerType(), True),
        StructField("checksum", StringType(), True),
        StructField("error", StringType(), True),
        StructField("_part_id", IntegerType(), False),
        StructField("_batch_ms", DoubleType(), True),
        StructField("_mentions", ArrayType(StructType(MENTION_STRUCT_FIELDS)), True),
        StructField("_names", ArrayType(StringType()), True),
        StructField("_n_mentions", IntegerType(), True),
    ]
)

CHUNK_STRUCT = StructType(
    [
        StructField("text", StringType(), False),
        StructField("chunk_index", IntegerType(), False),
        StructField("char_start", IntegerType(), False),
        StructField("char_end", IntegerType(), False),
        StructField("token_count", IntegerType(), False),
        StructField("method", StringType(), False),
    ]
)

MENTION_STRUCT = StructType(
    [
        StructField("text", StringType(), False),
        StructField("entity_type", StringType(), False),
        StructField("start_char", IntegerType(), False),
        StructField("end_char", IntegerType(), False),
        StructField("confidence", DoubleType(), False),
    ]
)

DATE_STRUCT = StructType(
    [
        StructField("text", StringType(), False),
        StructField("normalized_date", TimestampType(), True),
        StructField("date_type", StringType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("start_char", IntegerType(), False),
        StructField("end_char", IntegerType(), False),
    ]
)

REL_STRUCT = StructType(
    [
        StructField("source_text", StringType(), False),
        StructField("target_text", StringType(), False),
        StructField("relation_type", StringType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("evidence", StringType(), True),
    ]
)

CLAIM_STRUCT = StructType(
    [
        StructField("text", StringType(), False),
        StructField("confidence", DoubleType(), False),
    ]
)

AUDIT_SCHEMA = StructType(
    [
        StructField("stage", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("input_rows", LongType(), False),
        StructField("output_rows", LongType(), False),
        StructField("error_rows", LongType(), False),
        StructField("wall_ms", DoubleType(), False),
        StructField("snapshot_id", StringType(), False),
    ]
)


def _nullable(*fields) -> StructType:
    return StructType([StructField(name, t, True) for name, t in fields])


_S, _L, _I, _D, _NTZ = (
    StringType(), LongType(), IntegerType(), DoubleType(), TimestampNTZType()
)

# the driver's fixture tables, by name (`{sf_dir}/{name}.parquet`)
FIXTURE_SCHEMAS = {
    "documents": _nullable(
        ("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S), ("n_chars", _L)
    ),
    "embeddings": _nullable(
        ("vec_id", _L), ("embedding", ArrayType(FloatType())), ("label", _I)
    ),
    "events": _nullable(
        ("event_id", _L), ("ts", _NTZ), ("user_id", _L), ("event_type", _S),
        ("value", _D), ("props", _S),
    ),
    "lineitem": _nullable(
        ("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
        ("l_linenumber", _I), ("l_quantity", _D), ("l_extendedprice", _D),
        ("l_discount", _D), ("l_tax", _D), ("l_returnflag", _S),
        ("l_linestatus", _S), ("l_shipdate", _NTZ),
    ),
    "orders": _nullable(
        ("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _S),
        ("o_totalprice", _D), ("o_orderdate", _NTZ), ("o_orderpriority", _S),
    ),
    "customer": _nullable(
        ("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
        ("c_acctbal", _D), ("c_mktsegment", _S),
    ),
    "nation": _nullable(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "region": _nullable(("r_regionkey", _I), ("r_name", _S)),
    "supplier": _nullable(
        ("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I), ("s_acctbal", _D)
    ),
    "part": _nullable(
        ("p_partkey", _L), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
        ("p_size", _I), ("p_retailprice", _D),
    ),
}
