"""Seeded inputs for the benchmark, written as parquet inside the work dir.

Every table is a pure function of the seed, so the same seed gives the same
files. Pages come from the program's own generator (`datagen`, which is not
under test); the analyst tables (`documents`, `lineitem`) mimic the shape
and value distributions of the sf0.01 test tables, which are the
only two tables the analyst mix reads.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from arkhammirror_spark.datagen.pages import gen_pages_pandas

PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("kind", pa.string()),
    ]
)

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en"] * 11 + ["zh"] * 4 + ["es"] * 4 + ["de"] * 3 + ["fr"] * 3


def write_pages(path: str, n: int, seed: int, start: int = 0) -> int:
    """Pages rows [start, start + n) of `seed` as one parquet file; returns
    the file size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(
        gen_pages_pandas(n, seed=seed, start=start),
        schema=PAGES_ARROW,
        preserve_index=False,
    )
    pq.write_table(table, path, coerce_timestamps="us")
    return os.path.getsize(path)


def write_analyst_tables(sf_dir: str, seed: int, n_docs: int, n_lines: int) -> None:
    """`documents` and `lineitem` for the analyst mix.

    Documents are 10-99 words drawn from the sf tables' 31-word vocabulary;
    one in twenty is a near-duplicate (another document's text plus " dup"),
    which the dedup parts need to find something."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 99)))
        for _ in range(n_docs)
    ]
    for i in rng.sample(range(n_docs), n_docs // 20):
        texts[i] = texts[rng.randrange(n_docs)] + " dup"
    docs = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    base = dt.datetime(1992, 1, 1)
    lines = {
        "l_orderkey": [rng.randrange(n_lines // 4) for _ in range(n_lines)],
        "l_partkey": [rng.randrange(2000) for _ in range(n_lines)],
        "l_suppkey": [rng.randrange(100) for _ in range(n_lines)],
        "l_linenumber": [rng.randint(1, 7) for _ in range(n_lines)],
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(n_lines)],
        "l_extendedprice": [rng.randint(90000, 10500000) / 100 for _ in range(n_lines)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_lines)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_lines)],
        "l_returnflag": [rng.choice("ANR") for _ in range(n_lines)],
        "l_linestatus": [rng.choice("FO") for _ in range(n_lines)],
        "l_shipdate": [base + dt.timedelta(days=rng.randrange(3600)) for _ in range(n_lines)],
    }
    lineitem = pa.table(
        lines,
        schema=pa.schema(
            [
                ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                ("l_shipdate", pa.timestamp("us")),
            ]
        ),
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(lineitem, os.path.join(sf_dir, "lineitem.parquet"))
