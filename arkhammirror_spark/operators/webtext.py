"""The composed training-data preparation chain for web pages.

One call wires the whole webtext lane in the canonical RefinedWeb-style
order, each stage an operator this repo already gates individually:

1. URL dedup      — canonicalize (operators.urls) and keep one page per
                    canonical url (deterministic min-raw-url keeper);
2. main content   — flattened-DOM density scoring (operators.boilerplate);
3. quality gate   — the seven Gopher rules (operators.quality);
4. exact dedup    — sha256 checksum, min-url keeper (operators.dedup);
5. fuzzy dedup    — MinHash-LSH verified Jaccard ≥ threshold; every pair
                    (a < b) drops b, keeping each duplicate cluster's
                    smallest url (greedy — a chain a~b, b~c keeps only a;
                    the conservative choice for training data, where
                    over-dropping beats duplicate leakage);
6. line dedup     — corpus-wide duplicated-line removal (keep-first).

Exact dedup runs BEFORE line dedup deliberately: removing a shared line
from all-but-one copy would make byte-identical documents differ and
hide them from the checksum stage.

Every stage is individually driver-gated with its own DuckDB oracle; the
composition itself is pinned end-to-end by the `webtext_prep` fixture
query (deterministic pages → pinned output hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def prepare_webtext_corpus(pages: DataFrame) -> DataFrame:
    """pages(url, html) → (url, text): the cleaned, deduplicated corpus.

    The Gopher quality gate runs at a 40-word minimum. Near-dup pairs are
    verified at Jaccard ≥ 0.8 behind the MinHash-LSH
    hot-bucket guard (5000 rows: bounded near-dup recall in pathological
    boilerplate clusters); line dedup skips lines under 10 chars."""
    from .boilerplate import extract_main_content
    from .dedup import dedup_lines, verified_neardup_pairs
    from .quality import gopher_quality
    from .urls import dedup_canonical_urls

    # 1. one page per canonical url
    keepers = dedup_canonical_urls(pages).select(
        F.col("keeper_url").alias("url")
    )
    pages1 = pages.join(keepers, "url")

    # 2. boilerplate-stripped main text — checkpointed ONCE: four
    # downstream branches (quality join, checksum join, near-dup chain,
    # line dedup) would otherwise re-run the DOM flatten + scoring through
    # their join lineage (the measured shingle-recompute lesson). This is a
    # SLIM frame by construction — exactly the two columns every stage
    # consumes, so there is no pruning opportunity a write-then-read would
    # add; at cluster scale swap for a storage checkpoint of the same
    # two-column table.
    mc = extract_main_content(pages1)
    docs = mc.select(F.col("url"), F.col("main_text").alias("text")).localCheckpoint(
        eager=True
    )

    # 3. Gopher quality gate
    q = gopher_quality(docs, id_col="url", min_words=40)
    good = docs.join(q.where(F.col("passes")).select("url"), "url")

    # 4. exact checksum dedup (min-url keeper)
    exact_keep = good.groupBy(F.sha2(F.col("text"), 256).alias("_ck")).agg(
        F.min("url").alias("url")
    )
    uniq = good.join(exact_keep.select("url"), "url")

    # 5. MinHash-LSH near-dup: drop the larger url of every verified pair
    pairs = verified_neardup_pairs(uniq, id_col="url")
    dropped = pairs.select(F.col("id_b").alias("url")).distinct()
    survivors = uniq.join(dropped, "url", "left_anti")

    # 6. corpus-level line dedup over the survivors
    return dedup_lines(survivors, id_col="url")
