"""URL canonicalization + canonical dedup — pure column expressions.

Web-corpus table stakes: the same page arrives under scheme/host case
variants, fragments, default ports, tracking params, and trailing
slashes. `canonical_url` normalizes all of those with a fixed regexp
cascade (each step a Catalyst `regexp_replace`, mirrored 1:1 in the
DuckDB oracle), so url-keyed dedup/partitioning sees one key per page:

1. trim;
2. lowercase the scheme and the authority (host[:port]) — path/query are
   case-SENSITIVE and untouched;
3. drop the fragment (#…);
4. drop default ports (:80 for http, :443 for https);
5. drop tracking query params (utm_*, fbclid, gclid, msclkid), then a
   dangling '?'/'&';
6. drop one trailing slash from a non-root path.

`dedup_canonical_urls` groups rows by the canonical form and keeps the
lexicographically-first raw url as representative (deterministic), the
same keeper rule as exact_dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_TRACKING = r"(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=[^&#]*"


def canonical_url(col) -> "F.Column":
    # NOTE: every pattern below is lookaround-free so the DuckDB oracle
    # (RE2) can mirror it verbatim — only the replacement syntax differs
    # ($1 vs \1)
    u = F.trim(col)
    # lowercase scheme://authority (authority = up to first /, ?, #)
    u = F.concat(
        F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*)", 1)),
        F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", ""),
    )
    u = F.regexp_replace(u, r"#.*$", "")  # fragment
    u = F.regexp_replace(u, r"^(http://[^/:?#]*):80([/?#].*)?$", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?#]*):443([/?#].*)?$", r"$1$2")
    # tracking params: non-first (&utm…), first-with-successor (?utm…& → ?),
    # then lone (?utm…$ → '')
    u = F.regexp_replace(u, "&" + _TRACKING, "")
    u = F.regexp_replace(u, r"\?" + _TRACKING + "&", "?")
    u = F.regexp_replace(u, r"\?" + _TRACKING + "$", "")
    # one trailing slash off a non-root path (with or without a query)
    u = F.regexp_replace(u, r"^(.*://[^/?#]+/[^?#]*[^/?#])/$", r"$1")
    u = F.regexp_replace(u, r"^(.*://[^/?#]+/[^?#]*[^/?#])/\?", r"$1?")
    return u


def with_canonical_url(df: DataFrame) -> DataFrame:
    return df.withColumn("canonical_url", canonical_url(F.col("url")))


def dedup_canonical_urls(df: DataFrame) -> DataFrame:
    """(canonical_url, keeper_url, n_variants, variant_urls) — one row per
    canonical page of the `url` column."""
    return with_canonical_url(df).groupBy("canonical_url").agg(
        F.min("url").alias("keeper_url"),
        F.count(F.lit(1)).alias("n_variants"),
        F.sort_array(F.collect_set("url")).alias("variant_urls"),
    )
