"""Driver-contract query registry: name → (Spark callable, DuckDB oracle SQL).

Each Spark query and its oracle are written to be *value-identical* on the
driver's parquet tables (documents/embeddings/events/lineitem/...): same
column names, same types (counts as BIGINT), deterministic ordering where
LIMIT is involved, sequential left-fold float math on both engines, and
round() only where float arithmetic differs from raw column passthrough.

The documents.text corpus is lowercase word soup, so extractor queries first
apply a deterministic dictionary-casing step (`_cased`, identical expression
in both engines) to give mock-NER capital runs to find; date queries append a
doc_id-derived date suffix for the same reason. This keeps every extractor
query non-trivial while remaining exactly reproducible in ANSI SQL.

Adding a part is one ``@register(name, oracle)`` call on its Spark function;
an oracle built after its function is attached in the same module as
``ORACLE_SQL[name] = ...``. The parts live in this module and in
``queries_ext``, ``queries_ext2`` and ``queries_ext3``, which load as a
chain: each module imports the next one on its last line, after its own
parts are registered. Whichever of them is imported first, the registry
ends up with every part, in this module order.

A kind-tagged output (a part or contract entry whose rows come in several
kinds) is built with ``padded_union``, which fills the columns a kind
lacks with the typed sentinels of ``_SENTINEL``, never NULL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .operators.dedup import exact_dedup
from .operators.edges import comention_edges
from .operators.spans import _explode_per_doc
from .operators.spread import spread as _spread
from .operators.entities import aggregate_entities, filter_valid_mentions
from .reference_impl.claims import extract_claims
from .reference_impl.ner import mock_ner
from .sources import read_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: str | None):
    """Decorator: add the part `name` and its DuckDB oracle to the registry
    (None when the oracle is attached later as ``ORACLE_SQL[name]``)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# A column that a kind-tagged output's row does not have is padded with its
# type's SENTINEL, not NULL: the driver's value compare sorts rows as tuples,
# and a column that is None in one row and a string in another makes that
# sort raise (None and str are unordered in Python) — measured on this
# suite's own mirror of the compare. Each sentinel is SQL text valid on both
# engines, so Spark and the DuckDB oracles pad with the same values.
_SENTINEL = {
    "bigint": "-424242",
    "int": "-424242",
    "double": "-424242.0",
    "string": "'<na>'",
    "date": "DATE'1900-01-01'",
    "boolean": "false",
}


def sentinel(spark_type: str) -> Column:
    """The typed sentinel column for `spark_type` (a `_SENTINEL` key)."""
    return F.expr(_SENTINEL[spark_type]).cast(spark_type)


def padded_union(
    tag: str, schema: str, frames: list[tuple[str | Column, DataFrame]]
) -> DataFrame:
    """Union kind-tagged frames into `tag` plus the `schema` columns
    ("name type, ...", in output order). Each frame comes with its tag
    value (a Column when its rows carry their own kinds) and selects only
    the columns it really has; the rest get their type's sentinel."""
    cols = [c.split() for c in schema.split(",")]
    out = None
    for value, df in frames:
        have = set(df.columns)
        assert have <= {c for c, _ in cols} | {tag}, (tag, value, have)
        df = df.select(
            F.lit(value).alias(tag),
            *[(F.col(c).cast(t) if c in have else sentinel(t)).alias(c)
              for c, t in cols],
        )
        out = df if out is None else out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# shared fixture-enrichment expressions (identical Spark + DuckDB)
# ---------------------------------------------------------------------------

MARKERS = ["customer", "spark", "table", "window", "query", "data", "line", "part"]

_FP_MOD = 1_000_000_000_000_037  # fits (mod*31 + c) in int64


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _cased_spark(col):
    out = col
    for w in MARKERS:
        out = F.regexp_replace(out, rf"\b{w}\b", w.capitalize())
    return out


def _cased_sql(expr: str = "text") -> str:
    out = expr
    for w in MARKERS:
        out = f"regexp_replace({out}, '\\b{w}\\b', '{w.capitalize()}', 'g')"
    return out


# doc_id-derived ISO date suffix; months 13/14 exercise the validity skip
def _date_suffix_spark():
    return F.format_string(
        " filed %04d-%02d-%02d done",
        (F.lit(2020) + F.col("doc_id") % 6).cast("int"),
        (F.lit(1) + F.col("doc_id") % 14).cast("int"),
        (F.lit(1) + F.col("doc_id") % 28).cast("int"),
    )
_DATE_SUFFIX_SQL = (
    "printf(' filed %04d-%02d-%02d done', "
    "(2020 + doc_id % 6)::INT, (1 + doc_id % 14)::INT, (1 + doc_id % 28)::INT)"
)

_REL_PHRASES = ["seen yesterday", "noted last week", "logged 3 days ago", "unchanged"]


# ---------------------------------------------------------------------------
# mock-NER mentions (pandas UDF on Spark, gaps-and-islands SQL on DuckDB)
# ---------------------------------------------------------------------------

_MENTIONS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("entity_text", StringType(), False),
    ]
)


def _mentions_df(
    spark: SparkSession, sf_dir: str, docs_where=None
) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    if docs_where is not None:
        # applied BEFORE the Python NER pass so the predicate reaches the
        # parquet scan and bounds the lane's Python work, not just its output
        docs = docs.where(docs_where)
    docs = docs.select("doc_id", _cased_spark(F.col("text")).alias("t"))
    return _explode_per_doc(
        _spread(docs, "doc_id"),
        lambda t: [{"entity_text": m["text"]} for m in mock_ner(t)],
        _MENTIONS_SCHEMA,
    )


def _valid_mentions(
    spark: SparkSession, sf_dir: str, docs_where=None
) -> DataFrame:
    """The mock-NER mentions as (doc_id, text, entity_type='PERSON') rows,
    through the entity noise filter."""
    m = _mentions_df(spark, sf_dir, docs_where).select(
        F.col("doc_id"),
        F.col("entity_text").alias("text"),
        F.lit("PERSON").alias("entity_type"),
    )
    return filter_valid_mentions(m)


def _comention(spark: SparkSession, sf_dir: str, docs_where=None) -> DataFrame:
    """Co-mention edges (min count 2, top 1000) over the valid mentions."""
    return comention_edges(_valid_mentions(spark, sf_dir, docs_where))


# gaps-and-islands reproduction of ner.py:94-143 (validated row-identical
# to reference_impl.mock_ner on the full sf0.01 corpus)
_MENTIONS_CTE = f"""
WITH cased AS (
  SELECT doc_id, {_cased_sql()} AS t FROM documents
),
words AS (
  SELECT doc_id, string_split_regex(t, '\\s+') AS ws FROM cased
),
tok AS (
  SELECT doc_id, g.i AS i, ws[g.i] AS w
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
  WHERE ws[g.i] <> ''
),
flags AS (
  SELECT doc_id, w,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS pos,
         (substr(w,1,1) = upper(substr(w,1,1)) AND substr(w,1,1) <> lower(substr(w,1,1))) AS cont,
         (substr(w,1,1) = upper(substr(w,1,1)) AND substr(w,1,1) <> lower(substr(w,1,1))
          AND length(w) > 1) AS starter
  FROM tok
),
runs AS (
  SELECT doc_id, w, pos, starter,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM flags WHERE cont
),
anchored AS (
  SELECT doc_id, grp, min(pos) FILTER (WHERE starter) AS start_pos
  FROM runs GROUP BY doc_id, grp
),
mentions AS (
  SELECT r.doc_id, string_agg(r.w, ' ' ORDER BY r.pos) AS entity_text
  FROM runs r JOIN anchored a ON r.doc_id = a.doc_id AND r.grp = a.grp
  WHERE a.start_pos IS NOT NULL AND r.pos >= a.start_pos
  GROUP BY r.doc_id, a.grp, a.start_pos
)
"""

# entity noise filter (shard-entities/shard.py:323-433) as SQL predicates
_VALID_SQL = """
  length(entity_text) BETWEEN 2 AND 200
  AND NOT regexp_matches(trim(lower(entity_text)),
      '^(\\d+|\\d+/\\d+|\\d+:\\d+|\\d+[.,]\\d+|\\d+%)$|^[$]\\d+|^\\d+[$]|^.{1,2}$|^\\d+(st|nd|rd|th)$')
  AND trim(lower(entity_text)) NOT IN (
      'the','a','an','and','or','but','if','then','is','are','was','were','be','been','being',
      'this','that','these','those','it','its','he','she','they','we','you','i','my','your','his','her',
      'what','which','who','whom','whose','when','where','why','how',
      'all','any','both','each','few','more','most','other','some','such','no','nor','not','only',
      'today','tomorrow','yesterday','now','then','soon','later','always','never',
      'monday','tuesday','wednesday','thursday','friday','saturday','sunday',
      'january','february','march','april','may','june','july','august','september','october','november','december',
      'first','second','third','fourth','fifth','sixth','seventh','eighth','ninth','tenth',
      'etc','vs','mr','mrs','ms','dr','jr','sr','inc','llc','ltd','corp')
  AND (len(string_split_regex(entity_text, '\\s+')) > 1 OR (
      length(entity_text) >= 3
      AND NOT regexp_matches(entity_text, '^\\d+$')
      AND trim(lower(entity_text)) NOT IN (
          'company','group','team','organization','department',
          'person','individual','someone','anyone','everyone',
          'city','town','country','state','place','location',
          'office','building','center','centre','area','region')))
  AND length(regexp_replace(entity_text, '[^\\p{L}]', '', 'g')) > 0
  AND length(regexp_replace(entity_text, '[^\\p{L}]', '', 'g'))::DOUBLE
      / length(entity_text) >= 0.5
"""


@register("mentions", _MENTIONS_CTE + "SELECT doc_id, entity_text FROM mentions")
def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mentions_df(spark, sf_dir)


@register("entities", _MENTIONS_CTE + f"""
, valid AS (
  SELECT doc_id, entity_text FROM mentions WHERE {_VALID_SQL}
)
SELECT lower(entity_text) AS name_lower,
       'PERSON' AS entity_type,
       count(*) AS mention_count,
       count(DISTINCT doc_id) AS doc_count
FROM valid GROUP BY 1, 2
""")
def q_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        aggregate_entities(_valid_mentions(spark, sf_dir), doc_col="doc_id")
        .select("name_lower", "entity_type", "mention_count", "doc_count")
    )


@register("comention_edges", _MENTIONS_CTE + f"""
, valid AS (
  SELECT doc_id, entity_text FROM mentions WHERE {_VALID_SQL}
),
pairs AS (
  SELECT DISTINCT doc_id, lower(entity_text) AS name FROM valid
)
SELECT a.name AS entity_a, b.name AS entity_b,
       count(DISTINCT a.doc_id) AS co_occurrence_count,
       least(1.0, count(DISTINCT a.doc_id) / 10.0) AS weight
FROM pairs a JOIN pairs b ON a.doc_id = b.doc_id AND a.name < b.name
GROUP BY 1, 2
HAVING count(DISTINCT a.doc_id) >= 2
ORDER BY co_occurrence_count DESC, entity_a, entity_b
LIMIT 1000
""")
def q_comention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _comention(spark, sf_dir)


# ---------------------------------------------------------------------------
# dedup / text analysis (fully native on both engines)
# ---------------------------------------------------------------------------


@register("exact_dedup", """
SELECT sha256(text) AS checksum, count(*) AS n_copies, min(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1
""")
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the unselected member_ids aggregate is pruned from the plan
    return exact_dedup(_load(spark, sf_dir, "documents"), "text", "doc_id").select(
        "checksum", "n_copies", F.col("keeper").alias("keeper_doc_id")
    )


@register("iso_dates", f"""
WITH t AS (
  SELECT doc_id, text || {_DATE_SUFFIX_SQL} AS t FROM documents
),
hits AS (
  SELECT doc_id, unnest(regexp_extract_all(t, '\\b(\\d{{4}})-(\\d{{2}})-(\\d{{2}})\\b')) AS date_text
  FROM t
)
SELECT doc_id, date_text,
       CAST(try_strptime(date_text, '%Y-%m-%d') AS DATE) AS normalized_date,
       0.8::DOUBLE AS confidence, 'absolute' AS date_type
FROM hits
WHERE try_strptime(date_text, '%Y-%m-%d') IS NOT NULL
""")
def q_iso_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), _date_suffix_spark()).alias("t")
    )
    hits = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("t"), F.lit(r"\b(\d{4})-(\d{2})-(\d{2})\b"), F.lit(0))
        ).alias("date_text"),
    )
    return (
        hits.withColumn(
            "normalized_date",
            F.try_to_timestamp(F.col("date_text"), F.lit("yyyy-MM-dd")).cast("date"),
        )
        .where(F.col("normalized_date").isNotNull())
        .withColumn("confidence", F.lit(0.8))
        .withColumn("date_type", F.lit("absolute"))
    )


@register("relative_dates", """
WITH t AS (
  SELECT doc_id, text || ' ' ||
    CASE doc_id % 4 WHEN 0 THEN 'seen yesterday' WHEN 1 THEN 'noted last week'
                    WHEN 2 THEN 'logged 3 days ago' ELSE 'unchanged' END AS t
  FROM documents
),
hits AS (
  SELECT doc_id, unnest(regexp_extract_all(t,
    '(?i)\\b(yesterday|today|tomorrow)\\b|\\b(last|next) (week|month|year)\\b|\\b(\\d+) (days?|weeks?|months?|years?) ago\\b'
  )) AS date_text
  FROM t
)
SELECT doc_id, date_text, 0.7::DOUBLE AS confidence, 'relative' AS date_type FROM hits
""")
def q_relative_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    phr = F.array(*[F.lit(p) for p in _REL_PHRASES])
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "), F.element_at(phr, (F.col("doc_id") % 4 + 1).cast("int"))
        ).alias("t"),
    )
    pat = r"(?i)\b(yesterday|today|tomorrow)\b|\b(last|next) (week|month|year)\b|\b(\d+) (days?|weeks?|months?|years?) ago\b"
    hits = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col("t"), F.lit(pat), F.lit(0))).alias("date_text"),
    )
    return hits.withColumn("confidence", F.lit(0.7)).withColumn(
        "date_type", F.lit("relative")
    )


@register("claims", f"""
WITH cased AS (
  SELECT doc_id, {_cased_sql("replace(text, ' the ', '. The ')")} AS t FROM documents
),
sentences AS (
  SELECT doc_id, g.i AS i,
         trim(parts[g.i], ' ' || chr(9) || chr(10) || chr(13)) AS s
  FROM (
    SELECT doc_id,
           string_split(regexp_replace(t, '([.!?])\\s+([A-Z])', '\\1' || chr(1) || '\\2', 'g'), chr(1)) AS parts
    FROM cased
  ), LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
),
kept AS (
  SELECT doc_id, i, s,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rk
  FROM sentences
  WHERE s <> ''
    AND len(string_split_regex(s, '\\s+')) >= 5
    AND NOT ends_with(rtrim(s), '?')
    AND NOT (starts_with(s, '-') OR starts_with(s, '*') OR starts_with(s, '#'))
)
SELECT doc_id, substr(s, 1, 1000) AS claim_text, 0.5::DOUBLE AS confidence
FROM kept WHERE rk <= 100
""")
def q_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sentence punctuation is injected deterministically (the soup has none)
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        _cased_spark(
            F.regexp_replace(F.col("text"), r" the ", ". The ")
        ).alias("t"),
    )
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("claim_text", StringType(), False),
            StructField("confidence", DoubleType(), False),
        ]
    )
    return _explode_per_doc(
        _spread(docs, "doc_id"),
        lambda t: [{"claim_text": c["text"], "confidence": 0.5} for c in extract_claims(t)],
        schema,
    )


@register("text_quality_flags", """
WITH base AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\S+'))::BIGINT AS word_count,
         length(text)::BIGINT AS char_count,
         length(regexp_replace(text, '[^\\p{L}]', '', 'g'))::BIGINT AS letter_count,
         length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS digit_count,
         regexp_extract_all(text, '\\S+') AS words
  FROM documents
),
per_word AS (
  SELECT doc_id, word_count, char_count, letter_count, digit_count, w.word AS word, count(*) AS wn
  FROM base, LATERAL (SELECT unnest(words) AS word) w
  GROUP BY 1,2,3,4,5,6
),
agg AS (
  SELECT doc_id, word_count, char_count, letter_count, digit_count, max(wn) AS top_word_n
  FROM per_word GROUP BY 1,2,3,4,5
)
SELECT doc_id, word_count, char_count, letter_count, digit_count,
       digit_count::DOUBLE / char_count > 0.5 AS mostly_numbers,
       letter_count::DOUBLE / char_count < 0.3 AS low_letter_ratio,
       top_word_n::DOUBLE / word_count > 0.3 AS repetitive_words
FROM agg
""")
def q_text_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
    letters = F.length(F.regexp_replace(F.col("text"), r"[^\p{L}]", ""))
    digits = F.length(F.regexp_replace(F.col("text"), r"[^0-9]", ""))
    chars = F.length(F.col("text"))
    # top word frequency = longest run in the sorted token array — one native
    # fold per row, no explode and no shuffle (the naive formulation explodes
    # tokens and aggregates twice; at corpus scale that's a token-count-sized
    # shuffle for a per-document statistic)
    sorted_toks = F.array_sort(toks)
    top_run = F.aggregate(
        sorted_toks,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(w == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    agg = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("word_count"),
        chars.cast("long").alias("char_count"),
        letters.cast("long").alias("letter_count"),
        digits.cast("long").alias("digit_count"),
        top_run.alias("top_word_n"),
    )
    return agg.select(
        "doc_id",
        "word_count",
        "char_count",
        "letter_count",
        "digit_count",
        (F.col("digit_count") / F.col("char_count") > 0.5).alias("mostly_numbers"),
        (F.col("letter_count") / F.col("char_count") < 0.3).alias("low_letter_ratio"),
        (F.col("top_word_n") / F.col("word_count") > 0.3).alias("repetitive_words"),
    )


@register("lang_script_counts", """
WITH c AS (
  SELECT doc_id,
    length(regexp_replace(text, '[^A-Za-z\\x{00C0}-\\x{024F}]', '', 'g'))::BIGINT AS latin_n,
    length(regexp_replace(text, '[^\\x{0400}-\\x{04FF}]', '', 'g'))::BIGINT AS cyrillic_n,
    length(regexp_replace(text, '[^\\x{0600}-\\x{06FF}]', '', 'g'))::BIGINT AS arabic_n,
    length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]', '', 'g'))::BIGINT AS cjk_n
  FROM documents
)
SELECT doc_id, latin_n, cyrillic_n, arabic_n, cjk_n,
       CASE WHEN latin_n >= greatest(cyrillic_n, arabic_n, cjk_n) THEN 'en'
            WHEN cyrillic_n >= greatest(arabic_n, cjk_n) THEN 'ru'
            WHEN arabic_n >= cjk_n THEN 'ar' ELSE 'zh' END AS lang_guess
FROM c
""")
def q_lang_script_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")

    def _count(pattern: str):
        return F.length(F.regexp_replace(F.col("text"), pattern, "")).cast("long")

    latin = _count(r"[^A-Za-zÀ-ɏ]")
    cyr = _count(r"[^Ѐ-ӿ]")
    ar = _count(r"[^؀-ۿ]")
    cjk = _count(r"[^一-鿿぀-ヿ]")
    return docs.select(
        "doc_id",
        latin.alias("latin_n"),
        cyr.alias("cyrillic_n"),
        ar.alias("arabic_n"),
        cjk.alias("cjk_n"),
        F.when(latin >= F.greatest(cyr, ar, cjk), "en")
        .when(cyr >= F.greatest(ar, cjk), "ru")
        .when(ar >= cjk, "ar")
        .otherwise("zh")
        .alias("lang_guess"),
    )


@register("doc_fingerprint", f"""
SELECT doc_id,
       list_reduce(
         list_prepend(0::BIGINT,
           list_transform(generate_series(1, length(text)), i -> unicode(substr(text, i, 1))::BIGINT)),
         (acc, c) -> (acc * 31 + c) % {_FP_MOD}
       ) AS fingerprint
FROM documents
""")
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(_FP_MOD),
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


@register("token_stats", """
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+'))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS bpe_tokens
FROM documents
""")
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish tokenization: letter runs / digit runs / single punct."""
    docs = _load(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(
        F.col("text"), F.lit(r"[a-z]+|[A-Z][a-z]*|[0-9]+|[^A-Za-z0-9\s]"), F.lit(0)
    )
    ws = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(ws).cast("long").alias("ws_tokens"),
        F.size(bpe).cast("long").alias("bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# relational / temporal / vector
# ---------------------------------------------------------------------------


@register("pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '2098-12-01'
GROUP BY 1, 2
""")
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2098-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register("top_orders_per_customer", """
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)::BIGINT AS rk
  FROM orders
) WHERE rk <= 3
""")
def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


@register("customer_nation_rollup", """
SELECT r_name, n_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
""")
def q_customer_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@register("event_sessions", """
WITH base AS (
  SELECT user_id, event_id,
         datediff('microseconds', TIMESTAMP '2024-01-01 00:00:00', ts) AS ts_us
  FROM events
),
w AS (
  SELECT user_id, event_id, ts_us,
         ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap
  FROM base
),
s AS (
  SELECT user_id, ts_us,
         sum(CASE WHEN gap IS NULL OR gap > 1800 * 1000000 THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_us, event_id)::BIGINT AS session_idx
  FROM w
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(ts_us)::BIGINT AS start_epoch, max(ts_us)::BIGINT AS end_epoch
FROM s GROUP BY 1, 2
""")
def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _load(spark, sf_dir, "events").withColumn(
        "ts_us",
        F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = (
        e.withColumn("new_sess", new_sess)
        .withColumn(
            "session_idx",
            F.sum("new_sess").over(
                Window.partitionBy("user_id").orderBy("ts_us", "event_id")
            ).cast("long"),
        )
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("start_epoch"),
        F.max("ts_us").alias("end_epoch"),
    )


@register("embedding_knn", """
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
),
scored AS (
  SELECT e.vec_id,
    list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
        i -> (e.embedding[i]::DOUBLE) * (q.qv[i]))), (a, x) -> a + x)
    / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
        i -> (e.embedding[i]::DOUBLE) * (e.embedding[i]::DOUBLE))), (a, x) -> a + x))
     * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
        i -> q.qv[i] * q.qv[i])), (a, x) -> a + x))) AS cos_raw
  FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT vec_id, round(cos_raw, 4) AS cosine
FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
""")
def q_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = emb.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    joined = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    cos = _dot(F.col("v"), F.col("qv")) / (
        F.sqrt(_dot(F.col("v"), F.col("v"))) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    return (
        joined.select("vec_id", F.round(cos, 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


# the extension modules register their parts on import (see the docstring)
from . import queries_ext  # noqa: E402,F401
