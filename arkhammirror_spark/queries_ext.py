"""Extended driver-contract queries: search, near-dup, simhash, anomalies,
timeline, relations — each with an exact DuckDB oracle.

Near-dup queries synthesize a duplicate-rich derived corpus (anchor-join:
every block of 10 docs shares the anchor doc's text plus a small per-doc
marker), because the driver's word-soup corpus has no natural near-dups;
the derivation is identical SQL/DataFrame logic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)


from .queries import ORACLE_SQL, _MENTIONS_CTE, _cased_spark, _load, register
from .operators.dedup import (
    JACCARD_THRESHOLD,
    ngram_jaccard_pairs,
    verified_neardup_pairs,
)
from .operators.edges import ordered_pairs
from .operators.spans import _explode_per_doc
from .operators.spread import spread as _spread
from .operators.timeline import extract_timeline_events
from .reference_impl.ner import mock_ner

BM25_TERMS = ["customer", "spark", "window"]
_STOP = (
    "'a','an','and','are','as','at','be','by','for','from','has','he','in','is','it',"
    "'its','of','on','or','that','the','to','was','were','will','with','this','they',"
    "'but','have','had','what','when','where','who','which'"
)


# --- reference-faithful BM25 (keyword.py quirks preserved) -------------------


@register("bm25_search", None)  # oracle below
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with the reference engine's exact corpus-stat quirks
    (keyword.py:166-213, 294-338): avgdl = AVG(LENGTH(text)) in CHARS over
    all docs; doc_freq(term) = COUNT docs with substring match; doc_length =
    filtered-token count; skip score < 0.01; normalize by max."""
    from .operators.search import with_term_scores
    from .operators.spread import spread

    docs = spread(
        _load(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )

    toks = F.filter(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\w+"), F.lit(0)),
        lambda t: (F.length(t) > 1)
        & ~t.isin(
            *[s.strip("'") for s in _STOP.split(",")]
        ),
    )
    base = docs.select("doc_id", F.col("text"), toks.alias("tokens"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.length("text")).alias("avg_len"),
    )
    # ONE corpus pass for all term doc-frequencies (one sum per term),
    # stacked to (term, doc_freq) rows — the per-term agg-and-union form
    # scanned the corpus once per term
    dfreq_wide = base.agg(
        *[
            F.sum(
                F.when(F.lower(F.col("text")).contains(term), 1).otherwise(0)
            ).alias(f"_df{i}")
            for i, term in enumerate(BM25_TERMS)
        ]
    )
    stack_args = ", ".join(
        f"'{term}', _df{i}" for i, term in enumerate(BM25_TERMS)
    )
    dfreq = dfreq_wide.selectExpr(
        f"stack({len(BM25_TERMS)}, {stack_args}) AS (term, doc_freq)"
    )

    tf = (
        base.select("doc_id", F.size("tokens").cast("double").alias("doc_len"),
                    F.explode("tokens").alias("term"))
        .where(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    scored = (
        with_term_scores(tf.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats)))
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("raw"))
        .where(F.col("raw") >= 0.01)
        # slim (doc_id, raw) checkpoint: the max-normalizer crossJoin would
        # otherwise recompute the whole tokenize+join pipeline twice
        .localCheckpoint(eager=False)
    )
    mx = scored.agg(F.max("raw").alias("mx"))
    return scored.crossJoin(F.broadcast(mx)).select(
        "doc_id", F.round(F.col("raw") / F.col("mx"), 6).alias("score")
    )


_BM25_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_extract_all(lower(text), '\\w+'),
                     t -> length(t) > 1 AND t NOT IN ({_STOP})) AS tokens
  FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(length(text)) AS avg_len FROM base),
dfreq AS (
  SELECT t.term, (SELECT count(*) FROM base WHERE contains(lower(text), t.term)) AS doc_freq
  FROM (SELECT unnest({BM25_TERMS!r}) AS term) t
),
tf AS (
  SELECT doc_id, len(tokens)::DOUBLE AS doc_len, u.term, count(*) AS tf
  FROM base, LATERAL (SELECT unnest(tokens) AS term) u
  WHERE u.term IN (SELECT term FROM dfreq)
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT doc_id,
         sum(ln((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0)
             * (tf * 2.5)
             / (tf + 1.5 * (1 - 0.75 + 0.75 * doc_len / avg_len))) AS raw
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY 1
  HAVING raw >= 0.01
)
SELECT doc_id, round(raw / (SELECT max(raw) FROM scored), 6) AS score FROM scored
"""
ORACLE_SQL["bm25_search"] = _BM25_SQL


# --- near-dup derived corpus (anchor-join), identical on both engines -------


def _neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    anchors = d.select(
        F.col("doc_id").alias("anchor_id"), F.col("text").alias("anchor_text")
    )
    return (
        d.withColumn("anchor_id", F.col("doc_id") - F.col("doc_id") % 10)
        .join(anchors, "anchor_id")
        .select(
            "doc_id",
            F.concat(
                F.col("anchor_text"),
                F.format_string(" marker%d tail", (F.col("doc_id") % 3).cast("int")),
            ).alias("text"),
        )
    )


_NEARDUP_CTE = """
WITH nd AS (
  SELECT d.doc_id,
         a.text || printf(' marker%d tail', (d.doc_id % 3)::INT) AS text
  FROM documents d
  JOIN documents a ON a.doc_id = d.doc_id - d.doc_id % 10
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - 2, 1)),
           i -> array_to_string(list_slice(ws, i, i + 2), ' ')))) AS shingle
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM nd)
  WHERE len(ws) > 0
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b,
       s.n_shared::DOUBLE / (sa.sz + sb.sz - s.n_shared) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
WHERE s.n_shared::DOUBLE / (sa.sz + sb.sz - s.n_shared) >= {thr}
"""


@register("neardup_jaccard", _NEARDUP_CTE.format(thr=JACCARD_THRESHOLD))
def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_neardup_docs(spark, sf_dir))


# capped variant: every doc carries a constant boilerplate footer (a planted
# corpus-wide hot shingle, df = n_docs); df_cap=30 must drop exactly those
# shingles from intersection AND sizes on both engines
_CAPPED_FOOTER = " common boilerplate footer shared"


@register("neardup_jaccard_capped", None)  # oracle below
def q_neardup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the df-cap gate needs the planted hot shingle, not the whole corpus:
    # doc_id < 1500 bounds this part at large SF (covers ALL of sf<=0.01
    # — 500 docs — and 30% of sf0.1) so the ENTRY doesn't pay the brute
    # O(shared-shingle^2) join twice; the uncapped part above stays
    # full-corpus as the honest oracle lane. The cap property being
    # gated (hot shingles dropped from candidate generation, exact over
    # the df-filtered universe) is id-independent.
    docs = (
        _neardup_docs(spark, sf_dir)
        .where(F.col("doc_id") < 1500)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(_CAPPED_FOOTER)).alias("text"),
        )
    )
    return ngram_jaccard_pairs(docs, df_cap=30)


ORACLE_SQL["neardup_jaccard_capped"] = f"""
WITH nd AS (
  SELECT d.doc_id,
         a.text || printf(' marker%d tail', (d.doc_id % 3)::INT)
                || ' common boilerplate footer shared' AS text
  FROM documents d
  JOIN documents a ON a.doc_id = d.doc_id - d.doc_id % 10
  WHERE d.doc_id < 1500
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(ws) - 2, 1)),
           i -> array_to_string(list_slice(ws, i, i + 2), ' ')))) AS shingle
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM nd)
  WHERE len(ws) > 0
),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
kept AS (
  SELECT s.doc_id, s.shingle FROM sh s JOIN dfreq f USING (shingle)
  WHERE f.df <= 30
),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.id_a, s.id_b,
       s.n_shared::DOUBLE / (sa.sz + sb.sz - s.n_shared) AS jaccard
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
WHERE s.n_shared::DOUBLE / (sa.sz + sb.sz - s.n_shared) >= {JACCARD_THRESHOLD}
"""


@register("minhash_lsh_neardup", _NEARDUP_CTE.format(thr=JACCARD_THRESHOLD))
def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH + exact-Jaccard verification; equals brute force with miss
    probability (1−0.8⁴)³² ≈ 5e−8 per true pair, so the brute-force SQL is a
    valid oracle."""
    return verified_neardup_pairs(_neardup_docs(spark, sf_dir))


# --- simhash (md5 token hash so both engines agree) --------------------------

N_SIMHASH_BITS = 16  # demo width: 16 md5-derived bits (operator supports 64)


@register("simhash_fingerprint", None)  # oracle below
def q_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(_load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).where(F.length("tok") > 0)
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    aggs = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(N_SIMHASH_BITS)
    ]
    per = toks.groupBy("doc_id").agg(*aggs)
    sim = None
    for i in range(N_SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim + bit
    return per.select("doc_id", sim.alias("simhash"))


_SIMHASH_SQL = f"""
WITH toks AS (
  SELECT doc_id, u.tok,
         ('0x' || substr(md5(u.tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents),
       LATERAL (SELECT unnest(ws) AS tok) u
  WHERE length(u.tok) > 0
),
bits AS (
  SELECT doc_id, b.i,
         sum(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM toks, LATERAL (SELECT unnest(generate_series(0, {N_SIMHASH_BITS - 1})) AS i) b
  GROUP BY 1, 2
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY 1
"""
ORACLE_SQL["simhash_fingerprint"] = _SIMHASH_SQL


# --- anomalies / timeline / relations / red flags ---------------------------


@register("zscore_len_anomaly", None)  # oracle below
def q_zscore_len_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """detect_statistical_anomalies over the reference's exact five text
    stats (detector.py:139-209, 384-395) with the _calculate_severity
    ladder (:397-406) — threshold 1.5 so fixture-scale corpora flag."""
    from .operators.anomalies import statistical_anomalies

    docs = _load(spark, sf_dir, "documents")
    out = statistical_anomalies(docs, threshold=1.5)
    return out.select(
        "doc_id", "metric", F.round("z_score", 4).alias("z_score"), "severity"
    )


ORACLE_SQL["zscore_len_anomaly"] = """
WITH m AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '[\\s\\p{Z}\\x{0085}]+'),
                         w -> len(w) > 0))::DOUBLE AS word_count,
         len(string_split(text, '.'))::DOUBLE AS sentence_count,
         length(text)::DOUBLE AS char_count,
         list_aggregate(
           list_transform(
             list_filter(string_split_regex(text, '[\\s\\p{Z}\\x{0085}]+'),
                         w -> len(w) > 0),
             w -> len(w)), 'sum')::DOUBLE AS total_wlen
  FROM documents
),
stacked AS (
  SELECT doc_id, 'word_count' AS metric, word_count AS value FROM m
  UNION ALL
  SELECT doc_id, 'sentence_count', sentence_count FROM m
  UNION ALL
  SELECT doc_id, 'avg_word_length',
         CASE WHEN word_count > 0 THEN total_wlen / word_count
              ELSE 0.0 END FROM m
  UNION ALL
  SELECT doc_id, 'avg_sentence_length',
         word_count / sentence_count FROM m
  UNION ALL
  SELECT doc_id, 'char_count', char_count FROM m
),
stats AS (
  SELECT metric, avg(value) AS mu, stddev_samp(value) AS s
  FROM stacked GROUP BY 1
)
SELECT doc_id, metric,
       round(abs((value - mu) / s), 4) AS z_score,
       CASE WHEN abs((value - mu) / s) >= 3.0 THEN 'critical'
            WHEN abs((value - mu) / s) >= 2.25 THEN 'high'
            WHEN abs((value - mu) / s) >= 1.5 THEN 'medium'
            ELSE 'low' END AS severity
FROM stacked JOIN stats USING (metric)
WHERE s > 0 AND abs((value - mu) / s) > 1.5
"""

_TL_PHRASES = [
    "signed on 2024-01-15 ok",
    "during the third quarter of 2023",
    "in summer 2019 mostly",
    "back in the 1990s era",
    "met January 15, 2024 again",
    "checked 03/15/2024 form",
    "due 25/12/2020 maybe",
    "circa 1995 stuff happened",
    "early March 2021 window",
]


def _tl_case_sql(expr: str) -> str:
    whens = "\n".join(
        f"      WHEN {i} THEN '{p}'" for i, p in enumerate(_TL_PHRASES[:-1])
    )
    return (
        f"CASE ({expr}) % {len(_TL_PHRASES)}\n{whens}\n"
        f"      ELSE '{_TL_PHRASES[-1]}' END"
    )


@register("timeline_events", None)  # oracle below
def q_timeline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    phr = F.array(*[F.lit(p) for p in _TL_PHRASES])
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.element_at(phr, (F.col("doc_id") % len(_TL_PHRASES) + 1).cast("int")),
        ).alias("t"),
    )
    ev = extract_timeline_events(docs)
    return ev.select("doc_id", "date_text", "date_start", "event_kind", "confidence")


_TIMELINE_SQL = f"""
WITH t AS (
  SELECT doc_id, text || ' ' ||
    {_tl_case_sql("doc_id")} AS t
  FROM documents
),
iso AS (
  SELECT doc_id, unnest(regexp_extract_all(t,
    '\\b(\\d{{4}})-(\\d{{1,2}})-(\\d{{1,2}})(?:T(\\d{{1,2}}):(\\d{{1,2}}):(\\d{{1,2}}))?\\b')) AS date_text
  FROM t
),
iso_ok AS (
  SELECT doc_id, date_text,
         try_cast(make_date(
           regexp_extract(date_text, '^(\\d{{4}})', 1)::INT,
           regexp_extract(date_text, '^\\d{{4}}-(\\d{{1,2}})', 1)::INT,
           regexp_extract(date_text, '^\\d{{4}}-\\d{{1,2}}-(\\d{{1,2}})', 1)::INT) AS DATE) AS date_start,
         'iso' AS event_kind, 0.99::DOUBLE AS confidence
  FROM iso
),
mdy AS (
  SELECT doc_id, unnest(regexp_extract_all(t,
    '(?i)\\b(January|February|March|April|May|June|July|August|September|October|November|December|Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Sept|Oct|Nov|Dec)\\s+(\\d{{1,2}})(?:st|nd|rd|th)?,?\\s+(\\d{{4}})\\b')) AS date_text
  FROM t
),
month_map AS (
  SELECT * FROM (VALUES
    ('january',1),('jan',1),('february',2),('feb',2),('march',3),('mar',3),
    ('april',4),('apr',4),('may',5),('june',6),('jun',6),('july',7),('jul',7),
    ('august',8),('aug',8),('september',9),('sep',9),('sept',9),
    ('october',10),('oct',10),('november',11),('nov',11),('december',12),('dec',12)
  ) AS m(name, num)
),
mdy_ok AS (
  SELECT doc_id, date_text,
         make_date(
           regexp_extract(date_text, '(\\d{{4}})\\b', 1)::INT,
           (SELECT num FROM month_map WHERE name = lower(regexp_extract(date_text, '(?i)^([A-Za-z]+)', 1))),
           regexp_extract(date_text, '\\s(\\d{{1,2}})', 1)::INT) AS date_start,
         'natural_mdy' AS event_kind, 0.95::DOUBLE AS confidence
  FROM mdy
),
qtr AS (
  SELECT doc_id, unnest(regexp_extract_all(t,
    '(?i)\\b(Q[1-4]|first|second|third|fourth)\\s+quarter\\s+(?:of\\s+)?(\\d{{4}})\\b')) AS date_text
  FROM t
),
qtr_ok AS (
  SELECT doc_id, date_text,
         make_date(regexp_extract(date_text, '(\\d{{4}})', 1)::INT,
           (CASE lower(regexp_extract(date_text, '(?i)^(Q[1-4]|first|second|third|fourth)', 1))
              WHEN 'q1' THEN 1 WHEN 'first' THEN 1 WHEN 'q2' THEN 2 WHEN 'second' THEN 2
              WHEN 'q3' THEN 3 WHEN 'third' THEN 3 ELSE 4 END - 1) * 3 + 1,
           1) AS date_start,
         'quarter' AS event_kind, 0.9::DOUBLE AS confidence
  FROM qtr
),
ssn AS (
  SELECT doc_id, unnest(regexp_extract_all(t,
    '(?i)\\b(spring|summer|fall|autumn|winter)\\s+(?:of\\s+)?(\\d{{4}})\\b')) AS date_text
  FROM t
),
ssn_ok AS (
  SELECT doc_id, date_text,
         make_date(regexp_extract(date_text, '(\\d{{4}})', 1)::INT,
           CASE lower(regexp_extract(date_text, '(?i)^(spring|summer|fall|autumn|winter)', 1))
             WHEN 'spring' THEN 3 WHEN 'summer' THEN 6 WHEN 'fall' THEN 9
             WHEN 'autumn' THEN 9 ELSE 12 END,
           1) AS date_start,
         'season' AS event_kind, 0.85::DOUBLE AS confidence
  FROM ssn
),
dec_ AS (
  SELECT doc_id, unnest(regexp_extract_all(t, '(?i)\\b(?:the\\s+)?(\\d{{4}})s\\b')) AS date_text
  FROM t
),
dec_ok AS (
  SELECT doc_id, date_text,
         make_date(regexp_extract(date_text, '(\\d{{4}})', 1)::INT, 1, 1) AS date_start,
         'decade' AS event_kind, 0.7::DOUBLE AS confidence
  FROM dec_
),
num AS (
  SELECT doc_id, unnest(regexp_extract_all(t,
    '\\b(\\d{{1,2}})[/\\-.](\\d{{1,2}})[/\\-.](\\d{{2,4}})\\b')) AS date_text
  FROM t
),
num_parts AS (
  SELECT doc_id, date_text,
         regexp_extract(date_text, '^(\\d{{1,2}})', 1)::INT AS p1,
         regexp_extract(date_text, '^\\d{{1,2}}[/\\-.](\\d{{1,2}})', 1)::INT AS p2,
         regexp_extract(date_text, '(\\d{{2,4}})$', 1)::INT AS yraw
  FROM num
),
num_cand AS (
  SELECT doc_id, date_text,
         CASE WHEN yraw < 100 THEN CASE WHEN yraw < 50 THEN yraw + 2000 ELSE yraw + 1900 END
              ELSE yraw END AS yr, p1, p2
  FROM num_parts
),
num_ok AS (
  SELECT doc_id, date_text,
         coalesce(mdy_d, dmy_d) AS date_start, 'numeric' AS event_kind,
         (CASE WHEN mdy_d IS NOT NULL THEN 0.8 ELSE 0.7 END)::DOUBLE AS confidence
  FROM (
    SELECT doc_id, date_text,
           CASE WHEN p1 <= 12 AND p2 <= 31
                THEN CAST(try_strptime(printf('%04d-%02d-%02d', yr, p1, p2), '%Y-%m-%d') AS DATE) END AS mdy_d,
           CASE WHEN p2 <= 12 AND p1 <= 31
                THEN CAST(try_strptime(printf('%04d-%02d-%02d', yr, p2, p1), '%Y-%m-%d') AS DATE) END AS dmy_d
    FROM num_cand
  )
),
approx AS (
  SELECT doc_id, unnest(regexp_extract_all(t,
    '(?i)\\b(around|circa|about|approximately|roughly)\\s+(\\d{{4}})\\b')) AS date_text
  FROM t
),
approx_ok AS (
  SELECT doc_id, date_text,
         make_date(regexp_extract(date_text, '(\\d{{4}})', 1)::INT, 6, 30) AS date_start,
         'approximate' AS event_kind, 0.6::DOUBLE AS confidence
  FROM approx
),
prd AS (
  SELECT doc_id, unnest(regexp_extract_all(t,
    '(?i)\\b(early|mid|late)\\s+(January|February|March|April|May|June|July|August|September|October|November|December|Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Sept|Oct|Nov|Dec)\\s+(\\d{{4}})\\b')) AS date_text
  FROM t
),
prd_ok AS (
  SELECT doc_id, date_text,
         CAST(try_strptime(printf('%04d-%02d-%02d',
           regexp_extract(date_text, '(\\d{{4}})$', 1)::INT,
           (SELECT num FROM month_map WHERE name = lower(regexp_extract(date_text, '(?i)^(?:early|mid|late)\\s+([A-Za-z]+)', 1))),
           CASE lower(regexp_extract(date_text, '(?i)^(early|mid|late)', 1))
             WHEN 'early' THEN 1 WHEN 'mid' THEN 11 ELSE 21 END), '%Y-%m-%d') AS DATE) AS date_start,
         'period' AS event_kind, 0.7::DOUBLE AS confidence
  FROM prd
)
SELECT * FROM iso_ok WHERE date_start IS NOT NULL
UNION ALL SELECT * FROM mdy_ok WHERE date_start IS NOT NULL
UNION ALL SELECT * FROM qtr_ok WHERE date_start IS NOT NULL
UNION ALL SELECT * FROM ssn_ok WHERE date_start IS NOT NULL
UNION ALL SELECT * FROM dec_ok WHERE date_start IS NOT NULL
UNION ALL SELECT * FROM num_ok WHERE date_start IS NOT NULL
UNION ALL SELECT * FROM approx_ok WHERE date_start IS NOT NULL
UNION ALL SELECT * FROM prd_ok WHERE date_start IS NOT NULL
"""
ORACLE_SQL["timeline_events"] = _TIMELINE_SQL


# relations oracle: mentions islands + ordered pair join, conf 0.5
_RELATIONS_SQL = (
    _MENTIONS_CTE.replace(
        "SELECT r.doc_id, string_agg(r.w, ' ' ORDER BY r.pos) AS entity_text",
        "SELECT r.doc_id, string_agg(r.w, ' ' ORDER BY r.pos) AS entity_text,\n         a.start_pos AS mpos",
    )
    + """
, ordered AS (
  SELECT doc_id, entity_text,
         row_number() OVER (PARTITION BY doc_id ORDER BY mpos) AS idx
  FROM mentions
)
SELECT m1.doc_id,
       m1.entity_text AS source_text,
       m2.entity_text AS target_text,
       'co_occurrence' AS relation_type,
       0.5::DOUBLE AS confidence
FROM ordered m1
JOIN ordered m2 ON m1.doc_id = m2.doc_id AND m1.idx < m2.idx
"""
)


@register("relations_cooccur", _RELATIONS_SQL)
def q_relations_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 relations on the mock-NER path: degenerate 0/0 offsets → every
    mention pair in document order becomes co_occurrence conf 0.5
    (relations.py:108-121 arithmetic).

    Round 3: ONE mock_ner pass per doc emitting the ordered names array;
    the O(m²) pair expansion is the pipeline's native whole-stage-codegen
    combination (spans.extract_rels_from_mentions shape) instead of
    re-running extract_relations in Python per doc. Semantics identical —
    the extract_relations ≡ pair-combination parity stays pinned by
    tests/test_pipeline_spark.py's differential test."""
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", _cased_spark(F.col("text")).alias("t")
    )
    names_schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("names", ArrayType(StringType()), False),
        ]
    )
    with_names = _explode_per_doc(
        _spread(docs, "doc_id"),
        lambda t: [{"names": [m["text"] for m in mock_ner(t)]}],
        names_schema,
    )
    pairs = ordered_pairs(F.col("names"), "source_text", "target_text")
    return with_names.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id",
        F.col("p.source_text"),
        F.col("p.target_text"),
        F.lit("co_occurrence").alias("relation_type"),
        F.lit(0.5).alias("confidence"),
    )


@register("red_flag_scan", """
SELECT doc_id,
       len(regexp_extract_all(text, '\\b(slow|merge|vector)\\b'))::BIGINT AS n_flags,
       len(regexp_extract_all(text, '\\b(slow|merge|vector)\\b')) > 3 AS flagged
FROM documents
""")
def q_red_flag_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 pattern scan (detector.py:211-319 rlike heuristics) with flags from
    the corpus vocabulary."""
    docs = _load(spark, sf_dir, "documents")
    pat = r"\b(slow|merge|vector)\b"
    n = F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_flags"),
        (n > 3).alias("flagged"),
    )


# --- C1 fixed chunking with a pure-SQL oracle --------------------------------


@register("chunk_fixed", """
WITH starts AS (
  SELECT doc_id, text, g.i AS idx, (g.i * 80)::BIGINT AS start
  FROM documents,
       LATERAL (SELECT unnest(generate_series(0, (length(text) - 1) // 80)) AS i) g
  WHERE g.i * 80 < length(text)
)
SELECT doc_id, idx::BIGINT AS chunk_index,
       substr(text, start + 1, 100) AS chunk_text,
       start AS char_start,
       least(start + 100, length(text))::BIGINT AS char_end,
       len(regexp_extract_all(substr(text, start + 1, 100), '\\S+'))::BIGINT AS token_count
FROM starts
""")
def q_chunk_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 fixed chunker (chunker.py:64-110) at size=100/overlap=20 over the
    documents table; the oracle reproduces the window arithmetic in SQL."""
    from .reference_impl.chunker import chunk_fixed

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("chunk_index", LongType(), False),
            StructField("chunk_text", StringType(), False),
            StructField("char_start", LongType(), False),
            StructField("char_end", LongType(), False),
            StructField("token_count", LongType(), False),
        ]
    )
    return _explode_per_doc(
        _spread(docs, "doc_id"),
        lambda t: [
            {**c, "chunk_text": c["text"]}
            for c in chunk_fixed(t, chunk_size=100, overlap=20)
        ],
        schema,
    )


# --- E15 node degrees + Q3 hybrid search --------------------------------------


@register("edge_degrees", f"""
WITH edges AS ({ORACLE_SQL["comention_edges"]})
SELECT entity_name, count(*)::BIGINT AS degree FROM (
  SELECT entity_a AS entity_name FROM edges
  UNION ALL
  SELECT entity_b AS entity_name FROM edges
) GROUP BY 1
""")
def q_edge_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node degrees over the co-mention edge list (builder.py:439-456)."""
    from .operators.edges import node_degrees
    from .queries import q_comention_edges

    edges = q_comention_edges(spark, sf_dir)
    return node_degrees(edges).withColumnRenamed("name", "entity_name")


@register("hybrid_search", f"""
WITH kw AS ({_BM25_SQL}),
sem AS (
  SELECT e.vec_id AS doc_id,
    round(
      list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
          i -> (e.embedding[i]::DOUBLE) * (q.qv[i]))), (a, x) -> a + x)
      / (sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
          i -> (e.embedding[i]::DOUBLE) * (e.embedding[i]::DOUBLE))), (a, x) -> a + x))
       * sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
          i -> q.qv[i] * q.qv[i])), (a, x) -> a + x))), 6) AS score
  FROM embeddings e, (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> 0
)
SELECT coalesce(sem.doc_id, kw.doc_id) AS doc_id,
       coalesce(sem.score, 0.0) * 0.5 + coalesce(kw.score, 0.0) * 0.5 AS hybrid_score,
       coalesce(sem.score, 0.0) AS semantic_score,
       coalesce(kw.score, 0.0) AS keyword_score
FROM sem FULL OUTER JOIN kw ON sem.doc_id = kw.doc_id
""")
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 hybrid merge (hybrid.py:51-81): keyword BM25 over documents +
    semantic cosine over embeddings (vec_id ≡ doc_id pairing), weights for
    64-dim embeddings → (0.5, 0.5)."""
    from .operators.search import hybrid_merge

    kw = q_bm25_search(spark, sf_dir)
    # semantic side: full cosine list (not top-k) so the merge is meaningful
    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    qv = emb.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def _dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )

    cos = _dot(F.col("v"), F.col("qv")) / (
        F.sqrt(_dot(F.col("v"), F.col("v"))) * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    sem = (
        emb.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), F.round(cos, 6).alias("score"))
    )
    merged = hybrid_merge(sem, kw.select("doc_id", "score"))
    # components are 6-dp-rounded on both engines; the 0.5/0.5 blend is an
    # exact IEEE halving of their sum, so NO outer round — rounding again
    # would land on exact .5 ties at the 7th digit for ~half the rows
    return merged.select("doc_id", "hybrid_score", "semantic_score", "keyword_score")


from . import queries_ext2  # noqa: E402,F401  (next module in the registry chain)
