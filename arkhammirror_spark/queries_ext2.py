"""Round-2 driver-contract queries: the operators that were pytest-only in
round 1 get oracle-checked `queries()` entries here — rerankers, regex
search, autocomplete, embedding anomaly, interval conflicts, relationship
dedup, SimHash Hamming pairs, entity linking, contradictions, coreference,
sentence chunking, connected components, ANN.

Same discipline as queries.py: identical column names/types on both engines,
deterministic ordering wherever LIMIT/top-N appears, sequential left-fold
float math, round() on computed floats only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .queries import (
    ORACLE_SQL, _cased_spark, _cased_sql, _load, register, sentinel,
)
from .operators.spans import _explode_per_doc
from .operators.spread import spread as _spread


# ---------------------------------------------------------------------------
# Q4 regex search (engines/regex.py presets) — email preset on an enriched
# corpus (the word soup has no emails; the suffix is identical SQL both sides)
# ---------------------------------------------------------------------------

def _email_suffix_spark():
    return F.when(
        F.col("doc_id") % 3 == 0,
        F.format_string(
            " contact user%d@mail%d.example.com ok",
            F.col("doc_id").cast("int"),
            (F.col("doc_id") % 7).cast("int"),
        ),
    ).otherwise(F.lit(""))

_EMAIL_ORACLE = """
WITH t AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 = 0
           THEN printf(' contact user%d@mail%d.example.com ok', doc_id::INT, (doc_id % 7)::INT)
           ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       unnest(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS match_text
FROM t
"""


@register("regex_search_email", _EMAIL_ORACLE)
def q_regex_search_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.search import regex_search

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), _email_suffix_spark()).alias("t")
    )
    return regex_search(docs, "email")


# ---------------------------------------------------------------------------
# Q6 autocomplete (keyword.py:346-378) — deterministic tiebreak on doc_id
# ---------------------------------------------------------------------------

_AUTOCOMPLETE_ORACLE = """
SELECT doc_id, text FROM documents
WHERE starts_with(text, 'key ')
ORDER BY text, doc_id
LIMIT 10
"""


@register("autocomplete_prefix", _AUTOCOMPLETE_ORACLE)
def q_autocomplete_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.search import autocomplete

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return autocomplete(docs, "key ")


# ---------------------------------------------------------------------------
# Q5 rerankers (ranking.py): dedupe → entity boost → exact-match boost →
# recency boost → diversify-per-source, chained over clean BM25 scores
# ---------------------------------------------------------------------------

_RERANK_TERMS = ["customer", "spark", "window"]
_RERANK_ENTITIES = ["customer", "spark", "merge", "vector"]
_RERANK_PRIORITY = ["customer", "spark"]


@register("reranked_search", None)  # oracle attached below (shares BM25 CTE)
def q_reranked_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.search import (
        bm25_scores,
        dedupe_results,
        diversify_by_source,
        entity_boost,
        exact_match_boost,
        recency_boost,
    )

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    base = bm25_scores(docs, _RERANK_TERMS)

    # exercise dedupe_results: union a decayed duplicate, keep the best
    dup = base.select("doc_id", (F.col("score") * 0.8).alias("score"))
    merged = dedupe_results(base.unionAll(dup))

    ents = docs.select(
        "doc_id",
        F.filter(
            F.array(*[F.lit(e) for e in _RERANK_ENTITIES]),
            lambda e: F.col("text").contains(e),
        ).alias("entities"),
    )
    boosted = entity_boost(merged.join(ents, "doc_id"), _RERANK_PRIORITY)
    boosted = exact_match_boost(boosted, "slow merge", docs)
    dated = boosted.withColumn(
        "created_at",
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("doc_id") % 365).cast("int")),
    )
    rescored = recency_boost(dated)
    sourced = rescored.withColumn("source", (F.col("doc_id") % 5).cast("long"))
    out = diversify_by_source(sourced)
    return out.select("doc_id", "source", F.round("score", 6).alias("score"))


_RERANK_ORACLE = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_extract_all(lower(text), '\\b\\w+\\b'),
                     t -> length(t) > 1 AND t NOT IN (
    'a','an','and','are','as','at','be','by','for','from','has','he','in','is','it',
    'its','of','on','or','that','the','to','was','were','will','with','this','they',
    'but','have','had','what','when','where','who','which')) AS tokens
  FROM documents
),
stats AS (SELECT count(*) AS n_docs, avg(len(tokens)::DOUBLE) AS avg_len FROM base),
tf AS (
  SELECT doc_id, len(tokens)::DOUBLE AS doc_len, u.term, count(*) AS tf
  FROM base, LATERAL (SELECT unnest(tokens) AS term) u
  WHERE u.term IN ({",".join(f"'{t}'" for t in _RERANK_TERMS)})
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS doc_freq FROM tf GROUP BY 1),
raw AS (
  SELECT doc_id,
         sum(ln((n_docs - doc_freq + 0.5) / (doc_freq + 0.5) + 1.0)
             * (tf * 2.5) / (tf + 1.5 * (1 - 0.75 + 0.75 * doc_len / avg_len))) AS raw
  FROM tf JOIN dfreq USING (term), stats
  GROUP BY 1
),
bm25 AS (
  SELECT doc_id,
         CASE WHEN (SELECT max(raw) FROM raw) > 0
              THEN raw / (SELECT max(raw) FROM raw) ELSE 0.0 END AS score
  FROM raw
),
ents AS (
  SELECT doc_id,
         list_filter({_RERANK_ENTITIES!r}, e -> contains(text, e)) AS entities,
         contains(text, 'slow merge') AS has_exact,
         text
  FROM documents
),
boosted AS (
  SELECT b.doc_id,
         b.score
           * (CASE WHEN len(list_intersect(list_distinct(e.entities),
                                           {sorted(set(_RERANK_PRIORITY))!r})) > 0
                   THEN 1.0 + 0.2 * len(list_intersect(list_distinct(e.entities),
                                                       {sorted(set(_RERANK_PRIORITY))!r}))
                   ELSE 1.0 END)
           * (CASE WHEN e.has_exact THEN 1.5 ELSE 1.0 END) AS score
  FROM bm25 b JOIN ents e USING (doc_id)
),
dated AS (
  SELECT doc_id, score,
         DATE '2024-01-01' + ((doc_id % 365)::INT) AS created_at
  FROM boosted
),
rescored AS (
  SELECT doc_id,
         score * 0.5
           + (1.0 / (1.0 + datediff('day', created_at,
                 (SELECT max(created_at) FROM dated)) * 0.1)) * 0.5 AS score,
         (doc_id % 5)::BIGINT AS source
  FROM dated
),
ranked AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rk
  FROM rescored
)
SELECT doc_id, source, round(score, 6) AS score FROM ranked WHERE rk <= 3
"""
ORACLE_SQL["reranked_search"] = _RERANK_ORACLE


# ---------------------------------------------------------------------------
# A1 embedding anomaly (detector.py:64-137): centroid distance z-score
# ---------------------------------------------------------------------------

_EMB_ANOM_ORACLE = """
WITH cdim AS (
  SELECT g.i AS i, avg(embedding[g.i]::DOUBLE) AS c
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, 64)) AS i) g
  GROUP BY 1
),
centroid AS (SELECT list(c ORDER BY i) AS cvec FROM cdim),
dists AS (
  SELECT e.vec_id,
         sqrt(list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64),
             i -> (e.embedding[i]::DOUBLE - cvec[i]) * (e.embedding[i]::DOUBLE - cvec[i]))),
           (a, x) -> a + x)) AS dist
  FROM embeddings e, centroid
),
stats AS (SELECT avg(dist) AS m, stddev_samp(dist) AS s FROM dists)
SELECT vec_id, round(dist, 4) AS dist,
       round(abs((dist - m) / s), 4) AS z_score,
       round(least(1.0, abs((dist - m) / s) / 5.0), 4) AS confidence
FROM dists, stats
WHERE s > 0 AND abs((dist - m) / s) > 1.5
"""


@register("embedding_anomaly", _EMB_ANOM_ORACLE)
def q_embedding_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.anomalies import embedding_anomalies

    emb = _load(spark, sf_dir, "embeddings")
    out = embedding_anomalies(emb)
    return out.select(
        "vec_id",
        F.round("dist", 4).alias("dist"),
        F.round("z_score", 4).alias("z_score"),
        F.round("confidence", 4).alias("confidence"),
    )


# ---------------------------------------------------------------------------
# T3 interval conflicts: adjacent timeline-event gaps per document (two
# enrichment phrases per doc so every doc has ≥2 events)
# ---------------------------------------------------------------------------

@register("interval_conflicts", None)  # oracle below (reuses the T1 oracle)
def q_interval_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.timeline import detect_interval_conflicts, extract_timeline_events
    from .queries_ext import _TL_PHRASES

    phr = F.array(*[F.lit(p) for p in _TL_PHRASES])
    n = len(_TL_PHRASES)
    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" "), F.element_at(phr, (F.col("doc_id") % n + 1).cast("int")),
            F.lit(" "), F.element_at(phr, ((F.col("doc_id") + 3) % n + 1).cast("int")),
        ).alias("t"),
    )
    ev = extract_timeline_events(docs)
    out = detect_interval_conflicts(ev)
    return out.select(
        "doc_id", "date_text", "date_start", "prev_date",
        F.col("gap_days").cast("long").alias("gap_days"),
    )


def _tl2_oracle() -> str:
    from .queries_ext import _TIMELINE_SQL, _tl_case_sql

    two_phrase = f"""
WITH t AS (
  SELECT doc_id, text || ' ' ||
    {_tl_case_sql("doc_id")}
    || ' ' ||
    {_tl_case_sql("doc_id + 3")} AS t
  FROM documents
),"""
    base = _TIMELINE_SQL
    # swap the single-phrase enrichment CTE for the two-phrase one
    start = base.index("iso AS (")
    events_sql = two_phrase + "\n" + base[start:]
    return f"""
WITH ev AS ({events_sql}),
w AS (
  SELECT doc_id, date_text, date_start,
         lag(date_start) OVER (PARTITION BY doc_id ORDER BY date_start, date_text) AS prev_date
  FROM ev
)
SELECT doc_id, date_text, date_start, prev_date,
       datediff('day', prev_date, date_start)::BIGINT AS gap_days
FROM w WHERE prev_date IS NOT NULL
"""


ORACLE_SQL["interval_conflicts"] = _tl2_oracle()


# ---------------------------------------------------------------------------
# E11 relationship dedup (shard-entities/shard.py:597-615)
# ---------------------------------------------------------------------------


@register("rels_dedup", None)  # oracle below (reuses the relations CTE)
def q_rels_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.entities import dedup_relationships
    from .queries_ext import q_relations_cooccur

    rels = q_relations_cooccur(spark, sf_dir)
    return dedup_relationships(rels)


def _rels_dedup_oracle() -> str:
    return f"""
WITH rels AS ({ORACLE_SQL["relations_cooccur"]})
SELECT lower(source_text) AS source_lower,
       lower(target_text) AS target_lower,
       relation_type,
       min(confidence) AS confidence,
       count(*) AS n_evidence
FROM rels GROUP BY 1, 2, 3
"""


ORACLE_SQL["rels_dedup"] = _rels_dedup_oracle()


# ---------------------------------------------------------------------------
# SimHash Hamming-ball pairing (banded ≡ brute force by pigeonhole) — md5
# token hashes so both engines derive identical signatures
# ---------------------------------------------------------------------------


@register("simhash_hamming_pairs", None)  # oracle below
def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash_pairs_from_sigs
    from .queries_ext import q_simhash_fingerprint

    sigs = q_simhash_fingerprint(spark, sf_dir)  # 16 md5-derived bits
    pairs = simhash_pairs_from_sigs(sigs, n_bits=16)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _simhash_pairs_oracle() -> str:
    from .queries_ext import _SIMHASH_SQL

    return f"""
WITH sigs AS ({_SIMHASH_SQL})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


ORACLE_SQL["simhash_hamming_pairs"] = _simhash_pairs_oracle()


# ---------------------------------------------------------------------------
# E12 entity linking: exact tier → blocked fuzzy tier (DuckDB levenshtein
# replicates the block predicate + in-block verify exactly)
# ---------------------------------------------------------------------------


@register("linked_mentions", None)  # oracle below
def q_linked_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.entities import aggregate_entities
    from .operators.linking import link_mentions
    from .queries import _valid_mentions

    # one mock-NER pass: checkpoint the slim distinct mention pairs, then
    # derive BOTH link input and canonical dictionary from it (without this
    # the mention UDF subtree executes once per join branch)
    valid = (
        _valid_mentions(spark, sf_dir)
        .select("doc_id", "text")
        .distinct()
        .localCheckpoint(eager=True)
    )
    canon = (
        aggregate_entities(
            valid.withColumn("entity_type", F.lit("PERSON")), doc_col="doc_id"
        )
        .where(F.col("doc_count") >= 3)
        .select("name_lower", F.col("name_lower").alias("canonical_id"))
    )
    out = link_mentions(valid, canon)
    # no_match rows carry NULL ids; '' keeps the output sortable/hashable
    return out.select(
        "doc_id", "text",
        F.coalesce("canonical_id", F.lit("")).alias("canonical_id"),
        F.round("link_confidence", 4).alias("link_confidence"), "link_reason",
    )


def _linked_oracle() -> str:
    from .queries import _MENTIONS_CTE, _VALID_SQL

    return (
        _MENTIONS_CTE
        + f"""
, valid AS (SELECT doc_id, entity_text FROM mentions WHERE {_VALID_SQL}),
dm AS (SELECT DISTINCT doc_id, entity_text AS text FROM valid),
canon AS (
  SELECT lower(entity_text) AS clow FROM valid
  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3
),
exact AS (
  SELECT d.doc_id, d.text, c.clow AS cid
  FROM dm d LEFT JOIN canon c ON lower(d.text) = c.clow
),
matched AS (
  SELECT doc_id, text, cid AS canonical_id,
         round(1.0, 4) AS link_confidence, 'exact_match' AS link_reason
  FROM exact WHERE cid IS NOT NULL
),
fz AS (
  SELECT u.doc_id, u.text, c.clow,
         CASE WHEN c.clow IS NOT NULL
                   AND abs(length(lower(u.text)) - length(c.clow)) <= 2
                   AND levenshtein(lower(u.text), c.clow) <= 2
              THEN levenshtein(lower(u.text), c.clow) END AS dist
  FROM (SELECT doc_id, text FROM exact WHERE cid IS NULL) u
  LEFT JOIN canon c
    ON substr(lower(u.text), 1, 1) = substr(c.clow, 1, 1)
   AND (length(c.clow) // 4) BETWEEN (length(lower(u.text)) // 4) - 1
                                 AND (length(lower(u.text)) // 4) + 1
),
ranked AS (
  SELECT doc_id, text,
         CASE WHEN dist IS NOT NULL THEN clow END AS clow_ok, dist,
         row_number() OVER (
           PARTITION BY doc_id, text
           ORDER BY dist ASC NULLS LAST,
                    (CASE WHEN dist IS NOT NULL THEN clow END) ASC NULLS LAST
         ) AS rk
  FROM fz
),
fuzzy AS (
  SELECT doc_id, text, coalesce(clow_ok, '') AS canonical_id,
         round(CASE WHEN clow_ok IS NOT NULL THEN 1.0 - dist / 10.0 ELSE 0.0 END, 4)
           AS link_confidence,
         CASE WHEN clow_ok IS NOT NULL THEN 'fuzzy_match' ELSE 'no_match' END
           AS link_reason
  FROM ranked WHERE rk = 1
)
SELECT * FROM matched UNION ALL SELECT * FROM fuzzy
"""
    )


ORACLE_SQL["linked_mentions"] = _linked_oracle()


# ---------------------------------------------------------------------------
# CD1 contradictions: DF-capped candidate join + negation/numeric verify.
# Claims are derived deterministically (block-shared template + per-doc
# negation/number variants) — identical SQL on both engines, including the
# DF-cap candidate rule.
# ---------------------------------------------------------------------------


def _claims_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        F.col("doc_id").alias("claim_id"),
        F.format_string(
            "block%d metric alpha beta report value is %s at %d end %s",
            (F.col("doc_id") - F.col("doc_id") % 10).cast("int"),
            F.when(F.col("doc_id") % 2 == 0, "ready").otherwise("not ready"),
            (F.lit(100) + 100 * (F.col("doc_id") % 3)).cast("int"),
            F.regexp_extract(F.col("text"), r"^(\S+)", 1),
        ).alias("claim_text"),
    )


_CLAIMS_SQL = """
SELECT doc_id AS claim_id,
       printf('block%d metric alpha beta report value is %s at %d end %s',
              (doc_id - doc_id % 10)::INT,
              CASE WHEN doc_id % 2 = 0 THEN 'ready' ELSE 'not ready' END,
              (100 + 100 * (doc_id % 3))::INT,
              regexp_extract(text, '^(\\S+)', 1)) AS claim_text
FROM documents
"""


@register("claim_contradictions", None)  # oracle below
def q_claim_contradictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.contradictions import detect_contradictions

    claims = _claims_frame(spark, sf_dir)
    out = detect_contradictions(claims)
    return out.select(
        "id_a", "id_b", "contradiction_type", "severity",
        F.round("similarity", 6).alias("similarity"),
        F.round("confidence", 6).alias("confidence"),
    )


_CONTRA_ORACLE = f"""
WITH claims AS ({_CLAIMS_SQL}),
toks AS (
  SELECT claim_id AS cid, claim_text AS ctext,
         list_distinct(list_filter(string_split_regex(lower(claim_text), '\\s+'),
                                   w -> length(w) > 0)) AS ws
  FROM claims
),
ex AS (SELECT cid, u.w FROM toks, LATERAL (SELECT unnest(ws) AS w) u),
nclaims AS (SELECT count(*) AS n FROM claims),
rare_tokens AS (
  SELECT w FROM ex, nclaims GROUP BY w, n
  HAVING count(*) <= greatest(10, ceil(n * 0.01))
),
rare AS (SELECT cid, w FROM ex WHERE w IN (SELECT w FROM rare_tokens)),
fps AS (
  SELECT cid,
         array_to_string(list_sort(list_filter(
           list_distinct(list_filter(string_split_regex(
             lower(regexp_replace(lower(ctext), '\\b\\d+(?:,\\d{{3}})*(?:\\.\\d+)?\\b', 'NUM', 'g')),
             '\\s+'), w -> length(w) > 0)),
           w -> w NOT IN ('not','is','no','yes','never','always','did'))), ' ') AS fp
  FROM toks
),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    SELECT a.cid AS id_a, b.cid AS id_b
    FROM rare a JOIN rare b ON a.w = b.w AND a.cid < b.cid
    UNION ALL
    SELECT a.cid AS id_a, b.cid AS id_b
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.cid < b.cid
    WHERE length(a.fp) > 0
  )
),
pairs AS (
  SELECT c.id_a, c.id_b, ta.ctext AS text_a, tb.ctext AS text_b,
         len(list_intersect(ta.ws, tb.ws))::DOUBLE
           / len(list_distinct(list_concat(ta.ws, tb.ws))) AS similarity
  FROM cand c
  JOIN toks ta ON ta.cid = c.id_a
  JOIN toks tb ON tb.cid = c.id_b
  WHERE len(list_intersect(ta.ws, tb.ws))::DOUBLE
          / len(list_distinct(list_concat(ta.ws, tb.ws))) >= 0.5
),
verified AS (
  SELECT id_a, id_b, similarity,
         lower(text_a) AS ta, lower(text_b) AS tb,
         ((regexp_matches(lower(text_a), '\\bnot\\b') AND regexp_matches(lower(text_b), '\\bis\\b'))
          OR (regexp_matches(lower(text_b), '\\bnot\\b') AND regexp_matches(lower(text_a), '\\bis\\b'))
          OR (regexp_matches(lower(text_a), '\\bno\\b') AND regexp_matches(lower(text_b), '\\byes\\b'))
          OR (regexp_matches(lower(text_b), '\\bno\\b') AND regexp_matches(lower(text_a), '\\byes\\b'))
          OR (regexp_matches(lower(text_a), '\\bnever\\b') AND regexp_matches(lower(text_b), '\\balways\\b'))
          OR (regexp_matches(lower(text_b), '\\bnever\\b') AND regexp_matches(lower(text_a), '\\balways\\b'))
          OR (regexp_matches(lower(text_a), '\\bdid not\\b') AND regexp_matches(lower(text_b), '\\bdid\\b'))
          OR (regexp_matches(lower(text_b), '\\bdid not\\b') AND regexp_matches(lower(text_a), '\\bdid\\b'))
         ) AS negation,
         (len(regexp_extract_all(lower(text_a), '\\b\\d+(?:,\\d{{3}})*(?:\\.\\d+)?\\b')) > 0
          AND len(regexp_extract_all(lower(text_b), '\\b\\d+(?:,\\d{{3}})*(?:\\.\\d+)?\\b')) > 0
          AND regexp_extract_all(lower(text_a), '\\b\\d+(?:,\\d{{3}})*(?:\\.\\d+)?\\b')
              <> regexp_extract_all(lower(text_b), '\\b\\d+(?:,\\d{{3}})*(?:\\.\\d+)?\\b')
          AND len(list_intersect(
                list_distinct(list_filter(string_split_regex(
                  regexp_replace(lower(text_a), '\\b\\d+(?:,\\d{{3}})*(?:\\.\\d+)?\\b', 'NUM', 'g'), '\\s+'), w -> length(w) > 0)),
                list_distinct(list_filter(string_split_regex(
                  regexp_replace(lower(text_b), '\\b\\d+(?:,\\d{{3}})*(?:\\.\\d+)?\\b', 'NUM', 'g'), '\\s+'), w -> length(w) > 0))))::DOUBLE
              / len(list_distinct(list_concat(
                list_distinct(list_filter(string_split_regex(
                  regexp_replace(lower(text_a), '\\b\\d+(?:,\\d{{3}})*(?:\\.\\d+)?\\b', 'NUM', 'g'), '\\s+'), w -> length(w) > 0)),
                list_distinct(list_filter(string_split_regex(
                  regexp_replace(lower(text_b), '\\b\\d+(?:,\\d{{3}})*(?:\\.\\d+)?\\b', 'NUM', 'g'), '\\s+'), w -> length(w) > 0)))))
              > 0.7
         ) AS numeric_mismatch
  FROM pairs
)
SELECT id_a, id_b,
       CASE WHEN negation THEN 'direct' ELSE 'numeric' END AS contradiction_type,
       CASE WHEN negation THEN 'high' ELSE 'medium' END AS severity,
       round(similarity, 6) AS similarity,
       round(similarity * (CASE WHEN negation THEN 0.8 ELSE 0.7 END), 6) AS confidence
FROM verified
WHERE negation OR numeric_mismatch
"""
ORACLE_SQL["claim_contradictions"] = _CONTRA_ORACLE


# ---------------------------------------------------------------------------
# E13 coreference — the reference scanner (resolve_coreferences) on Spark,
# reproduced in SQL via the window-containment match (the appended pronoun
# phrase sits after all mentions, so each pronoun resolves to the mention
# matching at the largest position; ties break to the later mention in
# list order, exactly as the scanner's overwrite does)
# ---------------------------------------------------------------------------

_COREF_SUFFIX = " later he agreed and she left"


@register("coref_resolutions", None)  # oracle below
def q_coref_resolutions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.coref import resolve_coref

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(_cased_spark(F.col("text")), F.lit(_COREF_SUFFIX)).alias("t"),
    )
    return resolve_coref(_spread(docs, "doc_id"))


def _coref_oracle() -> str:
    from .queries import _MENTIONS_CTE

    cte = _MENTIONS_CTE.replace(
        " AS t FROM documents",
        f" || ' {_COREF_SUFFIX.strip()}' AS t FROM documents",
    ).replace(
        "SELECT r.doc_id, string_agg(r.w, ' ' ORDER BY r.pos) AS entity_text",
        "SELECT r.doc_id, string_agg(r.w, ' ' ORDER BY r.pos) AS entity_text,\n"
        "         a.start_pos AS mpos",
    )
    return (
        cte
        + """
, ments AS (
  SELECT doc_id, entity_text,
         row_number() OVER (PARTITION BY doc_id ORDER BY mpos) AS midx,
         string_split(entity_text, ' ') AS ew
  FROM mentions
),
docwords AS (
  SELECT doc_id, list_filter(string_split_regex(t, '\\s+'), w -> w <> '') AS dws
  FROM cased
),
matches AS (
  SELECT m.doc_id, g.i, m.midx, m.entity_text
  FROM ments m JOIN docwords w USING (doc_id),
       LATERAL (SELECT unnest(generate_series(1, len(w.dws))) AS i) g
  WHERE list_has_all(list_slice(w.dws, g.i, g.i + len(m.ew) - 1), m.ew)
),
best AS (
  SELECT doc_id, entity_text,
         row_number() OVER (PARTITION BY doc_id ORDER BY i DESC, midx DESC) AS rk
  FROM matches
)
SELECT b.doc_id, p.pronoun, b.entity_text AS resolved_to
FROM best b, (VALUES ('he'), ('she')) p(pronoun)
WHERE b.rk = 1
"""
    )


ORACLE_SQL["coref_resolutions"] = _coref_oracle()


# ---------------------------------------------------------------------------
# C2 sentence chunking (chunker.py:112-197 greedy packing) — recursive-CTE
# oracle carrying the pack state (pending text, raw-size sum, chunk index,
# lossy char_start bookkeeping) sentence by sentence
# ---------------------------------------------------------------------------

_C2_SIZE = 120


@register("chunk_sentences", None)  # oracle below
def q_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from .reference_impl.chunker import chunk_sentences

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        _cased_spark(F.regexp_replace(F.col("text"), r" the ", ". The ")).alias("t"),
    )
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
            for c in chunk_sentences(t, chunk_size=_C2_SIZE)
        ],
        schema,
    )


_C2_ORACLE = f"""
WITH RECURSIVE cased AS (
  SELECT doc_id, {_cased_sql("replace(text, ' the ', '. The ')")} AS t FROM documents
),
sent_raw AS (
  SELECT doc_id, g.i AS i,
         trim(parts[g.i], ' ' || chr(9) || chr(10) || chr(13)) AS s
  FROM (
    SELECT doc_id,
           string_split(regexp_replace(t, '([.!?])\\s+([A-Z])', '\\1' || chr(1) || '\\2', 'g'), chr(1)) AS parts
    FROM cased
  ), LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
),
sent AS (
  SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS sidx
  FROM sent_raw WHERE s <> ''
),
pack AS (
  SELECT doc_id, sidx, s AS pending, length(s) AS psz,
         0 AS cidx, 0 AS cstart,
         NULL::VARCHAR AS emit_text, 0 AS emit_idx, 0 AS emit_start
  FROM sent WHERE sidx = 1
  UNION ALL
  SELECT s.doc_id, s.sidx,
         CASE WHEN p.psz + length(s.s) > {_C2_SIZE} THEN s.s
              ELSE p.pending || ' ' || s.s END,
         CASE WHEN p.psz + length(s.s) > {_C2_SIZE} THEN length(s.s)
              ELSE p.psz + length(s.s) END,
         CASE WHEN p.psz + length(s.s) > {_C2_SIZE} THEN p.cidx + 1 ELSE p.cidx END,
         CASE WHEN p.psz + length(s.s) > {_C2_SIZE}
              THEN p.cstart + length(p.pending) ELSE p.cstart END,
         CASE WHEN p.psz + length(s.s) > {_C2_SIZE} THEN p.pending END,
         p.cidx, p.cstart
  FROM pack p JOIN sent s ON s.doc_id = p.doc_id AND s.sidx = p.sidx + 1
),
emitted AS (
  SELECT doc_id, emit_idx AS chunk_index, emit_text AS chunk_text,
         emit_start AS char_start
  FROM pack WHERE emit_text IS NOT NULL
  UNION ALL
  -- final flush: the pack state at each doc's last sentence
  SELECT doc_id, cidx, pending, cstart
  FROM (
    SELECT doc_id, cidx, pending, cstart,
           row_number() OVER (PARTITION BY doc_id ORDER BY sidx DESC) AS rk
    FROM pack
  ) WHERE rk = 1
)
SELECT doc_id, chunk_index::BIGINT AS chunk_index, chunk_text,
       char_start::BIGINT AS char_start,
       (char_start + length(chunk_text))::BIGINT AS char_end,
       len(regexp_extract_all(chunk_text, '\\S+'))::BIGINT AS token_count
FROM emitted
"""
ORACLE_SQL["chunk_sentences"] = _C2_ORACLE


# ---------------------------------------------------------------------------
# §2.5 distributed connected components — oracle = recursive transitive
# closure + min-reachable label (identical semantics to min-label propagation)
# ---------------------------------------------------------------------------


@register("graph_components", None)  # oracle below
def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import connected_components_distributed
    from .queries import q_comention_edges

    edges = q_comention_edges(spark, sf_dir)
    # runs to convergence (changed-count 0); the cap only guards runaways
    # and RAISES if exhausted, so an unconverged labeling can never pass
    return connected_components_distributed(edges)


def _cc_oracle() -> str:
    return f"""
WITH RECURSIVE edges AS ({ORACLE_SQL["comention_edges"]}),
sym AS (
  SELECT entity_a AS src, entity_b AS dst FROM edges
  UNION
  SELECT entity_b AS src, entity_a AS dst FROM edges
),
reach(src, dst) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM sym)
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
)
SELECT src AS name, min(dst) AS component FROM reach GROUP BY 1
"""


ORACLE_SQL["graph_components"] = _cc_oracle()


# ---------------------------------------------------------------------------
# §2.5 distributed PageRank (graph.PR_ITERS unrolled iterations on both
# engines)
# ---------------------------------------------------------------------------


@register("graph_pagerank", None)  # oracle below
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import pagerank_distributed
    from .queries import q_comention_edges

    edges = q_comention_edges(spark, sf_dir)
    # fixed-point per-iteration ranks → the incoming sum is an exact BIGINT
    # sum, order-independent across partition counts, so the round(…, 6)
    # comparison vs DuckDB cannot flake on float sum order
    pr = pagerank_distributed(edges)
    return pr.select("name", F.round("rank", 6).alias("rank"))


def _pr_oracle() -> str:
    """Fixed-point mirror of pagerank_distributed: per-edge
    contributions are BIGINT floor-divisions and the incoming sum is an
    exact integer sum, so the value is identical on both engines regardless
    of partition/aggregation order (a float SUM(rank/deg) is order-dependent
    at the last ulp — CLAUDE.md invariant 2). The (1.0-0.85) and 0.85
    factors are written as the same IEEE double expressions Spark folds
    (1.0-0.85 != 0.15 in binary)."""
    from .operators.graph import DAMPING, PR_DIGITS, PR_ITERS

    # rank expression for iteration t, given integer incoming sum c.inc
    rank_expr = (
        f"(1.0::DOUBLE - {DAMPING}::DOUBLE) / nn.n"
        f" + {DAMPING}::DOUBLE * (coalesce(c.inc, 0)::DOUBLE / 1e{PR_DIGITS})"
    )
    iters = ""
    prev = "r0"
    for t in range(1, PR_ITERS + 1):
        iters += f""",
c{t} AS (
  SELECT s.dst, sum(r.r_int // r.deg) AS inc
  FROM sym s JOIN {prev} r ON s.src = r.name GROUP BY 1
),
r{t} AS (
  SELECT d.src AS name,
         {rank_expr} AS rank,
         CAST(floor(({rank_expr}) * 1e{PR_DIGITS} + 0.5) AS BIGINT) AS r_int,
         d.deg
  FROM deg d LEFT JOIN c{t} c ON d.src = c.dst, nn
)"""
        prev = f"r{t}"
    return f"""
WITH edges AS ({ORACLE_SQL["comention_edges"]}),
sym AS (
  SELECT entity_a AS src, entity_b AS dst FROM edges
  UNION
  SELECT entity_b AS src, entity_a AS dst FROM edges
),
deg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
nn AS (SELECT count(*) AS n FROM deg),
r0 AS (
  SELECT d.src AS name, 1.0::DOUBLE / nn.n AS rank,
         CAST(floor((1.0::DOUBLE / nn.n) * 1e{PR_DIGITS} + 0.5) AS BIGINT) AS r_int,
         d.deg
  FROM deg d, nn){iters}
SELECT name, round(rank, 6) AS rank FROM {prev}
"""


ORACLE_SQL["graph_pagerank"] = _pr_oracle()


# ---------------------------------------------------------------------------
# Embedding near-dup + ANN over a derived corpus with planted near-duplicates
# (vec := block-anchor vector + tiny deterministic perturbation — the raw
# embeddings are uncorrelated random points, where no LSH can beat a scan)
# ---------------------------------------------------------------------------


def _derived_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = emb.select(F.col("vec_id").alias("anchor_id"), F.col("v").alias("av"))
    return (
        emb.withColumn("anchor_id", F.col("vec_id") - F.col("vec_id") % 10)
        .join(anchors, "anchor_id")
        .select(
            "vec_id",
            F.zip_with(
                F.col("av"),
                F.sequence(F.lit(0), F.lit(63)),
                lambda a, j: a
                + F.lit(0.001)
                * (F.col("vec_id") % 10).cast("double")
                * (((j + F.col("vec_id")) % 7) - 3).cast("double"),
            ).alias("embedding"),
        )
    )


_DERIVED_EMB_SQL = """
  SELECT d.vec_id,
         list_transform(generate_series(1, 64),
           j -> a.embedding[j]::DOUBLE
                + 0.001 * (d.vec_id % 10) * ((((j - 1) + d.vec_id) % 7) - 3)) AS v
  FROM embeddings d
  JOIN embeddings a ON a.vec_id = d.vec_id - d.vec_id % 10
"""

_FOLD_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64), "
    "i -> ({a}[i]) * ({b}[i]))), (acc, x) -> acc + x)"
)


def _sql_cos(a: str, b: str) -> str:
    return (
        f"{_FOLD_DOT.format(a=a, b=b)} / "
        f"(sqrt({_FOLD_DOT.format(a=a, b=a)}) * sqrt({_FOLD_DOT.format(a=b, b=b)}))"
    )


@register("embedding_neardup", None)  # oracle below
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with cosine ≥ 0.999 via banded hyperplane LSH + exact verify.
    R auto-sizes to ~log2(n) (recommended_rows_per_band). The brute-force
    SQL stays a valid oracle at ANY derived R the test scales reach: for
    the fixture's θ ≤ 0.02 rad pairs the per-band agreement is
    (1 − θ/π)^R ≥ 0.99363^14 ≈ 0.91, so the 8-band miss probability is
    ≤ (1 − 0.91)^8 ≈ 4e-9."""
    from .operators.similarity import pairwise_cosine_above_banded

    d = _derived_emb(spark, sf_dir)
    pairs = pairwise_cosine_above_banded(d, threshold=0.999)
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


ORACLE_SQL["embedding_neardup"] = f"""
WITH derived AS ({_DERIVED_EMB_SQL})
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_sql_cos('a.v', 'b.v')}, 6) AS cosine
FROM derived a JOIN derived b ON a.vec_id < b.vec_id
WHERE {_sql_cos('a.v', 'b.v')} >= 0.999
"""


@register("ann_lsh_topk", None)  # exact oracle below (generated plane literals)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 scale path: hyperplane-bucket ANN probing the Hamming-1 neighbours.

    FULLY oracle-checked: the hyperplane buckets are deterministic ±1
    constant arithmetic (operators.similarity._plane_sign), so the DuckDB
    oracle replicates the ENTIRE probe — same plane literals, same
    sequential left-fold projections (IEEE-identical signs), same
    Hamming-1 probe set, same exact-cosine top-k over the probed rows —
    making the approximate result value-identical by construction, not by
    recall luck."""
    from .operators.similarity import lsh_bucket_topk

    d = _derived_emb(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    out = lsh_bucket_topk(d.where(F.col("vec_id") != 0), qv)
    return out.select("vec_id", F.round("score", 6).alias("score"))


def _ann_lsh_oracle() -> str:
    """DuckDB mirror of lsh_bucket_topk: plane matrix embedded as ±1.0
    literals, projections as the same 0.0-seeded sequential left fold Spark's
    F.aggregate builds (left-associative + in SQL) → identical IEEE doubles,
    identical sign bits, identical bucket ids and probe membership."""
    from .operators.similarity import ANN_PLANES as n_planes, PLANE_DIM as dim, _plane_sign

    def plane_lits(j: int) -> str:
        return "[" + ", ".join(f"{_plane_sign(i, j):.1f}" for i in range(dim)) + "]"

    def proj(vexpr: str, j: int) -> str:
        return (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {dim}), "
            f"i -> ({vexpr}[i]) * ({plane_lits(j)}[i]))), (acc, x) -> acc + x)"
        )

    def bucket(vexpr: str) -> str:
        return " + ".join(
            f"(CASE WHEN {proj(vexpr, j)} > 0 THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
            for j in range(n_planes)
        )

    return f"""
WITH derived AS ({_DERIVED_EMB_SQL}),
pool AS (SELECT vec_id, v FROM derived WHERE vec_id <> 0),
q AS (
  SELECT list_transform(generate_series(1, {dim}), i -> embedding[i]::DOUBLE) AS qv
  FROM embeddings WHERE vec_id = 0
),
buckets AS (SELECT vec_id, v, {bucket('v')} AS bucket FROM pool),
qb AS (SELECT qv, {bucket('qv')} AS qbucket FROM q),
probes AS (
  SELECT qv,
         list_append(list_transform(generate_series(0, {n_planes - 1}),
                                    j -> xor(qbucket, (1::BIGINT << j))),
                     qbucket) AS plist
  FROM qb
)
SELECT b.vec_id, round({_sql_cos('b.v', 'p.qv')}, 6) AS score
FROM buckets b, probes p
WHERE list_contains(p.plist, b.bucket)
ORDER BY {_sql_cos('b.v', 'p.qv')} DESC, b.vec_id
LIMIT 10
"""


ORACLE_SQL["ann_lsh_topk"] = _ann_lsh_oracle()


# ---------------------------------------------------------------------------
# S5-S10 format extracts + S11 archive explode as driver-gate entries: the
# fixtures are deterministic bytes (pinned zip epoch), so the oracle is a
# constant VALUES table of sha256(extracted_text) — the Spark side does the
# real parse work through extract_docs/explode_archives
# ---------------------------------------------------------------------------


def _format_fixture_pages(spark: SparkSession):
    import datetime as dt

    from .reference_impl.ooxml import make_docx, make_xlsx
    from .reference_impl.pdfmini import make_pdf

    ts = dt.datetime(2026, 1, 1)
    body = "John Smith met Acme Corp in Paris. The merger closed in June 2024."
    fixtures = [
        ("fx://pdf", make_pdf([["John Smith met Acme Corp.", "Page one line."],
                               ["Second page content here."]]), None, "pdf"),
        ("fx://docx", make_docx(["Heading Fixture", "John Smith met Acme Corp."],
                                [[["person", "org"], ["John Smith", "Acme Corp"]]]), None, "docx"),
        ("fx://xlsx", make_xlsx({"Ledger": [["person", "org"], ["John Smith", "Acme Corp"]]}), None, "xlsx"),
        ("fx://eml", (b"From: a.b@mail.example\r\nSubject: Fixture\r\n\r\n<html><body><p>"
                      + body.encode() + b"</p></body></html>"), None, "eml"),
        ("fx://csv", b"name,org\r\nJohn Smith,Acme Corp\r\nJane Roe,Globex\r\n", None, "csv"),
        ("fx://txt-utf16", body.encode("utf-16"), None, "text"),
        ("fx://html", (b"<html><head><title>T</title><script>junk()</script></head>"
                       b"<body><nav>menu</nav><p>" + body.encode() + b"</p></body></html>"), None, "html"),
    ]
    return spark.createDataFrame(
        [(u, ts, p, t) for (u, p, t, _k) in fixtures],
        "url: string, warc_ts: timestamp, html: binary, text: string",
    )


@register("format_extracts", None)  # oracle (VALUES) attached at import below
def q_format_extracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.extract import extract_docs

    docs = extract_docs(_format_fixture_pages(spark))
    return docs.select(
        "url", "lang", F.sha2(F.col("extracted_text"), 256).alias("text_sha"),
    )


def _archive_fixture_pages(spark: SparkSession):
    import gzip
    import io
    import tarfile

    from .reference_impl.ooxml import _zip_writestr  # pinned DOS epoch

    zbuf = io.BytesIO()
    import zipfile

    with zipfile.ZipFile(zbuf, "w", zipfile.ZIP_DEFLATED) as zf:
        _zip_writestr(zf, "a.txt", b"alpha text")
        _zip_writestr(zf, "docs/b.txt", b"beta text")
    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w") as tf:
        data = b"tar member text"
        info = tarfile.TarInfo("t.txt")
        info.size = len(data)
        info.mtime = 0
        tf.addfile(info, io.BytesIO(data))
    tgz = gzip.compress(tbuf.getvalue(), mtime=0)
    return spark.createDataFrame(
        [
            ("fx://zip", zbuf.getvalue()),
            ("fx://tar", tbuf.getvalue()),
            ("fx://tgz", tgz),
        ],
        "url: string, html: binary",
    )


@register("archive_members", None)  # oracle (VALUES) attached at import below
def q_archive_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.archives import explode_archives

    members = explode_archives(_archive_fixture_pages(spark))
    return members.where(F.col("error").isNull()).select(
        "url",
        F.col("member_name"),
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
    )


def _values_oracle(rows: list[tuple], cols: list[str]) -> str:
    vals = ",\n  ".join(
        "(" + ", ".join("'" + str(c).replace("'", "''") + "'" for c in r) + ")"
        for r in rows
    )
    return f"SELECT * FROM (VALUES\n  {vals}\n) AS fx({', '.join(cols)})"


# Constant expected values (deterministic fixtures: pinned zip DOS epoch,
# gzip mtime=0, static bytes) — regenerate with scripts/fixture_hashes.py
ORACLE_SQL["format_extracts"] = _values_oracle(
    [
        ("fx://csv", "en", "743268b229a3daa9462d08755c3d499bf57aeebc0a9d190c1c55fb9a54ab7388"),
        ("fx://docx", "en", "528f720d8b3a733b6d213d0a2e94acca8b77c8b469983af3b7c32eb7ce7f425f"),
        ("fx://eml", "en", "986aa082bf32ea3d45c0861656e0bd0dbe1ea32c82423d586243e7c27bbcd54e"),
        ("fx://html", "en", "ade16935639168950b18dd8fee0bd4cc95215ba740edd73d9b677752c9c8548a"),
        ("fx://pdf", "en", "7e530d3cfadee3bb87f62daefe12db7593bae680578fda9d813075942d964afd"),
        ("fx://txt-utf16", "en", "283177874847d060aafb956bbccb6e5640a7ce674d020fd8e5cdd92396c29d18"),
        ("fx://xlsx", "en", "5e0e20533487cb516b7a3c3f080b4cc2af258c5736a8a45c3a6acc5aea8b9417"),
    ],
    ["url", "lang", "text_sha"],
)

ORACLE_SQL["archive_members"] = _values_oracle(
    [
        ("fx://tar!t.txt", "t.txt", "e79faaf0a722d0c86d2ded74959c5b9e8738ff276c8d6c8de01d8bf2c2e48817"),
        ("fx://tgz!t.txt", "t.txt", "e79faaf0a722d0c86d2ded74959c5b9e8738ff276c8d6c8de01d8bf2c2e48817"),
        ("fx://zip!a.txt", "a.txt", "89a17ed624e1586515338bb4f8481788424c93f9836d1e1e382aeb7da5334b0f"),
        ("fx://zip!docs/b.txt", "docs/b.txt", "97181288664d8e5959e7d7cc6e874d0eda4ad0d8a361ab08aa880246aef2203d"),
    ],
    ["url", "member_name", "payload_sha"],
)


# ---------------------------------------------------------------------------
# §2.5 graph statistics (algorithms.py:707-760): node/edge counts, density,
# average degree over the co-mention graph
# ---------------------------------------------------------------------------


@register("graph_stats", None)  # oracle below
def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import graph_statistics
    from .queries import q_comention_edges

    edges = q_comention_edges(spark, sf_dir)
    st = graph_statistics(edges)
    return st.select(
        "n_nodes", "n_edges",
        F.round("density", 6).alias("density"),
        F.round("avg_degree", 6).alias("avg_degree"),
    )


def _graph_stats_oracle() -> str:
    return f"""
WITH edges AS ({ORACLE_SQL["comention_edges"]}),
nodes AS (
  SELECT entity_a AS name FROM edges UNION SELECT entity_b FROM edges
),
c AS (SELECT (SELECT count(*) FROM nodes)::BIGINT AS n_nodes,
             (SELECT count(*) FROM edges)::BIGINT AS n_edges)
SELECT n_nodes, n_edges,
       round(CASE WHEN n_nodes > 1
                  THEN 2.0 * n_edges / (n_nodes * (n_nodes - 1)) ELSE 0.0 END, 6)
         AS density,
       round(CASE WHEN n_nodes > 0
                  THEN 2.0 * n_edges / n_nodes ELSE 0.0 END, 6) AS avg_degree
FROM c
"""


ORACLE_SQL["graph_stats"] = _graph_stats_oracle()


# ---------------------------------------------------------------------------
# E16 ego network (builder.py:549-619): depth-1 BFS subgraph around the
# highest-degree entity, fully mirrored in SQL
# ---------------------------------------------------------------------------


@register("graph_ego", None)  # oracle below
def q_graph_ego(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import ego_network
    from .queries import q_comention_edges

    edges = q_comention_edges(spark, sf_dir).localCheckpoint(eager=True)
    # deterministic center: max degree, ties to lexicographically first name
    from .operators.edges import node_degrees

    center = (
        node_degrees(edges)
        .orderBy(F.desc("degree"), F.asc("name"))
        .limit(1)
        .collect()[0]["name"]
    )
    return ego_network(edges, center).select(
        "entity_a", "entity_b", "co_occurrence_count", "weight"
    )


def _ego_oracle() -> str:
    return f"""
WITH edges AS ({ORACLE_SQL["comention_edges"]}),
deg AS (
  SELECT name, count(*) AS degree FROM (
    SELECT entity_a AS name FROM edges UNION ALL SELECT entity_b FROM edges
  ) GROUP BY 1
),
center AS (SELECT name FROM deg ORDER BY degree DESC, name ASC LIMIT 1),
seen AS (
  SELECT name FROM center
  UNION
  SELECT entity_b FROM edges, center WHERE entity_a = center.name
  UNION
  SELECT entity_a FROM edges, center WHERE entity_b = center.name
)
SELECT entity_a, entity_b, co_occurrence_count, weight
FROM edges
WHERE entity_a IN (SELECT name FROM seen) AND entity_b IN (SELECT name FROM seen)
"""


ORACLE_SQL["graph_ego"] = _ego_oracle()


# ---------------------------------------------------------------------------
# WARC ingestion (the Common-Crawl-native edge): deterministic .warc.gz
# bytes → parse → pages → extract_docs, pinned by a VALUES oracle
# ---------------------------------------------------------------------------


def _warc_fixture_segment(spark: SparkSession):
    from .sources.warc import build_warc

    records = [
        {"url": "https://fx.example/html", "date": "2026-01-02T03:04:05Z",
         "payload": (b"<html><head><title>T</title></head><body><nav>menu</nav>"
                     b"<p>John Smith met Acme Corp in Paris.</p></body></html>")},
        {"url": "https://fx.example/req", "warc_type": "request",
         "payload": b"GET / HTTP/1.1"},
        {"url": "https://fx.example/text", "date": "2026-02-03T04:05:06Z",
         "payload": "Résumé only text here.".encode("utf-8")},
        {"url": None, "warc_type": "warcinfo", "payload": b"software: fx"},
    ]
    return spark.createDataFrame(
        [("fx://segment-0", build_warc(records))], "path: string, content: binary"
    )


@register("warc_ingest", None)  # oracle (VALUES) below
def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.extract import extract_docs
    from .sources.warc import warc_to_pages

    pages = (
        warc_to_pages(_warc_fixture_segment(spark))
        .where(F.col("error").isNull())
        .select("url", "warc_ts", "html", "text")
    )
    docs = extract_docs(pages)
    return docs.select(
        "url",
        # the UTC wall time, whatever the session time zone
        F.date_format(
            F.convert_timezone(None, F.lit("UTC"), "warc_ts"), "yyyy-MM-dd HH:mm:ss"
        ).alias("ts"),
        F.sha2(F.col("extracted_text"), 256).alias("text_sha"),
    )


ORACLE_SQL["warc_ingest"] = _values_oracle(
    [
        ("https://fx.example/html", "2026-01-02 03:04:05",
         "3effcf663c6d1160ce1973754faac170c74dc840ce991c6f80b3a7113dfc7ee3"),
        ("https://fx.example/text", "2026-02-03 04:05:06",
         "a16264c42265a6ded267e29c3d142aab5166feeaaae70bb67db024d96e5461fa"),
    ],
    ["url", "ts", "text_sha"],
)


@register("ann_ivf_topk", None)  # recall oracle below (pinned floor)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means inverted lists, one fit_ivf + ivf_probe) over the
    planted-near-dup derived corpus — the coarse-quantizer ANN scale path
    beside the hyperplane-LSH one.

    Driver-checked as a RECALL GATE: KMeans centroids are not
    SQL-expressible (unlike the constant-plane LSH buckets, which get a
    fully exact oracle), so the query emits recall@10 vs the exact
    brute-force top-10 — both computed Spark-side — and the DuckDB oracle
    pins the asserted outcome. The floor (7/10) is robust to any KMeans
    initialization: the query's 9 planted clones sit within ~0.2% of it in
    every coordinate, so they land in the same inverted list as the query's
    nearest centroid, which n_probe=4 of 16 always covers."""
    from .operators.similarity import brute_force_topk, fit_ivf, ivf_probe

    d = _derived_emb(spark, sf_dir)
    emb = _load(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    pool = d.where(F.col("vec_id") != 0)
    centers, assigned = fit_ivf(pool)
    ann = ivf_probe(assigned, centers, qv, n_probe=4).select("vec_id")
    exact = brute_force_topk(pool, qv).select("vec_id")
    return exact.join(ann, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    ).select(
        F.lit(10).cast("long").alias("k"),
        (F.col("n_hits") >= 7).alias("recall_ok"),
    )


ORACLE_SQL["ann_ivf_topk"] = "SELECT 10::BIGINT AS k, true AS recall_ok"


# ---------------------------------------------------------------------------
# C4–C8 frame chunk strategies: every strategy over the enriched corpus,
# mirrored in SQL via the fixed-size arithmetic / paragraph split
# ---------------------------------------------------------------------------


@register("chunk_strategy_paragraph", None)  # oracle below
def q_chunk_strategy_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 paragraph strategy (frame services/chunks.py paragraph splitter)
    over documents with deterministic paragraph breaks injected."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from .reference_impl.frame_chunks import chunk_paragraph

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.col("text"), r" table ", "\n\ntable ").alias("t"),
    )
    schema = StructType(
        [
            StructField("doc_id", LongType(), False),
            StructField("chunk_index", LongType(), False),
            StructField("chunk_text", StringType(), False),
        ]
    )
    return _explode_per_doc(
        _spread(docs, "doc_id"),
        lambda t: [
            {"chunk_index": i, "chunk_text": text}
            for i, (text, _s, _e) in enumerate(chunk_paragraph(t, chunk_size=200))
        ],
        schema,
    )


_C7_ORACLE = """
WITH RECURSIVE t AS (
  SELECT doc_id, regexp_replace(text, ' table ', chr(10) || chr(10) || 'table ', 'g') AS t
  FROM documents
),
paras AS (
  SELECT doc_id, p, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS pidx
  FROM (
    SELECT doc_id, g.i AS i,
           trim(parts[g.i], ' ' || chr(9) || chr(10) || chr(13)) AS p
    FROM (SELECT doc_id, string_split_regex(t, '\\n\\s*\\n') AS parts FROM t),
         LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g
  ) WHERE p <> ''
),
pack AS (
  SELECT doc_id, pidx, p AS pending, length(p) AS psz, 0 AS cidx,
         NULL::VARCHAR AS emit_text, 0 AS emit_idx
  FROM paras WHERE pidx = 1
  UNION ALL
  SELECT x.doc_id, x.pidx,
         CASE WHEN k.psz + length(x.p) > 200 THEN x.p
              ELSE k.pending || chr(10) || chr(10) || x.p END,
         CASE WHEN k.psz + length(x.p) > 200 THEN length(x.p)
              ELSE k.psz + length(x.p) END,
         CASE WHEN k.psz + length(x.p) > 200 THEN k.cidx + 1 ELSE k.cidx END,
         CASE WHEN k.psz + length(x.p) > 200 THEN k.pending END,
         k.cidx
  FROM pack k JOIN paras x ON x.doc_id = k.doc_id AND x.pidx = k.pidx + 1
)
SELECT doc_id, emit_idx::BIGINT AS chunk_index, emit_text AS chunk_text
FROM pack WHERE emit_text IS NOT NULL
UNION ALL
SELECT doc_id, cidx::BIGINT, pending FROM (
  SELECT doc_id, cidx, pending,
         row_number() OVER (PARTITION BY doc_id ORDER BY pidx DESC) AS rk
  FROM pack
) WHERE rk = 1
"""
ORACLE_SQL["chunk_strategy_paragraph"] = _C7_ORACLE


# ---------------------------------------------------------------------------
# E1 model-gated NER — the fallback contract IS the mock path, so the
# fallback output is oracle-checkable against the mentions islands CTE
# ---------------------------------------------------------------------------


@register("ner_model_mentions", None)  # oracle below
def q_ner_model_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_mentions_model in this sandbox (no spaCy) must equal the mock
    extractor exactly (ner.py:63-65 fallback gate) — the oracle is the same
    gaps-and-islands SQL as `mentions`, plus the mock path's constant
    type/offsets/confidence."""
    from .operators.ner_model import extract_mentions_model

    docs = _load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("url"),
        _cased_spark(F.col("text")).alias("extracted_text"),
    )
    out = extract_mentions_model(docs)
    return out.select(
        F.col("url").cast("long").alias("doc_id"),
        F.col("text").alias("entity_text"),
        "entity_type",
        F.col("start_char").cast("long").alias("start_char"),
        F.col("end_char").cast("long").alias("end_char"),
        "confidence",
    )


def _ner_model_oracle() -> str:
    from .queries import _MENTIONS_CTE

    return (
        _MENTIONS_CTE
        + """
SELECT doc_id, entity_text, 'PERSON' AS entity_type,
       0::BIGINT AS start_char, 0::BIGINT AS end_char, 0.5::DOUBLE AS confidence
FROM mentions
"""
    )


ORACLE_SQL["ner_model_mentions"] = _ner_model_oracle()


# ---------------------------------------------------------------------------
# Multimodal lanes as driver entries: audio decode is REAL (RIFF+numpy),
# image/video are the documented deterministic stubs — all three produce
# stable outputs from pinned fixtures, so constant VALUES oracles apply
# ---------------------------------------------------------------------------


def _media_fixture(spark: SparkSession):
    import math
    import struct

    def wav(freq, rate=8000, seconds=0.25):
        n = int(rate * seconds)
        frames = b"".join(
            struct.pack("<h", int(32767 * 0.5 * math.sin(2 * math.pi * freq * i / rate)))
            for i in range(n)
        )
        fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
        chunks = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                  + b"data" + struct.pack("<I", len(frames)) + frames)
        return b"RIFF" + struct.pack("<I", len(chunks)) + chunks

    rows = [
        ("aud-440", "audio", wav(440.0), None),
        ("aud-880", "audio", wav(880.0), None),
        ("img-1", "image", b"fake-image-bytes-1", None),
        ("vid-1", "video", b"fake-video-bytes-1", 3.0),
    ]
    return spark.createDataFrame(
        rows, "media_id: string, media_type: string, payload: binary, duration_s: double"
    )


@register("audio_features", None)  # oracle (VALUES) attached below
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import extract_audio_features
    out = extract_audio_features(_media_fixture(spark))
    return out.select(
        "media_id", "sample_rate", "channels", "bits",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
    )


@register("video_frame_samples", None)  # oracle (VALUES) attached below
def q_video_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import sample_video_frames
    return sample_video_frames(_media_fixture(spark)).select(
        "media_id", "frame_index", F.round("frame_ts_s", 3).alias("frame_ts_s"),
        "frame_digest",
    )


# ---------------------------------------------------------------------------
# Corpus-level line dedup over a derived multi-line corpus: per-block shared
# header + per-doc unique soup line + corpus-wide shared footer — exercises
# first-kept / later-dropped / exempt-short behavior
# ---------------------------------------------------------------------------


@register("line_dedup", None)  # oracle below
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup_lines

    d = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.format_string(
                "block header line for %d", (F.col("doc_id") - F.col("doc_id") % 10).cast("int")
            ),
            F.lit("\n"),
            F.col("text"),
            F.lit("\nshared corpus-wide footer line\nok"),
        ).alias("text"),
    )
    return dedup_lines(d)


ORACLE_SQL["line_dedup"] = """
WITH derived AS (
  SELECT doc_id,
         printf('block header line for %d', (doc_id - doc_id % 10)::INT)
           || chr(10) || text
           || chr(10) || 'shared corpus-wide footer line' || chr(10) || 'ok' AS text
  FROM documents
),
lines AS (
  SELECT doc_id, u.i - 1 AS line_idx, u.line
  FROM derived,
       LATERAL (SELECT unnest(string_split(text, chr(10))) AS line,
                       generate_subscripts(string_split(text, chr(10)), 1) AS i) u
),
ranked AS (
  SELECT doc_id, line_idx, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
  FROM lines
),
kept AS (
  SELECT doc_id, line_idx, line FROM ranked
  WHERE length(trim(line)) < 10 OR rn = 1
)
SELECT doc_id,
       string_agg(line, chr(10) ORDER BY line_idx) AS text
FROM kept GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# URL canonicalization + dedup over derived variant urls (5 variants per
# canonical page: raw / case+fragment / default port+utm / trailing slash /
# double-utm)
# ---------------------------------------------------------------------------


@register("canonical_urls", None)  # oracle below
def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.urls import dedup_canonical_urls

    d = _load(spark, sf_dir, "documents").select("doc_id")
    g = (F.col("doc_id") / 5).cast("long")
    v = F.col("doc_id") % 5
    base = F.format_string("site%d.example/path/p%d", g, g)
    url = (
        F.when(v == 0, F.concat(F.lit("http://"), base))
        .when(v == 1, F.concat(F.lit("HTTP://"), F.upper(F.regexp_extract(base, r"^([^/]*)", 1)), F.regexp_replace(base, r"^[^/]*", ""), F.lit("#frag")))
        .when(v == 2, F.concat(F.lit("http://"), F.regexp_replace(base, r"^([^/]*)", r"$1:80"), F.lit("?utm_source=x")))
        .when(v == 3, F.concat(F.lit("http://"), base, F.lit("/")))
        .otherwise(F.concat(F.lit("http://"), base, F.lit("?utm_a=1&utm_b=2")))
    )
    # Contract transport: the gate's pandas row-sort comparator cannot
    # order list cells (unhashable) — serialize the variant array to a
    # '|'-joined string. The operator itself keeps the typed array.
    return dedup_canonical_urls(d.select(url.alias("url"))).withColumn(
        "variant_urls", F.array_join("variant_urls", "|")
    )


def _canon_sql(u: str) -> str:
    """DuckDB mirror of operators.urls.canonical_url — same lookaround-free
    patterns, RE2 replacement syntax, 'g' flag (Spark replaces all)."""
    steps = f"""
lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*)', 1))
  || regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*', '', 'g')
"""
    expr = f"({steps.strip()})"
    for pat, rep in [
        (r"#.*$", ""),
        (r"^(http://[^/:?#]*):80([/?#].*)?$", r"\1\2"),
        (r"^(https://[^/:?#]*):443([/?#].*)?$", r"\1\2"),
        (r"&(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=[^&#]*", ""),
        (r"\?(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=[^&#]*&", "?"),
        (r"\?(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=[^&#]*$", ""),
        (r"^(.*://[^/?#]+/[^?#]*[^/?#])/$", r"\1"),
        (r"^(.*://[^/?#]+/[^?#]*[^/?#])/\?", r"\1?"),
    ]:
        # DuckDB '...' literals keep backslashes verbatim (no escape layer):
        # pass the regex/replacement through untouched, only double quotes
        pat_sql = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{rep}', 'g')"
    return expr


ORACLE_SQL["canonical_urls"] = f"""
WITH derived AS (
  SELECT CASE doc_id % 5
    WHEN 0 THEN 'http://' || printf('site%d.example/path/p%d', (doc_id // 5), (doc_id // 5))
    WHEN 1 THEN 'HTTP://' || upper(printf('site%d.example', (doc_id // 5)))
                || printf('/path/p%d', (doc_id // 5)) || '#frag'
    WHEN 2 THEN 'http://' || printf('site%d.example:80/path/p%d', (doc_id // 5), (doc_id // 5))
                || '?utm_source=x'
    WHEN 3 THEN 'http://' || printf('site%d.example/path/p%d/', (doc_id // 5), (doc_id // 5))
    ELSE 'http://' || printf('site%d.example/path/p%d', (doc_id // 5), (doc_id // 5))
                || '?utm_a=1&utm_b=2'
  END AS url
  FROM documents
),
canon AS (SELECT url, trim(url) AS u0 FROM derived),
c AS (SELECT url, {_canon_sql('u0')} AS canonical_url FROM canon)
SELECT canonical_url, min(url) AS keeper_url, count(*)::BIGINT AS n_variants,
       array_to_string(list_sort(list_distinct(list(url))), '|') AS variant_urls
FROM c GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Gopher quality rules over a quality-modulated derived corpus: doc_id%4
# picks a variant (raw / long+stopworded / symbol-spammed / bullet-spammed)
# so every rule branch is exercised and value-checked
# ---------------------------------------------------------------------------


@register("gopher_quality", None)  # oracle below
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import gopher_quality

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    variant = F.col("doc_id") % 4
    derived = d.select(
        "doc_id",
        F.when(
            variant == 1,
            F.concat(
                F.col("text"), F.lit(" "), F.col("text"),
                F.lit(" the be to of and that have with"),
            ),
        )
        .when(variant == 2, F.concat(F.col("text"), F.lit(" ### ### ### ### ###")))
        .when(variant == 3, F.concat(F.col("text"), F.repeat(F.lit("\n• item"), 10)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    q = gopher_quality(derived)
    return q.select(
        "doc_id", "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("symbol_word_ratio", 6).alias("symbol_word_ratio"),
        F.round("bullet_line_frac", 6).alias("bullet_line_frac"),
        F.round("ellipsis_line_frac", 6).alias("ellipsis_line_frac"),
        F.round("alpha_word_frac", 6).alias("alpha_word_frac"),
        "n_stop_hits", "passes",
    )


_GQ_WORDS = (
    "list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0)"
)
ORACLE_SQL["gopher_quality"] = f"""
WITH derived AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 1 THEN text || ' ' || text || ' the be to of and that have with'
           WHEN 2 THEN text || ' ### ### ### ### ###'
           WHEN 3 THEN text || repeat(chr(10) || '• item', 10)
           ELSE text
         END AS text
  FROM documents
),
m AS (
  SELECT doc_id,
         {_GQ_WORDS} AS words,
         list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         len(regexp_extract_all(text, '(\\.\\.\\.|…)')) AS n_ellipsis
  FROM derived
),
agg AS (
  SELECT doc_id,
         len(words)::BIGINT AS n_words,
         list_reduce(list_prepend(0, list_transform(words, w -> length(w))),
                     (a, x) -> a + x)::DOUBLE
           / greatest(len(words), 1) AS mean_word_len,
         (n_hash + n_ellipsis)::DOUBLE / greatest(len(words), 1) AS symbol_word_ratio,
         len(list_filter(lines, l -> regexp_matches(l, '^[\\s]*[•‣▪\\-*]')))::DOUBLE
           / greatest(len(lines), 1) AS bullet_line_frac,
         len(list_filter(lines, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))::DOUBLE
           / greatest(len(lines), 1) AS ellipsis_line_frac,
         len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
           / greatest(len(words), 1) AS alpha_word_frac,
         len(list_intersect(list_distinct(list_transform(words, w -> lower(w))),
             ['the','be','to','of','and','that','have','with']))::BIGINT AS n_stop_hits
  FROM m
)
SELECT doc_id, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(symbol_word_ratio, 6) AS symbol_word_ratio,
       round(bullet_line_frac, 6) AS bullet_line_frac,
       round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
       round(alpha_word_frac, 6) AS alpha_word_frac,
       n_stop_hits,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND symbol_word_ratio <= 0.1
        AND bullet_line_frac <= 0.9
        AND ellipsis_line_frac <= 0.3
        AND alpha_word_frac >= 0.8
        AND n_stop_hits >= 2) AS passes
FROM agg
"""


# ---------------------------------------------------------------------------
# Hypertable-style multi-granularity rollup (the TimescaleDB continuous-
# aggregate shape): hour/day/month buckets in ONE scan via GROUPING SETS —
# Catalyst expands the sets with a single Expand node feeding one
# aggregation, so adding granularities does not add scans
# ---------------------------------------------------------------------------


@register("events_rollup", None)  # oracle below
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_ev_rollup")
    return spark.sql("""
        SELECT
          CASE WHEN grouping(h) = 0 THEN 'hour'
               WHEN grouping(d) = 0 THEN 'day'
               ELSE 'month' END AS granularity,
          coalesce(h, d, m) AS bucket,
          event_type,
          count(*) AS n_events,
          -- fixed-point: BIGINT sum of round(value*1e4) is order-independent
          -- across partition counts/engines (a double SUM is not, and the
          -- month bucket folds 10k addends — CLAUDE.md invariant 2)
          round(sum(v4) / CAST(10000 AS DOUBLE), 4) AS sum_value
        FROM (
          SELECT date_trunc('HOUR', ts) AS h, date_trunc('DAY', ts) AS d,
                 date_trunc('MONTH', ts) AS m, event_type,
                 CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4
          FROM _ev_rollup
        )
        GROUP BY event_type, GROUPING SETS ((h), (d), (m))
    """)


ORACLE_SQL["events_rollup"] = """
SELECT
  CASE WHEN grouping(h) = 0 THEN 'hour'
       WHEN grouping(d) = 0 THEN 'day'
       ELSE 'month' END AS granularity,
  coalesce(h, d, m) AS bucket,
  event_type,
  count(*)::BIGINT AS n_events,
  round(sum(v4) / 10000::DOUBLE, 4) AS sum_value
FROM (
  SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
         date_trunc('month', ts) AS m, event_type,
         CAST(floor(value * 10000.0 + 0.5) AS BIGINT) AS v4
  FROM events
)
GROUP BY event_type, GROUPING SETS ((h), (d), (m))
"""


# ---------------------------------------------------------------------------
# Temporal joins: as-of (events ← latest order per user) and range
# (events inside 6-hour windows anchored at sampled events). DuckDB has a
# NATIVE ASOF JOIN, so the scale-shaped union+window plan is value-pinned
# against the engine-native semantics; the range oracle is the plain
# inequality join the bin-bucketed equi-join must reproduce exactly
# ---------------------------------------------------------------------------


@register("asof_latest_order", None)  # oracle below
def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import asof_join

    events = _load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # unique (key, ts) right rows → deterministic tie-free asof on both
    # engines (DuckDB leaves equal-ts winners unspecified otherwise)
    orders = (
        _load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join(
        events, orders, key="user_id", left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_orderkey"],
    )
    return out.select(
        "event_id", "user_id",
        F.col("right_o_orderdate"), F.col("right_o_orderkey"),
    )


ORACLE_SQL["asof_latest_order"] = """
WITH r AS (
  SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       r.o_orderdate AS right_o_orderdate,
       r.o_orderkey AS right_o_orderkey
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
"""


@register("range_window_events", None)  # oracle below
def q_range_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.temporal import range_join

    events = _load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ivals = (
        events.where(F.col("event_id") % 17 == 0)
        .select(
            "user_id",
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("w_end"),
            F.col("event_id").alias("iid"),
        )
    )
    out = range_join(
        events, ivals, key="user_id", point_ts="ts",
        start_ts="w_start", end_ts="w_end",
    )
    return out.select(F.col("event_id").alias("pid"), "iid")


ORACLE_SQL["range_window_events"] = """
WITH ivals AS (
  SELECT user_id, ts AS w_start, ts + INTERVAL 6 HOUR AS w_end,
         event_id AS iid
  FROM events WHERE event_id % 17 = 0
)
SELECT e.event_id AS pid, i.iid
FROM events e JOIN ivals i
  ON e.user_id = i.user_id AND e.ts >= i.w_start AND e.ts <= i.w_end
"""


# ---------------------------------------------------------------------------
# Gopher repetition rules over a derived corpus with planted duplicate
# lines (doc_id%3 copies of a closing line) — word-soup docs already carry
# natural n-gram repetition for the gram fractions
# ---------------------------------------------------------------------------


@register("gopher_repetition", None)  # oracle below
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import gopher_repetition

    d = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.repeat(F.lit("\nrepeated closing line"), (F.col("doc_id") % 3).cast("int")),
        ).alias("text"),
    )
    r = gopher_repetition(d)
    return r.select(
        "doc_id",
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac"),
        F.round("top_2gram_frac", 6).alias("top_2gram_frac"),
        F.round("top_3gram_frac", 6).alias("top_3gram_frac"),
        F.round("dup_5gram_frac", 6).alias("dup_5gram_frac"),
        "passes",
    )


def _grep_gram_cte(n: int) -> str:
    return f"""
g{n} AS (
  SELECT w.doc_id, w.chars, u.g
  FROM words w, LATERAL (SELECT unnest(
    CASE WHEN len(ws) >= {n}
         THEN list_transform(generate_series(1, len(ws) - {n} + 1),
                             i -> array_to_string(list_slice(ws, i, i + {n} - 1), ' '))
         ELSE [] END) AS g) u
),
c{n} AS (SELECT doc_id, chars, g, count(*) AS c FROM g{n} GROUP BY 1, 2, 3),
a{n} AS (
  SELECT doc_id,
         max(c * length(g)) / any_value(chars) AS top_frac,
         sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) / any_value(chars) AS dup_frac
  FROM c{n} GROUP BY 1
)"""


ORACLE_SQL["gopher_repetition"] = f"""
WITH derived AS (
  SELECT doc_id,
         text || repeat(chr(10) || 'repeated closing line', (doc_id % 3)::INT) AS text
  FROM documents
),
words AS (
  SELECT doc_id, length(text)::DOUBLE AS chars,
         list_filter(string_split_regex(lower(text), '\\s+'), w -> length(w) > 0) AS ws,
         list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS lines
  FROM derived
),
lx AS (
  SELECT doc_id, u.line FROM words,
         LATERAL (SELECT unnest(lines) AS line) u
),
lc AS (SELECT doc_id, line, count(*) AS c FROM lx GROUP BY 1, 2),
lstat AS (
  SELECT doc_id,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE / greatest(sum(c), 1) AS dup_line_frac,
         sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END)::DOUBLE
           / greatest(sum(c * length(line)), 1) AS dup_line_char_frac
  FROM lc GROUP BY 1
),{_grep_gram_cte(2)},{_grep_gram_cte(3)},{_grep_gram_cte(5)}
SELECT w.doc_id,
       round(coalesce(l.dup_line_frac, 0), 6) AS dup_line_frac,
       round(coalesce(l.dup_line_char_frac, 0), 6) AS dup_line_char_frac,
       round(coalesce(a2.top_frac, 0), 6) AS top_2gram_frac,
       round(coalesce(a3.top_frac, 0), 6) AS top_3gram_frac,
       round(coalesce(a5.dup_frac, 0), 6) AS dup_5gram_frac,
       (coalesce(l.dup_line_frac, 0) <= 0.30
        AND coalesce(l.dup_line_char_frac, 0) <= 0.20
        AND coalesce(a2.top_frac, 0) <= 0.20
        AND coalesce(a3.top_frac, 0) <= 0.18
        AND coalesce(a5.dup_frac, 0) <= 0.15) AS passes
FROM words w
LEFT JOIN lstat l USING (doc_id)
LEFT JOIN a2 USING (doc_id)
LEFT JOIN a3 USING (doc_id)
LEFT JOIN a5 USING (doc_id)
"""


# ---------------------------------------------------------------------------
# PII detection over a PII-planted derived corpus (doc_id%5 variants:
# clean / emails / phones / ssn+ip / valid-and-invalid card) — the Luhn
# fold runs natively on Spark and is mirrored digit-for-digit in DuckDB
# ---------------------------------------------------------------------------


@register("pii_scan", None)  # oracle below
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pii import detect_pii

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    v = F.col("doc_id") % 5
    derived = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(v == 1, F.lit(" contact alice@example.com or bob.smith@mail.example.org"))
            .when(v == 2, F.lit(" call (415) 555-2671 or +1 415-555-0100"))
            .when(v == 3, F.lit(" ssn 123-45-6789 from host 192.168.10.20"))
            .when(v == 4, F.lit(" card 4111 1111 1111 1111 and fake 4111-1111-1111-1112"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return detect_pii(derived)


_PII_CARD = r"\b(?:\d[ \-]?){12,15}\d\b"
_PII_LUHN = """
list_filter(regexp_extract_all(text, '{card}'), c ->
  length(regexp_replace(c, '[^0-9]', '', 'g')) >= 13
  AND list_reduce(list_prepend(0, list_transform(
        generate_series(1, length(regexp_replace(c, '[^0-9]', '', 'g'))),
        i -> CASE WHEN i % 2 = 0
               THEN CASE WHEN array_extract(string_split(reverse(regexp_replace(c, '[^0-9]', '', 'g')), ''), i)::INT * 2 > 9
                    THEN array_extract(string_split(reverse(regexp_replace(c, '[^0-9]', '', 'g')), ''), i)::INT * 2 - 9
                    ELSE array_extract(string_split(reverse(regexp_replace(c, '[^0-9]', '', 'g')), ''), i)::INT * 2 END
               ELSE array_extract(string_split(reverse(regexp_replace(c, '[^0-9]', '', 'g')), ''), i)::INT END)),
      (a, x) -> a + x) % 10 = 0)
""".replace("{card}", _PII_CARD)

ORACLE_SQL["pii_scan"] = f"""
WITH derived AS (
  SELECT doc_id,
         text || CASE doc_id % 5
           WHEN 1 THEN ' contact alice@example.com or bob.smith@mail.example.org'
           WHEN 2 THEN ' call (415) 555-2671 or +1 415-555-0100'
           WHEN 3 THEN ' ssn 123-45-6789 from host 192.168.10.20'
           WHEN 4 THEN ' card 4111 1111 1111 1111 and fake 4111-1111-1111-1112'
           ELSE ''
         END AS text
  FROM documents
),
m AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}'))::BIGINT AS n_email,
         len(regexp_extract_all(text, '\\b(?:\\+?1[-. ]?)?\\(?\\d{{3}}\\)?[-. ]?\\d{{3}}[-. ]?\\d{{4}}\\b'))::BIGINT AS n_phone,
         len(regexp_extract_all(text, '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b'))::BIGINT AS n_ssn,
         len(regexp_extract_all(text, '\\b(?:\\d{{1,3}}\\.){{3}}\\d{{1,3}}\\b'))::BIGINT AS n_ipv4,
         len({_PII_LUHN})::BIGINT AS n_card_valid
  FROM derived
)
SELECT doc_id, n_email, n_phone, n_ssn, n_ipv4, n_card_valid,
       (n_email + n_phone + n_ssn + n_ipv4 + n_card_valid) > 0 AS has_pii
FROM m
"""


# ---------------------------------------------------------------------------
# Distributed betweenness + LPA communities over a deterministic fixture
# graph (two cliques + a bridge path + seeded extra edges): fixture-based
# like format_extracts so the pinned oracles hold at every SF
# ---------------------------------------------------------------------------


def _fixture_graph(spark: SparkSession) -> DataFrame:
    import random

    rng = random.Random(17)
    nodes = [f"n{i:02d}" for i in range(24)]
    pairs = set()
    for base in (0, 12):  # two 5-cliques
        for i in range(5):
            for j in range(i + 1, 5):
                pairs.add((nodes[base + i], nodes[base + j]))
    for i in range(5, 12):  # bridge path n04..n05..n11..n12
        pairs.add((nodes[i - 1], nodes[i]))
    pairs.add((nodes[11], nodes[12]))
    while len(pairs) < 40:  # seeded extra edges
        a, b = rng.sample(nodes, 2)
        if a > b:
            a, b = b, a
        pairs.add((a, b))
    return spark.createDataFrame(
        [(a, b, 1) for a, b in sorted(pairs)],
        "entity_a: string, entity_b: string, co_occurrence_count: long",
    )


@register("graph_betweenness", None)  # oracle (VALUES) attached below
def q_graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-parallel distributed betweenness (operators.graph) on the
    fixture graph, top 10 — scores are exact transit counts / norm
    (deterministic under any partitioning; ties rank by node)."""
    from .operators.graph import betweenness_distributed

    out = betweenness_distributed(_fixture_graph(spark))
    return out.select("node", F.round("score", 6).alias("score"), "rank")


@register("graph_communities", None)  # oracle (VALUES) attached below
def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities on the fixture graph, reported as
    (community, size) — deterministic by the self-damped min-label LPA."""
    from .operators.graph import label_propagation_communities

    out = label_propagation_communities(_fixture_graph(spark))
    return out.groupBy("community").agg(F.count(F.lit(1)).alias("size"))


ORACLE_SQL["graph_betweenness"] = """
SELECT * FROM (VALUES
  ('n04', 1.552381::DOUBLE, 1),
  ('n12', 1.342857::DOUBLE, 2),
  ('n01', 0.552381::DOUBLE, 3),
  ('n08', 0.552381::DOUBLE, 4),
  ('n09', 0.47619::DOUBLE, 5),
  ('n07', 0.390476::DOUBLE, 6),
  ('n05', 0.371429::DOUBLE, 7),
  ('n11', 0.304762::DOUBLE, 8),
  ('n10', 0.285714::DOUBLE, 9),
  ('n17', 0.285714::DOUBLE, 10)
) AS fx(node, score, rank)
"""

ORACLE_SQL["graph_communities"] = """
SELECT * FROM (VALUES
  ('n00', 7::BIGINT),
  ('n04', 6::BIGINT),
  ('n09', 4::BIGINT),
  ('n12', 5::BIGINT)
) AS fx(community, size)
"""


# ---------------------------------------------------------------------------
# The composed webtext preparation chain over deterministic fixture pages:
# url-variant pair, exact-dup pair, near-dup pair, shared footer line,
# link farm, low-quality page — every stage must fire
# ---------------------------------------------------------------------------

_WT_FOOTER = "subscribe to our newsletter for the latest updates today"
_WT_ALPHA = (
    "the alpha system describes how distributed replication keeps logs "
    "consistent and safe across failures. leaders coordinate followers with "
    "quorum votes so that commits have durable majorities behind them. "
    "snapshots compact the log when it grows beyond a bound. reads can be "
    "served from followers that hold fresh leases. the protocol tolerates "
    "partitions and recovers quickly after the network heals again."
)
_WT_BETA = (
    "the beta pipeline ingests raw measurements from field sensors and "
    "normalizes units before storage. calibration tables map device codes "
    "onto physical ranges so that engineers have trustworthy numbers. "
    "anomalies trigger alerts with full context attached. operators review "
    "weekly summaries that highlight drift and degradation. maintenance "
    "windows are scheduled when the evidence supports intervention."
)
_WT_GAMMA = (
    "the gamma archive preserves scanned manuscripts with careful metadata "
    "about provenance and condition. curators describe each item so that "
    "researchers have reliable context for interpretation. imaging captures "
    "fine detail under controlled lighting. storage vaults regulate humidity "
    "and temperature around the collections. access policies balance "
    "preservation against the needs of active scholarship today."
)


def _wt_page(body_paras: list[str]) -> str:
    paras = "".join(f"<p>{p}</p>" for p in body_paras)
    return (
        "<html><body>"
        '<div id="nav"><ul><li><a href="/">Home</a></li>'
        '<li><a href="/about">About page</a></li></ul></div>'
        f"<article>{paras}</article>"
        f"<p>{_WT_FOOTER}</p>"
        "</body></html>"
    )


_WEBTEXT_PAGES = [
    ("https://w/a", _wt_page([_WT_ALPHA])),
    ("https://w/a2", _wt_page([_WT_ALPHA])),  # exact dup of /a
    ("https://w/a3", _wt_page([_WT_ALPHA + " a closing remark restates the "
                               "main replication claims concisely."])),  # near-dup
    ("https://w/b", _wt_page([_WT_BETA])),    # shares only the footer line
    ("https://w/c", _wt_page([_WT_GAMMA])),
    ("https://w/c?utm_source=x", _wt_page([_WT_GAMMA])),  # url variant of /c
    ("https://w/d", "<html><body>"
     + "".join(f'<p><a href="/l{i}">link target number {i}</a></p>'
               for i in range(6)) + "</body></html>"),    # link farm
    ("https://w/e", "<html><body><p>far too short to pass the quality "
     "gate</p></body></html>"),
]


@register("webtext_prep", None)  # oracle (VALUES) attached below
def q_webtext_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composed chain (operators.webtext): url dedup → main
    content → Gopher gate → exact dedup → MinHash-LSH near-dup → line
    dedup. Expected survivors: /a (full, keeps the shared footer), /b
    (footer line deduped away), /c (variant url collapsed). /a2 exact-dup,
    /a3 near-dup, /d link farm, /e low quality all drop. Pinned VALUES
    oracle (deterministic fixtures; each stage separately oracle-gated by
    its own entry)."""
    from .operators.webtext import prepare_webtext_corpus
    pages = spark.createDataFrame(_WEBTEXT_PAGES, "url string, html string")
    out = prepare_webtext_corpus(pages)
    return out.select(
        "url", F.length("text").cast("long").alias("n_chars"),
        F.sha2("text", 256).alias("text_sha"),
    )


ORACLE_SQL["webtext_prep"] = """
SELECT * FROM (VALUES
  ('https://w/a', 461::BIGINT,
   '70e65e4017763669391084cc2d503ac8af88c3a6de4f3b1abebf11309353a174'),
  ('https://w/b', 400::BIGINT,
   '7ef16ca4216f926f532881a131bade28ba7c59c2d38ee834390a8e37199fa231'),
  ('https://w/c', 405::BIGINT,
   '259cc2ad9bdf702b7548d27a75fe03dc6690ebe6b618227a96fb02d10741b9d5')
) AS fx(url, n_chars, text_sha)
"""


_BOILER_PAGES = [
    (
        "https://fx/article",
        "<html><head><title>T</title><script>var x=1;</script></head><body>"
        '<div id="nav"><ul><li><a href="/">Home</a></li>'
        '<li><a href="/b">Blog</a></li><li><a href="/c">Contact page</a></li>'
        "</ul></div><article><h1>The Article Title Goes Here</h1>"
        "<p>This is the first real paragraph of the article with plenty of "
        "textual content to pass the threshold easily.</p>"
        "<p>Short link.</p>"
        "<p>Another long paragraph of genuine article content that definitely "
        "exceeds twenty five characters in length.</p>"
        '<p>See <a href="/r1">reference one</a> and <a href="/r2">reference '
        "two</a> plus barely any text.</p></article>"
        '<div class="footer"><a href="/tos">Terms of service</a> | '
        '<a href="/priv">Privacy policy</a></div></body></html>',
    ),
    (
        "https://fx/cjk",
        "<html><body><p>深圳全年气候温和这是一段足够长的正文内容用于测试字符阈值逻辑是否正确工作</p>"
        '<p><a href="/n1">导航一</a><a href="/n2">导航二</a></p></body></html>',
    ),
    (
        "https://fx/linkfarm",
        "<html><body>"
        + "".join(f'<p><a href="/l{i}">link target number {i}</a></p>' for i in range(8))
        + "</body></html>",
    ),
]


@register("main_content", None)  # oracle (VALUES) attached below
def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star boilerplate lane driver gate: flattened-DOM node table +
    native density scoring over deterministic fixture pages. The article
    page keeps heading + paragraphs (incl. the window-rescued short one)
    and drops nav/footer/link-dense blocks; the CJK page passes char-based
    thresholds without whitespace tokens; the link farm produces NO row
    (every block is link-saturated). Pinned VALUES oracle (sha256 of the
    extracted main text, the format_extracts pattern)."""
    from .operators.boilerplate import extract_main_content
    pages = spark.createDataFrame(_BOILER_PAGES, "url string, html string")
    out = extract_main_content(pages)
    return out.select(
        "url", "n_blocks", "n_chars", F.sha2("main_text", 256).alias("text_sha")
    )


ORACLE_SQL["main_content"] = """
SELECT * FROM (VALUES
  ('https://fx/article', 4, 259::BIGINT,
   'ec3367b8351077b14c93e1fa418c0c48403afdbbf918998bed494036818be765'),
  ('https://fx/cjk', 1, 36::BIGINT,
   'df61b86dbe2c1e0eae98f018748690783e4f1228c1743d7d48d6ae5cb52c0c09')
) AS fx(url, n_blocks, n_chars, text_sha)
"""


def _image_fixture(spark: SparkSession):
    """Deterministic gradient image, encoded as PNG and as BMP (same
    pixels), plus a junk row that must quarantine — exercises the REAL
    stdlib decode lane (zlib PNG unfilter / BMP) end to end."""
    import numpy as np

    from .operators.multimodal import encode_bmp, encode_png

    w, h = 12, 8
    x = np.arange(w, dtype=np.uint8)
    r = np.tile(x * 20, (h, 1))
    g = np.tile((np.arange(h, dtype=np.uint8) * 30)[:, None], (1, w))
    b = np.full((h, w), 7, dtype=np.uint8)
    arr = np.stack([r, g, b], axis=2)
    rows = [
        ("img-png", "image", encode_png(arr), None),
        ("img-bmp", "image", encode_bmp(arr), None),
        ("img-junk", "image", b"\xff\xd8not-really-jpeg", None),
    ]
    return spark.createDataFrame(
        rows, "media_id: string, media_type: string, payload: binary, duration_s: double"
    )


@register("image_features", None)  # oracle (VALUES) attached below
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 image lane, driver-checked: gradient PNG and BMP of the SAME
    pixels must decode through the stdlib lane to identical dims and
    identical grayscale/Otsu stats (image_worker.py:212-687 semantics);
    the junk row quarantines. Values pinned (numpy arithmetic on a
    deterministic fixture, like the audio_features WAV pins)."""
    from .operators.multimodal import extract_image_features
    out = extract_image_features(_image_fixture(spark))
    f = lambda i: F.round(F.element_at("feature", i), 6)  # noqa: E731
    return out.where(F.col("error").isNull()).select(
        "media_id", "width", "height",
        f(1).alias("f_mean"), f(2).alias("f_std"), f(3).alias("f_min"),
        f(4).alias("f_max"), f(5).alias("f_median"), f(6).alias("f_otsu"),
        f(7).alias("f_fg"), f(8).alias("f_aspect"),
    )


ORACLE_SQL["image_features"] = """
SELECT * FROM (VALUES
  ('img-png', 12, 8, 0.373815::DOUBLE, 0.177599::DOUBLE, 0.003922::DOUBLE,
   0.745098::DOUBLE, 0.372549::DOUBLE, 0.376471::DOUBLE, 0.479167::DOUBLE,
   0.375::DOUBLE),
  ('img-bmp', 12, 8, 0.373815::DOUBLE, 0.177599::DOUBLE, 0.003922::DOUBLE,
   0.745098::DOUBLE, 0.372549::DOUBLE, 0.376471::DOUBLE, 0.479167::DOUBLE,
   0.375::DOUBLE)
) AS fx(media_id, width, height, f_mean, f_std, f_min, f_max, f_median,
        f_otsu, f_fg, f_aspect)
"""

ORACLE_SQL["audio_features"] = """
SELECT * FROM (VALUES
  ('aud-440', 8000, 1, 16, 0.25::DOUBLE, 0.353526::DOUBLE, 0.499969::DOUBLE),
  ('aud-880', 8000, 1, 16, 0.25::DOUBLE, 0.353529::DOUBLE, 0.499969::DOUBLE)
) AS fx(media_id, sample_rate, channels, bits, duration_s, rms, peak)
"""

ORACLE_SQL["video_frame_samples"] = """
SELECT * FROM (VALUES
  ('vid-1', 0, 0.0::DOUBLE, '2d04d7c8deec039e'),
  ('vid-1', 1, 1.0::DOUBLE, '5cc43f682efde440'),
  ('vid-1', 2, 2.0::DOUBLE, '8eccf614ef66e540')
) AS fx(media_id, frame_index, frame_ts_s, frame_digest)
"""


# ---------------------------------------------------------------------------
# T3 four-arm temporal conflict detector (conflicts.py:38-404) on a
# deterministic 200-event fixture derived from documents.doc_id — both
# engines synthesize the identical event table, so every arm
# (contradiction / inconsistency / gap / overlap) is value-checked.
# ---------------------------------------------------------------------------

_CONFLICT_VOCAB = [
    "filed", "signed", "met", "agreed", "report", "deal", "acme", "case",
    "court", "delayed", "hearing", "witness", "later", "after", "then",
    "board", "review", "audit", "notice", "claim",
]


def _conflict_events_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = F.array(*[F.lit(w) for w in _CONFLICT_VOCAB])
    d = (
        _load(spark, sf_dir, "documents")
        .select("doc_id")
        .where(F.col("doc_id") < 200)
    )

    def w(mult: int, add: int):
        return F.element_at(
            vocab, ((F.col("doc_id") * mult + add) % 20 + 1).cast("int")
        )

    days = F.when(F.col("doc_id") == 77, F.lit(470)).otherwise(
        (F.col("doc_id") * 17 + 2) % 120
    )
    e1 = F.when(
        F.col("doc_id") % 3 > 0,
        F.concat(F.lit("E"), ((F.col("doc_id") * 3 + 1) % 5).cast("string")),
    )
    e2 = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(F.lit("F"), ((F.col("doc_id") * 7 + 2) % 3).cast("string")),
    )
    return d.select(
        F.col("doc_id").alias("ord"),
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("id"),
        # modulus 7: date equality in this fixture needs doc_id delta 120,
        # and 120 % 7 != 0 keeps such pairs in DIFFERENT documents so the
        # overlap arm fires (mod 10 would silence it)
        F.concat(F.lit("d"), (F.col("doc_id") % 7).cast("string")).alias(
            "document_id"
        ),
        F.concat_ws(" ", w(7, 3), w(11, 5), w(13, 8)).alias("text"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), days.cast("int")
        ).alias("date_start"),
        (F.lit(0.30) + (F.col("doc_id") % 66) / F.lit(100.0)).alias(
            "confidence"
        ),
        F.array_compact(F.array(e1, e2)).alias("entities"),
        F.when(
            F.col("doc_id") % 4 != 0, (F.col("doc_id") * 29 + 1) % 499
        ).cast("long").alias("pos"),
    )


@register("temporal_conflicts", None)  # oracle below
def q_temporal_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.conflicts import detect_temporal_conflicts

    ev = _conflict_events_spark(spark, sf_dir)
    out = detect_temporal_conflicts(ev)
    return out.select(
        "conflict_type", "severity", "event1_id", "event2_id", "doc1",
        "doc2",
        F.coalesce("entity_id", sentinel("string")).alias("entity_id"),
        "description",
        F.col("suggested_resolution").alias("resolution"),
        *[F.coalesce(F.col(c).cast("long"), sentinel("bigint")).alias(c)
          for c in ("date_diff_days", "gap_days", "median_gap")],
        F.coalesce("text1", sentinel("string")).alias("text1"),
        F.coalesce("text2", sentinel("string")).alias("text2"),
    )


_VOCAB_SQL = "[" + ", ".join(f"'{w}'" for w in _CONFLICT_VOCAB) + "]"

ORACLE_SQL["temporal_conflicts"] = f"""
WITH v AS (SELECT {_VOCAB_SQL} AS w),
ev AS (
  SELECT doc_id AS ord,
         'e' || doc_id::VARCHAR AS id,
         'd' || (doc_id % 7)::VARCHAR AS document_id,
         w[((doc_id*7+3) % 20 + 1)::INT] || ' ' ||
         w[((doc_id*11+5) % 20 + 1)::INT] || ' ' ||
         w[((doc_id*13+8) % 20 + 1)::INT] AS text,
         DATE '2024-01-01' + (CASE WHEN doc_id = 77 THEN 470
                              ELSE (doc_id*17+2) % 120 END)::INT AS date_start,
         0.30::DOUBLE + (doc_id % 66)/100.0::DOUBLE AS confidence,
         list_filter([
           CASE WHEN doc_id % 3 > 0 THEN 'E' || ((doc_id*3+1) % 5)::VARCHAR END,
           CASE WHEN doc_id % 5 = 0 THEN 'F' || ((doc_id*7+2) % 3)::VARCHAR END
         ], x -> x IS NOT NULL) AS entities,
         CASE WHEN doc_id % 4 <> 0 THEN (doc_id*29+1) % 499 END AS pos
  FROM documents, v WHERE doc_id < 200
),
evr AS (SELECT *, min(ord) OVER (PARTITION BY document_id) AS doc_rank FROM ev),
ent AS (SELECT ord, doc_rank, unnest(entities) AS e FROM evr),
words AS (
  SELECT ord, doc_rank, w FROM (
    SELECT ord, doc_rank,
           unnest(list_distinct(string_split(lower(text), ' '))) AS w
    FROM evr
  ) WHERE length(w) > 0
),
cand AS (
  SELECT a.ord AS ord_a, b.ord AS ord_b
  FROM ent a JOIN ent b ON a.e = b.e AND a.doc_rank < b.doc_rank
  UNION
  SELECT ord_a, ord_b FROM (
    SELECT a.ord AS ord_a, b.ord AS ord_b, count(*) AS n
    FROM words a JOIN words b ON a.w = b.w AND a.doc_rank < b.doc_rank
    GROUP BY 1, 2
  ) WHERE n >= 2
  UNION
  SELECT a.ord, b.ord FROM evr a JOIN evr b
    ON a.doc_rank < b.doc_rank
   AND abs(datediff('day', b.date_start, a.date_start)) <= 7
),
contra AS (
  SELECT 'contradiction' AS conflict_type,
         CASE WHEN (x.confidence + y.confidence)/2 > 0.9
                   AND abs(datediff('day', y.date_start, x.date_start)) > 30
              THEN 'critical'
              WHEN abs(datediff('day', y.date_start, x.date_start)) > 90
              THEN 'high'
              WHEN abs(datediff('day', y.date_start, x.date_start)) > 7
              THEN 'medium'
              ELSE 'low' END AS severity,
         x.id AS event1_id, y.id AS event2_id,
         x.document_id AS doc1, y.document_id AS doc2,
         NULL::VARCHAR AS entity_id,
         'Contradictory dates: Event in ' || x.document_id || ' claims ' ||
         x.date_start::VARCHAR || ', but event in ' || y.document_id ||
         ' claims ' || y.date_start::VARCHAR AS description,
         'verify_source' AS resolution,
         abs(datediff('day', y.date_start, x.date_start))::BIGINT
           AS date_diff_days,
         NULL::BIGINT AS gap_days, NULL::BIGINT AS median_gap,
         x.text AS text1, y.text AS text2
  FROM cand c JOIN evr x ON c.ord_a = x.ord JOIN evr y ON c.ord_b = y.ord
  WHERE abs(datediff('day', y.date_start, x.date_start)) > 0
),
ibase AS (
  SELECT *, lag(id) OVER iw AS prev_id, lag(date_start) OVER iw AS prev_date,
         lag(text) OVER iw AS prev_text
  FROM evr WHERE pos IS NOT NULL
  WINDOW iw AS (PARTITION BY document_id ORDER BY pos, ord)
),
incons AS (
  SELECT 'inconsistency' AS conflict_type, 'medium' AS severity,
         prev_id AS event1_id, id AS event2_id,
         document_id AS doc1, document_id AS doc2,
         NULL::VARCHAR AS entity_id,
         'Inconsistent sequence: Event 2 appears to be after Event 1 but has earlier date ('
         || date_start::VARCHAR || ' vs ' || prev_date::VARCHAR || ')'
           AS description,
         'review_context' AS resolution,
         NULL::BIGINT AS date_diff_days, NULL::BIGINT AS gap_days,
         NULL::BIGINT AS median_gap, prev_text AS text1, text AS text2
  FROM ibase
  WHERE prev_id IS NOT NULL AND date_start < prev_date AND (
    lower(text) LIKE '%later%' OR lower(text) LIKE '%after%'
    OR lower(text) LIKE '%following%' OR lower(text) LIKE '%next%'
    OR lower(text) LIKE '%then%')
),
gadj AS (
  SELECT id, ord, document_id, date_start,
         lag(id) OVER gw AS prev_id, lag(date_start) OVER gw AS prev_date,
         lag(document_id) OVER gw AS prev_doc,
         count(*) OVER () AS n_ev
  FROM evr WINDOW gw AS (ORDER BY date_start, ord)
),
g2 AS (
  SELECT *, datediff('day', prev_date, date_start) AS gap_days FROM gadj
  WHERE prev_id IS NOT NULL AND n_ev >= 3
),
gmed AS (
  SELECT gap_days AS median_gap FROM (
    SELECT gap_days, row_number() OVER (ORDER BY gap_days) AS rn,
           count(*) OVER () AS n
    FROM g2
  ) WHERE rn = n // 2 + 1
),
gaps AS (
  SELECT 'gap' AS conflict_type, 'low' AS severity,
         prev_id AS event1_id, id AS event2_id,
         prev_doc AS doc1, document_id AS doc2,
         NULL::VARCHAR AS entity_id,
         'Unexpected ' || gap_days::VARCHAR || '-day gap between events ('
         || prev_date::VARCHAR || ' to ' || date_start::VARCHAR || ')'
           AS description,
         'check_for_missing_data' AS resolution,
         NULL::BIGINT AS date_diff_days, gap_days::BIGINT AS gap_days,
         median_gap::BIGINT AS median_gap,
         NULL::VARCHAR AS text1, NULL::VARCHAR AS text2
  FROM g2, gmed WHERE gap_days > median_gap*3 AND gap_days > 30
),
ent2 AS (
  SELECT ord, id, document_id, date_start, text, unnest(entities) AS e
  FROM evr
),
overl AS (
  SELECT 'overlap' AS conflict_type, 'low' AS severity,
         a.id AS event1_id, b.id AS event2_id,
         a.document_id AS doc1, b.document_id AS doc2,
         a.e AS entity_id,
         'Potentially overlapping events for entity ' || a.e || ' around '
         || a.date_start::VARCHAR AS description,
         'review_compatibility' AS resolution,
         NULL::BIGINT AS date_diff_days, NULL::BIGINT AS gap_days,
         NULL::BIGINT AS median_gap, a.text AS text1, b.text AS text2
  FROM ent2 a JOIN ent2 b
    ON a.e = b.e AND a.ord < b.ord
   AND a.document_id <> b.document_id
   AND a.date_start = b.date_start
),
allc AS (
  SELECT * FROM contra UNION ALL SELECT * FROM incons
  UNION ALL SELECT * FROM gaps UNION ALL SELECT * FROM overl
)
SELECT conflict_type, severity, event1_id, event2_id, doc1, doc2,
       coalesce(entity_id, '<na>') AS entity_id, description, resolution,
       coalesce(date_diff_days, -424242)::BIGINT AS date_diff_days,
       coalesce(gap_days, -424242)::BIGINT AS gap_days,
       coalesce(median_gap, -424242)::BIGINT AS median_gap,
       coalesce(text1, '<na>') AS text1, coalesce(text2, '<na>') AS text2
FROM allc
"""


@register("ann_ivf_filtered", None)  # recall oracle below (pinned floor)
def q_ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-filtered IVF ANN (vectors.py:856-934, filter arm
    :920-925): metadata predicate + probe pruning applied before the
    distance math (see ivf_probe docstring; plan-verified in
    tests/test_bucketing.py). Recall gate: with category = vec_id % 2
    and the filter category = 1, the query's odd planted clones
    (vec_ids 1/3/5/7/9, within 0.9% of vec 0) are the exact filtered
    top-5; they share the query's inverted list for any KMeans init and
    n_probe=4 of 16 always covers it, so ≥4/5 is robust."""
    from .operators.similarity import brute_force_topk, fit_ivf, ivf_probe

    d = _derived_emb(spark, sf_dir).withColumn(
        "category", (F.col("vec_id") % 2).cast("int")
    )
    emb = _load(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    pool = d.where(F.col("vec_id") != 0)
    centers, assigned = fit_ivf(pool, carry_cols=["category"])
    pred = F.col("category") == 1
    ann = ivf_probe(
        assigned, centers, qv, k=5, n_probe=4, predicate=pred
    ).select("vec_id")
    exact = brute_force_topk(pool.where(pred), qv, k=5).select("vec_id")
    return exact.join(ann, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    ).select(
        F.lit(5).cast("long").alias("k"),
        (F.col("n_hits") >= 4).alias("recall_ok"),
    )


ORACLE_SQL["ann_ivf_filtered"] = "SELECT 5::BIGINT AS k, true AS recall_ok"


@register("content_anomaly", None)  # oracle below
def q_content_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 detect_content_anomalies, reference-faithful (detector.py:
    64-137) over the clone corpus plus five ISOLATED sign-flipped
    vectors: every clone-decad member has a near-duplicate (min_dist ≈
    0 → unflagged), the isolated rows' nearest neighbor is a random
    direction (min_dist well above the 0.5 gate threshold — the
    reference's configurable min_cluster_distance arm; the z arm is
    structurally ≤ 0, the reference's own quirk). The oracle recomputes
    the per-doc distance moments by brute-force pairs; the operator
    never materializes a pair for mean/std (Gram closed form)."""
    from .operators.anomalies import content_anomalies

    d = _derived_emb(spark, sf_dir).where(F.col("vec_id") < 200)
    iso = (
        _load(spark, sf_dir, "embeddings")
        .where(F.col("vec_id").isin([1, 13, 27, 41, 55]))
        .select(
            (F.col("vec_id") + 9000).alias("vec_id"),
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                F.sequence(F.lit(0), F.lit(63)),
                lambda x, j: x * F.when(j % 2 == 0, 1.0).otherwise(-1.0),
            ).alias("embedding"),
        )
    )
    emb = d.unionByName(iso)
    out = content_anomalies(emb, min_cluster_distance=0.5)
    return out.select(
        "vec_id",
        F.round("min_dist", 6).alias("min_dist"),
        F.round("mean_dist", 6).alias("mean_dist"),
        F.round("std_dist", 6).alias("std_dist"),
        F.round("z_score", 4).alias("z_score"),
        "severity",
        F.round("confidence", 6).alias("confidence"),
    )


ORACLE_SQL["content_anomaly"] = f"""
WITH derived AS ({_DERIVED_EMB_SQL}),
base AS (
  SELECT vec_id, v FROM derived WHERE vec_id < 200
  UNION ALL
  SELECT vec_id + 9000,
         list_transform(generate_series(1, 64),
           j -> embedding[j]::DOUBLE
                * (CASE WHEN (j - 1) % 2 = 0 THEN 1.0 ELSE -1.0 END))
  FROM embeddings WHERE vec_id IN (1, 13, 27, 41, 55)
),
cosines AS (
  SELECT a.vec_id AS id, {_sql_cos('a.v', 'b.v')} AS c
  FROM base a JOIN base b ON a.vec_id <> b.vec_id
),
moments AS (
  SELECT id,
         1 - max(c) AS min_dist,
         1 - avg(c) AS mean_dist,
         stddev_pop(c) AS std_dist
  FROM cosines GROUP BY 1
),
z AS (
  SELECT id, min_dist, mean_dist, std_dist,
         CASE WHEN std_dist > 0
              THEN (min_dist - mean_dist) / std_dist
              ELSE 0.0 END AS z_score
  FROM moments
)
SELECT id AS vec_id,
       round(min_dist, 6)::DOUBLE AS min_dist,
       round(mean_dist, 6)::DOUBLE AS mean_dist,
       round(std_dist, 6)::DOUBLE AS std_dist,
       round(z_score, 4)::DOUBLE AS z_score,
       CASE WHEN z_score >= 6.0 THEN 'critical'
            WHEN z_score >= 4.5 THEN 'high'
            WHEN z_score >= 3.0 THEN 'medium'
            ELSE 'low' END AS severity,
       round(least(1.0, z_score / 5.0), 6)::DOUBLE AS confidence
FROM z
WHERE z_score > 3.0 OR min_dist > 0.5
"""


@register("red_flags_ref", None)  # oracle below
def q_red_flags_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 detect_red_flags, reference-faithful arms (detector.py:45-62,
    211-319) over injected fixture content: doc_id%5 picks the planted
    arm (12 money refs / 16 dates / 25 unique names / 2 sensitive
    keywords / nothing); the soup base text is lowercase and digit-free
    so the planted counts are exact, but both engines regex the full
    text anyway."""
    from .operators.anomalies import red_flags

    docs = _load(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    firsts = F.array(*[F.lit(x) for x in
                       ["Alice", "Brian", "Carol", "David", "Emma"]])
    lasts = F.array(*[F.lit(x) for x in
                      ["Moore", "Neal", "Owens", "Price", "Quinn"]])
    names = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(24)),
            lambda k: F.concat(
                F.lit(" "),
                F.element_at(firsts, (k % 5 + 1).cast("int")),
                F.lit(" "),
                F.element_at(lasts, (F.floor(k / 5) + 1).cast("int")),
            ),
        ),
        "",
    )
    suffix = (
        F.when(i % 5 == 1, F.repeat(F.lit(" $1,234.56"), 12))
        .when(i % 5 == 2, F.repeat(F.lit(" 12/31/2024"), 16))
        .when(i % 5 == 3, names)
        .when(i % 5 == 4, F.lit(" confidential proprietary"))
        .otherwise(F.lit(""))
    )
    injected = docs.where(i < 200).select(
        "doc_id", F.concat(F.col("text"), suffix).alias("text")
    )
    return red_flags(injected).select(
        "doc_id", "pattern_type",
        F.round("score", 4).alias("score"),
        "severity",
        F.round("confidence", 6).alias("confidence"),
    )


ORACLE_SQL["red_flags_ref"] = r"""
WITH base AS (
  SELECT doc_id, text,
         CASE doc_id % 5
           WHEN 1 THEN repeat(' $1,234.56', 12)
           WHEN 2 THEN repeat(' 12/31/2024', 16)
           WHEN 3 THEN array_to_string(list_transform(
             generate_series(0, 24),
             k -> ' ' || ['Alice','Brian','Carol','David','Emma']
                         [(k % 5 + 1)::INT]
                  || ' ' || ['Moore','Neal','Owens','Price','Quinn']
                            [(k // 5 + 1)::INT]), '')
           WHEN 4 THEN ' confidential proprietary'
           ELSE '' END AS suffix
  FROM documents WHERE doc_id < 200
),
t AS (SELECT doc_id, text || suffix AS text FROM base),
counts AS (
  SELECT doc_id,
         len(regexp_extract_all(text,
           '\$\s*\d+(?:,\d{3})*(?:\.\d{2})?|\d+(?:,\d{3})*(?:\.\d{2})?\s*(?:USD|EUR|GBP|dollars?|euros?|pounds?)',
           0, 'i')) AS money,
         len(regexp_extract_all(text,
           '\b\d{1,2}[/-]\d{1,2}[/-]\d{2,4}\b|\b(?:Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)[a-z]*\s+\d{1,2},?\s+\d{4}\b',
           0, 'i')) AS dates,
         len(list_distinct(regexp_extract_all(text,
           '\b[A-Z][a-z]+\s+[A-Z][a-z]+\b', 0))) AS names,
         len(list_filter(
           ['confidential','secret','classified','private','restricted',
            'internal only','do not distribute','proprietary',
            'privileged'],
           k -> contains(lower(text), k))) AS kw
  FROM t
)
SELECT doc_id, 'money' AS pattern_type,
       round(money::DOUBLE, 4) AS score, 'high' AS severity,
       0.9::DOUBLE AS confidence
FROM counts WHERE money > 10
UNION ALL
SELECT doc_id, 'dates', round(dates::DOUBLE, 4), 'medium', 0.8::DOUBLE
FROM counts WHERE dates > 15
UNION ALL
SELECT doc_id, 'names', round(names::DOUBLE, 4), 'medium', 0.7::DOUBLE
FROM counts WHERE names > 20
UNION ALL
SELECT doc_id, 'sensitive_keywords', round(kw::DOUBLE, 4), 'critical',
       1.0::DOUBLE
FROM counts WHERE kw > 0
"""


@register("ivf_tuning", None)  # oracle below
def q_ivf_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF maintenance math (vectors.py:469-488 + vector_maintenance.py:
    441-528) over a catalog fixture spanning all three lists regimes
    (<1000 / <1M / ≥1M vectors), unset-lists and empty collections, and
    reindex ages straddling the 14-day gate (clock pinned 2026-06-15)."""
    from .operators.similarity import ivf_health_check

    ids = _load(spark, sf_dir, "documents").select("doc_id").where(
        F.col("doc_id") < 50
    )
    i = F.col("doc_id")
    vc = (
        F.element_at(
            F.array(F.lit(0), F.lit(500), F.lit(40000), F.lit(2500000)),
            (i % 4 + 1).cast("int"),
        ) + i * 137
    )
    cur = (
        F.element_at(
            F.array(F.lit(0), F.lit(10), F.lit(700), F.lit(2100)),
            (i % 4 + 1).cast("int"),
        ) + (i % 3) * 13
    )
    last = F.when(
        i % 6 != 5,
        F.date_sub(F.lit("2026-06-15").cast("date"),
                   ((i * 5) % 35).cast("int")),
    )
    cat = ids.select(
        F.concat(F.lit("c"), F.lpad(i.cast("string"), 2, "0")).alias(
            "name"
        ),
        vc.cast("long").alias("vector_count"),
        cur.cast("long").alias("lists"),
        last.alias("last_reindex"),
    )
    return ivf_health_check(cat, "2026-06-15")


ORACLE_SQL["ivf_tuning"] = """
WITH ids AS (SELECT doc_id AS i FROM documents WHERE doc_id < 50),
cat AS (
  SELECT 'c' || lpad(i::VARCHAR, 2, '0') AS name,
         ([0, 500, 40000, 2500000][(i % 4 + 1)::INT] + i * 137)::BIGINT
           AS vc,
         ([0, 10, 700, 2100][(i % 4 + 1)::INT] + (i % 3) * 13)::BIGINT
           AS cur,
         CASE WHEN i % 6 <> 5
              THEN DATE '2026-06-15' - ((i * 5) % 35)::INT END AS last
  FROM ids
),
calc AS (
  SELECT name, vc, cur,
         CASE WHEN vc < 1000 THEN 10
              WHEN vc < 1000000 THEN greatest(10, vc // 1000)
              ELSE greatest(100, floor(sqrt(vc))::BIGINT) END AS opt,
         CASE WHEN last IS NOT NULL
              THEN datediff('day', last, DATE '2026-06-15') END AS ds
  FROM cat
),
flags AS (
  SELECT name, vc, cur, opt,
         greatest(10, floor(sqrt(opt))::BIGINT) AS probes,
         (vc > 0 AND cur > 0
          AND abs(cur - opt)::DOUBLE / opt > 0.5) AS subopt,
         coalesce(ds, -1) AS ds,
         (vc > 0 AND ds IS NOT NULL AND ds > 14) AS overdue
  FROM calc
)
SELECT name, vc AS vector_count, cur AS current_lists,
       opt AS optimal_lists, probes::BIGINT AS optimal_probes,
       subopt AS lists_suboptimal, ds::BIGINT AS days_since_reindex,
       overdue AS reindex_overdue,
       concat_ws('|',
         CASE WHEN subopt THEN printf(
           '%s: lists=%d may be suboptimal (suggested ~%d for %d vectors)',
           name, cur, opt, vc) END,
         CASE WHEN overdue THEN printf(
           '%s: last reindex was %d days ago', name, ds) END
       ) AS warnings
FROM flags
"""


from . import queries_ext3  # noqa: E402,F401  (next module in the registry chain)
