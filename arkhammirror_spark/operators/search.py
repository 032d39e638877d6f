"""Search & ranking operators — fully native Spark (no Python in the plan).

Reference lineage (arkham-shard-search):
- BM25: engines/keyword.py:14-125 — tokenizer = lowercase ``\\b\\w+\\b``,
  len>1, stopword set; Robertson–Spärck-Jones IDF
  log((N − n + 0.5)/(n + 0.5) + 1); k1=1.5, b=0.75; scores normalized so the
  best hit is 1.0 (keyword.py:334-338).
- Regex search + presets: engines/regex.py:13-73.
- Hybrid merge: engines/hybrid.py:13-81 — weighted sum of normalized
  semantic + keyword scores; weights by embedding dims
  (384→0.5, 768→0.6, ≥1024→0.7 semantic).
- Re-rankers: ranking.py:15-216 — exact-match boost, recency boost.

The reference BM25 runs a SQL LIKE prefilter then re-ranks in Python per row
(keyword.py:272-331); here the whole thing is one aggregation + join + column
arithmetic, so Catalyst keeps it in WholeStageCodegen and corpus statistics
become one shuffle instead of N queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

BM25_K1 = 1.5
BM25_B = 0.75

STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "or", "that",
    "the", "to", "was", "were", "will", "with", "this", "they",
    "but", "have", "had", "what", "when", "where", "who", "which",
]

REGEX_PRESETS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone_us": r"\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "url": r"https?://[^\s<>\"]+",
    "credit_card": r"\b(?:\d[ -]?){13,16}\b",
}


def tokenize_col(text):
    """Tokenizer ≡ keyword.py:51-64: lowercase \\b\\w+\\b, len>1, no stopwords."""
    toks = F.regexp_extract_all(F.lower(text), F.lit(r"\b\w+\b"), F.lit(0))
    return F.filter(
        toks,
        lambda t: (F.length(t) > 1) & ~t.isin(*STOPWORDS),
    )


def with_term_scores(tf: DataFrame) -> DataFrame:
    """BM25's idf and per-term `term_score` (keyword.py:294-338, k1 =
    BM25_K1, b = BM25_B) added to (tf, doc_len, doc_freq, n_docs, avg_len)
    rows; the caller computes the corpus statistics."""
    return tf.withColumn(
        "idf",
        F.log(
            (F.col("n_docs") - F.col("doc_freq") + 0.5) / (F.col("doc_freq") + 0.5)
            + 1.0
        ),
    ).withColumn(
        "term_score",
        F.col("idf")
        * (F.col("tf") * (BM25_K1 + 1))
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("doc_len") / F.col("avg_len"))
        ),
    )


def bm25_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """BM25 over a (doc_id, text) table for a fixed query; returns
    (doc_id, score), scores normalized by the best one."""
    toks = docs.select(
        "doc_id", tokenize_col(F.col("text")).alias("tokens")
    ).withColumn("doc_len", F.size("tokens").cast("double"))

    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("doc_len").alias("avg_len")
    )

    terms = (
        toks.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .where(F.col("term").isin(*[t.lower() for t in query_terms]))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    df_counts = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )

    scored = (
        with_term_scores(
            terms.join(F.broadcast(df_counts), "term").crossJoin(F.broadcast(stats))
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("raw_score"))
    )
    mx = scored.agg(F.max("raw_score").alias("mx"))
    return scored.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        F.when(F.col("mx") > 0, F.col("raw_score") / F.col("mx"))
        .otherwise(0.0)
        .alias("score"),
    )


def regex_search(docs: DataFrame, preset: str) -> DataFrame:
    """All matches of a REGEX_PRESETS pattern in the `t` column per doc_id
    (engines/regex.py)."""
    return docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("t"), F.lit(REGEX_PRESETS[preset]), F.lit(0))
        ).alias("match_text"),
    )


def hybrid_merge(semantic: DataFrame, keyword: DataFrame) -> DataFrame:
    """Weighted full-outer merge of (doc_id, score) frames (hybrid.py:51-81)
    at the (0.5, 0.5) semantic/keyword weights hybrid.py:13-48 gives
    embeddings of at most 384 dimensions (the corpus's are 64-wide)."""
    sw = kw = 0.5
    s = semantic.select("doc_id", F.col("score").alias("sem"))
    k = keyword.select("doc_id", F.col("score").alias("kw"))
    return s.join(k, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.col("sem"), F.lit(0.0)) * sw
            + F.coalesce(F.col("kw"), F.lit(0.0)) * kw
        ).alias("hybrid_score"),
        F.coalesce(F.col("sem"), F.lit(0.0)).alias("semantic_score"),
        F.coalesce(F.col("kw"), F.lit(0.0)).alias("keyword_score"),
    )


def exact_match_boost(
    results: DataFrame, query: str, text_lookup: DataFrame
) -> DataFrame:
    """ranking.py exact-match booster: multiply `score` by 1.5 when the
    literal query string occurs in the (doc_id, text) document text."""
    hit = text_lookup.select(
        "doc_id", F.col("text").contains(query).alias("_exact")
    )
    return (
        results.join(hit, "doc_id", "left")
        .withColumn(
            "score",
            F.when(F.col("_exact"), F.col("score") * 1.5).otherwise(
                F.col("score")
            ),
        )
        .drop("_exact")
    )


def entity_boost(results: DataFrame, priority_entities: list[str]) -> DataFrame:
    """ranking.py:45-77 rerank_by_entities: score ×= (1 + 0.2 × matches)
    where matches = |priority ∩ result.entities| (set intersection)."""
    if not priority_entities:
        return results
    prio = F.array(*[F.lit(e) for e in sorted(set(priority_entities))])
    matches = F.size(F.array_intersect(F.array_distinct(F.col("entities")), prio))
    return results.withColumn(
        "score",
        F.when(matches > 0, F.col("score") * (1.0 + 0.2 * matches)).otherwise(
            F.col("score")
        ),
    )


def autocomplete(docs: DataFrame, prefix: str) -> DataFrame:
    """The first 10 prefix completions of `text` (keyword.py:346-378 LIKE
    'prefix%'). The doc_id tiebreak makes the LIMIT deterministic when
    completions collide (duplicate texts are planted by the corpus
    generator)."""
    return (
        docs.where(F.col("text").startswith(prefix))
        .orderBy(F.col("text"), F.col("doc_id"))
        .limit(10)
    )


def recency_boost(results: DataFrame) -> DataFrame:
    """ranking.py:85-123 recency reranker: recency = 1/(1 + age_days·0.1)
    of `created_at` against the newest result; score = score·0.5 +
    recency·0.5. Rows with a null timestamp keep their score (the
    reference's `continue`)."""
    newest = results.agg(F.max("created_at").alias("_newest"))
    age_days = F.datediff(F.col("_newest"), F.col("created_at"))
    rec = 1.0 / (1.0 + age_days * 0.1)
    return (
        results.crossJoin(F.broadcast(newest))
        .withColumn(
            "score",
            F.when(
                F.col("created_at").isNotNull(),
                F.col("score") * 0.5 + rec * 0.5,
            ).otherwise(F.col("score")),
        )
        .drop("_newest")
    )


def dedupe_results(results: DataFrame) -> DataFrame:
    """ranking.py:125-160: keep the highest-scoring row per doc_id."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"))
    return (
        results.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )


def diversify_by_source(results: DataFrame) -> DataFrame:
    """ranking.py:189-216: cap results at 3 per `source`, keeping the
    best-scored. The doc_id tiebreak makes the cut deterministic under
    score ties."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        results.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= 3)
        .drop("_rk")
    )
