"""Contradiction detection (CD1) — native Spark restatement.

Reference lineage: arkham-shard-contradictions/detector.py —
candidate pairing by similarity (embedding cosine when available, else word
Jaccard, :147-176, :419-446) and heuristic verification (:272-334):
- negation patterns: (not,is) (no,yes) (never,always) ("did not",did) across
  the pair → DIRECT contradiction, confidence = similarity × 0.8;
- numeric mismatch: both claims contain numbers, the lists differ, and the
  number-masked texts have word-Jaccard > 0.7 → NUMERIC contradiction,
  confidence = similarity × 0.7.

The reference compares all O(n²) claim pairs in Python; here candidates are
generated by a shared-RARE-token join and verification is pure column math.

Skew design: a naive shared-token join explodes O(n²) on any corpus-wide
token ("the", "is" — claims keep stopwords). Tokens with document frequency
above max(10, 1% of claims) are excluded from the JOIN KEY ONLY; the
word-Jaccard similarity is then computed exactly over the FULL word sets of
each surviving candidate pair, so scores are unchanged.

The rare-token channel alone misses pairs whose ENTIRE shared vocabulary is
corpus-common — and negated boilerplate ("value is ready" / "value is not
ready" over a shared template) is exactly such a pair, i.e. the detector's
core case. A second, skew-free channel recovers it: each claim gets a
MASKED FINGERPRINT (word set, lowered, numbers → NUM, negation/polarity
markers removed, sorted) and claims sharing a fingerprint block together
via one equi-join. Negation variants and numeric variants of one template
collapse to the same fingerprint by construction, so the lost pairs block
through this channel regardless of token frequency. Per-claim cost is one
extra row; a fingerprint bucket of size m yields m²/2 candidates — but for
contradiction-dense templates the OUTPUT is itself ~m² (pairs passing the
full-set similarity threshold), so the blowup is semantic, not incidental.
(The MinHash-LSH machinery in operators.dedup is the alternative candidate
generator when even these blocks skew.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_NUM_RE = r"\b\d+(?:,\d{3})*(?:\.\d+)?\b"

NEGATION_PAIRS = [
    (r"\bnot\b", r"\bis\b"),
    (r"\bno\b", r"\byes\b"),
    (r"\bnever\b", r"\balways\b"),
    (r"\bdid not\b", r"\bdid\b"),
]

# every token appearing in NEGATION_PAIRS: removed from the masked
# fingerprint so polarity variants of one template block together
MARKER_TOKENS = ["not", "is", "no", "yes", "never", "always", "did"]


def _word_set(col):
    return F.array_distinct(
        F.filter(F.split(F.lower(col), r"\s+"), lambda w: F.length(w) > 0)
    )


def _jaccard(a, b):
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def candidate_claim_pairs(
    claims: DataFrame, threshold: float = 0.5, df_cap: int | None = None
) -> DataFrame:
    """(claim_id, claim_text) pairs with word-Jaccard ≥ threshold (the
    keyword candidate path, detector.py:432-446).

    Candidates = pairs sharing at least one RARE token (document frequency ≤
    df_cap, default max(10, 1% of claims)) UNION pairs sharing a masked
    fingerprint (word set minus negation markers, numbers → NUM) — the
    second channel recovers negated/numeric boilerplate pairs whose shared
    vocabulary is entirely above the DF cap (see module docstring).
    Similarity is then the exact word-Jaccard over the full word sets.
    """
    toks = claims.select(
        F.col("claim_id").alias("cid"),
        F.col("claim_text").alias("ctext"),
        _word_set(F.col("claim_text")).alias("ws"),
    )
    ex = toks.select("cid", F.explode("ws").alias("w"))

    # document frequency per token; cap is a column so no driver round-trip
    dfreq = ex.groupBy("w").agg(F.count(F.lit(1)).alias("_df"))
    if df_cap is None:
        # constant-key equi-join (not crossJoin) so the 1-row corpus count
        # broadcasts as a hash join, keeping the plan nested-loop-free
        n_claims = claims.select(F.count(F.lit(1)).alias("_n")).withColumn(
            "_k", F.lit(1)
        )
        dfreq = (
            dfreq.withColumn("_k", F.lit(1))
            .join(F.broadcast(n_claims), "_k")
            .where(F.col("_df") <= F.greatest(F.lit(10), F.ceil(F.col("_n") * 0.01)))
        )
    else:
        dfreq = dfreq.where(F.col("_df") <= df_cap)
    rare = ex.join(dfreq.select("w"), "w")  # co-partitioned equi-join on w

    cand_rare = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.w") == F.col("b.w")) & (F.col("a.cid") < F.col("b.cid")),
        )
        .select(F.col("a.cid").alias("id_a"), F.col("b.cid").alias("id_b"))
    )

    # channel 2: masked-fingerprint blocking (one row per claim, no skew key)
    masked_ws = _word_set(
        F.regexp_replace(F.lower(F.col("claim_text")), _NUM_RE, "NUM")
    )
    fp = F.concat_ws(
        " ",
        F.array_sort(
            F.array_except(masked_ws, F.array(*[F.lit(m) for m in MARKER_TOKENS]))
        ),
    )
    fps = claims.select(F.col("claim_id").alias("cid"), fp.alias("fp")).where(
        F.length("fp") > 0
    )
    cand_fp = (
        fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp")) & (F.col("a.cid") < F.col("b.cid")),
        )
        .select(F.col("a.cid").alias("id_a"), F.col("b.cid").alias("id_b"))
    )

    cand = cand_rare.unionAll(cand_fp).distinct()
    a = toks.select(
        F.col("cid").alias("id_a"), F.col("ctext").alias("text_a"), F.col("ws").alias("ws_a")
    )
    b = toks.select(
        F.col("cid").alias("id_b"), F.col("ctext").alias("text_b"), F.col("ws").alias("ws_b")
    )
    inter = F.size(F.array_intersect(F.col("ws_a"), F.col("ws_b")))
    union = F.size(F.array_union(F.col("ws_a"), F.col("ws_b")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("similarity", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .where(F.col("similarity") >= threshold)
        .select("id_a", "id_b", "text_a", "text_b", "similarity")
    )


def verify_contradictions(pairs: DataFrame) -> DataFrame:
    """Heuristic verification over candidate pairs (detector.py:272-334)."""
    ta = F.lower(F.col("text_a"))
    tb = F.lower(F.col("text_b"))

    # the reference scans ordered (doc_a claim, doc_b claim) pairs so its
    # check is one-directional (detector.py:290); our pairs are unordered
    # (id_a < id_b) so we take the symmetric closure
    negation = F.lit(False)
    for neg, pos in NEGATION_PAIRS:
        negation = negation | (ta.rlike(neg) & tb.rlike(pos)) | (
            tb.rlike(neg) & ta.rlike(pos)
        )

    nums_a = F.regexp_extract_all(ta, F.lit(_NUM_RE), F.lit(0))
    nums_b = F.regexp_extract_all(tb, F.lit(_NUM_RE), F.lit(0))
    masked_a = _word_set(F.regexp_replace(ta, _NUM_RE, "NUM"))
    masked_b = _word_set(F.regexp_replace(tb, _NUM_RE, "NUM"))
    numeric = (
        (F.size(nums_a) > 0)
        & (F.size(nums_b) > 0)
        & (nums_a != nums_b)
        & (_jaccard(masked_a, masked_b) > 0.7)
    )

    return (
        pairs.withColumn(
            "contradiction_type",
            F.when(negation, "direct").when(numeric, "numeric").otherwise(None),
        )
        .where(F.col("contradiction_type").isNotNull())
        .withColumn(
            "confidence",
            F.when(F.col("contradiction_type") == "direct", F.col("similarity") * 0.8)
            .otherwise(F.col("similarity") * 0.7),
        )
        .withColumn(
            "severity",
            F.when(F.col("contradiction_type") == "direct", "high").otherwise("medium"),
        )
    )


def detect_contradictions(claims: DataFrame) -> DataFrame:
    return verify_contradictions(candidate_claim_pairs(claims))
