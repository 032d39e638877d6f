"""Similarity search over embedding columns (array<float>).

Reference lineage: pgvector semantic search (arkham-frame/services/
vectors.py:888-934 — cosine `<=>`, L2 `<->`, dot `<#>`; ivfflat ANN index
vectors.py:469-548). Spark restatement:

- brute_force_topk: exact top-k by cosine against a query vector —
  native zip_with/aggregate fold, TakeOrderedAndProject for the top-k.
  The baseline path; at 10^12 rows this is one scan + per-partition top-k.
- lsh_bucket_topk: random-hyperplane LSH (sign bits of dot with H seeded
  pseudo-planes derived from xxhash — no stored plane matrix) → probe the
  query's bucket and its Hamming-1 neighbors. The scale path: the scan
  prunes to ~1/2^H of the corpus per probe.

Every operator reads (vec_id, embedding) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# embedding width of the hyperplane planes (the lane and its DuckDB oracle)
PLANE_DIM = 64
# hyperplanes per bucket key of lsh_bucket_topk (and its DuckDB oracle)
ANN_PLANES = 8
# the recall target of the IVF probe sizing (ivf_health_check and its
# Python twin optimal_probes)
TARGET_RECALL = 0.95


def _fold_dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(_fold_dot(a, a))


def _cosine(v, q):
    return _fold_dot(v, q) / (_norm(v) * _norm(q))


def brute_force_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10
) -> DataFrame:
    v = F.col("embedding").cast("array<double>")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        emb.select("vec_id", _cosine(v, q).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


def _plane_sign(dim_idx: int, plane_idx: int) -> float:
    """Deterministic ±1 plane component from a 64-bit integer mix — computed
    in PYTHON at plan-build time, so planes are constant literals in the
    expression tree (identical on every executor, nothing to broadcast)."""
    x = (dim_idx * 0x9E3779B97F4A7C15 + plane_idx * 0xC2B2AE3D27D4EB4F) & (2**64 - 1)
    x ^= x >> 33
    x = (x * 0xFF51AFD7ED558CCD) & (2**64 - 1)
    x ^= x >> 33
    return 1.0 if x & 1 else -1.0


def hyperplane_bucket(vec_col, n_planes: int, plane_offset: int = 0):
    """Bucket id = sign bits of dot(v, plane_j) for H pseudo-random ±1
    PLANE_DIM-wide planes (plane ids plane_offset..plane_offset+H−1; H ≤ 62 so the packed
    key stays in int64). The plane matrix is H×PLANE_DIM CONSTANT literals
    (folded by Catalyst) — the earlier per-element xxhash64(concat)
    formulation cost ~10M string hashes per 5k vectors and dominated the
    LSH wall time."""
    if n_planes > 62:
        raise ValueError("n_planes > 62 would overflow the packed int64 key")
    v = vec_col
    bits = []
    for j in range(n_planes):
        plane = F.array(
            *[F.lit(_plane_sign(i, plane_offset + j)) for i in range(PLANE_DIM)]
        )
        proj = F.aggregate(
            F.zip_with(v, plane, lambda x, p: x * p),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(proj > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def lsh_bucket_topk(emb: DataFrame, query_vec: list[float]) -> DataFrame:
    """ANN top-10: probe the query's ANN_PLANES-plane hyperplane bucket and
    its Hamming-1 neighbors."""
    v = F.col("embedding").cast("array<double>")
    bucketed = emb.select(
        "vec_id", v.alias("v"), hyperplane_bucket(v, ANN_PLANES).alias("bucket")
    )

    spark = emb.sparkSession
    qdf = spark.createDataFrame([(query_vec,)], f"qv: array<double>").select(
        F.col("qv"), hyperplane_bucket(F.col("qv"), ANN_PLANES).alias("qbucket")
    )
    qrow = qdf.collect()[0]
    qbucket = qrow["qbucket"]
    probes = [qbucket] + [qbucket ^ (1 << j) for j in range(ANN_PLANES)]

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        bucketed.where(F.col("bucket").isin(probes))
        .select("vec_id", _cosine(F.col("v"), q).alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
    )


def recommended_rows_per_band(n_vectors: int) -> int:
    """R ≈ log₂(n): a random pair collides in one band w.p. ~(1/2)^R, so
    expected random candidates per band ≈ n²/2^R ≈ n when R = log₂(n) —
    constant per-bucket occupancy as the corpus grows. Floor 4 keeps tiny
    corpora from degenerating to near-brute-force."""
    import math

    return max(4, math.ceil(math.log2(max(2, n_vectors))))


def pairwise_cosine_above_banded(emb: DataFrame, threshold: float) -> DataFrame:
    """Embedding near-dup pairs via BANDED hyperplane LSH (OR-construction):
    B=8 bands of R sign-bits each; a pair is a candidate if ANY band matches,
    then exact cosine ≥ threshold verifies. For cosine ≥ 0.999 (θ ≈ 0.045
    rad, plane-agreement p ≈ 0.9857) the per-pair miss probability is
    (1 − p^R)^B ≈ 2e-8 at B=8, R=8 — the hyperplane analogue of the
    MinHash-LSH band join in operators.dedup, and the scale path over the
    single-bucket variant (no amplification, misses plane-straddlers).

    R sizes the candidate budget: a RANDOM pair collides in a band with
    probability ~(1/2)^R, so R=8 prunes to ~3% of all pairs where R=4
    admits ~39% (measured: near-brute-force cost). ANY fixed R goes
    superlinear eventually (candidates ~ n^2/2^R; measured 10.6x wall on
    10x data at R=8), so R = recommended_rows_per_band(count) = ~log2(n),
    holding expected random candidates ~ n as the corpus grows — one
    count job."""
    rows_per_band = recommended_rows_per_band(emb.count())
    v = F.col("embedding").cast("array<double>")
    # one R-bit key per band, each from its own plane block (no packed
    # 64-bit intermediate — B×R can exceed the int64 sign bit); keys are
    # computed over the checkpointed "v" column below
    band_keys = [
        hyperplane_bucket(
            F.col("v"), rows_per_band, plane_offset=b * rows_per_band
        )
        for b in range(8)
    ]
    # Slim frames: the banded self-join and the pair dedupe move ONLY
    # (band, key, id) — the vectors are re-attached to the ~output-sized
    # deduped pair set afterwards (guide §8: decide with small rows, move
    # heavy payloads once). The previous form carried both 64-double
    # vectors through the join AND through the distinct exchange.
    from .spread import spread

    # id + vector + the 8 band keys, materialized ONCE: the banded
    # self-join's two sides and the verify would otherwise each re-derive
    # the B×R hyperplane projections (the single most expensive expression
    # here) through the join lineage. spread() fans a one-file scan out so
    # that single key pass parallelizes.
    slim = spread(emb.select("vec_id", v.alias("v")), "vec_id")
    slim = slim.select(
        "vec_id", "v", F.array(*band_keys).alias("_keys")
    ).localCheckpoint(eager=True)
    banded = slim.select(
        "vec_id", F.posexplode(F.col("_keys")).alias("band", "key")
    )
    a = banded.select(F.col("vec_id").alias("id_a"), "band", "key")
    c = banded.select(F.col("vec_id").alias("id_b"), "band", "key")
    pairs = (
        a.join(c, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = slim.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    vb = slim.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", _cosine(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def fit_ivf(
    emb: DataFrame, carry_cols: list[str] | None = None
) -> tuple[list[list[float]], DataFrame]:
    """Fit the IVF coarse quantizer ONCE: k-means the (vec_id, embedding)
    corpus into 16 inverted lists (the pgvector-ivfflat analogue,
    arkham-frame/services/vectors.py:469-548 — `CREATE INDEX ... USING
    ivfflat (embedding) WITH (lists = N)` builds exactly this structure).

    Returns (cluster centers, assigned DataFrame (vec_id, v, list_id)). The
    assignment is the expensive part — at scale, materialize it once,
    bucketed by list_id (`bucketBy(N, "list_id")` for Exchange-free probes,
    or a `bucket(N, list_id)` Iceberg partition transform). Repeated queries then call `ivf_probe`
    with no re-fit (the round-2 API re-fit KMeans per query — a
    scale-killer for repeated ANN lookups).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    v = F.col("embedding").cast("array<double>")
    carry = [F.col(c) for c in (carry_cols or [])]
    feats = emb.select(F.col("vec_id"), v.alias("v"), *carry).withColumn(
        "features", array_to_vector(F.col("v"))
    )
    # seeded random init: the kmeans|| init alone costs several extra
    # cluster passes; for a coarse quantizer (recall comes from n_probe,
    # not centroid optimality) random init converges in fewer total
    # passes. Deterministic under the fixed seed for a given input
    # partitioning (the random init samples partition by partition).
    model = KMeans(
        k=16, seed=7, featuresCol="features", initMode="random"
    ).fit(feats)
    assigned = model.transform(feats).select(
        F.col("vec_id"), "v",
        F.col(model.getPredictionCol()).alias("list_id"),
        *[F.col(c) for c in (carry_cols or [])],
    )
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    return centers, assigned


def ivf_probe(
    assigned: DataFrame,
    centers: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    *,
    n_probe: int,
    predicate=None,
) -> DataFrame:
    """Scan only the `n_probe` inverted lists whose centroids are nearest
    the query; rank by exact cosine. Probed fraction ≈ n_probe/n_clusters;
    recall grows with n_probe (IVF's standard knob).

    `predicate` is the payload-filtered arm (vectors.py:856-934 — the
    reference ANDs `payload @> filter::jsonb` into the ivfflat scan,
    :920-925): a Column over metadata columns carried through
    `fit_ivf(..., carry_cols=[...])`. Applied BEFORE the distance
    projection, so over materialized inverted lists (bucketed on list_id)
    Catalyst pushes BOTH the probe's `list_id IN (...)` (file
    pruning, SelectedBucketsCount) and the payload predicate
    (PushedFilters) into the parquet scan — rows failing the filter never
    reach the cosine math."""
    import numpy as np

    c = np.asarray(centers)
    q = np.asarray(query_vec, dtype=float)
    d2 = ((c - q) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d2)[:n_probe]]

    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scan = assigned.where(F.col("list_id").isin(probes))
    if predicate is not None:
        scan = scan.where(predicate)
    scored = scan.select(F.col("vec_id"), _cosine(F.col("v"), qcol).alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


def ivf_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10, n_probe: int = 2
) -> DataFrame:
    """One-shot IVF ANN: fit_ivf + ivf_probe. Convenience for single
    queries — issue repeated queries through fit_ivf ONCE + ivf_probe per
    query (see fit_ivf docstring)."""
    centers, assigned = fit_ivf(emb)
    return ivf_probe(assigned, centers, query_vec, k, n_probe=n_probe)


# --- IVF tuning + health (the maintenance math around the index) --------


def optimal_lists(expected_rows: int) -> int:
    """IVFFlat lists sizing (vectors.py:469-476 — also
    vector_maintenance.py:520-528, same formula): <1000 rows → 10,
    <1M → rows/1000 (min 10), else √rows (min 100)."""
    if expected_rows < 1000:
        return 10
    if expected_rows < 1_000_000:
        return max(10, expected_rows // 1000)
    return max(100, int(expected_rows ** 0.5))


def optimal_probes(lists: int, target_recall: float = TARGET_RECALL) -> int:
    """Probe sizing for a recall target (vectors.py:478-488; default
    TARGET_RECALL per the service's _target_recall)."""
    if target_recall >= 0.99:
        return max(lists // 2, int(lists ** 0.5) * 3)
    if target_recall >= 0.95:
        return max(10, int(lists ** 0.5))
    return max(5, lists // 10)


def ivf_health_check(collections: DataFrame, reference_date) -> DataFrame:
    """The health_check rules (vector_maintenance.py:441-518) as native
    columns over a (name, vector_count, lists, last_reindex) collections
    catalog, probes sized for TARGET_RECALL: suggested lists/probes, the
    >50%-deviation suboptimal warning (only when vectors exist and a
    lists value is set), and the 14-day reindex-overdue warning —
    warning STRINGS formatted exactly like the reference so a catalog
    sweep emits the same ledger. ``reference_date`` pins the clock
    (the reference uses utcnow(), which a deterministic engine cannot)."""
    vc = F.col("vector_count").cast("long")
    cur = F.col("lists").cast("long")
    opt = (
        F.when(vc < 1000, F.lit(10))
        .when(vc < 1_000_000, F.greatest(F.lit(10), F.floor(vc / 1000)))
        .otherwise(F.greatest(F.lit(100), F.floor(F.sqrt(vc))))
        .cast("long")
    )
    # optimal_probes at TARGET_RECALL 0.95: max(10, √lists)
    probes = F.greatest(F.lit(10), F.floor(F.sqrt(opt)))
    subopt = (
        (vc > 0) & (cur > 0)
        & (F.abs(cur - opt) / opt > 0.5)
    )
    ref_d = F.lit(str(reference_date)).cast("date")
    days_since = F.datediff(ref_d, F.to_date(F.col("last_reindex")))
    overdue = (vc > 0) & F.col("last_reindex").isNotNull() & (
        days_since > 14
    )
    warn = F.concat_ws(
        "|",
        F.when(
            subopt,
            F.format_string(
                "%s: lists=%d may be suboptimal (suggested ~%d for %d "
                "vectors)",
                F.col("name"), cur, opt, vc,
            ),
        ),
        F.when(
            overdue,
            F.format_string(
                "%s: last reindex was %d days ago",
                F.col("name"), days_since.cast("long"),
            ),
        ),
    )
    return collections.select(
        F.col("name").alias("name"),
        vc.alias("vector_count"),
        cur.alias("current_lists"),
        opt.alias("optimal_lists"),
        probes.cast("long").alias("optimal_probes"),
        subopt.alias("lists_suboptimal"),
        F.coalesce(days_since, F.lit(-1)).cast("long").alias(
            "days_since_reindex"
        ),
        overdue.alias("reindex_overdue"),
        warn.alias("warnings"),
    )
