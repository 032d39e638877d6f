"""Large-scale deduplication operators for training-data pipelines.

Beyond the reference's checksum dedup (intake.py:146-179 ≡ exact_dedup),
these are the standard web-corpus near-dup family, built Spark-native:

- exact_dedup       : sha256 groupBy, keep min-key representative.
- shingles          : word n-gram shingle sets (explode-based).
- minhash_signatures: K independent permutation-min hashes over shingles —
  computed with ONE aggregation: explode shingles, hash once with xxhash64,
  then per (doc) aggregate min((a_k*h+b_k) mod p) for all K via native
  array expressions (no UDF, no K-fold explode).
- lsh_candidate_pairs: band the K minhashes into B bands of R rows,
  groupBy(band hash) → pairs within bucket — the classic MinHash-LSH join.
- verified_neardup_pairs: LSH candidates filtered by exact Jaccard
  (computed on the shingle sets) ≥ threshold. With B=32,R=4 the miss
  probability at J≥0.8 is (1−0.8⁴)³² ≈ 5e−8, so output = brute-force truth
  with overwhelming probability at a fraction of the cost.
- simhash64_reference / simhash_pairs_from_sigs: the documents shard's
  64-bit SimHash + Hamming-ball pairing via bit_count(xor).
- ngram_jaccard_pairs: exact brute-force Jaccard via shared-shingle join
  (the small-scale oracle for the LSH path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# Mersenne prime 2^31-1: with h, a, b all in [0, p), the product h*a is
# < 2^62, safely inside int64 — ANSI-mode sessions (Spark 4 default) would
# throw ARITHMETIC_OVERFLOW on anything wider.
_P = (1 << 31) - 1
# the Jaccard cut both near-dup lanes and their DuckDB oracles apply
JACCARD_THRESHOLD = 0.8


def _hash_params() -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the 128 permutation hashes."""
    import random

    rng = random.Random(7)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(128)]


def exact_dedup(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Checksum dedup (intake.py:146-179): one keeper per identical payload."""
    return df.groupBy(F.sha2(F.col(key_col), 256).alias("checksum")).agg(
        F.min(id_col).alias("keeper"),
        F.count(F.lit(1)).alias("n_copies"),
        F.sort_array(F.collect_list(id_col)).alias("member_ids"),
    )


def shingles(df: DataFrame, id_col: str) -> DataFrame:
    """Distinct word 3-gram shingles of each document's `text` — native
    (split + transform)."""
    words = F.split(F.lower(F.col("text")), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - 3, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, 3), " "),
    )
    return df.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
    ).where(F.length("shingle") > 0)


def shingle_hashes(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, h) rows: the RAW 64-bit xxhash64 of each distinct shingle.

    This is the SLIM frame the near-dup operators share: two longs per
    shingle instead of the raw shingle string (~30 bytes of corpus text per
    row). Both downstream consumers (signatures, exact-Jaccard verify) need
    only shingle EQUALITY, which the full 64-bit hash preserves up to a
    ~n²/2⁶⁴ collision probability — vanishing even at 10¹² shingles, and
    rehearsed value-identical against the string-based DuckDB oracle.

    The [0, p) fold for minhash arithmetic happens INSIDE
    minhash_signatures — folding here would shrink the equality key to 31
    bits (~n²/2³² per-doc collisions: hundreds of silently-wrong Jaccard
    rows at 600k KB-sized docs).
    """
    from .spread import spread

    return shingles(spread(df, id_col), id_col).select(
        F.col(id_col), F.xxhash64(F.col("shingle")).alias("h")
    )


def minhash_signatures(sh: DataFrame, id_col: str) -> DataFrame:
    """128-element minhash signature per doc from an (id, h) frame of
    ``shingle_hashes``.

    One pass: each of the 128 permutation functions is min over (a*h + b)
    mod p, computed as 128 aggregate exprs — map-side partial min keeps the
    shuffle at 128 longs per doc.
    """
    params = _hash_params()
    # Fold the 64-bit equality key into [0, p) here, where the mod-p range
    # is needed for overflow-free (a*h + b) mod p under ANSI. pmod (not
    # abs % p) — abs(Long.MinValue) throws ARITHMETIC_OVERFLOW in ANSI mode.
    base = sh.select(F.col(id_col), F.pmod(F.col("h"), F.lit(_P)).alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = base.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"mh_{i}") for i in range(len(params))]).alias("signature"),
    )


def _banded_buckets(sigs: DataFrame, id_col: str) -> DataFrame:
    """32 bands of 4 signature rows each."""
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(31)),
                lambda bnd: F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("signature"), bnd * 4 + 1, 4),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bucket_cap: int = 5000
) -> DataFrame:
    """Band the 128-long signature into 32 bands of 4 rows; docs sharing
    any band bucket become candidates -> (id_a, id_b, truncated).

    Hot-bucket guard: a pathological band bucket (thousands of
    near-identical boilerplate pages surviving exact dedup) would emit
    O(m^2) candidate rows. Buckets larger than `bucket_cap` keep only
    their `bucket_cap` smallest ids (row_number over the SAME (band,
    bucket) shuffle key the join needs — no extra exchange, just a sort),
    so a bucket's join fan-out is bounded by bucket_cap^2 while every
    surviving member still pairs with every other (near-identical pages
    collapse to the same keeper set either way). `truncated` flags pairs
    whose every co-occurrence was in a capped bucket."""
    w = Window.partitionBy("band", "bucket").orderBy(id_col)
    banded = (
        _banded_buckets(sigs, id_col)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_capped",
            F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
            > bucket_cap,
        )
        .where(F.col("_rn") <= bucket_cap)
        .drop("_rn")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(
            # true only when NO uncapped bucket also produced the pair
            F.min(F.col("a._capped").cast("int")).cast("boolean").alias(
                "truncated"
            )
        )
    )


def verified_neardup_pairs(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard ≥
    JACCARD_THRESHOLD.

    lsh_candidate_pairs' hot-bucket guard (5000 rows) applies; a capped
    bucket loses its kept-x-dropped pairs too (bounded recall by design).

    Storage discipline (CLAUDE.md invariant 5): the RAW shingle frame is
    ~n× the corpus text and is never cached. Instead the slim HASHED frame
    (two longs per shingle) is localCheckpoint'ed once — signatures and the
    Jaccard verify both read it, so the expensive text-explode runs exactly
    once instead of 3–4× through the self-join lineage (measured 10× wall
    difference at sf0.1). At 100 TB scale, swap localCheckpoint for a
    storage checkpoint (write-then-pruned-read) of the same slim table.
    """
    sh = shingle_hashes(df, id_col).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(minhash_signatures(sh, id_col), id_col)
    # Verify via per-doc shingle-hash ARRAYS + native array_intersect:
    # |S_a ∩ S_b| over the distinct per-doc hash sets is exactly the
    # shared-row count of the explode join (sh is distinct per doc), but
    # only the candidate docs' arrays cross the pair joins instead of the
    # full exploded shingle frame twice — measured 2× on the verify step,
    # value-identical output (same long counts, same double division).
    sets = sh.groupBy(id_col).agg(
        F.sort_array(F.collect_list("h")).alias("hs")
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"))
    n_shared = F.size(F.array_intersect("hs_a", "hs_b"))
    jac = n_shared / (F.size("hs_a") + F.size("hs_b") - n_shared)
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", jac.cast("double"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


def hot_shingles(sh: DataFrame, df_cap: int) -> DataFrame:
    """Audit frame for the df-cap: (h, df) of every shingle whose document
    frequency exceeds `df_cap` — the shingles `ngram_jaccard_pairs`
    excludes when called with the same cap. The sum of df*(df-1)/2 over
    this frame is exactly the number of join rows the cap avoided."""
    return (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > df_cap)
    )


def ngram_jaccard_pairs(df: DataFrame, df_cap: int | None = None) -> DataFrame:
    """Brute-force exact Jaccard pairs (≥ JACCARD_THRESHOLD) of (doc_id,
    text) documents via shared-shingle join (oracle path).

    Same slim-hashed-checkpoint discipline as verified_neardup_pairs: the
    text-explode runs once; only (id, h) longs are stored.

    Hot-shingle guard: the shared-shingle join emits O(df²) rows for a
    shingle present in df documents, so ONE boilerplate shingle (a cookie
    banner, a license header) shared by a million docs would dominate the
    join — the same skew shape lsh_candidate_pairs caps per bucket. With
    `df_cap` set, shingles whose document frequency exceeds the cap are
    excluded from BOTH the intersection and the sizes, i.e. the result is
    the EXACT Jaccard over the df-filtered shingle universe (the standard
    stopword treatment: corpus-wide boilerplate carries no similarity
    signal, so dropping it consistently from numerator and denominator is
    a semantics choice, not an approximation error — and it is mirrored
    verbatim in the DuckDB oracle). Join fan-out is then bounded by
    df_cap per shingle. Audit the dropped shingles with `hot_shingles`
    at the same cap. Default None preserves the unfiltered oracle path.
    """
    sh = shingle_hashes(df).localCheckpoint(eager=True)
    if df_cap is not None:
        sh = sh.join(hot_shingles(sh, df_cap).select("h"), "h", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("id_a"), "h")
    b = sh.select(F.col("doc_id").alias("id_b"), "h")
    shared = (
        a.join(b, "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("sz_a") + F.col("sz_b") - F.col("n_shared")),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_lines(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus-level LINE deduplication (the RefinedWeb/MassiveText rule:
    a line duplicated across documents is boilerplate — cookie banners,
    navigation, share buttons — and is removed everywhere except its first
    occurrence).

    Mechanics: one explode to (id, line_idx, line), global first-occurrence
    selection via row_number over xxhash64(line) ordered by (id, line_idx)
    — a single hash-partitioned window, no self-join — then document
    reassembly in line order. Lines shorter than 10 chars are exempt
    (blank separators and short structural lines dedup meaninglessly).

    Scale: shuffle keys are (line-hash) then (doc id) — both well-spread;
    the heaviest skew possible is one line duplicated across the whole
    corpus, which this exists to remove, and a window over its hash
    partition is a sort of that one group. Returns (id, text) with the
    deduped `text`.
    """
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col("text"), r"\n")).alias("line_idx", "line"),
    )
    exempt = F.length(F.trim(F.col("line"))) < 10
    # Partition key is (hash, line), not hash alone: at 10^12 lines the
    # expected number of 64-bit colliding DISTINCT line pairs is ~n^2/2^65
    # (tens of thousands), and a collision would merge two unrelated lines
    # into one ranking group, silently deleting a non-duplicate. Appending
    # the raw line splits colliding groups; Spark hash-partitions the
    # composite key, so the shuffle shape/cost is unchanged.
    w = Window.partitionBy(F.xxhash64("line"), "line").orderBy(id_col, "line_idx")
    kept = lines.withColumn("_rn", F.row_number().over(w)).where(
        exempt | (F.col("_rn") == 1)
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("line_idx", "line"))
            ).alias("_ls")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                "\n", F.transform(F.col("_ls"), lambda s: s["line"])
            ).alias("text"),
        )
    )


def simhash_pairs_from_sigs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
    n_bits: int = 64,
    blocks: int | None = None,
) -> DataFrame:
    """Hamming-≤k pairs from precomputed SimHash signatures via the
    block-combination blocking of Manku/Jain/Sarma, "Detecting
    Near-Duplicates for Web Crawling" (WWW'07): split the signature into
    b > k blocks and key each row under every C(b, b-k) combination of
    b-k blocks. A pair within Hamming k differs in at most k blocks, so at
    least b-k blocks are untouched and SOME (b-k)-combination of identical
    blocks is shared — the combo equi-join returns EXACTLY the brute-force
    Hamming-ball pairs (no misses, candidates verified by bit_count).

    Why not the simpler k+1 bands of 64/(k+1) bits: at k=3 that keys on
    16-bit values, i.e. 65536 buckets/band, so expected bucket size grows
    as n/65536 and candidate pairs as ~n²/65536 — measured 19.5× wall on
    10× data in the sf1 soak. Here (b = k+3 default, k=3) the key is b-k=3
    blocks ≈ 32 bits: expected bucket size stays O(1) until n ~ 4·10⁹ per
    combo, at the cost of C(6,3) = 20 exploded rows per doc instead of 4.
    Candidate volume is then output-bound, not corpus-quadratic.
    """
    from itertools import combinations

    k = max_hamming
    if blocks is None:
        # narrow signatures (the 16-bit demo width) gain nothing from the
        # combo scheme — the key space is tiny either way and the output
        # itself is ~quadratic, so the C(b,3)-way explode only adds cost;
        # k+1 blocks there is the plain pigeonhole banding
        b = k + 3 if n_bits >= 32 else k + 1
    else:
        b = blocks
    b = min(max(b, k + 1), n_bits)  # widths must be >= 1 bit
    base_w, extra = divmod(n_bits, b)
    widths = [base_w + (1 if i < extra else 0) for i in range(b)]
    offsets = [sum(widths[:i]) for i in range(b)]
    if sig_col != "simhash":
        sigs = sigs.withColumnRenamed(sig_col, "simhash")

    def block_val(i):
        # ALWAYS mask: shiftright is arithmetic, so the top block of a
        # negative 64-bit signature would sign-extend and bleed into the
        # packed key's higher positions, making distinct block tuples
        # collide. Masking keeps the packing injective — required for the
        # first-matching-combo dedupe below (key equal ⟺ blocks equal).
        return F.shiftright(F.col("simhash"), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    # pack each combo's b-k block values into one long with exact-width
    # shifts (total <= n_bits bits; a set top bit just makes the long
    # negative, equality-join safe). combo id rides as a second key column.
    keys = []
    for combo in combinations(range(b), b - k):
        key = None
        for i in combo:
            v = block_val(i)
            key = v if key is None else F.shiftleft(key, widths[i]).bitwiseOR(v)
        keys.append(key)
    # Per-combo mask over the UNTOUCHED blocks: a pair matches combo i iff
    # (sig_a XOR sig_b) & mask_i == 0 — recomputable from the signatures
    # both join sides already carry, so duplicate candidates (a pair can
    # share several combos) are dropped with a "first matching combo"
    # filter INSIDE the join instead of a full exchange + distinct over
    # the candidate set (measured: the distinct shuffled the entire
    # ~O(output) candidate volume a second time).
    combo_masks = []
    for combo in combinations(range(b), b - k):
        m = 0
        for i in combo:
            m |= ((1 << widths[i]) - 1) << offsets[i]
        # Python int -> signed 64-bit literal (top-bit masks wrap negative)
        if m >= 1 << 63:
            m -= 1 << 64
        combo_masks.append(m)

    banded = sigs.select(
        F.col(id_col),
        "simhash",
        F.posexplode(F.array(*keys)).alias("combo", "key"),
    )
    left = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
        F.col("combo").alias("_combo"), F.col("key").alias("_key"),
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
        F.col("combo").alias("_combo"), F.col("key").alias("_key"),
    )
    x = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    # "no EARLIER combo also matches": count matching combos with index
    # below this row's — a flat O(#combos) sum of codegen-friendly bitwise
    # tests (a higher-order-function formulation runs interpreted, and a
    # per-combo when-chain is O(#combos²) expression nodes — measured to
    # wreck codegen at C(9,3)=84 combos).
    earlier_matches = None
    for j, m in enumerate(combo_masks[:-1]):
        term = F.when(
            (F.col("_combo") > j) & (x.bitwiseAND(F.lit(m)) == 0),
            F.lit(1),
        ).otherwise(F.lit(0))
        earlier_matches = term if earlier_matches is None else (
            earlier_matches + term
        )
    ham = F.bit_count(x)
    out = left.join(right, ["_combo", "_key"]).where(
        F.col("id_a") < F.col("id_b")
    )
    if earlier_matches is not None:  # single-combo case needs no dedupe
        out = out.where(earlier_matches == 0)
    return out.where(ham <= max_hamming).select(
        "id_a", "id_b", ham.alias("hamming")
    )


def simhash64_reference(df: DataFrame) -> DataFrame:
    """BYTE-PARITY 64-bit SimHash of the documents shard's own
    implementation (arkham-shard-documents/services/deduplication.py:48-149),
    fully native: lowercase + strip non-word/space chars (:75-77, Unicode
    \\w via Java's (?U) flag to match Python's re), word unigrams +
    bigrams + trigrams WITH duplicates (:78-94 — repeats weight the
    accumulation), md5 first-8-bytes big-endian token hash (:96-108,
    carried as two 32-bit halves so no unsigned-64 overflows ANSI mode),
    MSB-first +-1 bit voting and MSB-first reassembly (:110-148), empty or
    token-free text -> 0 (:121-127).

    Output: (doc_id, simhash BIGINT — same 64 bits as the reference's
    unsigned int, reinterpreted signed — and simhash_bits, the 64-char
    MSB-first bitstring both engines can compare without unsigned-shift
    pitfalls). The signed simhash feeds simhash_pairs_from_sigs directly.
    """
    from pyspark.sql import Window

    norm = F.regexp_replace(
        F.lower(F.coalesce(F.col("text"), F.lit(""))),
        r"(?U)[^\w\s]", ""
    )
    words = F.filter(
        F.split(norm, r"(?U)\s+"), lambda w: F.length(w) > 0
    )
    # Build n-grams ROW-WISE, not with array higher-order functions: the
    # lambda-bearing transform/slice gram expressions referenced `words`
    # (a full-text regexp_replace + split) a dozen times, and Catalyst does
    # not CSE across lambda functions — the per-doc tokenize ran ~10x per
    # row (measured 4.9 s warm just to EXPLODE 244k shingles from 1.5k
    # docs). Here the word array is built once inside the posexplode, and
    # bigrams/trigrams are lead()-window concats over the word rows. The
    # multiset of shingles is identical (vote sums are commutative, and
    # duplicates are preserved), so byte parity holds. The window's
    # doc-keyed shuffle is REUSED by the downstream vote groupBy — no
    # net extra exchange.
    from .spread import spread

    win = Window.partitionBy("doc_id").orderBy("pos")
    word_rows = (
        # spread: the tokenize+md5 explode below inherits a one-task scan
        # otherwise (single-file bench inputs); no-op at real scale
        spread(df, "doc_id")
        .select(F.col("doc_id"), F.posexplode(words).alias("pos", "w"))
        .withColumn("w2", F.lead("w", 1).over(win))
        .withColumn("w3", F.lead("w", 2).over(win))
    )
    grams = F.array(
        F.col("w"),
        F.when(
            F.col("w2").isNotNull(), F.concat_ws(" ", "w", "w2")
        ),
        F.when(
            F.col("w3").isNotNull(), F.concat_ws(" ", "w", "w2", "w3")
        ),
    )
    md5 = F.md5(F.col("tok"))
    # stage hi/lo through a PROJECTION: aggregate expressions are not
    # common-subexpression-eliminated across each other, so referencing
    # the md5/conv chain inside all 64 sums would recompute it 64x per
    # shingle (measured 13 s -> ~2 s at 500 docs)
    toks = word_rows.select(
        F.col("doc_id"), F.explode(grams).alias("tok")
    ).where(F.col("tok").isNotNull()).select(
        "doc_id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("lo"),
    )
    # The reference's vote v_i = Σ(+1 if bit else −1) equals 2·S_i − N where
    # S_i = Σ bit_i and N = shingle count, so summing the RAW BITS preserves
    # byte parity while dropping the per-element compare/branch. Bits i and
    # i+32 share the same shift s = 31−i (hi vs lo), so each sum packs the
    # two counters into one long (S_i low 32 bits, S_{i+32} high): 32
    # aggregate buffers instead of 64 halves the hash-agg update loop.
    # Exact while S_i < 2^32 — i.e. up to 4·10⁹ shingles per document, far
    # beyond any real document (a carry would need a single doc with more
    # shingles than a 100 TB corpus has docs).
    aggs = [F.count(F.lit(1)).alias("n_sh")]
    for i in range(32):
        s = 31 - i
        packed = (
            F.shiftright(F.col("hi"), s).bitwiseAND(F.lit(1))
            .bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col("lo"), s).bitwiseAND(F.lit(1)), 32
                )
            )
        )
        aggs.append(F.sum(packed).alias(f"p{i}"))
    per = toks.groupBy("doc_id").agg(*aggs)
    sim = None
    bits = []
    for i in range(64):
        p = F.col(f"p{i if i < 32 else i - 32}")
        s_i = (
            p.bitwiseAND(F.lit(0xFFFFFFFF)) if i < 32 else F.shiftright(p, 32)
        )
        set_i = s_i * 2 > F.col("n_sh")  # v_i = 2·S_i − N > 0
        term = F.when(
            set_i, F.shiftleft(F.lit(1).cast("long"), 63 - i)
        ).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim.bitwiseOR(term)
        bits.append(F.when(set_i, F.lit("1")).otherwise(F.lit("0")))
    hashed = per.select(
        F.col("doc_id"),
        sim.alias("simhash"),
        F.concat(*bits).alias("simhash_bits"),
    )
    # docs with zero shingles (empty/whitespace/normalized-away text)
    # never reach the explode: reference returns 0 for them
    return (
        df.select("doc_id")
        .join(hashed, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"),
            F.coalesce("simhash_bits", F.lit("0" * 64)).alias(
                "simhash_bits"
            ),
        )
    )


def content_hashes(df: DataFrame) -> DataFrame:
    """Per-document (doc_id, text) content-hash record (documents shard's compute_hash,
    deduplication.py:213-241): md5 + sha256 of the UTF-8 text, the
    byte-parity reference SimHash, and the character length — all native
    (F.md5/F.sha2 hash UTF-8 bytes exactly like text.encode('utf-8'),
    F.length counts characters like Python len)."""
    base = df.select(
        F.col("doc_id"),
        F.md5(F.col("text")).alias("content_md5"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
        F.length(F.col("text")).cast("long").alias("text_length"),
    )
    return base.join(simhash64_reference(df), "doc_id")


def duplicate_groups(hashes: DataFrame, threshold: float = 0.85) -> DataFrame:
    """Project-wide (doc_id, simhash) duplicate groups (deduplication.py's
    scan_project_duplicates, :403-490): similarity >= threshold pairs,
    grouped transitively; one row per member of each multi-member group
    with its group primary.

    Scale shape vs the reference: sim >= t is EXACTLY hamming <=
    floor(64*(1-t)), so candidate pairs come from the Manku banded join
    (never the reference's O(n^2) nested Python loops), and grouping is
    min-label propagation (connected_components_distributed) instead of
    driver union-find. Membership is identical (components of the same
    graph); the PRIMARY is the lexicographic min member, where the
    reference's sequential union-find primary is scan-path-dependent
    (its merge rule keeps min(primary_ids), so the two agree whenever
    every group-creation primary is its component's min id — the common
    case; the differential test pins fixtures on both sides)."""
    from .graph import connected_components_distributed

    max_h = int(64 * (1.0 - threshold))
    # slim (id, long) checkpoint: the banded SELF-join reads this frame
    # on both sides and the component loop's symmetric-edge frame reads
    # the join again — without truncation the 64-aggregate simhash
    # subtree recomputes 3-4x through that lineage (invariant 5; the
    # measured shingle-recompute lesson)
    sigs = hashes.select("doc_id", "simhash").localCheckpoint(eager=False)
    # k+1 blocks, not the k+3 combo default: at the large k a similarity
    # threshold implies (k = 12 at t = 0.8), C(k+3, 3) explodes into
    # hundreds of keys per row while C(k+1, 1) = k+1 keys of ~59 bits
    # each stay selective
    pairs = simhash_pairs_from_sigs(sigs, max_hamming=max_h, blocks=max_h + 1)
    edges = pairs.select(
        F.col("id_a").cast("string").alias("entity_a"),
        F.col("id_b").cast("string").alias("entity_b"),
    ).localCheckpoint(eager=True)
    # near-dup pair frames are FAR smaller than the corpus (output-bound
    # banded join), so materializing them once keeps the component loop —
    # whose fast path probes the edge count and whose distributed loop
    # reads the frame every round — from re-running the banded join
    comp = connected_components_distributed(edges)
    return (
        comp.select(
            F.col("component").alias("primary_document_id"),
            F.col("name").alias("member_id"),
        )
        .withColumn("detection_method", F.lit("simhash"))
        .withColumn(
            "similarity_threshold", F.lit(float(threshold))
        )
    )


def merge_documents(
    documents: DataFrame,
    groups: DataFrame,
    mentions: DataFrame | None = None,
    claims: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Duplicate-group merge (DeduplicationService.merge_documents,
    deduplication.py:498-660) as one declarative batch over ALL groups:
    the reference loops per group issuing per-duplicate UPDATE/DELETE
    statements; here the dup->primary map drives set-oriented joins, so
    a 100-TB corpus merges in three shuffles (map join per reference
    table + one history agg) instead of O(groups x dups) round trips.

    The reference's keep_primary strategy with preserve_references and
    the soft_delete cleanup.

    Inputs: `documents` keyed by `doc_id` with optional `status`;
    `groups` = duplicate_groups() output (primary_document_id,
    member_id); mentions/claims keyed by `document_id`.

    Returns frames mirroring the reference's post-merge state:
      documents — dups get status 'merged' + merged_into_id;
      mentions / claims — `document_id` re-pointed to the group primary
        (the two UPDATEs at :550-574);
      history — one row per group: merged_count, references_updated,
        documents_cleaned, strategy, cleanup_action (merge_history
        insert at :637-652; uuid/timestamp omitted, duplicate ids
        serialized sorted since the reference's set order is arbitrary).
    """
    dup_map = (
        groups.where(F.col("member_id") != F.col("primary_document_id"))
        .select(
            F.col("member_id").alias("_dup_id"),
            F.col("primary_document_id").alias("_primary_id"),
        )
        .distinct()
    )

    def _repoint(df: DataFrame | None) -> DataFrame | None:
        if df is None:
            return None
        out = df.join(
            dup_map, df["document_id"] == dup_map._dup_id, "left"
        )
        return out.select(
            *[c for c in df.columns if c != "document_id"],
            F.coalesce(dup_map._primary_id, df["document_id"]).alias("document_id"),
            # original dup id kept for the per-group rowcount ledger
            dup_map._dup_id.alias("_from_dup"),
        )

    mentions_out = _repoint(mentions)
    claims_out = _repoint(claims)

    docs = documents
    status_col = (
        F.col("status") if "status" in documents.columns
        else F.lit("active")
    )
    d = docs.join(dup_map, docs["doc_id"] == dup_map._dup_id, "left")
    docs_out = d.select(
        *[c for c in docs.columns if c != "status"],
        F.when(dup_map._dup_id.isNotNull(), F.lit("merged"))
        .otherwise(status_col).alias("status"),
        dup_map._primary_id.alias("merged_into_id"),
    )

    # per-group ledger: references_updated sums the re-pointed rowcounts
    # across BOTH reference tables (:560, :572); documents_cleaned counts
    # every dup (:630-632)
    def _ref_counts(df: DataFrame | None) -> DataFrame | None:
        if df is None:
            return None
        # re-pointed rows already carry the primary in document_id
        return (
            df.where(F.col("_from_dup").isNotNull())
            .groupBy(F.col("document_id").alias("_primary_id"))
            .agg(F.count(F.lit(1)).alias("n_refs"))
        )

    hist = dup_map.groupBy("_primary_id").agg(
        F.count(F.lit(1)).alias("merged_count"),
        F.array_join(
            F.array_sort(F.collect_list(F.col("_dup_id").cast("string"))),
            "|",
        ).alias("merged_document_ids"),
    )
    ref_counts = [
        rc
        for rc in (_ref_counts(mentions_out), _ref_counts(claims_out))
        if rc is not None
    ]
    if ref_counts:
        refs = ref_counts[0]
        for rc in ref_counts[1:]:
            refs = refs.unionByName(rc)
        refs = refs.groupBy("_primary_id").agg(
            F.sum("n_refs").alias("references_updated")
        )
        hist = hist.join(refs, "_primary_id", "left").withColumn(
            "references_updated",
            F.coalesce(F.col("references_updated"), F.lit(0)),
        )
    else:
        hist = hist.withColumn("references_updated", F.lit(0))
    history = hist.select(
        F.col("_primary_id").alias("primary_id"),
        F.col("merged_count").cast("long").alias("merged_count"),
        "merged_document_ids",
        F.lit("keep_primary").alias("strategy"),
        F.lit("soft_delete").alias("cleanup_action"),
        F.col("references_updated").cast("long").alias(
            "references_updated"
        ),
        F.col("merged_count").cast("long").alias("documents_cleaned"),
    )

    def _strip(df: DataFrame | None) -> DataFrame | None:
        return df.drop("_from_dup") if df is not None else None

    return {
        "documents": docs_out,
        "mentions": _strip(mentions_out),
        "claims": _strip(claims_out),
        "history": history,
    }


def deduplication_stats(documents: DataFrame, hashes: DataFrame) -> DataFrame:
    """Corpus dedup stats (get_deduplication_stats, deduplication.py:
    662-701): documents LEFT JOIN content_hashes, counting hash coverage
    and distinct sha256; potential_duplicates = with_hash - unique when
    positive. One aggregation job at any corpus size."""
    j = documents.select(F.col("doc_id").alias("_d")).join(
        hashes.select(
            F.col("doc_id").alias("_d"), F.col("content_sha256")
        ),
        "_d",
        "left",
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("total_documents"),
        F.count("content_sha256").alias("documents_with_hash"),
        F.count_distinct("content_sha256").alias("unique_content_hashes"),
    )
    return agg.select(
        F.col("total_documents").cast("long").alias("total_documents"),
        F.col("documents_with_hash").cast("long").alias(
            "documents_with_hash"
        ),
        F.col("unique_content_hashes").cast("long").alias(
            "unique_content_hashes"
        ),
        F.greatest(
            F.col("documents_with_hash") - F.col("unique_content_hashes"),
            F.lit(0),
        ).cast("long").alias("potential_duplicates"),
    )
