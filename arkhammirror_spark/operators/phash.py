"""Perceptual image hashing (aHash / dHash / pHash) and hamming-banded
similar-image search — the multimodal analogue of the MinHash near-dup lane.

Reference semantics: arkham-shard-media-forensics/services/perceptual_hash.py
:57-109 (pHash = 32x32 grayscale -> orthonormal 2D DCT -> top-left 8x8 vs
median-excluding-DC; aHash = 8x8 grayscale vs mean; dHash = 9x8 grayscale
adjacent-column compare; all packed row-major, first bit most significant,
hex zfill to 16 chars) and :111-132 (hamming distance).
The reference computes hashes one file at a time with PIL + scipy and finds
similar images by scanning every stored hash in Python (:134-180); here the
hashes are one pass of the row lane over the media frame and the
similar-image search is the same Manku block-combination hamming join the
SimHash lane uses — bucketed, never all-pairs.

Decode as extract_image_features: PIL when present (convert("L") + LANCZOS
like the reference), stdlib else (BT.601 grayscale + box-average resample
over the repo's own PNG/BMP/PNM decode). The DCT needs no scipy: the
orthonormal DCT-II is a 32x32 matrix product, numpy-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .lane import explode_lane
from .multimodal import _load_pil, decode_image, grayscale


def dct_matrix(n: int):
    """Orthonormal DCT-II matrix (scipy.fftpack.dct(norm='ortho') equivalent):
    D[k,i] = c_k * cos(pi * (i + 0.5) * k / n), c_0 = sqrt(1/n),
    c_k = sqrt(2/n). 2D DCT of P is then D @ P @ D.T."""
    import numpy as np

    i = np.arange(n, dtype=np.float64)
    k = i[:, None]
    d = np.cos(np.pi * (i + 0.5) * k / n)
    d[0] *= np.sqrt(1.0 / n)
    d[1:] *= np.sqrt(2.0 / n)
    return d


def resample_box(arr, new_w: int, new_h: int):
    """Area-average (box) downsample in float64 — the stdlib lane's stand-in
    for LANCZOS: each target pixel is the mean of its source box. Determinstic
    and alias-free enough for 8x8/32x32 hash grids (nearest-neighbor aliasing
    measurably flips aHash bits under 1-pixel shifts; box averaging doesn't).
    Handles non-integer ratios by fractional box weights (exact partition of
    the source area, so the total mass is preserved)."""
    import numpy as np

    h, w = arr.shape[:2]
    a = arr.astype(np.float64)

    def axis_weights(src: int, dst: int):
        # rows: for each target cell, (start, stop) in source coordinates
        edges = np.linspace(0.0, src, dst + 1)
        out = []
        for t in range(dst):
            lo, hi = edges[t], edges[t + 1]
            i0, i1 = int(np.floor(lo)), int(np.ceil(hi))
            idx = np.arange(i0, min(i1, src))
            wts = np.minimum(idx + 1.0, hi) - np.maximum(idx.astype(np.float64), lo)
            out.append((idx, wts / (hi - lo)))
        return out

    rows = axis_weights(h, new_h)
    cols = axis_weights(w, new_w)
    out = np.empty((new_h, new_w), dtype=np.float64)
    for r, (ri, rw) in enumerate(rows):
        band = np.tensordot(rw, a[ri], axes=(0, 0))
        for c, (ci, cw) in enumerate(cols):
            out[r, c] = float(np.dot(band[ci], cw))
    return out


def _bits_to_hex_and_long(bits) -> tuple[str, int]:
    """Row-major bool array -> (reference hex string, signed int64).
    First bit is the most significant (perceptual_hash.py:106-109); values
    with the top bit set map to negative longs (two's complement)."""
    v = 0
    for b in bits:
        v = (v << 1) | (1 if b else 0)
    hx = format(v, "x").zfill(len(bits) // 4)
    if v >= 1 << 63:
        v -= 1 << 64
    return hx, v


def ahash_bits(gray8):
    """8x8 grayscale vs mean (perceptual_hash.py:82-92)."""
    return (gray8 > gray8.mean()).flatten()


def dhash_bits(gray9x8):
    """9(w)x8(h) grayscale, adjacent-column compare (perceptual_hash.py:94-104)."""
    return (gray9x8[:, :-1] > gray9x8[:, 1:]).flatten()


def phash_bits(gray32):
    """32x32 grayscale -> orthonormal 2D DCT -> top-left 8x8 compared against
    the median of those 64 coefficients EXCLUDING the DC term; the DC position
    still contributes a bit (perceptual_hash.py:57-80)."""
    import numpy as np

    d = dct_matrix(32)
    coeffs = d @ gray32 @ d.T
    low = coeffs[:8, :8]
    med = np.median(low.flatten()[1:])
    return (low > med).flatten()


def perceptual_hashes_from_array(arr) -> dict[str, object]:
    """Decoded image array -> {ahash, dhash, phash} hex + signed-long sigs,
    via the stdlib resample lane."""
    g = grayscale(arr).astype("float64")
    a_hex, a_sig = _bits_to_hex_and_long(ahash_bits(resample_box(g, 8, 8)))
    d_hex, d_sig = _bits_to_hex_and_long(dhash_bits(resample_box(g, 9, 8)))
    p_hex, p_sig = _bits_to_hex_and_long(phash_bits(resample_box(g, 32, 32)))
    return {
        "ahash": a_hex, "ahash_sig": a_sig,
        "dhash": d_hex, "dhash_sig": d_sig,
        "phash": p_hex, "phash_sig": p_sig,
    }


def _pil_gray(pil, raw: bytes, w: int, h: int):
    import io

    import numpy as np

    with pil.open(io.BytesIO(raw)) as img:
        return np.array(
            img.convert("L").resize((w, h), pil.Resampling.LANCZOS),
            dtype=np.float64,
        )


PHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("ahash", StringType(), True),
        StructField("ahash_sig", LongType(), True),
        StructField("dhash", StringType(), True),
        StructField("dhash_sig", LongType(), True),
        StructField("phash", StringType(), True),
        StructField("phash_sig", LongType(), True),
        StructField("engine", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


def image_perceptual_hashes(media: DataFrame) -> DataFrame:
    """media(image rows) -> one row per image with all three 64-bit
    perceptual hashes, as reference-format hex strings AND signed longs
    (the longs feed the hamming band join). `engine` names the decode the
    session's Python offers (pil | stdlib), on every row; undecodable
    payloads quarantine per row."""

    def _hashes(payload) -> list[dict]:
        if payload is None:
            raise ValueError("empty payload")
        raw, pil = bytes(payload), _load_pil()
        if pil is None:
            return [perceptual_hashes_from_array(decode_image(raw))]
        out: dict[str, object] = {}
        for name, bits, (w, h) in (
            ("ahash", ahash_bits, (8, 8)),
            ("dhash", dhash_bits, (9, 8)),
            ("phash", phash_bits, (32, 32)),
        ):
            out[name], out[f"{name}_sig"] = _bits_to_hex_and_long(
                bits(_pil_gray(pil, raw, w, h))
            )
        return [out]

    images = media.where("media_type = 'image'").select("media_id", "payload")
    return explode_lane(images, _hashes, PHASH_SCHEMA).withColumn(
        "engine", F.lit("pil" if _load_pil() else "stdlib")
    )


def image_neardup(media: DataFrame) -> DataFrame:
    """Similar-image pairs: phash signatures within Hamming distance 6,
    through the SimHash lane's Manku block-combination hamming join (exact
    Hamming-ball result, bucketed). Returns (id_a, id_b, hamming).

    Scale note: candidate discrimination falls as the distance grows — keys
    are b-k of b signature blocks, so k=6 with b=k+3 keys on ~21 bits
    (C(9,3)=84 combos). The reference's looser UI threshold of 10 would key
    on ~11 bits and only suits collection-sized corpora, not web scale.
    """
    from .dedup import simhash_pairs_from_sigs

    sigs = (
        image_perceptual_hashes(media)
        .where(F.col("error").isNull())
        .select("media_id", F.col("phash_sig").alias("sig"))
        # slim (id, 64-bit sig) checkpoint: both sides of the banded
        # self-join would otherwise re-run the decode+hash Arrow pass
        # (the invariant-5 slim-hash rule; swap for a storage checkpoint
        # on a real cluster)
        .localCheckpoint(eager=True)
    )
    return simhash_pairs_from_sigs(
        sigs, id_col="media_id", sig_col="sig", max_hamming=6
    )


def hamming_distance_hex(hash1: str, hash2: str) -> int:
    """Reference parity helper (perceptual_hash.py:111-123)."""
    if len(hash1) != len(hash2):
        raise ValueError("Hashes must be same length")
    return bin(int(hash1, 16) ^ int(hash2, 16)).count("1")
