"""Error-Level Analysis (ELA) — media_forensics/services/ela_analyzer.py
:42-169 re-expressed as one pass of the row lane.

The reference loads a file with PIL, re-saves it as JPEG at a known
quality, and interprets |original - resaved| statistics (:59-104). The
JPEG re-encode is the only codec-dependent step: with PIL importable the
lane re-encodes for real (LANCZOS-free, quality passthrough, engine
"pil"); without it a deterministic quantization degrade ((v // 8) * 8 — an
idealized compressor's value rounding, engine "mock") stands in, so the
diff/scale/block-statistics/interpretation math runs for real everywhere.

Interpretation parity (:114-169): mean/std/max of the scaled error, 64-px
block means over range(0, dim - 64, 64) — the reference's loop EXCLUDES
trailing blocks, mirrored verbatim — block-std uniformity score
1 - min(block_std/50, 1), and the three assessment strings keyed on
block_std < 5 / > 20."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from .lane import explode_lane
from .multimodal import _load_pil, decode_image


def ela_from_arrays(orig, resaved) -> dict[str, object]:
    """|orig - resaved| * 15 (clipped u8) -> the reference's
    interpretation dict fields (ela_analyzer.py:77-145)."""
    import numpy as np

    diff = np.abs(orig.astype(np.int16) - resaved.astype(np.int16))
    ela = np.clip(diff * 15, 0, 255).astype(np.uint8)
    mean_error = float(np.mean(ela))
    std_error = float(np.std(ela))
    max_error = float(np.max(ela))
    block = 64
    h, w = ela.shape[:2]
    block_means = [
        float(np.mean(ela[y:y + block, x:x + block]))
        for y in range(0, h - block, block)
        for x in range(0, w - block, block)
    ]
    block_std = float(np.std(block_means)) if block_means else 0.0
    if block_std < 5:
        assessment = "Highly uniform error levels"
    elif block_std > 20:
        assessment = "Variable error levels detected"
    else:
        assessment = "Error levels appear typical"
    return {
        "mean_error": mean_error,
        "std_error": std_error,
        "max_error": max_error,
        "uniformity_score": float(1.0 - min(block_std / 50, 1.0)),
        "assessment": assessment,
    }


def _mock_resave(arr):
    """Deterministic stand-in for the JPEG round trip: quantize each channel
    to 8-value steps (bounded, content-dependent error like a real codec's,
    with none of the codec)."""
    return (arr // 8) * 8


def _pil_resave(pil, arr):
    import io

    import numpy as np

    img = pil.fromarray(arr)
    if img.mode != "RGB":
        img = img.convert("RGB")
    buf = io.BytesIO()
    img.save(buf, format="JPEG", quality=95)
    buf.seek(0)
    with pil.open(buf) as back:
        return np.array(back)


ELA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("mean_error", DoubleType(), True),
        StructField("std_error", DoubleType(), True),
        StructField("max_error", DoubleType(), True),
        StructField("uniformity_score", DoubleType(), True),
        StructField("assessment", StringType(), True),
        StructField("engine", StringType(), True),
        StructField("error", StringType(), True),
    ]
)


def ela_metrics(media: DataFrame) -> DataFrame:
    """media(image rows) -> per-image ELA statistics + assessment; `engine`
    names the resave the session's Python offers (pil | mock), on every
    row. Undecodable payloads quarantine per row."""

    def _ela(payload) -> list[dict]:
        import numpy as np

        if payload is None:
            raise ValueError("empty payload")
        pil = _load_pil()
        arr = decode_image(bytes(payload), pil)
        if arr.ndim == 2:
            arr = np.stack([arr] * 3, axis=2)
        resaved = _pil_resave(pil, arr) if pil else _mock_resave(arr)
        return [ela_from_arrays(arr, resaved)]

    images = media.where("media_type = 'image'").select("media_id", "payload")
    return explode_lane(images, _ela, ELA_SCHEMA).withColumn(
        "engine", F.lit("pil" if _load_pil() else "mock")
    )
