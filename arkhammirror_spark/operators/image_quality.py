"""Ingest image-quality classification + OCR routing (Spark-first).

Re-expresses the reference's ImageQualityClassifier
(arkham-shard-ingest/classifiers/image_quality.py:41-272) and the
ImageQualityScore rules (ingest/models.py:67-136) + get_ocr_route
(classifiers/image_quality.py:274-341):

- ``image_quality_metrics`` — the five numpy heuristics (contrast,
  skew, noise, layout, blank) run per image inside one pass of the row
  lane over binary payloads, decoded with the repo's stdlib PNG/BMP/PNM
  lane (operators/multimodal.py) — no per-row Python in the driver path,
  one pass per image.
- ``classify_image_quality`` / ``ocr_route`` — the issue ladder
  (CLEAN/FIXABLE/MESSY), downscale rule (dpi > 200 → target 150), the
  issues list, and worker routing are pure column CASE logic, JVM-side.

Byte-faithfulness notes (pinned by the differential tests, which drive
the ACTUAL classifier with an injected PIL facade):
- the noise Laplacian runs on the raw UINT8 grayscale array, so numpy's
  modular uint8 arithmetic wraps exactly like the reference expression
  (classifiers/image_quality.py:180-188);
- issue strings format skew with Python ``:.1f`` and contrast with
  ``:.2f`` — mirrored with F.format_number (HALF_EVEN, the repo's
  decimal-formatting rule);
- dpi comes from a metadata column (default 72, the reference's
  scanned-document assumption) — media tables at scale carry metadata
  columns rather than re-sniffing EXIF per read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .lane import explode_lane
from .multimodal import decode_image, grayscale

DOWNSCALE_THRESHOLD_DPI = 200
TARGET_DPI = 150


# --- the reference's five array heuristics (pure numpy, exact) ----------


def contrast_ratio(gray) -> float:
    """min(1, std/80) (image_quality.py:138-149)."""
    import numpy as np

    return float(min(1.0, np.std(gray) / 80.0))


def skew_angle(gray) -> float:
    """min(10, var(diff(row_means))/100) (:151-171)."""
    import numpy as np

    row_means = np.mean(gray, axis=1)
    row_diff = np.diff(row_means)
    return float(min(10.0, np.var(row_diff) / 100.0))


def has_noise(gray) -> bool:
    """Laplacian variance > 500, computed on the RAW uint8 array so the
    additions/subtraction wrap mod 256 exactly like the reference
    (:173-193)."""
    import numpy as np

    arr = gray
    lap = (
        arr[:-2, 1:-1] + arr[2:, 1:-1]
        + arr[1:-1, :-2] + arr[1:-1, 2:]
        - 4 * arr[1:-1, 1:-1]
    )
    return bool(np.var(lap) > 500)


def layout_complexity(gray) -> str:
    """Edge-ratio ladder simple/table/mixed/complex (:195-228)."""
    import numpy as np

    height, width = gray.shape
    row_means = np.mean(gray, axis=1)
    col_means = np.mean(gray, axis=0)
    row_edges = np.sum(np.abs(np.diff(row_means)) > 30)
    col_edges = np.sum(np.abs(np.diff(col_means)) > 30)
    edge_ratio = (row_edges + col_edges) / (height + width)
    if edge_ratio < 0.05:
        return "simple"
    if edge_ratio < 0.15:
        return "table"
    if edge_ratio < 0.3:
        return "mixed"
    return "complex"


def is_blank(gray) -> bool:
    """Variance / edge-pixel / near-uniform tests (:230-272)."""
    import numpy as np

    if np.var(gray) < 100:
        return True
    mean_val = np.mean(gray)
    edge_pixels = np.sum(np.abs(gray.astype(float) - mean_val) > 30)
    if edge_pixels / gray.size < 0.01:
        return True
    white_ratio = np.sum(gray > 240) / gray.size
    black_ratio = np.sum(gray < 15) / gray.size
    return bool(white_ratio > 0.99 or black_ratio > 0.99)


def _png_mode(payload: bytes) -> str:
    """PIL-equivalent mode for the container's declared color type (the
    reference's is_grayscale check reads img.mode, :72-73)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n" and len(payload) > 25:
        color_type = payload[25]
        return {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}.get(
            color_type, "RGB"
        )
    if payload[:2] in (b"P5",):
        return "L"
    return "RGB"


_METRICS_SCHEMA = (
    "media_id string, width int, height int, mode string, "
    "is_grayscale boolean, compression_ratio double, "
    "contrast_ratio double, skew_angle double, has_noise boolean, "
    "layout_complexity string, is_blank boolean, err int"
)


def image_quality_metrics(media: DataFrame) -> DataFrame:
    """Per-image (media_id, payload) quality metrics (classify(),
    image_quality.py:41-119).

    compression_ratio = payload bytes / (w*h*(3 if RGB else 1)) with the
    container-declared mode; decode failures land in the reference's
    except arm (contrast 0.5, has_noise True, layout 'unknown',
    err = 1)."""
    cols = media.select(
        F.col("media_id").cast("string").alias("media_id"),
        "payload",
    )

    def _metrics(payload) -> list[dict]:
        try:
            payload = bytes(payload)
            gray = grayscale(decode_image(payload))
            h, w = gray.shape
            mode = _png_mode(payload)
            raw_size = w * h * (3 if mode == "RGB" else 1)
            return [{
                "width": w, "height": h, "mode": mode,
                "is_grayscale": mode in ("L", "LA", "1"),
                "compression_ratio": (
                    len(payload) / raw_size if raw_size > 0 else 1.0
                ),
                "contrast_ratio": contrast_ratio(gray),
                "skew_angle": skew_angle(gray),
                "has_noise": has_noise(gray),
                "layout_complexity": layout_complexity(gray),
                "is_blank": is_blank(gray),
                "err": 0,
            }]
        except Exception:  # the reference's except arm
            return [{
                "width": 0, "height": 0, "mode": "RGB",
                "is_grayscale": False, "compression_ratio": 1.0,
                "contrast_ratio": 0.5, "skew_angle": 0.0, "has_noise": True,
                "layout_complexity": "unknown", "is_blank": False, "err": 1,
            }]

    return explode_lane(cols, _metrics, _METRICS_SCHEMA)


def classify_image_quality(metrics: DataFrame, dpi_col: str) -> DataFrame:
    """ImageQualityScore's derived rules (models.py:88-136) as native
    columns: issue count -> CLEAN/FIXABLE/MESSY ladder, needs_downscale
    (dpi > 200), downscale_factor (150/dpi), and the formatted issues
    list (pipe-joined, reference append order)."""
    dpi = F.col(dpi_col).cast("int")
    low_dpi = dpi < 150
    skewed = F.abs(F.col("skew_angle")) > 2.0
    low_contrast = F.col("contrast_ratio") < 0.4
    noisy = F.col("has_noise")
    issues_n = (
        F.when(low_dpi, 1).otherwise(0)
        + F.when(skewed, 1).otherwise(0)
        + F.when(low_contrast, 1).otherwise(0)
        + F.when(noisy, 1).otherwise(0)
    )
    classification = (
        F.when(issues_n == 0, "clean")
        .when(
            (issues_n <= 2)
            & F.col("layout_complexity").isin("simple", "table"),
            "fixable",
        )
        .otherwise(F.lit("messy"))
    )
    issues_list = F.array_join(
        F.filter(
            F.array(
                F.when(
                    low_dpi,
                    F.concat(F.lit("low_dpi:"), dpi.cast("string")),
                ),
                F.when(
                    skewed,
                    F.concat(
                        F.lit("skewed:"),
                        F.format_number(F.col("skew_angle"), 1),
                        F.lit("deg"),
                    ),
                ),
                F.when(
                    low_contrast,
                    F.concat(
                        F.lit("low_contrast:"),
                        F.format_number(F.col("contrast_ratio"), 2),
                    ),
                ),
                F.when(noisy, F.lit("noisy")),
                F.when(
                    F.col("layout_complexity").isin("mixed", "complex"),
                    F.concat(
                        F.lit("complex_layout:"),
                        F.col("layout_complexity"),
                    ),
                ),
            ),
            lambda x: x.isNotNull(),
        ),
        "|",
    )
    needs_downscale = dpi > DOWNSCALE_THRESHOLD_DPI
    return metrics.withColumns(
        {
            "dpi": dpi,
            "classification": classification,
            "needs_downscale": needs_downscale,
            "downscale_factor": F.when(
                needs_downscale,
                F.lit(float(TARGET_DPI)) / dpi.cast("double"),
            ).otherwise(F.lit(1.0)),
            "issues": issues_list,
        }
    )


def ocr_route(classified: DataFrame) -> DataFrame:
    """get_ocr_route (image_quality.py:274-341) in its default auto
    mode, as one CASE column: blank pages skip OCR entirely; high-DPI
    images get the downscale step prepended; routing by classification
    with complex/mixed MESSY layouts escalating to the VLM. Route
    serialized pipe-joined (empty string = skip)."""
    pre = F.when(
        F.col("needs_downscale"), F.array(F.lit("cpu-image:downscale"))
    ).otherwise(F.array().cast("array<string>"))
    tail = (
        F.when(
            F.col("classification") == "clean",
            F.array(F.lit("gpu-paddle")),
        )
        .when(
            F.col("classification") == "fixable",
            F.array(F.lit("cpu-image"), F.lit("gpu-paddle")),
        )
        .otherwise(
            F.when(
                F.col("layout_complexity").isin("mixed", "complex"),
                F.array(F.lit("cpu-image"), F.lit("gpu-qwen")),
            ).otherwise(
                F.array(F.lit("cpu-image"), F.lit("gpu-paddle"))
            )
        )
    )
    route = F.when(
        F.col("is_blank"), F.array().cast("array<string>")
    ).otherwise(F.concat(pre, tail))
    return classified.withColumn("route", F.array_join(route, "|"))
