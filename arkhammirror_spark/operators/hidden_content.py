"""Hidden-content / steganography detection — native Spark restatement.

Reference lineage: arkham-shard-anomalies/hidden_content.py
(`HiddenContentDetector`):
- ``calculate_entropy`` (:65-90): Shannon entropy of byte data, 0..8.
- ``analyze_entropy_regions`` (:92-139): per-chunk entropy (default 1024
  bytes, trailing chunks < 64 bytes skipped), anomalous at ≥ 7.0,
  "Near-random" description at ≥ 7.5.
- ``analyze_lsb_image`` (:141-214): LSB ratio over the first 3 channels,
  chi-square vs 50/50 with df=1, suspicious when p > 0.05 AND ratio in
  [0.48, 0.52] (stego flattens the natural LSB bias), confidence =
  1 − |0.5 − ratio|·2.
- ``detect_file_type_mismatch`` (:216-282): magic-sniffed MIME vs the
  extension→MIME decision table (:247-277, ported verbatim).
- ``calculate_file_hashes`` (:284-301): md5/sha256/sha512.
- ``analyze_histogram`` (:303-364): per-channel pairs-of-values ratio
  (adjacent-bin |Δ| < 10 over non-empty pairs), suspicious at avg > 0.7.
- ``full_scan`` (:366-502): composition — size gate, findings strings,
  StegoIndicator confidences (entropy_spike 0.7, high_global_entropy
  0.8, file_type_mismatch 0.9, lsb_pattern = LSB confidence,
  histogram_anomaly 0.6), stego_confidence = max confidence.

The reference scans ONE file per call with scipy + python-magic + PIL;
here the scan is one pass of the row lane (``lane.explode_lane``) over a
binary column (numpy ``bincount`` entropy — no per-byte Python), the magic
sniffer is a dependency-free byte-prefix classifier emitting the same
MIME strings the decision table expects, the chi-square p-value is the
exact closed form for df=1 (``1 − chi2.cdf(x, 1) = erfc(√(x/2))``,
stdlib math — no scipy), and image arms decode through
``multimodal.decode_image`` (PIL when present, stdlib PNG/BMP/PNM lane
otherwise). Hashes stay JVM-side (``F.md5`` / ``F.sha2``). One
deterministic deviation, required by the engine's reproducibility
invariant: where the reference samples pixels with unseeded
``np.random.choice`` above ``lsb_sample_size`` (:170), this
implementation takes an evenly-strided sample of the same size —
identical below the cap (the differential-test regime).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .lane import explode_lane

# HiddenContentConfig defaults (models.py:300-325)
ENTROPY_THRESHOLD_HIGH = 7.5
ENTROPY_THRESHOLD_SUSPICIOUS = 7.0
ENTROPY_CHUNK_SIZE = 1024
LSB_SAMPLE_SIZE = 10000
CHI_SQUARE_THRESHOLD = 0.05
MAX_FILE_SIZE_MB = 100

# extension → expected MIME types (hidden_content.py:247-277, verbatim)
EXT_MIME_MAP: dict[str, list[str]] = {
    ".jpg": ["image/jpeg"],
    ".jpeg": ["image/jpeg"],
    ".png": ["image/png"],
    ".gif": ["image/gif"],
    ".bmp": ["image/bmp", "image/x-ms-bmp"],
    ".tiff": ["image/tiff"],
    ".tif": ["image/tiff"],
    ".webp": ["image/webp"],
    ".pdf": ["application/pdf"],
    ".doc": ["application/msword"],
    ".docx": ["application/vnd.openxmlformats-officedocument"
              ".wordprocessingml.document"],
    ".xls": ["application/vnd.ms-excel"],
    ".xlsx": ["application/vnd.openxmlformats-officedocument"
              ".spreadsheetml.sheet"],
    ".ppt": ["application/vnd.ms-powerpoint"],
    ".pptx": ["application/vnd.openxmlformats-officedocument"
              ".presentationml.presentation"],
    ".txt": ["text/plain"],
    ".html": ["text/html"],
    ".htm": ["text/html"],
    ".xml": ["text/xml", "application/xml"],
    ".json": ["application/json", "text/json"],
    ".zip": ["application/zip"],
    ".rar": ["application/x-rar-compressed", "application/vnd.rar"],
    ".7z": ["application/x-7z-compressed"],
    ".tar": ["application/x-tar"],
    ".gz": ["application/gzip", "application/x-gzip"],
    ".mp3": ["audio/mpeg"],
    ".wav": ["audio/wav", "audio/x-wav"],
    ".mp4": ["video/mp4"],
    ".avi": ["video/x-msvideo"],
}


def sniff_mime(payload: bytes | None) -> str:
    """Dependency-free magic sniffer emitting the MIME strings the
    decision table expects — the python-magic stand-in (the reference
    degrades to 'unknown' without libmagic, :50-63; this lane keeps the
    mismatch arm alive with byte prefixes)."""
    if not payload:
        return "unknown"
    h = payload[:512]
    if h.startswith(b"\x89PNG\r\n\x1a\n"):
        return "image/png"
    if h.startswith(b"\xff\xd8\xff"):
        return "image/jpeg"
    if h.startswith(b"GIF87a") or h.startswith(b"GIF89a"):
        return "image/gif"
    if h.startswith(b"BM"):
        return "image/bmp"
    if h.startswith(b"II*\x00") or h.startswith(b"MM\x00*"):
        return "image/tiff"
    if h[:4] == b"RIFF" and h[8:12] == b"WEBP":
        return "image/webp"
    if h[:4] == b"RIFF" and h[8:12] == b"WAVE":
        return "audio/wav"
    if h[:4] == b"RIFF" and h[8:12] == b"AVI ":
        return "video/x-msvideo"
    if h.startswith(b"%PDF-"):
        return "application/pdf"
    if h.startswith(b"PK\x03\x04"):
        return "application/zip"
    if h.startswith(b"Rar!\x1a\x07"):
        return "application/x-rar-compressed"
    if h.startswith(b"7z\xbc\xaf\x27\x1c"):
        return "application/x-7z-compressed"
    if h.startswith(b"\x1f\x8b"):
        return "application/gzip"
    if h.startswith(b"ID3") or h[:2] in (b"\xff\xfb", b"\xff\xf3"):
        return "audio/mpeg"
    if len(h) > 4 and h[4:8] == b"ftyp":
        return "video/mp4"
    if h[257:262] == b"ustar":
        return "application/x-tar"
    low = h.lstrip()[:64].lower()
    if low.startswith(b"<!doctype html") or low.startswith(b"<html"):
        return "text/html"
    if low.startswith(b"<?xml"):
        return "text/xml"
    if low.startswith(b"{") or low.startswith(b"["):
        return "application/json"
    try:
        h.decode("utf-8")
        return "text/plain"
    except UnicodeDecodeError:
        return "application/octet-stream"


def mime_mismatch(
    claimed_extension: str, actual_mime: str
) -> tuple[bool, str, str]:
    """The decision-table half of detect_file_type_mismatch (:279-282):
    unknown extensions never mismatch; expected is the comma-joined
    allow-list."""
    expected = EXT_MIME_MAP.get((claimed_extension or "").lower(), [])
    is_mismatch = actual_mime not in expected if expected else False
    return is_mismatch, ", ".join(expected) if expected else "unknown", actual_mime


def shannon_entropy(data: bytes) -> float:
    """calculate_entropy (:65-90) as one numpy bincount (0.0 for empty)."""
    if not data:
        return 0.0
    import numpy as np

    counts = np.bincount(np.frombuffer(data, dtype=np.uint8), minlength=256)
    n = counts.sum()
    p = counts[counts > 0] / n
    return float(-(p * np.log2(p)).sum())


def entropy_regions(data: bytes) -> list[tuple[int, int, float, bool, str]]:
    """analyze_entropy_regions (:92-139): (start, end, entropy,
    is_anomalous, description) per chunk; trailing chunks < 64 bytes
    skipped exactly like the reference."""
    regions = []
    for i in range(0, len(data), ENTROPY_CHUNK_SIZE):
        chunk = data[i:i + ENTROPY_CHUNK_SIZE]
        if len(chunk) < 64:
            continue
        e = shannon_entropy(chunk)
        if e >= ENTROPY_THRESHOLD_HIGH:
            desc = "Near-random data (possible encryption/steganography)"
        elif e >= ENTROPY_THRESHOLD_SUSPICIOUS:
            desc = "Elevated entropy (suspicious region)"
        else:
            desc = ""
        regions.append(
            (i, min(i + ENTROPY_CHUNK_SIZE, len(data)), e,
             e >= ENTROPY_THRESHOLD_SUSPICIOUS, desc)
        )
    return regions


def chi2_sf_df1(x: float) -> float:
    """Exact survival function of chi-square with df=1:
    1 − chi2.cdf(x, 1) = erfc(√(x/2)) — the closed form scipy evaluates
    (:193), stdlib-only."""
    return math.erfc(math.sqrt(x / 2.0)) if x > 0 else 1.0


def lsb_stats(arr) -> dict | None:
    """analyze_lsb_image (:161-210) over a DECODED pixel array: LSBs of
    the first 3 channels (gray → the single channel), 50/50 chi-square,
    suspicion rule and confidence verbatim. Above the sample cap the
    PIXELS are sampled (reference :167-171 samples pixels, then expands
    channels); this lane strides deterministically instead of
    np.random.choice — identical below the cap."""
    import numpy as np

    a = np.asarray(arr)
    if a.ndim == 2:
        pix = a.reshape(-1, 1)
    else:
        pix = a.reshape(-1, a.shape[-1])[:, :3]
    n_pix = pix.shape[0]
    if n_pix == 0:
        return None
    if n_pix > LSB_SAMPLE_SIZE:
        idx = np.linspace(0, n_pix - 1, LSB_SAMPLE_SIZE).astype(np.int64)
        pix = pix[idx]
    lsbs = (pix & 1).ravel()
    n = int(lsbs.size)
    ones = int(lsbs.sum())
    expected = n / 2.0
    chi = ((ones - expected) ** 2 + ((n - ones) - expected) ** 2) / expected
    p = chi2_sf_df1(chi)
    ratio = ones / n
    return {
        "bit_ratio": ratio,
        "chi_square_value": chi,
        "chi_square_p_value": p,
        "is_suspicious": bool(
            p > CHI_SQUARE_THRESHOLD and 0.48 <= ratio <= 0.52
        ),
        "confidence": 1.0 - abs(0.5 - ratio) * 2,
        "sample_size": n,
    }


def histogram_pair_stats(arr) -> dict | None:
    """analyze_histogram (:322-360) over a decoded array: per-channel
    256-bin histograms (gray replicated to RGB, mirroring the RGB
    convert), pairs-of-values ratio with the exact |Δ| < 10 / non-empty
    pair accounting, suspicious at avg > 0.7."""
    import numpy as np

    a = np.asarray(arr)
    if a.ndim == 2:
        chans = [a, a, a]
    else:
        chans = [a[..., c] for c in range(min(3, a.shape[-1]))]
        while len(chans) < 3:
            chans.append(chans[-1])

    def pair_ratio(channel):
        hist = np.bincount(channel.ravel().astype(np.int64), minlength=256)
        close = total = 0
        for i in range(0, 256, 2):
            if hist[i] > 0 or hist[i + 1] > 0:
                total += 1
                if abs(int(hist[i]) - int(hist[i + 1])) < 10:
                    close += 1
        return close / total if total > 0 else 0

    r, g, b = (pair_ratio(c) for c in chans)
    avg = (r + g + b) / 3
    return {
        "r_pair_ratio": r, "g_pair_ratio": g, "b_pair_ratio": b,
        "average_pair_ratio": avg, "is_suspicious": avg > 0.7,
    }


def scan_payload(
    data: bytes,
    file_extension: str,
    mime_type: str | None,
    max_file_size_mb: int = MAX_FILE_SIZE_MB,
) -> dict:
    """full_scan (:366-502) for one payload — pure function shared by the
    DataFrame op and tests. Returns flat columns; findings joined with
    '|', indicator confidences composed exactly (entropy_spike 0.7,
    high_global_entropy 0.8, file_type_mismatch 0.9, lsb_pattern = LSB
    confidence, histogram_anomaly 0.6; stego_confidence = max, 0.0 when
    clean)."""
    out = {
        "entropy_global": None, "n_regions": 0, "n_high_regions": 0,
        "max_region_entropy": None, "magic_expected": None,
        "magic_actual": None, "file_mismatch": False,
        "lsb_bit_ratio": None, "lsb_chi_square": None, "lsb_p_value": None,
        "lsb_suspicious": None, "lsb_confidence": None, "lsb_sample": None,
        "hist_r": None, "hist_g": None, "hist_b": None, "hist_avg": None,
        "hist_suspicious": None, "findings": "", "stego_confidence": 0.0,
        "scan_status": "completed",
    }
    data = data or b""
    size_mb = len(data) / (1024 * 1024)
    if size_mb > max_file_size_mb:
        out["findings"] = f"File too large ({size_mb:.1f}MB) - skipped"
        return out

    findings: list[str] = []
    confidences: list[float] = []

    out["entropy_global"] = shannon_entropy(data)
    regions = entropy_regions(data)
    out["n_regions"] = len(regions)
    high = [r for r in regions if r[3]]
    out["n_high_regions"] = len(high)
    if regions:
        out["max_region_entropy"] = max(r[2] for r in regions)
    if high:
        findings.append(f"Found {len(high)} high-entropy regions")
        confidences.append(0.7)
    if out["entropy_global"] and out["entropy_global"] >= ENTROPY_THRESHOLD_HIGH:
        findings.append(
            f"Very high global entropy: {out['entropy_global']:.3f}"
        )
        confidences.append(0.8)

    actual = sniff_mime(data)
    is_mismatch, expected, actual = mime_mismatch(file_extension, actual)
    out["magic_expected"] = expected
    out["magic_actual"] = actual
    out["file_mismatch"] = is_mismatch
    if is_mismatch:
        findings.append(
            f"File type mismatch: expected {expected}, found {actual}"
        )
        confidences.append(0.9)

    is_image = bool(mime_type) and "image" in mime_type.lower()
    if is_image:
        from .multimodal import _load_pil, decode_image

        try:
            arr = decode_image(data, _load_pil())
        except Exception:
            arr = None  # undecodable → arm silently absent (:212-214)
        if arr is not None:
            lsb = lsb_stats(arr)
            if lsb:
                out["lsb_bit_ratio"] = lsb["bit_ratio"]
                out["lsb_chi_square"] = lsb["chi_square_value"]
                out["lsb_p_value"] = lsb["chi_square_p_value"]
                out["lsb_suspicious"] = lsb["is_suspicious"]
                out["lsb_confidence"] = lsb["confidence"]
                out["lsb_sample"] = lsb["sample_size"]
                if lsb["is_suspicious"]:
                    findings.append(
                        f"Suspicious LSB pattern: {lsb['bit_ratio']:.3f} "
                        f"ratio, p-value={lsb['chi_square_p_value']:.4f}"
                    )
                    confidences.append(lsb["confidence"])
            hist = histogram_pair_stats(arr)
            if hist:
                out["hist_r"] = hist["r_pair_ratio"]
                out["hist_g"] = hist["g_pair_ratio"]
                out["hist_b"] = hist["b_pair_ratio"]
                out["hist_avg"] = hist["average_pair_ratio"]
                out["hist_suspicious"] = hist["is_suspicious"]
                if hist["is_suspicious"]:
                    findings.append(
                        "Suspicious histogram pattern: pair ratio "
                        f"{hist['average_pair_ratio']:.3f}"
                    )
                    confidences.append(0.6)

    out["findings"] = "|".join(findings)
    out["stego_confidence"] = max(confidences, default=0.0)
    return out


_SCAN_FIELDS = [
    ("entropy_global", "double"), ("n_regions", "long"),
    ("n_high_regions", "long"), ("max_region_entropy", "double"),
    ("magic_expected", "string"), ("magic_actual", "string"),
    ("file_mismatch", "boolean"), ("lsb_bit_ratio", "double"),
    ("lsb_chi_square", "double"), ("lsb_p_value", "double"),
    ("lsb_suspicious", "boolean"), ("lsb_confidence", "double"),
    ("lsb_sample", "long"), ("hist_r", "double"), ("hist_g", "double"),
    ("hist_b", "double"), ("hist_avg", "double"),
    ("hist_suspicious", "boolean"), ("findings", "string"),
    ("stego_confidence", "double"), ("scan_status", "string"),
]


def hidden_content_scan(
    media: DataFrame,
    id_col: str = "media_id",
    with_hashes: bool = True,
) -> DataFrame:
    """Corpus-wide full_scan of (id_col, data, ext, mime) rows: one
    Arrow-batched pass computes the entropy/
    magic/LSB/histogram arms; md5/sha256/sha512 (calculate_file_hashes,
    :284-301) stay native (`F.md5`/`F.sha2`) so the hash math never
    leaves the JVM. At 100 TB the scan is embarrassingly parallel — no
    shuffle at all; partition count follows the input files."""
    id_ddl = media.schema[id_col].dataType.simpleString()
    schema = ", ".join(
        [f"{id_col} {id_ddl}"] + [f"{n} {t}" for n, t in _SCAN_FIELDS]
    )

    def _scan(data, ext, mime) -> list[dict]:
        return [scan_payload(
            bytes(data) if data is not None else b"", ext or "", mime
        )]

    scanned = explode_lane(
        media.select(id_col, "data", "ext", "mime"), _scan, schema
    )
    if not with_hashes:
        return scanned
    hashes = media.select(
        F.col(id_col),
        F.md5(F.col("data")).alias("md5"),
        F.sha2(F.col("data"), 256).alias("sha256"),
        F.sha2(F.col("data"), 512).alias("sha512"),
    )
    return scanned.join(hashes, id_col)
