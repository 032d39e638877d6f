"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Reference lineage: image preprocessing (arkham-shard-ingest/workers/
image_worker.py:212-687 — grayscale/denoise/deskew/Otsu-binarize/resize via
PIL/cv2) and OCR (arkham-shard-ocr/workers/paddle_worker.py:123-293).

Image decode: PIL when importable (imported lazily, once per worker), else
the REAL stdlib lane — PNG (zlib inflate + scanline unfilter), uncompressed
24-bit BMP, and binary PNM (P5/P6) decode to numpy with no codec library.
Undecodable payloads (JPEG etc. without PIL) quarantine per row through the
row lane (``lane.explode_lane``), as every media operator here does.

The preprocessing ops the real lane exposes are numpy restatements of the
reference's pipeline where cv2 isn't required: RGB→gray with the
ITU-R BT.601 weights cv2.COLOR_RGB2GRAY uses and Otsu's threshold
(image_worker.py binarize step). Resize/denoise/CLAHE/deskew stay behind
the PIL/cv2 gate — no honest stdlib equivalent.

Audio decode was already real (stdlib RIFF/PCM); video frame DECODE stays
digest-faked (no codec can be written honestly in-stdlib) while the
sampling plan (timestamps, indices, batch shape) is real.
"""

from __future__ import annotations

import functools
import hashlib
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .lane import explode_lane

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("media_type", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("mime", StringType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_s", DoubleType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("feature", ArrayType(DoubleType()), True),
        StructField("error", StringType(), True),
    ]
)

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("frame_index", IntegerType(), False),
        StructField("frame_ts_s", DoubleType(), False),
        StructField("frame_digest", StringType(), False),
    ]
)


@functools.cache
def _load_pil():
    """Lazy PIL gate, once per worker: the module when importable, else None."""
    try:
        from PIL import Image  # type: ignore

        return Image
    except ImportError:
        return None


# -- stdlib decoders (the real no-PIL lane) ---------------------------------


def _decode_png(payload: bytes):
    """8-bit non-interlaced PNG (gray/RGB/RGBA) via stdlib zlib: IDAT
    inflate + per-scanline unfilter (None/Sub/Up/Average/Paeth)."""
    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG signature")
    pos, idat, ihdr = 8, [], None
    while pos + 8 <= len(payload):
        (size,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size  # len + type + crc
    if ihdr is None or not idat:
        raise ValueError("truncated PNG (missing IHDR/IDAT)")
    w, h, depth, ctype_, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0:
        raise ValueError(f"unsupported PNG (depth={depth}, interlace={interlace})")
    channels = {0: 1, 2: 3, 6: 4}.get(ctype_)
    if channels is None:
        raise ValueError(f"unsupported PNG color type {ctype_}")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev).astype(np.uint8)
        else:  # Sub/Average/Paeth need the left neighbor: sequential per pixel
            cur = np.zeros(stride, dtype=np.uint8)
            for x in range(stride):
                a = int(cur[x - channels]) if x >= channels else 0
                b = int(prev[x])
                if f == 1:
                    val = line[x] + a
                elif f == 3:
                    val = line[x] + (a + b) // 2
                elif f == 4:
                    c = int(prev[x - channels]) if x >= channels else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    val = line[x] + pred
                else:
                    raise ValueError(f"unknown PNG filter {f}")
                cur[x] = val & 0xFF
        out[y] = cur
        prev = cur
    arr = out.reshape(h, w, channels)
    return arr[:, :, 0] if channels == 1 else arr


def _decode_bmp(payload: bytes):
    """Uncompressed 24-bit BITMAPINFOHEADER BMP (bottom-up, 4-byte padded)."""
    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP signature")
    data_off = struct.unpack("<I", payload[10:14])[0]
    hdr_size = struct.unpack("<I", payload[14:18])[0]
    w, h = struct.unpack("<ii", payload[18:26])
    _planes, bpp = struct.unpack("<HH", payload[26:30])
    comp = struct.unpack("<I", payload[30:34])[0]
    if hdr_size < 40 or comp != 0 or bpp != 24:
        raise ValueError(f"unsupported BMP (hdr={hdr_size}, comp={comp}, bpp={bpp})")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    if len(payload) < data_off + stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    rgb = rows[:, :, ::-1]  # BGR → RGB
    return rgb[::-1].copy() if flip else rgb.copy()


def _decode_pnm(payload: bytes):
    """Binary PNM: P5 (gray) / P6 (RGB), maxval ≤ 255."""
    import numpy as np

    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError("not a binary PNM")
    # header tokens: magic, width, height, maxval — with #-comments allowed
    tokens: list[bytes] = []
    pos = 2
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(payload[start:pos])
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit PNM unsupported")
    pos += 1  # single whitespace after maxval
    channels = 1 if magic == b"P5" else 3
    need = w * h * channels
    if len(payload) < pos + need:
        raise ValueError("truncated PNM pixel data")
    arr = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    return arr.reshape(h, w) if channels == 1 else arr.reshape(h, w, 3)


def encode_png(arr) -> bytes:
    """Deterministic filter-0 PNG encode (fixtures): 8-bit
    gray/RGB/RGBA, fixed zlib level — same bytes on every run."""
    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        ctype, channels = 0, 1
    elif a.shape[2] == 3:
        ctype, channels = 2, 3
    elif a.shape[2] == 4:
        ctype, channels = 6, 4
    else:
        raise ValueError(f"unsupported channel count {a.shape[2]}")
    h, w = a.shape[:2]
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))

    def chunk(ctype_b: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype_b
            + body
            + struct.pack(">I", zlib.crc32(ctype_b + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def encode_bmp(arr) -> bytes:
    """Uncompressed 24-bit bottom-up BMP encode."""
    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.stack([a] * 3, axis=2)
    h, w = a.shape[:2]
    stride = (w * 3 + 3) & ~3
    pad = stride - w * 3
    body = b"".join(
        a[y, :, ::-1].tobytes() + b"\x00" * pad for y in range(h - 1, -1, -1)
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + info + body


def decode_image(payload: bytes, pil_module=None):
    """payload → HxW (gray) or HxWxC uint8 numpy array.

    PIL when available (full format coverage, the reference's decode);
    otherwise the stdlib lane sniffs PNG/BMP/PNM. Raises ValueError for
    anything else — callers quarantine."""
    if pil_module is not None:
        import io

        import numpy as np

        return np.array(pil_module.open(io.BytesIO(payload)))
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload)
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] in (b"P5", b"P6"):
        return _decode_pnm(payload)
    raise ValueError("undecodable image format without PIL (stdlib lane: png/bmp/pnm)")


# -- preprocessing ops (image_worker.py:212-687 numpy restatements) ---------


def grayscale(arr):
    """RGB(A) → gray with cv2.COLOR_RGB2GRAY's BT.601 weights (the
    reference's step 1); already-gray arrays pass through."""
    import numpy as np

    if arr.ndim == 2:
        return arr
    rgb = arr[:, :, :3].astype(np.float64)
    g = rgb[:, :, 0] * 0.299 + rgb[:, :, 1] * 0.587 + rgb[:, :, 2] * 0.114
    return np.round(g).astype(np.uint8)


def otsu_threshold(gray) -> int:
    """Otsu's method over the 256-bin histogram (the reference's binarize
    step, cv2.THRESH_OTSU semantics: maximize between-class variance)."""
    import numpy as np

    hist = np.bincount(gray.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 0
    omega = np.cumsum(hist) / total
    mu = np.cumsum(hist * np.arange(256)) / total
    mu_t = mu[-1]
    denom = omega * (1.0 - omega)
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = np.where(denom > 0, (mu_t * omega - mu) ** 2 / denom, 0.0)
    return int(np.argmax(sigma_b))


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("orig_width", IntegerType(), True),
        StructField("orig_height", IntegerType(), True),
        StructField("new_width", IntegerType(), True),
        StructField("new_height", IntegerType(), True),
        StructField("payload", BinaryType(), True),
        StructField("engine", StringType(), False),
        StructField("error", StringType(), True),
    ]
)


def _real_image_features(arr) -> tuple[int, int, list[float]]:
    """(width, height, 8-dim grayscale-stat feature) from a decoded array:
    [mean, std, min, max, median, otsu/255, foreground fraction, aspect/4]."""
    import numpy as np

    h, w = arr.shape[:2]
    g = grayscale(arr).astype(np.float64)
    thr = otsu_threshold(g.astype(np.uint8))
    feature = [
        float(g.mean() / 255.0),
        float(g.std() / 255.0),
        float(g.min() / 255.0),
        float(g.max() / 255.0),
        float(np.median(g) / 255.0),
        thr / 255.0,
        float((g > thr).mean()),
        min(w / h, 4.0) / 4.0,
    ]
    return w, h, [round(f, 9) for f in feature]


def extract_image_features(media: DataFrame) -> DataFrame:
    """media(image rows) → (media_id, width, height, feature[8], error):
    PIL-else-stdlib real decode (see module docstring); null and
    undecodable payloads quarantine per row."""

    def _features(payload) -> list[dict]:
        if payload is None:
            raise ValueError("empty payload")
        w, h, feat = _real_image_features(decode_image(bytes(payload), _load_pil()))
        return [{"width": w, "height": h, "feature": feat}]

    images = media.where("media_type = 'image'").select("media_id", "payload")
    return explode_lane(images, _features, IMAGE_FEATURES_SCHEMA)


def sample_video_frames(media: DataFrame) -> DataFrame:
    """Frame sampling plan for video rows at one frame per second, at most
    four frames:
    deterministic frame timestamps from duration (decode stubbed — digests
    derive from payload+index)."""

    def _frames(payload, dur) -> list[dict]:
        if payload is None or dur is None or dur <= 0:
            return []
        n = min(4, max(1, int(dur)))
        base = hashlib.sha256(bytes(payload)).hexdigest()[:16]
        return [
            {
                "frame_index": i,
                "frame_ts_s": float(i),
                "frame_digest": hashlib.sha256(f"{base}:{i}".encode()).hexdigest()[:16],
            }
            for i in range(n)
        ]

    videos = media.where("media_type = 'video'").select("media_id", "payload", "duration_s")
    return explode_lane(videos, _frames, FRAME_SAMPLE_SCHEMA)


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("sample_rate", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("bits", IntegerType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("rms", DoubleType(), True),
        StructField("peak", DoubleType(), True),
        StructField("error", StringType(), True),
    ]
)


def _decode_wav(payload: bytes) -> dict:
    """REAL decode for PCM WAV (RIFF) — stdlib struct + numpy, no codec
    library needed. Non-RIFF payloads (mp3/ogg/...) raise and quarantine;
    swapping in a real codec extends the format set, same seam as images."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack(
            "<I", payload[pos + 4 : pos + 8]
        )[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    _audio_fmt, channels, rate, _bps, _align, bits = fmt
    if bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif bits == 8:
        samples = (np.frombuffer(data, dtype="u1").astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    n_frames = len(samples) // max(1, channels)
    return {
        "sample_rate": int(rate),
        "channels": int(channels),
        "bits": int(bits),
        "duration_s": round(n_frames / rate, 6) if rate else None,
        "rms": float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0,
        "peak": float(np.max(np.abs(samples))) if len(samples) else 0.0,
    }


def extract_audio_features(media: DataFrame) -> DataFrame:
    """audio rows → (sample_rate, channels, bits, duration, rms, peak).

    PCM WAV decode needs only stdlib RIFF parsing + numpy. Undecodable
    payloads quarantine per row."""

    def _features(payload) -> list[dict]:
        if payload is None:
            raise ValueError("empty payload")
        return [_decode_wav(bytes(payload))]

    audio = media.where("media_type = 'audio'").select("media_id", "payload")
    return explode_lane(audio, _features, AUDIO_FEATURES_SCHEMA)
