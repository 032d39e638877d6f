"""C2PA Content Credentials lane: stdlib JUMBF manifest sniff + the
reference's deterministic interpretation rules as Catalyst expressions.

Reference: arkham-shard-media-forensics/services/c2pa_parser.py —
`parse` (:85-173, gated on the external `c2pa` lib; its post-Reader
manifest-store walk at :102-169 is reproduced verbatim in
`extract_manifest_fields`) and `interpret_c2pa` (:175-236, fully
deterministic signer/action rules mirrored column-for-column in
`interpret_c2pa_cols`, including the `.get('signer', 'Unknown')` quirk:
the key always exists, so a None signer prints "Content signed by:
None", never "Unknown").

The embedding sniff itself is public-spec stdlib code (no `c2pa` lib
needed): C2PA manifests travel as JUMBF (ISO 19566-5) superboxes —
in JPEG inside APP11 (0xFFEB) marker segments with common identifier
"JP", in PNG inside a `caBX` chunk.  `sniff_c2pa` walks those
containers, checks the JUMBF description-box label for the `c2pa`
manifest-store signature, and returns the embedded JSON manifest store.
The external `c2pa` library, when importable (imported lazily, once per
worker, as PIL is in multimodal.py), replaces the sniff; without it the
stdlib sniff runs.

Scale shape: the sniff is a bounded per-row byte scan inside one pass of
the row lane (Arrow-batched, no per-row Python round trips); the
interpretation is pure Catalyst and mirrors 1:1 into the DuckDB oracle.
"""

from __future__ import annotations

import functools
import json
import struct

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from .lane import error_text, explode_lane

# JUMBF content-type UUID for a C2PA manifest store (public C2PA spec);
# the description-box label is "c2pa" for the store superbox
_C2PA_LABEL = b"c2pa"


# ---------------------------------------------------------------------------
# JUMBF construction (fixture builders) and parsing
# ---------------------------------------------------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def build_jumbf_manifest(manifest_store: dict) -> bytes:
    """A minimal JUMBF superbox carrying the manifest store as JSON:
    jumb( jumd(type-uuid + toggles + label "c2pa\\0"), json(payload) )."""
    payload = json.dumps(manifest_store, sort_keys=True).encode()
    jumd = _box(b"jumd", b"\x00" * 16 + b"\x03" + _C2PA_LABEL + b"\x00")
    return _box(b"jumb", jumd + _box(b"json", payload))


# max JUMBF bytes per APP11 segment: 0xFFFF length field covers the
# 2-byte length itself + CI(2) + En(2) + Z(4)
_APP11_CHUNK = 0xFFFF - 2 - 8


def embed_c2pa_jpeg(jpeg: bytes, manifest_store: dict) -> bytes:
    """Insert APP11/JUMBF segment(s) right after SOI. Manifests larger
    than one marker segment split across several APP11 segments with the
    same En and incrementing Z (the C2PA JPEG embedding), which real
    signed manifests (COSE signature + cert chain) routinely need."""
    if jpeg[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    jumbf = build_jumbf_manifest(manifest_store)
    segs = b""
    for i in range(0, len(jumbf), _APP11_CHUNK):
        chunk = jumbf[i:i + _APP11_CHUNK]
        body = b"JP" + struct.pack(">HI", 1, i // _APP11_CHUNK + 1) + chunk
        segs += b"\xff\xeb" + struct.pack(">H", len(body) + 2) + body
    return jpeg[:2] + segs + jpeg[2:]


def embed_c2pa_png(png: bytes, manifest_store: dict) -> bytes:
    """Insert a caBX chunk (correct CRC) right after IHDR."""
    import zlib

    if png[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    jumbf = build_jumbf_manifest(manifest_store)
    ihdr_end = 8 + 8 + struct.unpack_from(">I", png, 8)[0] + 4
    chunk = (
        struct.pack(">I", len(jumbf)) + b"caBX" + jumbf
        + struct.pack(">I", zlib.crc32(b"caBX" + jumbf) & 0xFFFFFFFF)
    )
    return png[:ihdr_end] + chunk + png[ihdr_end:]


def _parse_jumbf(buf: bytes) -> str | None:
    """Return the JSON manifest payload if `buf` starts with a c2pa-labeled
    JUMBF superbox."""
    if len(buf) < 8:
        return None
    size = struct.unpack_from(">I", buf, 0)[0]
    if buf[4:8] != b"jumb" or size < 8 or size > len(buf):
        return None
    inner = buf[8:size]
    label_ok = False
    json_payload = None
    off = 0
    while off + 8 <= len(inner):
        bsize = struct.unpack_from(">I", inner, off)[0]
        btype = inner[off + 4:off + 8]
        if bsize < 8 or off + bsize > len(inner):
            return None
        body = inner[off + 8:off + bsize]
        if btype == b"jumd":
            # 16-byte type UUID + 1 toggle byte + NUL-terminated label
            label = body[17:].split(b"\x00", 1)[0] if len(body) > 17 else b""
            label_ok = label == _C2PA_LABEL
        elif btype == b"json":
            json_payload = body
        off += bsize
    if label_ok and json_payload is not None:
        try:
            return json_payload.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def sniff_c2pa(raw: bytes) -> str | None:
    """Walk the media container for an embedded C2PA JUMBF superbox;
    return the manifest-store JSON string, or None."""
    if not raw:
        return None
    if raw[:2] == b"\xff\xd8":  # JPEG: APP11 marker segments
        # a large manifest spans SEVERAL APP11 segments (same En,
        # incrementing Z) — collect every "JP" payload per En, reassemble
        # in Z order, then parse the concatenated JUMBF stream
        packages: dict[int, list[tuple[int, bytes]]] = {}
        off = 2
        while off + 4 <= len(raw) and raw[off] == 0xFF:
            marker = raw[off + 1]
            if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
                off += 2
                continue
            seglen = struct.unpack_from(">H", raw, off + 2)[0]
            if marker == 0xEB:  # APP11
                body = raw[off + 4:off + 2 + seglen]
                if body[:2] == b"JP" and len(body) > 8:
                    en, z = struct.unpack_from(">HI", body, 2)
                    packages.setdefault(en, []).append((z, body[8:]))
            if marker == 0xDA:  # entropy-coded data begins
                break
            off += 2 + seglen
        for en in sorted(packages):
            stream = b"".join(
                part for _, part in sorted(packages[en], key=lambda p: p[0])
            )
            found = _parse_jumbf(stream)
            if found is not None:
                return found
        return None
    if raw[:8] == b"\x89PNG\r\n\x1a\n":  # PNG: caBX chunk
        off = 8
        while off + 8 <= len(raw):
            clen = struct.unpack_from(">I", raw, off)[0]
            ctype = raw[off + 4:off + 8]
            if ctype == b"caBX":
                found = _parse_jumbf(raw[off + 8:off + 8 + clen])
                if found is not None:
                    return found
            if ctype == b"IEND":
                break
            off += 12 + clen
        return None
    return None


# ---------------------------------------------------------------------------
# manifest-store field extraction (c2pa_parser.py:102-169, verbatim walk)
# ---------------------------------------------------------------------------


def extract_manifest_fields(store: dict) -> dict:
    """The post-Reader manifest walk of c2pa_parser.parse(), on an
    already-decoded manifest store dict, with no signature verification
    available (so no signature reads valid)."""
    result = {
        "has_c2pa": True,
        "manifests": [],
        "active_manifest": None,
        "signature_valid": False,
        "signature_verification_available": False,
        "signer": None,
        "timestamp": None,
        "actions": [],
        "ingredients": [],
        "claim_generator": None,
        "ai_training_permissions": {},
        "validation_status": [],
        "raw_manifest": store,
    }
    if "active_manifest" in store:
        active_id = store["active_manifest"]
        result["active_manifest"] = active_id
        if "manifests" in store and active_id in store["manifests"]:
            manifest = store["manifests"][active_id]
            result["claim_generator"] = manifest.get("claim_generator")
            if "signature_info" in manifest:
                sig_info = manifest["signature_info"]
                result["signature_valid"] = False
                result["signer"] = sig_info.get("issuer")
                result["timestamp"] = sig_info.get("time")
            for assertion in manifest.get("assertions", []):
                label = assertion.get("label", "")
                if label == "c2pa.actions":
                    result["actions"] = assertion.get("data", {}).get(
                        "actions", []
                    )
                if label == "c2pa.training-mining":
                    entries = assertion.get("data", {}).get("entries", {})
                    result["ai_training_permissions"] = {
                        "ai_training": entries.get(
                            "c2pa.ai_training", {}).get("use"),
                        "ai_inference": entries.get(
                            "c2pa.ai_inference", {}).get("use"),
                        "data_mining": entries.get(
                            "c2pa.data_mining", {}).get("use"),
                        "ai_generative_training": entries.get(
                            "c2pa.ai_generative_training", {}).get("use"),
                    }
            for ing in manifest.get("ingredients", []):
                result["ingredients"].append({
                    "title": ing.get("title"),
                    "format": ing.get("format"),
                    "instance_id": ing.get("instance_id"),
                })
    if "manifests" in store:
        result["manifests"] = list(store["manifests"].keys())
    return result


# ---------------------------------------------------------------------------
# Spark extraction operator
# ---------------------------------------------------------------------------

_C2PA_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("has_c2pa", BooleanType(), False),
    StructField("c2pa_error", StringType(), True),
    StructField("signature_valid", BooleanType(), False),
    StructField("signer", StringType(), True),
    StructField("c2pa_ts", StringType(), True),
    StructField("claim_generator", StringType(), True),
    StructField("actions_str", StringType(), True),
    StructField("n_manifests", StringType(), True),
])


@functools.cache
def _load_c2pa():
    """The external `c2pa` lib, once per worker, when importable, else None."""
    try:
        import c2pa  # noqa: F401 — external, optional
        return c2pa
    except ImportError:
        return None


def _read_manifest(raw: bytes) -> str | None:
    """The embedded manifest-store JSON: the `c2pa` lib's Reader when
    importable, else the stdlib JUMBF sniff."""
    lib = _load_c2pa()
    if lib is None:
        return sniff_c2pa(raw)
    import io

    with lib.Reader("application/octet-stream", io.BytesIO(raw)) as reader:
        return reader.json()


def extract_c2pa(media: DataFrame) -> DataFrame:
    """Per-media (media_id, payload) C2PA scan: (media_id, has_c2pa, c2pa_error,
    signature_valid, signer, c2pa_ts, claim_generator, actions_str,
    n_manifests).  `actions_str` joins each action's str() with '|'
    (the interpretation rules only substring-match it). A corrupt manifest
    is not a quarantined row but a finding: it reads has_c2pa false with
    the error in `c2pa_error`, which the interpretation rules consume."""
    src = media.select(
        F.col("media_id").cast("string").alias("media_id"),
        "payload",
    ).repartition(max(media.sparkSession.sparkContext.defaultParallelism, 8))

    def _scan(payload) -> list[dict]:
        absent = {"has_c2pa": False, "signature_valid": False}
        try:
            manifest_json = _read_manifest(bytes(payload) if payload is not None else b"")
            if manifest_json is None:
                return [absent]
            fields = extract_manifest_fields(json.loads(manifest_json))
            return [{
                "has_c2pa": True,
                "signature_valid": bool(fields["signature_valid"]),
                "signer": fields["signer"],
                "c2pa_ts": fields["timestamp"],
                "claim_generator": fields["claim_generator"],
                "actions_str": "|".join(str(a) for a in fields["actions"]),
                "n_manifests": str(len(fields["manifests"])),
            }]
        except Exception as exc:  # corrupt manifest -> error lane
            return [{**absent, "c2pa_error": error_text(exc)}]

    return explode_lane(src, _scan, _C2PA_SCHEMA)


# ---------------------------------------------------------------------------
# interpretation rules (c2pa_parser.py:175-236) as Catalyst expressions
# ---------------------------------------------------------------------------

_NO_C2PA_INTERP = (
    "No Content Credentials found. This doesn't prove the content is fake, "
    "but means we cannot verify its provenance through C2PA."
)
_NO_C2PA_IMPL = "|".join([
    "Content may be genuine but created with non-C2PA tools",
    "Content credentials may have been stripped",
    "Content may be AI-generated without C2PA tagging",
])
_OPENAI_INTERP = (
    "This image was generated by OpenAI's DALL-E and has valid Content "
    "Credentials."
)
_OPENAI_IMPL = "|".join([
    "Image is AI-generated (confirmed by creator)",
    "OpenAI has signed this as their creation",
    "This is a legitimate disclosure, not a fake",
])


def interpret_c2pa_cols(df: DataFrame) -> DataFrame:
    """Append (finding, conf_level, interpretation, implications,
    is_ai_generated) derived from (has_c2pa, c2pa_error, signature_valid,
    signer, actions_str).  Implication lists join with '|'.

    Mirrors interpret_c2pa exactly, including: NO_C2PA when has_c2pa is
    false OR any error is present; a None signer in the fallback branch
    printing "Content signed by: None" (the dict key exists, so
    .get(..., 'Unknown') never defaults); Microsoft/Adobe-plain keeping
    is_ai_generated false."""
    no_c2pa = (~F.col("has_c2pa")) | F.col("c2pa_error").isNotNull()
    signer_l = F.lower(F.coalesce(F.col("signer"), F.lit("")))
    actions_l = F.lower(F.coalesce(F.col("actions_str"), F.lit("")))
    is_openai = signer_l.contains("openai") | signer_l.contains("dall-e")
    is_adobe = signer_l.contains("adobe")
    adobe_ai = actions_l.contains("generative") | actions_l.contains(
        "firefly"
    )
    is_ms = signer_l.contains("microsoft")
    finding = F.when(no_c2pa, F.lit("NO_C2PA")).otherwise(
        F.lit("C2PA_PRESENT")
    )
    conf = F.when(no_c2pa, F.lit("low")).when(
        F.col("signature_valid"), F.lit("high")
    ).otherwise(F.lit("medium"))
    interp = (
        F.when(no_c2pa, F.lit(_NO_C2PA_INTERP))
        .when(is_openai, F.lit(_OPENAI_INTERP))
        .when(is_adobe, F.lit("This content has Adobe Content Credentials."))
        .when(is_ms,
              F.lit("This content has Microsoft Content Credentials."))
        .otherwise(F.concat(
            F.lit("Content signed by: "),
            F.coalesce(F.col("signer"), F.lit("None")),
        ))
    )
    impl = (
        F.when(no_c2pa, F.lit(_NO_C2PA_IMPL))
        .when(is_openai, F.lit(_OPENAI_IMPL))
        .when(is_adobe & adobe_ai,
              F.lit("Contains AI-generated elements (Adobe Firefly)"))
        .when(is_adobe,
              F.lit("Created or edited with Adobe software"))
        .when(is_ms,
              F.lit("May have been created with Microsoft Designer or "
                    "Copilot"))
        .otherwise(F.lit("Provenance verified through C2PA signature"))
    )
    is_ai = (
        F.when(no_c2pa, F.lit(False))
        .when(is_openai, F.lit(True))
        .when(is_adobe & adobe_ai, F.lit(True))
        .otherwise(F.lit(False))
    )
    return df.select(
        "*",
        finding.alias("finding"),
        conf.alias("conf_level"),
        interp.alias("interpretation"),
        impl.alias("implications"),
        is_ai.alias("is_ai_generated"),
    )
