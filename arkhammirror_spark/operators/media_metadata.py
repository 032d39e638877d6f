"""EXIF / embedded-metadata extraction and provenance anomaly rules —
pure-stdlib, Arrow-batched, no decode dependency.

Reference semantics:
- JPEG EXIF walk + GPS/camera/timestamp structuring + anomaly warnings:
  arkham-shard-media-forensics/services/exif_extractor.py:99-261
  (GPS DMS->decimal rounding to 6 at :171-194, camera fields :196-209,
  timestamp fields :211-219, warning rules :221-261).
- PDF / Office metadata + integrity rules:
  arkham-shard-provenance/arkham_shard_provenance/forensics.py:224-403
  (pypdf Info dict fields, OOXML docProps/core.xml namespaces :352-356)
  and :405-565 (modified<created anomaly, producer-tool list, revision
  rules).

The reference shells out to PIL/exifread/pypdf per file; here the binary
payload column is walked with struct/zipfile/ElementTree inside one pass
of the row lane: JPEG APP1 segments -> TIFF IFD chain (II/MM, IFD0 ->
Exif IFD -> GPS IFD), PNG tEXt/iTXt chunks, PDF trailer Info dictionary,
OOXML core-properties part. Magic bytes pick the lane (forensics.py's
python-magic step); unknown containers yield kind='unknown' with empty
metadata rather than an error (only truncated/corrupt containers of a
recognized kind quarantine).
"""

from __future__ import annotations

import re
import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .lane import error_text, explode_lane

# ---------------------------------------------------------------------------
# TIFF / EXIF walking
# ---------------------------------------------------------------------------

_IFD0_TAGS = {0x010F: "make", 0x0110: "model", 0x0131: "software",
              0x0132: "datetime_modified", 0x0112: "orientation"}
_EXIF_TAGS = {0x9003: "datetime_original", 0x9004: "datetime_digitized",
              0xA431: "serial_number"}
_EXIF_IFD_PTR = 0x8769
_GPS_IFD_PTR = 0x8825


def _read_ifd(data: bytes, off: int, endian: str) -> dict[int, object]:
    """One TIFF IFD -> {tag: decoded value}. Types handled: ASCII(2),
    SHORT(3), LONG(4), RATIONAL(5) — the tags this lane structures."""
    out: dict[int, object] = {}
    if off + 2 > len(data):
        return out
    (n,) = struct.unpack_from(endian + "H", data, off)
    pos = off + 2
    for _ in range(n):
        if pos + 12 > len(data):
            break
        tag, typ, cnt = struct.unpack_from(endian + "HHL", data, pos)
        size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}.get(typ, 0) * cnt
        if size == 0:
            pos += 12
            continue
        if size <= 4:
            voff = pos + 8
        else:
            (voff,) = struct.unpack_from(endian + "L", data, pos + 8)
        if voff + size > len(data):
            pos += 12
            continue
        if typ == 2:
            out[tag] = data[voff:voff + cnt].split(b"\0")[0].decode(
                "ascii", errors="replace"
            )
        elif typ == 3:
            vals = struct.unpack_from(endian + f"{cnt}H", data, voff)
            out[tag] = vals[0] if cnt == 1 else list(vals)
        elif typ == 4:
            vals = struct.unpack_from(endian + f"{cnt}L", data, voff)
            out[tag] = vals[0] if cnt == 1 else list(vals)
        elif typ == 5:
            vals = []
            for i in range(cnt):
                num, den = struct.unpack_from(endian + "LL", data, voff + 8 * i)
                vals.append((num, den))
            out[tag] = vals[0] if cnt == 1 else vals
        pos += 12
    return out


def _rational(v) -> float | None:
    if isinstance(v, tuple):
        num, den = v
        return float(num) / float(den) if den else None
    if isinstance(v, (int, float)):
        return float(v)
    return None


def gps_to_decimal(dms, ref: str | None) -> float | None:
    """(d, m, s) rationals + N/S/E/W -> decimal degrees rounded to 6
    (exif_extractor.py:171-194)."""
    if not isinstance(dms, list) or len(dms) < 3:
        return None
    parts = [_rational(x) for x in dms[:3]]
    if any(p is None for p in parts):
        return None
    dec = parts[0] + parts[1] / 60.0 + parts[2] / 3600.0
    if ref and str(ref).upper() in ("S", "W"):
        dec = -dec
    return round(dec, 6)


def parse_exif_tiff(data: bytes) -> dict[str, object]:
    """TIFF blob (the bytes after 'Exif\\0\\0') -> structured fields."""
    if len(data) < 8:
        return {}
    if data[:2] == b"II":
        endian = "<"
    elif data[:2] == b"MM":
        endian = ">"
    else:
        return {}
    (magic,) = struct.unpack_from(endian + "H", data, 2)
    if magic != 42:
        return {}
    (ifd0_off,) = struct.unpack_from(endian + "L", data, 4)
    ifd0 = _read_ifd(data, ifd0_off, endian)
    out: dict[str, object] = {}
    n_tags = len(ifd0)

    def ptr(v):
        # a corrupt count field can make a pointer tag decode as a list;
        # treat anything non-scalar-numeric as an absent sub-IFD
        if isinstance(v, list) and v:
            v = v[0]
        return int(v) if isinstance(v, (int, float)) else None

    for tag, name in _IFD0_TAGS.items():
        if tag in ifd0:
            out[name] = ifd0[tag]
    exif_off = ptr(ifd0.get(_EXIF_IFD_PTR)) if _EXIF_IFD_PTR in ifd0 else None
    if exif_off is not None:
        sub = _read_ifd(data, exif_off, endian)
        n_tags += len(sub)
        for tag, name in _EXIF_TAGS.items():
            if tag in sub:
                out[name] = sub[tag]
    gps_off = ptr(ifd0.get(_GPS_IFD_PTR)) if _GPS_IFD_PTR in ifd0 else None
    if gps_off is not None:
        gps = _read_ifd(data, gps_off, endian)
        n_tags += len(gps)
        lat = gps_to_decimal(gps.get(2), gps.get(1))
        lon = gps_to_decimal(gps.get(4), gps.get(3))
        if lat is not None:
            out["gps_lat"] = lat
        if lon is not None:
            out["gps_lon"] = lon
        alt = _rational(gps.get(6))
        if alt is not None:
            out["gps_alt"] = alt
    out["n_exif_tags"] = n_tags
    return out


def parse_jpeg_metadata(raw: bytes) -> dict[str, object]:
    """Walk JPEG markers for the APP1 Exif segment. Raises on a payload
    that claims JPEG but has a corrupt marker stream."""
    if raw[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            raise ValueError("corrupt marker stream")
        marker = raw[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", raw, pos + 2)
        seg = raw[pos + 4:pos + 2 + seglen]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            return parse_exif_tiff(seg[6:])
        if marker == 0xDA:  # start of scan: no APP1 seen
            break
        pos += 2 + seglen
    return {"n_exif_tags": 0}


# ---------------------------------------------------------------------------
# PNG textual chunks
# ---------------------------------------------------------------------------


def parse_png_text(raw: bytes) -> dict[str, str]:
    """tEXt / iTXt keyword->text pairs (uncompressed forms)."""
    out: dict[str, str] = {}
    pos = 8
    while pos + 8 <= len(raw):
        (length,) = struct.unpack_from(">L", raw, pos)
        ctype = raw[pos + 4:pos + 8]
        body = raw[pos + 8:pos + 8 + length]
        if ctype == b"tEXt" and b"\0" in body:
            k, v = body.split(b"\0", 1)
            out[k.decode("latin-1")] = v.decode("latin-1")
        elif ctype == b"iTXt" and b"\0" in body:
            # keyword \0 | flag(1) method(1) | lang \0 | translated \0 | text
            kw, rest = body.split(b"\0", 1)
            if len(rest) >= 2 and rest[0] == 0:  # uncompressed form only
                tail = rest[2:].split(b"\0", 2)
                if len(tail) == 3:
                    out[kw.decode("latin-1")] = tail[2].decode(
                        "utf-8", errors="replace"
                    )
        if ctype == b"IEND":
            break
        pos += 12 + length
    return out


# ---------------------------------------------------------------------------
# PDF Info dictionary
# ---------------------------------------------------------------------------

_PDF_INFO_KEYS = {"Title": "title", "Author": "author", "Creator": "creator",
                  "Producer": "producer", "CreationDate": "created",
                  "ModDate": "modified"}


def _pdf_date(v: str) -> str:
    """'D:YYYYMMDDHHmmSS...' -> 'YYYY-MM-DDTHH:mm:SS' (zone dropped);
    anything unparseable passes through raw."""
    m = re.match(r"D:(\d{4})(\d{2})(\d{2})(\d{2})?(\d{2})?(\d{2})?", v)
    if not m:
        return v
    y, mo, d, h, mi, s = (m.group(i) or "00" for i in range(1, 7))
    return f"{y}-{mo}-{d}T{h}:{mi}:{s}"


def parse_pdf_metadata(raw: bytes) -> dict[str, object]:
    """Info-dictionary fields by direct scan (the pypdf reader.metadata
    surface of forensics.py:250-277 without the dependency): find the
    trailer's /Info object, read its literal-string and date entries."""
    if not raw.startswith(b"%PDF-"):
        raise ValueError("not a PDF")
    out: dict[str, object] = {"pdf_version": raw[5:8].decode("ascii", "replace")}
    m = re.search(rb"/Info\s+(\d+)\s+(\d+)\s+R", raw)
    body = None
    if m:
        obj = re.search(
            rb"(?s)" + m.group(1) + rb"\s+" + m.group(2)
            + rb"\s+obj\s*<<(.*?)>>\s*endobj",
            raw,
        )
        if obj:
            body = obj.group(1)
    if body is None:
        # inline Info dict (some writers put it straight in the trailer)
        t = re.search(rb"(?s)/Info\s*<<(.*?)>>", raw)
        body = t.group(1) if t else b""
    for key, name in _PDF_INFO_KEYS.items():
        km = re.search(rb"/" + key.encode() + rb"\s*\(((?:[^()\\]|\\.)*)\)", body)
        if km:
            val = km.group(1).decode("latin-1")
            val = re.sub(r"\\([()\\])", r"\1", val)
            out[name] = _pdf_date(val) if name in ("created", "modified") else val
    out["is_encrypted"] = b"/Encrypt" in raw
    return out


# ---------------------------------------------------------------------------
# OOXML core properties
# ---------------------------------------------------------------------------

_CP = "http://schemas.openxmlformats.org/package/2006/metadata/core-properties"
_DC = "http://purl.org/dc/elements/1.1/"
_DCTERMS = "http://purl.org/dc/terms/"


def parse_ooxml_metadata(raw: bytes) -> dict[str, object]:
    """docProps/core.xml fields (forensics.py:339-398 namespaces/tags)."""
    import io
    import zipfile
    import xml.etree.ElementTree as ET

    out: dict[str, object] = {}
    with zipfile.ZipFile(io.BytesIO(raw)) as zf:
        if "docProps/core.xml" not in zf.namelist():
            return out
        root = ET.fromstring(zf.read("docProps/core.xml"))
    ns = {"cp": _CP, "dc": _DC, "dcterms": _DCTERMS}
    for path, name in [(".//dc:title", "title"), (".//dc:creator", "author"),
                       (".//dc:subject", "subject"),
                       (".//cp:lastModifiedBy", "last_modified_by")]:
        el = root.find(path, ns)
        if el is not None and el.text:
            out[name] = el.text
    for path, name in [(".//dcterms:created", "created"),
                       (".//dcterms:modified", "modified")]:
        el = root.find(path, ns)
        if el is not None and el.text:
            out[name] = el.text.replace("Z", "")
    el = root.find(".//cp:revision", ns)
    if el is not None and el.text:
        try:
            out["revision"] = int(el.text)
        except ValueError:
            pass
    return out


# ---------------------------------------------------------------------------
# anomaly rules
# ---------------------------------------------------------------------------

_EDITING_KEYWORDS = ("photoshop", "gimp", "lightroom", "canva", "snapseed",
                     "pixlr", "firefly")
_PDF_TOOLS = ("ghostscript", "pdftk", "pdf-tools", "itext", "fpdf",
              "reportlab")


def metadata_warnings(kind: str, meta: dict[str, object]) -> list[str]:
    """The exif_extractor.py:221-261 warning set for images, plus the
    forensics.py:405-565 PDF/Office integrity rules, as stable codes."""
    w: list[str] = []
    if kind == "jpeg":
        if not meta.get("n_exif_tags"):
            w.append("NO_EXIF")
        else:
            if not meta.get("make"):
                w.append("NO_CAMERA")
            software = str(meta.get("software") or "")
            if any(k in software.lower() for k in _EDITING_KEYWORDS):
                w.append("EDITING_SOFTWARE")
            orig = meta.get("datetime_original")
            digi = meta.get("datetime_digitized")
            modi = meta.get("datetime_modified")
            if orig and modi and orig != modi:
                w.append("TIMESTAMP_MISMATCH")
            if digi and orig and digi != orig:
                w.append("DIGITIZED_MISMATCH")
            if ("gps_lat" in meta or "gps_lon" in meta) and not meta.get("make"):
                w.append("GPS_NO_CAMERA")
    elif kind == "pdf":
        created, modified = meta.get("created"), meta.get("modified")
        if created and modified and str(modified) < str(created):
            w.append("TIMESTAMP_ANOMALY")
        producer = str(meta.get("producer") or "")
        if any(t in producer.lower() for t in _PDF_TOOLS):
            w.append("PDF_TOOL_DETECTED")
        if meta.get("is_encrypted"):
            w.append("PDF_ENCRYPTED")
    elif kind == "ooxml":
        created, modified = meta.get("created"), meta.get("modified")
        if created and modified and str(modified) < str(created):
            w.append("TIMESTAMP_ANOMALY")
        rev = meta.get("revision")
        if rev == 1 and created and modified and created != modified:
            w.append("REVISION_ANOMALY")
        elif isinstance(rev, int) and rev > 100:
            w.append("HIGH_REVISION_COUNT")
    return w


# forensics.py:405-565 — per-finding (suspicion increment, confidence)
_INTEGRITY_RULES = {
    "exif_minimal": (1, 0.7),
    "timestamp_inconsistency": (1, 0.8),
    "editing_software_detected": (0, 1.0),
    "timestamp_anomaly": (2, 0.95),
    "pdf_tool_detected": (0, 0.9),
    "pdf_encrypted": (0, 1.0),
    "revision_anomaly": (1, 0.7),
    "high_revision_count": (0, 0.9),
}
_FORENSICS_EDITING_TOOLS = ("photoshop", "gimp", "lightroom", "snapseed",
                            "picasa", "afterlight", "vsco")


def _parse_exif_dt(v) -> object:
    from datetime import datetime

    try:
        return datetime.strptime(str(v), "%Y:%m:%d %H:%M:%S")
    except (ValueError, TypeError):
        return None


def analyze_integrity(kind: str, meta: dict[str, object]):
    """The provenance shard's integrity aggregation
    (forensics.py:405-565) over this module's parsed fields:
    findings carry (suspicion increment, confidence); status is TAMPERED at
    suspicious_count >= 3, SUSPICIOUS at >= 1, else CLEAN; confidence is
    the mean finding confidence (1.0 with no findings). Returns
    (status, confidence, [finding_type, ...]). Distinct from
    `metadata_warnings` (the media-forensics shard's exif_extractor rule
    set — different thresholds and editing-tool lists)."""
    findings: list[tuple[str, float]] = []
    suspicious = 0
    if kind in ("jpeg", "png"):
        if int(meta.get("n_exif_tags") or 0) < 5:
            findings.append(("exif_minimal", 0.7))
            suspicious += 1
        orig = _parse_exif_dt(meta.get("datetime_original"))
        digi = _parse_exif_dt(meta.get("datetime_digitized"))
        if orig and digi and abs((orig - digi).total_seconds()) > 60:
            findings.append(("timestamp_inconsistency", 0.8))
            suspicious += 1
        software = str(meta.get("software") or "").lower()
        if any(t in software for t in _FORENSICS_EDITING_TOOLS):
            findings.append(("editing_software_detected", 1.0))
    elif kind == "pdf":
        created, modified = meta.get("created"), meta.get("modified")
        if created and modified and str(modified) < str(created):
            findings.append(("timestamp_anomaly", 0.95))
            suspicious += 2
        producer = str(meta.get("producer") or "").lower()
        if any(t in producer for t in ("ghostscript", "pdftk", "pdf-tools",
                                       "itext", "fpdf", "reportlab")):
            findings.append(("pdf_tool_detected", 0.9))
        if meta.get("is_encrypted"):
            findings.append(("pdf_encrypted", 1.0))
    elif kind == "ooxml":
        created, modified = meta.get("created"), meta.get("modified")
        if created and modified and str(modified) < str(created):
            findings.append(("timestamp_anomaly", 0.95))
            suspicious += 2
        rev = meta.get("revision")
        if rev == 1 and created and modified and created != modified:
            findings.append(("revision_anomaly", 0.7))
            suspicious += 1
        elif isinstance(rev, int) and rev > 100:
            findings.append(("high_revision_count", 0.9))
    if suspicious >= 3:
        status = "tampered"
    elif suspicious >= 1:
        status = "suspicious"
    else:
        status = "clean"
    conf = (sum(c for _, c in findings) / len(findings)) if findings else 1.0
    return status, conf, [t for t, _ in findings]


def sniff_kind(raw: bytes) -> str:
    if raw[:2] == b"\xff\xd8":
        return "jpeg"
    if raw[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if raw[:5] == b"%PDF-":
        return "pdf"
    if raw[:2] == b"PK":
        return "ooxml"
    return "unknown"


# ---------------------------------------------------------------------------
# the Spark operator
# ---------------------------------------------------------------------------

METADATA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("make", StringType(), True),
        StructField("model", StringType(), True),
        StructField("serial_number", StringType(), True),
        StructField("software", StringType(), True),
        StructField("orientation", IntegerType(), True),
        StructField("datetime_original", StringType(), True),
        StructField("datetime_digitized", StringType(), True),
        StructField("datetime_modified", StringType(), True),
        StructField("gps_lat", DoubleType(), True),
        StructField("gps_lon", DoubleType(), True),
        StructField("gps_alt", DoubleType(), True),
        StructField("title", StringType(), True),
        StructField("author", StringType(), True),
        StructField("creator", StringType(), True),
        StructField("producer", StringType(), True),
        StructField("created", StringType(), True),
        StructField("modified", StringType(), True),
        StructField("last_modified_by", StringType(), True),
        StructField("revision", IntegerType(), True),
        StructField("png_text", StringType(), True),
        StructField("warnings", ArrayType(StringType()), False),
        StructField("integrity_status", StringType(), False),
        StructField("integrity_confidence", DoubleType(), False),
        StructField("integrity_findings", ArrayType(StringType()), False),
        StructField("error", StringType(), True),
    ]
)


def metadata_row(payload) -> dict[str, object]:
    """One payload -> one METADATA_SCHEMA-shaped record without the key
    (kind sniff, parser dispatch, warnings, integrity; per-row quarantine
    on corrupt containers). Shared by extract_media_metadata and the
    provenance full_scan single-pass composition."""
    row: dict[str, object] = {f.name: None for f in METADATA_SCHEMA.fields[1:]}
    row["warnings"] = []
    row["integrity_status"] = "unknown"
    row["integrity_confidence"] = 0.0
    row["integrity_findings"] = []
    try:
        if payload is None:
            raise ValueError("empty payload")
        raw = bytes(payload)
        kind = sniff_kind(raw)
        row["kind"] = kind
        if kind == "jpeg":
            meta = parse_jpeg_metadata(raw)
        elif kind == "png":
            txt = parse_png_text(raw)
            meta = {}
            if txt:
                meta["png_text"] = ";".join(
                    f"{k}={txt[k]}" for k in sorted(txt)
                )
                if "Software" in txt:
                    meta["software"] = txt["Software"]
        elif kind == "pdf":
            meta = parse_pdf_metadata(raw)
        elif kind == "ooxml":
            meta = parse_ooxml_metadata(raw)
        else:
            meta = {}
        for k, v in meta.items():
            if k in row and v is not None:
                row[k] = v
        row["warnings"] = metadata_warnings(kind, meta)
        status, conf, findings = analyze_integrity(kind, meta)
        row["integrity_status"] = status
        row["integrity_confidence"] = conf
        row["integrity_findings"] = findings
    except Exception as exc:
        row["kind"] = row.get("kind") or "unknown"
        row["error"] = error_text(exc)
    return row


def extract_media_metadata(media: DataFrame) -> DataFrame:
    """(media_id, binary payload) -> one wide metadata row per document. All
    stdlib; corrupt containers of a recognized kind quarantine per-row,
    unknown containers pass through with empty metadata + kind='unknown'."""
    return explode_lane(
        media.select("media_id", "payload"),
        lambda payload: [metadata_row(payload)],
        METADATA_SCHEMA,
    )


# ---------------------------------------------------------------------------
# fixture builders (tests + the pinned driver oracle)
# ---------------------------------------------------------------------------


def _tiff_bytes(ifd0: dict, exif: dict, gps: dict) -> bytes:
    """Serialize a little-endian TIFF with IFD0 (+ optional Exif/GPS sub
    IFDs). Values area follows all IFDs; rational and long strings spill."""

    def enc_entries(entries, data_start):
        blob = b""
        packed = []
        data = b""
        for tag, (typ, val) in sorted(entries.items()):
            if typ == 2:
                b = val.encode("ascii") + b"\0"
                cnt = len(b)
            elif typ == 3:
                b = struct.pack("<H", val)
                cnt = 1
            elif typ == 4:
                b = struct.pack("<L", val)
                cnt = 1
            elif typ == 5:
                vals = val if isinstance(val, list) else [val]
                b = b"".join(struct.pack("<LL", n, d) for n, d in vals)
                cnt = len(vals)
            else:
                raise ValueError(typ)
            if len(b) <= 4:
                inline = b.ljust(4, b"\0")
                packed.append(struct.pack("<HHL", tag, typ, cnt) + inline)
            else:
                packed.append(
                    struct.pack("<HHLL", tag, typ, cnt, data_start + len(data))
                )
                data += b
        blob = struct.pack("<H", len(packed)) + b"".join(packed) + b"\0\0\0\0"
        return blob, data

    # layout: header(8) | ifd0 | exif ifd | gps ifd | data
    ifd0 = dict(ifd0)
    n0 = len(ifd0) + (1 if exif else 0) + (1 if gps else 0)
    ifd0_size = 2 + 12 * n0 + 4
    exif_off = 8 + ifd0_size
    exif_size = (2 + 12 * len(exif) + 4) if exif else 0
    gps_off = exif_off + exif_size
    gps_size = (2 + 12 * len(gps) + 4) if gps else 0
    data_start = gps_off + gps_size
    if exif:
        ifd0[_EXIF_IFD_PTR] = (4, exif_off)
    if gps:
        ifd0[_GPS_IFD_PTR] = (4, gps_off)

    # data area is shared; serialize in the same order it will be laid out
    b0, d0 = enc_entries(ifd0, data_start)
    b1, d1 = enc_entries(exif, data_start + len(d0)) if exif else (b"", b"")
    b2, d2 = enc_entries(gps, data_start + len(d0) + len(d1)) if gps else (b"", b"")
    header = b"II" + struct.pack("<HL", 42, 8)
    return header + b0 + b1 + b2 + d0 + d1 + d2


def build_jpeg_exif(
    make: str | None = None,
    model: str | None = None,
    software: str | None = None,
    datetime_modified: str | None = None,
    datetime_original: str | None = None,
    datetime_digitized: str | None = None,
    gps: tuple[float, float] | None = None,
    serial_number: str | None = None,
    no_exif: bool = False,
) -> bytes:
    """Minimal JPEG whose APP1 segment carries the requested EXIF — the
    metadata walker never needs scan data, so SOI + APP1 + EOI suffices."""
    if no_exif:
        return b"\xff\xd8\xff\xd9"
    ifd0: dict[int, tuple] = {}
    if make:
        ifd0[0x010F] = (2, make)
    if model:
        ifd0[0x0110] = (2, model)
    if software:
        ifd0[0x0131] = (2, software)
    if datetime_modified:
        ifd0[0x0132] = (2, datetime_modified)
    exif: dict[int, tuple] = {}
    if datetime_original:
        exif[0x9003] = (2, datetime_original)
    if datetime_digitized:
        exif[0x9004] = (2, datetime_digitized)
    if serial_number:
        exif[0xA431] = (2, serial_number)
    gps_ifd: dict[int, tuple] = {}
    if gps:
        lat, lon = gps

        def dms(v: float):
            v = abs(v)
            d = int(v)
            m = int((v - d) * 60)
            s = round(((v - d) * 60 - m) * 60 * 1000)
            return [(d, 1), (m, 1), (s, 1000)]

        gps_ifd[1] = (2, "N" if lat >= 0 else "S")
        gps_ifd[2] = (5, dms(lat))
        gps_ifd[3] = (2, "E" if lon >= 0 else "W")
        gps_ifd[4] = (5, dms(lon))
    tiff = _tiff_bytes(ifd0, exif, gps_ifd)
    app1 = b"Exif\x00\x00" + tiff
    return (
        b"\xff\xd8\xff\xe1" + struct.pack(">H", len(app1) + 2) + app1 + b"\xff\xd9"
    )


def add_png_text(png: bytes, pairs: dict[str, str]) -> bytes:
    """Insert tEXt chunks (with correct CRCs) right after IHDR."""
    import zlib

    ihdr_end = 8 + 8 + struct.unpack_from(">L", png, 8)[0] + 4
    chunks = b""
    for k in sorted(pairs):
        body = k.encode("latin-1") + b"\0" + pairs[k].encode("latin-1")
        chunks += (
            struct.pack(">L", len(body)) + b"tEXt" + body
            + struct.pack(">L", zlib.crc32(b"tEXt" + body) & 0xFFFFFFFF)
        )
    return png[:ihdr_end] + chunks + png[ihdr_end:]


def make_pdf_with_info(info: dict[str, str]) -> bytes:
    """Tiny one-page PDF with an Info dictionary in the trailer."""
    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    entries = "".join(f"/{k} ({esc(v)})" for k, v in sorted(info.items()))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>",
        f"<<{entries}>>".encode("latin-1"),
    ]
    out = b"%PDF-1.4\n"
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + body + b"\nendobj\n"
    xref = len(out)
    out += f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n".encode()
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (
        f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R /Info 4 0 R >>\n"
        f"startxref\n{xref}\n%%EOF\n"
    ).encode()
    return out


def make_docx_with_core(
    paragraphs: list[str],
    *,
    author: str,
    modified: str,
    last_modified_by: str,
    title: str | None = None,
    revision: int | None = None,
) -> bytes:
    """make_docx output plus a docProps/core.xml part, created
    2022-03-01T10:00:00Z."""
    import io
    import zipfile

    from ..reference_impl.ooxml import make_docx

    def esc(s: str) -> str:
        return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

    parts = []
    if title:
        parts.append(f"<dc:title>{esc(title)}</dc:title>")
    parts.append(f"<dc:creator>{esc(author)}</dc:creator>")
    parts.append(f"<cp:lastModifiedBy>{esc(last_modified_by)}</cp:lastModifiedBy>")
    if revision is not None:
        parts.append(f"<cp:revision>{revision}</cp:revision>")
    parts.append(
        '<dcterms:created xsi:type="dcterms:W3CDTF">2022-03-01T10:00:00Z</dcterms:created>'
    )
    parts.append(
        f'<dcterms:modified xsi:type="dcterms:W3CDTF">{modified}Z</dcterms:modified>'
    )
    core = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<cp:coreProperties xmlns:cp="{_CP}" xmlns:dc="{_DC}" '
        f'xmlns:dcterms="{_DCTERMS}" '
        'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance">'
        + "".join(parts)
        + "</cp:coreProperties>"
    )
    base = make_docx(paragraphs)
    buf = io.BytesIO(base)
    with zipfile.ZipFile(buf, "a", zipfile.ZIP_DEFLATED) as zf:
        # pinned date_time keeps the payload byte-deterministic (hash
        # oracles pin digests of these fixtures)
        info = zipfile.ZipInfo(
            "docProps/core.xml", date_time=(1980, 1, 1, 0, 0, 0)
        )
        info.compress_type = zipfile.ZIP_DEFLATED
        zf.writestr(info, core)
    return buf.getvalue()
