"""Extraction stage: pages(url, warc_ts, html, text, lang, kind) → docs.

Spark-first restatement of the reference's ingest→light pipeline
(extract_worker.py:90-213 dispatch; light_worker.py:110-426 normalize/lang/
quality): one pass of the per-row lane (``lane.explode_lane``) — format
dispatch, byte decode, tag strip, normalize, language, quality, checksum and
the fused mock-NER — with per-row error capture (the quarantine contract of
extract_worker.py:202-213: a failing row yields success=False + error
message, never a task failure; ``extract_one`` writes that record itself).

No per-row Python crosses the JVM boundary: the plan has exactly one
PythonMapInArrow node (the lane's); everything upstream/downstream is native.

Two side-channel columns feed the per-partition audit table and are dropped
from the public docs output: ``_batch_ms``, each row's own extract time
(summed per partition into the audit's ``wall_ms``), and ``_part_id``, a
native ``spark_partition_id()`` projected after the lane — the extract
task's partition, so a row the lane quarantines still carries one.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StructType

from ..reference_impl.eml import extract_eml
from ..reference_impl.entity_filter import is_valid_entity
from ..reference_impl.htmlstrip import strip_html
from ..reference_impl.ooxml import extract_docx, extract_xlsx
from ..reference_impl.ner import mock_ner
from ..reference_impl.tabular import extract_csv
from ..reference_impl.normalize import assess_quality, detect_language, normalize_text
from ..reference_impl.pdfmini import extract_pdf_text
from ..reference_impl.textdecode import decode_text_bytes
from ..schemas import DOCS_SCHEMA
from .lane import error_text, explode_lane


def sniff_kind(payload: bytes | None, declared: str | None) -> str:
    """Payload-kind dispatch mirroring the reference's file-type classifier
    (arkham-shard-ingest/.../classifiers/file_type.py:71-105), content-based
    because a WARC row has no filename."""
    if declared:
        return declared
    if payload is None:
        return "text"
    head = payload[:2048]
    if head.startswith(b"%PDF-"):
        return "pdf"
    if head.startswith(b"PK\x03\x04"):
        # OOXML containers: distinguish by member names
        import io
        import zipfile

        try:
            with zipfile.ZipFile(io.BytesIO(payload)) as zf:
                names = set(zf.namelist())
            if "word/document.xml" in names:
                return "docx"
            if "xl/workbook.xml" in names:
                return "xlsx"
        except Exception:
            pass
        return "text"
    lowered = head.lstrip()[:256].lower()
    if lowered.startswith(b"<!doctype") or lowered.startswith(b"<html") or b"<body" in head.lower():
        return "html"
    if head.startswith(b"From:") or b"\r\nSubject:" in head or b"\nSubject:" in head:
        return "eml"
    return "text"


def extract_one(payload: bytes | None, pre_text: str | None, kind: str | None) -> dict:
    """Single-document extraction; pure function shared by tests and the UDF."""
    error = None
    raw_text = ""
    n_pages = 1
    try:
        if payload is None:
            if pre_text is None:
                raise ValueError("row has neither html payload nor text")
            raw_text = pre_text
        else:
            k = sniff_kind(payload, kind)
            if k == "pdf":
                raw_text, n_pages = extract_pdf_text(payload)
            elif k == "html":
                decoded, _ = decode_text_bytes(payload)
                raw_text = strip_html(decoded)
            elif k == "eml":
                raw_text, n_pages = extract_eml(payload)
            elif k in ("csv", "tsv"):
                raw_text, n_pages = extract_csv(payload, is_tsv=(k == "tsv"))
            elif k == "docx":
                raw_text, n_pages = extract_docx(payload)
            elif k == "xlsx":
                raw_text, n_pages = extract_xlsx(payload)
            else:
                raw_text, n_pages = decode_text_bytes(payload)
    except Exception as exc:  # quarantine contract
        return {
            "extracted_text": "",
            "lang": "unknown",
            "lang_conf": 0.0,
            "quality_score": 0.0,
            "quality_issues": ["extraction_error"],
            "word_count": 0,
            "n_pages": 0,
            "error": error_text(exc),
        }

    normalized, _changes = normalize_text(raw_text)
    lang, lang_conf = detect_language(normalized)
    quality = assess_quality(normalized)
    return {
        "extracted_text": normalized,
        "lang": lang,
        "lang_conf": lang_conf,
        "quality_score": float(quality["score"]),
        "quality_issues": quality["issues"],
        "word_count": int(quality["word_count"]),
        "n_pages": int(n_pages),
        "error": error,
    }


def _extract_row(warc_ts, html, text: str | None, kind: str | None) -> list[dict]:
    """One page's docs record: ``extract_one``, the payload checksum and the
    fused mock-NER mentions, with the row's own extract time in
    ``_batch_ms``."""
    t0 = time.perf_counter()
    payload = bytes(html) if html is not None else None
    rec = extract_one(payload, text, kind)
    basis = payload if payload is not None else (text or "").encode("utf-8")
    rec["checksum"] = hashlib.sha256(basis).hexdigest()
    ments = mock_ner(rec["extracted_text"])
    rec["_mentions"] = ments
    rec["_names"] = sorted(
        {m["text"].lower() for m in ments if is_valid_entity(m["text"], m["entity_type"])}
    )
    rec["_n_mentions"] = len(ments)
    rec["warc_ts"] = warc_ts
    rec["_batch_ms"] = (time.perf_counter() - t0) * 1000.0
    return [rec]


def extract_docs(pages: DataFrame) -> DataFrame:
    """pages → docs (audit side-channel columns included; see pipeline.py).

    The mock-NER pass is fused into the same Arrow batch (column
    ``_mentions: array<mention>``): the extracted text is shipped to Python
    exactly once instead of per span family — at corpus scale this halves
    the Arrow transfer volume of the mention path.
    """
    kind = F.col("kind") if "kind" in pages.columns else F.lit(None).cast("string")
    docs = explode_lane(
        pages.select("url", "warc_ts", "html", "text", kind.alias("kind")),
        _extract_row,
        StructType([f for f in DOCS_SCHEMA.fields if f.name != "_part_id"]),
    )
    return docs.withColumn("_part_id", F.spark_partition_id()).select(*DOCS_SCHEMA.fieldNames())


# --- filename-based type classification + worker routing -------------------
# (ingest/classifiers/file_type.py:12-195 — the extension/MIME tables and
# route pipelines; sniff_kind above stays the content-based lane for rows
# without filenames)

FILE_TYPE_ROUTES = {
    "document": ([".pdf", ".docx", ".doc", ".odt", ".rtf"],
                 ["cpu-extract"]),
    "image": ([".png", ".jpg", ".jpeg", ".tiff", ".tif", ".bmp",
               ".webp"], ["cpu-light:classify"]),
    "spreadsheet": ([".xlsx", ".xls", ".csv", ".tsv", ".ods"],
                    ["cpu-extract"]),
    "text": ([".txt", ".md", ".json", ".xml", ".html"], ["cpu-light"]),
    "email": ([".eml", ".msg"], ["cpu-extract"]),
    "archive": ([".zip", ".tar", ".gz", ".7z", ".rar"], ["cpu-archive"]),
    "audio": ([".mp3", ".wav", ".m4a", ".ogg", ".flac"],
              ["gpu-whisper"]),
}

_FALLBACK_MIME = {
    ".pdf": "application/pdf",
    ".docx": "application/vnd.openxmlformats-officedocument."
             "wordprocessingml.document",
    ".doc": "application/msword",
    ".xlsx": "application/vnd.openxmlformats-officedocument."
             "spreadsheetml.sheet",
    ".png": "image/png", ".jpg": "image/jpeg", ".jpeg": "image/jpeg",
    ".tiff": "image/tiff", ".tif": "image/tiff", ".txt": "text/plain",
    ".html": "text/html", ".json": "application/json",
    ".xml": "application/xml", ".zip": "application/zip",
    ".mp3": "audio/mpeg", ".wav": "audio/wav",
}

_FILE_CATEGORIES = {"document", "image", "audio", "archive", "unknown"}


def file_type_info(files):
    """Extension / category / MIME / worker route of each `file_name` as
    native columns (file_type.py:71-195), no per-row Python.

    Faithful quirks: route categories absent from the FileCategory enum
    (spreadsheet/text/email) classify as 'document' (file_type.py:141);
    MIME is the extension-fallback table (python-magic is a host
    library, not a column function — callers with sniffed MIME columns
    pass them through _get_category's prefix rules instead); unknown
    extensions route to cpu-light. Extension uses pathlib suffix
    semantics (last dot, never the leading dot of a hidden file)."""
    ext = F.lower(
        F.regexp_extract(F.col("file_name"), r".+(\.[^./\\]+)$", 1)
    )
    cat_pairs = [
        (e, cat) for cat, (exts, _) in FILE_TYPE_ROUTES.items()
        for e in exts
    ]
    category = F.lit(None).cast("string")
    route_category = F.lit(None).cast("string")
    for e, cat in cat_pairs:
        category = F.when(ext == e, cat).otherwise(category)
        route_category = F.when(ext == e, cat).otherwise(route_category)
    category = F.when(
        category.isNotNull(),
        F.when(
            category.isin(*sorted(_FILE_CATEGORIES)), category
        ).otherwise(F.lit("document")),
    ).otherwise(F.lit("unknown"))
    mime = F.lit("application/octet-stream")
    for e, m in _FALLBACK_MIME.items():
        mime = F.when(ext == e, m).otherwise(mime)
    route = F.lit("cpu-light")
    for cat, (_, pipeline) in FILE_TYPE_ROUTES.items():
        route = F.when(
            route_category == cat, F.lit("|".join(pipeline))
        ).otherwise(route)
    return files.withColumns(
        {
            "extension": ext,
            "category": category,
            "mime_type": mime,
            "file_route": route,
        }
    )
