"""Deterministic synthetic Common-Crawl-style `pages` table (FIXTURES.md §1,3).

Every row is a pure function of (seed, row index), so generation is
embarrassingly parallel (spark.range → the per-row lane) and reproducible at any
scale: the sf0.001 table is a strict prefix-equal subset of the sf100 table.

Host distribution is Zipf-skewed with one mega-host owning ~30% of rows to
exercise salted repartitioning. Content is composed from a phrase bank that
triggers every deterministic extractor (mock-NER capital runs, relation
patterns, ISO/relative dates, noise entities, smart punctuation, blank-line
runs), plus exact-duplicate payloads, multilingual rows, and poison rows
(truncated PDF, byte soup, empty body).
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

from ..reference_impl.ooxml import make_docx, make_xlsx
from ..reference_impl.pdfmini import make_pdf

PAGE_KINDS = ("html", "pdf", "text", "eml", "csv", "docx", "xlsx", "poison")

# bump when generation logic changes — cache directories key on it
DATAGEN_VERSION = 3

_BASE_TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

_HOSTS = ["mega-portal.example"] + [f"site-{i:03d}.example" for i in range(1, 100)]

_PEOPLE = [
    "John Smith", "Jane Doe", "Maria Garcia", "Wei Chen", "Omar Hassan",
    "Anna Kowalski", "David Miller", "Sara Cohen",
]
_ORGS = [
    "Acme Corp", "Globex Inc", "Initech LLC", "Umbrella Group",
    "Stark Industries", "Wayne Enterprises",
]
_PLACES = ["New York", "San Francisco", "Hong Kong", "Berlin", "Cairo"]
_REL_VERBS = [
    "works for", "acquired", "is based in", "met with", "is a member of",
    "paid", "contacted",
]
_DATES = [
    "2024-01-15", "2023-11-02", "2025-06-30", "01/15/2024", "January 15, 2024",
    "15 Jan 2024", "yesterday", "last week", "3 days ago", "2024-13-45",
]
_NOISE = ["24/7", "1st", "$100", "The", "it", "Company", "x", "50%", "10:30"]
_FILLER = [
    "the committee reviewed the quarterly figures in detail",
    "several documents were filed before the deadline",
    "analysts expect continued growth across the region",
    "no further action was required at this stage",
    "the archived records remain available for inspection",
]
_SMART = "“Quoted remark” — it’s a test… with ‘smart’ punctuation"
_RU = "Быстрая коричневая лиса прыгает через ленивую собаку снова и снова"
_AR = "الثعلب البني السريع يقفز فوق الكلب الكسول مرة أخرى"
_ZH = "敏捷的棕色狐狸再次跳过那只懒狗 档案记录仍可供查阅"


def _host_for(rng: random.Random) -> str:
    # ~30% mega-host, rest Zipf-ish over the pool
    if rng.random() < 0.30:
        return _HOSTS[0]
    r = rng.random()
    idx = 1 + min(98, int((1.0 / (r * 0.99 + 0.01) - 1.0)))
    return _HOSTS[min(idx, len(_HOSTS) - 1)]


def _sentence(rng: random.Random) -> str:
    roll = rng.random()
    if roll < 0.35:
        return (
            f"{rng.choice(_PEOPLE)} {rng.choice(_REL_VERBS)} "
            f"{rng.choice(_ORGS)} in {rng.choice(_PLACES)}."
        )
    if roll < 0.50:
        return f"The meeting happened on {rng.choice(_DATES)} as planned."
    if roll < 0.60:
        return f"Codes {rng.choice(_NOISE)} and {rng.choice(_NOISE)} appeared in the margin."
    if roll < 0.70:
        return f"{rng.choice(_ORGS)} announced results. Is that surprising?"
    return rng.choice(_FILLER).capitalize() + "."


def _body_text(rng: random.Random, lang_roll: float) -> tuple[str, str]:
    """Return (body, lang_label)."""
    if lang_roll < 0.04:
        return _RU, "ru"
    if lang_roll < 0.07:
        return _AR, "ar"
    if lang_roll < 0.10:
        return _ZH, "zh"
    # 12-40 sentences ≈ 1-4 KB of body text: closer to real page text mass
    # than a one-liner, so per-doc extraction compute dominates fixed costs
    n = rng.randint(12, 40)
    parts = [_sentence(rng) for _ in range(n)]
    if rng.random() < 0.3:
        parts.insert(rng.randrange(len(parts)), _SMART + ".")
    if rng.random() < 0.2:
        parts.insert(0, "- a list item that is skipped by claims")
    sep = "  " if rng.random() < 0.3 else " "
    body = sep.join(parts)
    if rng.random() < 0.25:
        body = body.replace(". ", ".\n\n\n\n", 1)  # blank-line run for N1
    return body, "en"


_HTML_TMPL = (
    "<html><head><title>{title}</title><style>body{{margin:0}}</style>"
    "<script>var x=1;</script></head><body>"
    "<nav><a href='/'>Home</a> <a href='/about'>About</a> <a href='/contact'>Contact</a></nav>"
    "<div class='ad'>Subscribe now! Limited offer!</div>"
    "<article><h1>{title}</h1><p>{body}</p></article>"
    "<footer>© 2026 {host} — All rights reserved. <a href='/tos'>Terms</a></footer>"
    "</body></html>"
)

_EML_TMPL = (
    "From: {sender}\r\nTo: desk@archive.example\r\nSubject: {subject}\r\n"
    "Date: Mon, 05 Jan 2026 10:00:00 +0000\r\nMIME-Version: 1.0\r\n"
    "Content-Type: text/plain; charset=utf-8\r\n\r\n{body}\r\n"
)


def _row(seed: int, i: int) -> dict:
    rng = random.Random((seed << 32) ^ i)
    host = _host_for(rng)
    url = f"https://{host}/p/{i}"
    ts = _BASE_TS + dt.timedelta(seconds=(i * 137) % 31_536_000)

    # exact duplicates: every 97th row clones row (i - i % 97) content
    dup_anchor = i - (i % 97) if (i % 97) in (13, 14) else i
    crng = random.Random((seed << 32) ^ dup_anchor ^ 0xD0C5)

    kind_roll = crng.random()
    if kind_roll < 0.45:
        kind = "html"
    elif kind_roll < 0.58:
        kind = "pdf"
    elif kind_roll < 0.70:
        kind = "text"
    elif kind_roll < 0.78:
        kind = "eml"
    elif kind_roll < 0.85:
        kind = "csv"
    elif kind_roll < 0.90:
        kind = "docx"
    elif kind_roll < 0.95:
        kind = "xlsx"
    else:
        kind = "poison"

    body, lang = _body_text(crng, crng.random())
    title = f"Report {dup_anchor % 1000} from {host}"

    html: bytes | None = None
    text: str | None = None

    if kind == "html":
        html = _HTML_TMPL.format(title=title, body=body, host=host).encode("utf-8")
    elif kind == "pdf":
        n_pages = crng.randint(1, 3)
        sents = body.split(". ")
        per = max(1, len(sents) // n_pages)
        pages = [
            [s.strip()[:80] for s in sents[k * per : (k + 1) * per] if s.strip()] or ["blank"]
            for k in range(n_pages)
        ]
        html = make_pdf(pages)
    elif kind == "text":
        if crng.random() < 0.2:
            html = body.encode("utf-16")  # exercise the decode cascade
        else:
            html = body.encode("utf-8")
    elif kind == "eml":
        html = _EML_TMPL.format(
            sender=f"{crng.choice(_PEOPLE).replace(' ', '.').lower()}@mail.example",
            subject=title,
            body=body,
        ).encode("utf-8")
    elif kind == "csv":
        n_rows = crng.randint(3, 12)
        lines = ["name,org,city,amount"]
        for _ in range(n_rows):
            lines.append(
                f"{crng.choice(_PEOPLE)},{crng.choice(_ORGS)},"
                f"{crng.choice(_PLACES)},{crng.randint(10, 9999)}"
            )
        html = "\r\n".join(lines).encode("utf-8")
    elif kind == "docx":
        paras = [title] + body.split(". ")[:8]
        table = [["person", "org"], [crng.choice(_PEOPLE), crng.choice(_ORGS)]]
        html = make_docx([p for p in paras if p], [table])
    elif kind == "xlsx":
        rows = [["person", "org", "amount"]] + [
            [crng.choice(_PEOPLE), crng.choice(_ORGS), crng.randint(1, 500)]
            for _ in range(crng.randint(2, 6))
        ]
        html = make_xlsx({"Ledger": rows})
    else:  # poison
        proll = crng.random()
        if proll < 0.4:
            html = make_pdf([["truncated page"]])[:40]  # broken PDF
            kind = "pdf"
        elif proll < 0.7:
            html = bytes(crng.getrandbits(8) for _ in range(64))  # byte soup
            kind = "text"
        else:
            html = b""
            kind = "html"

    return {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": text,
        "lang": lang,
        "kind": kind,
    }


def gen_pages_pandas(n_rows: int, seed: int = 42, start: int = 0) -> pd.DataFrame:
    rows = [_row(seed, i) for i in range(start, start + n_rows)]
    df = pd.DataFrame(rows)
    df["warc_ts"] = pd.to_datetime(df["warc_ts"], utc=True)
    return df


def gen_pages_df(spark, n_rows: int, seed: int = 42, partitions: int | None = None):
    """Distributed deterministic generation: spark.range → the per-row lane
    (every row sets its own url, so the lane's key is a null url)."""
    from pyspark.sql import functions as F

    from ..operators.lane import explode_lane
    from ..schemas import PAGES_SCHEMA

    parts = partitions or spark.sparkContext.defaultParallelism
    ids = spark.range(0, n_rows, numPartitions=parts)
    return explode_lane(
        ids.select(F.lit(None).cast("string").alias("url"), "id"),
        lambda i: [_row(seed, i)],
        PAGES_SCHEMA,
    )


def write_pages(spark, out_dir: str, n_rows: int) -> None:
    gen_pages_df(spark, n_rows, 42).write.mode("overwrite").parquet(out_dir)
