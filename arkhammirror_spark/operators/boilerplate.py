"""Readability-style main-content extraction over a flattened DOM node table.

The north-star pipeline shape (BASELINE.json): "batched HTML boilerplate
stripping (trafilatura/readability-style DOM heuristics re-expressed as
text-density + link-density scoring over a flattened DOM node table)".
This module IS that restatement, deliberately split so each stage runs
where it belongs at 100 TB:

1. `flatten_dom` / `flatten_pages` — the ONLY Python stage: one pass of
   the row lane (stdlib html.parser, no deps) turning each page into block
   rows (url, node_idx, tag, depth, text, text_len, link_text_len,
   n_children). One page → tens of rows of small scalars; the heavy HTML
   string never leaves this pass.
2. `score_nodes` — pure native column math over the node table:
   link density (anchor chars / total chars), text density (chars per
   contained tag), stopword-free length. Catalyst folds it into the scan
   projection; nothing Python.
3. `select_content` — the keep/drop classifier + neighbourhood smoothing
   as WINDOW functions over (url, node_idx): a short block sandwiched
   between two kept blocks is rescued (boilerpipe's NumWords/LinkDensity
   sequence classifier re-expressed with lag/lead), headings directly
   preceding kept content are kept.
4. `main_content` — groupBy(url) sort_array(collect_list(struct(idx,
   text))) → newline join. One shuffle keyed like the rest of the
   pipeline (url), so it co-partitions with extract_docs output.

This is a SEPARATE lane from reference_impl/htmlstrip.py: htmlstrip is the
byte-identity parity anchor (the reference's own extractor, used in the
oracle-gated pipeline); this operator is the boilerplate-quality lane for
Common-Crawl-style pages where nav/footer/sidebar stripping matters.
Heuristic constants follow the boilerpipe/readability families:
link-density cut 0.33, minimum 25 chars (densities over word counts so
CJK pages without spaces still classify).
"""

from __future__ import annotations

from html.parser import HTMLParser

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .lane import explode_lane

# content accumulates into the nearest enclosing block-level element
BLOCK_TAGS = {
    "p", "div", "article", "section", "main", "li", "td", "th",
    "blockquote", "pre", "h1", "h2", "h3", "h4", "h5", "h6",
    "figcaption", "summary", "dd", "dt",
}
# subtrees that never contribute text
SKIP_TAGS = {"script", "style", "noscript", "template", "svg", "head",
             "iframe", "object"}
HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
# the keep/rescue thresholds select_content and its Python twin share
MIN_CHARS = 25
MAX_LINK_DENSITY = 0.33
RESCUE_MIN_CHARS = 8

NODES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("node_idx", IntegerType(), False),
        StructField("tag", StringType(), False),
        StructField("depth", IntegerType(), False),
        StructField("text", StringType(), False),
        StructField("text_len", LongType(), False),
        StructField("link_text_len", LongType(), False),
        StructField("n_children", IntegerType(), False),
    ]
)

_VOID = {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
         "embed", "source", "track", "wbr"}


class _DomFlattener(HTMLParser):
    """One pass over the HTML producing block rows in document order."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[dict] = []
        self._stack: list[dict] = []  # open BLOCK elements
        self._skip_depth = 0
        self._link_depth = 0
        self._depth = 0
        self._idx = 0

    def _open_block(self, tag: str) -> None:
        self._stack.append(
            {"tag": tag, "depth": self._depth, "chunks": [],
             "link_chars": 0, "children": 0}
        )

    def _close_block(self) -> None:
        blk = self._stack.pop()
        text = " ".join(
            t for t in (c.strip() for c in blk["chunks"]) if t
        ).strip()
        if text:
            self.rows.append(
                {
                    "node_idx": self._idx,
                    "tag": blk["tag"],
                    "depth": blk["depth"],
                    "text": text,
                    "text_len": len(text),
                    "link_text_len": min(blk["link_chars"], len(text)),
                    "n_children": blk["children"],
                }
            )
            self._idx += 1

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._link_depth += 1
        if self._stack:
            self._stack[-1]["children"] += 1
        if tag in BLOCK_TAGS:
            self._depth += 1
            self._open_block(tag)

    def handle_startendtag(self, tag: str, attrs) -> None:
        if self._skip_depth or tag in SKIP_TAGS:
            return
        if self._stack:
            self._stack[-1]["children"] += 1

    def handle_endtag(self, tag: str) -> None:
        if tag in SKIP_TAGS:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in BLOCK_TAGS and any(b["tag"] == tag for b in self._stack):
            # close up to and including the innermost matching block
            # (tolerates unclosed children, the HTML reality); a stray end
            # tag with no matching open block is ignored
            while self._stack:
                top = self._stack[-1]["tag"]
                self._close_block()
                self._depth -= 1
                if top == tag:
                    break

    def handle_data(self, data: str) -> None:
        if self._skip_depth or not data:
            return
        if self._stack:
            self._stack[-1]["chunks"].append(data)
            if self._link_depth:
                self._stack[-1]["link_chars"] += len(data.strip())

    def close(self) -> None:  # flush unclosed blocks
        super().close()
        while self._stack:
            self._close_block()
            self._depth -= 1


def flatten_dom(html: str) -> list[dict]:
    """Block rows (document order) for one page; [] for unparseable input."""
    p = _DomFlattener()
    try:
        p.feed(html or "")
        p.close()
    except Exception:
        return p.rows  # keep whatever flattened before the parse error
    return p.rows


def select_blocks_py(rows: list[dict]) -> list[dict]:
    """Pure-python twin of score_nodes + select_content over ONE page's
    node rows — selection only ever looks at a page's own neighbours, so
    per-page python ≡ the url-partitioned window variant (pinned by a
    differential test); the oracle pins use it."""
    base = [
        (r["text_len"] >= MIN_CHARS)
        and (r["link_text_len"] / max(1, r["text_len"]) <= MAX_LINK_DENSITY)
        for r in rows
    ]
    kept = []
    for i, r in enumerate(rows):
        ld_ok = r["link_text_len"] / max(1, r["text_len"]) <= MAX_LINK_DENSITY
        prev_b = base[i - 1] if i > 0 else False
        next_b = base[i + 1] if i + 1 < len(rows) else False
        rescue = (
            not base[i] and prev_b and next_b
            and r["text_len"] >= RESCUE_MIN_CHARS and ld_ok
        )
        heading = r["tag"] in HEADING_TAGS and next_b and ld_ok
        if base[i] or rescue or heading:
            kept.append(r)
    return kept


def main_content_py(html: str) -> tuple[str, int]:
    """(main_text, n_blocks) for one page — flatten + python selection."""
    kept = select_blocks_py(flatten_dom(html))
    return "\n\n".join(r["text"] for r in kept), len(kept)


def flatten_pages(pages: DataFrame) -> DataFrame:
    """pages(url, html binary|string) → the flattened DOM node table."""

    def _nodes(html) -> list[dict]:
        if html is None:
            return []
        if isinstance(html, (bytes, bytearray)):
            html = bytes(html).decode("utf-8", "replace")
        return flatten_dom(html)

    return explode_lane(pages.select("url", "html"), _nodes, NODES_SCHEMA)


def score_nodes(nodes: DataFrame) -> DataFrame:
    """Native column math: link_density, text_density — no Python."""
    return nodes.select(
        "*",
        (F.col("link_text_len") / F.greatest(F.col("text_len"), F.lit(1)))
        .alias("link_density"),
        (F.col("text_len") / (F.col("n_children") + F.lit(1.0)))
        .alias("text_density"),
    )


def select_content(scored: DataFrame) -> DataFrame:
    """Keep/drop classifier + window smoothing (boilerpipe's sequence rule
    via lag/lead instead of a sequential scan):

    - base keep: text_len ≥ MIN_CHARS AND link_density ≤ MAX_LINK_DENSITY;
    - rescue: a block of ≥ RESCUE_MIN_CHARS low-link chars BETWEEN two
      kept blocks is content (short connector paragraphs inside an
      article);
    - headings: a heading immediately followed by kept content is kept.
    """
    w = Window.partitionBy("url").orderBy("node_idx")
    base = (F.col("text_len") >= MIN_CHARS) & (
        F.col("link_density") <= MAX_LINK_DENSITY
    )
    df = scored.withColumn("_base", base)
    prev_keep = F.lag("_base", 1, False).over(w)
    next_keep = F.lead("_base", 1, False).over(w)
    rescue = (
        ~F.col("_base")
        & prev_keep
        & next_keep
        & (F.col("text_len") >= RESCUE_MIN_CHARS)
        & (F.col("link_density") <= MAX_LINK_DENSITY)
    )
    heading = (
        F.col("tag").isin(*sorted(HEADING_TAGS))
        & next_keep
        & (F.col("link_density") <= MAX_LINK_DENSITY)
    )
    return df.withColumn("keep", F.col("_base") | rescue | heading).drop("_base")


def main_content(selected: DataFrame) -> DataFrame:
    """(url, main_text, n_blocks, n_chars): kept blocks joined in document
    order — one url-keyed aggregation."""
    kept = selected.where(F.col("keep"))
    return (
        kept.groupBy("url")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("node_idx"), F.col("text")))
            ).alias("_blocks")
        )
        .select(
            "url",
            F.concat_ws(
                "\n\n", F.transform(F.col("_blocks"), lambda b: b["text"])
            ).alias("main_text"),
            F.size("_blocks").alias("n_blocks"),
        )
        .withColumn("n_chars", F.length("main_text").cast("long"))
    )


def extract_main_content(pages: DataFrame) -> DataFrame:
    """pages(url, html) end-to-end: flatten → score → select → join. One
    Arrow pass + one url-keyed shuffle."""
    return main_content(select_content(score_nodes(flatten_pages(pages))))
