"""Main-content extraction (flattened DOM node table + density scoring):
parser unit tests, native-scoring selection behavior, Spark end-to-end."""

from __future__ import annotations

import pytest

from arkhammirror_spark.operators.boilerplate import (
    extract_main_content,
    flatten_dom,
    flatten_pages,
    main_content,
    score_nodes,
    select_content,
)

ARTICLE_PAGE = """<html><head><title>T</title><script>var x=1;</script>
<style>.a{color:red}</style></head><body>
<div id="nav"><ul><li><a href="/">Home</a></li><li><a href="/b">Blog</a></li>
<li><a href="/c">Contact page</a></li></ul></div>
<article>
<h1>The Article Title Goes Here</h1>
<p>This is the first real paragraph of the article with plenty of textual
content to pass the threshold easily.</p>
<p>Short link.</p>
<p>Another long paragraph of genuine article content that definitely exceeds
twenty five characters in length.</p>
<p>See <a href="/ref">reference one</a> and <a href="/ref2">reference two</a>
plus barely any text.</p>
</article>
<div class="footer"><a href="/tos">Terms of service</a> |
<a href="/priv">Privacy policy</a></div>
</body></html>"""


class TestFlatten:
    def test_block_rows_in_document_order(self):
        rows = flatten_dom(ARTICLE_PAGE)
        tags = [r["tag"] for r in rows]
        assert tags[:3] == ["li", "li", "li"]
        assert "h1" in tags and "p" in tags
        assert [r["node_idx"] for r in rows] == list(range(len(rows)))

    def test_script_style_head_excluded(self):
        joined = " ".join(r["text"] for r in flatten_dom(ARTICLE_PAGE))
        assert "var x=1" not in joined
        assert "color:red" not in joined
        assert "T" not in joined.split()  # <title> lives in <head>

    def test_link_chars_counted(self):
        rows = flatten_dom('<p>See <a href="x">a link here</a> now.</p>')
        assert rows[0]["link_text_len"] == len("a link here")

    def test_malformed_and_empty(self):
        assert flatten_dom("") == []
        assert flatten_dom(None) == []
        # unclosed blocks flush; stray end tags are ignored
        rows = flatten_dom("<p>open paragraph text</div></p></p>")
        assert rows and rows[0]["text"] == "open paragraph text"

    def test_nested_blocks_attribute_text_to_innermost(self):
        rows = flatten_dom("<div>outer <p>inner paragraph</p> tail</div>")
        by_tag = {r["tag"]: r["text"] for r in rows}
        assert by_tag["p"] == "inner paragraph"
        assert by_tag["div"] == "outer tail"


class TestFuzz:
    def test_flatten_never_crashes_on_arbitrary_text(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        tag_soup = st.lists(
            st.sampled_from(
                ["<p>", "</p>", "<div>", "</div>", "<a href='x'>", "</a>",
                 "<li>", "</li>", "<script>", "</script>", "<h1>", "</h1>",
                 "text body words here", "&amp;", "<", ">", "<!--", "-->",
                 "<p", "deep content", "\n", "<br/>"]
            ),
            max_size=40,
        ).map("".join)

        @given(tag_soup)
        @settings(max_examples=150, deadline=None)
        def run(html):
            rows = flatten_dom(html)
            for i, r in enumerate(rows):
                assert r["node_idx"] == i
                assert r["text_len"] == len(r["text"]) > 0
                assert 0 <= r["link_text_len"] <= r["text_len"]

        run()

    def test_png_roundtrip_fuzz(self):
        import numpy as np
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from arkhammirror_spark.operators.multimodal import (
            decode_image,
            encode_png,
        )

        @given(
            st.integers(1, 12), st.integers(1, 12),
            st.sampled_from([1, 3, 4]), st.integers(0, 2**32 - 1),
        )
        @settings(max_examples=80, deadline=None)
        def run(w, h, channels, seed):
            rng = np.random.default_rng(seed)
            shape = (h, w) if channels == 1 else (h, w, channels)
            arr = rng.integers(0, 256, shape, dtype=np.uint8)
            assert np.array_equal(decode_image(encode_png(arr)), arr)

        run()


class TestSelection:
    def test_end_to_end_strips_boilerplate(self, spark):
        pages = spark.createDataFrame(
            [("https://e/art", ARTICLE_PAGE)], "url string, html string"
        )
        out = extract_main_content(pages).collect()
        assert len(out) == 1
        text = out[0]["main_text"]
        assert "The Article Title Goes Here" in text          # heading kept
        assert "first real paragraph" in text                 # base keep
        assert "Short link." in text                          # rescued between
        assert "Another long paragraph" in text
        assert "Home" not in text and "Terms of service" not in text
        assert "reference one" not in text                    # link-dense p
        # document order preserved
        assert text.index("Title") < text.index("first real")

    def test_cjk_no_spaces_passes_char_thresholds(self, spark):
        body = "<p>" + "深圳全年气候温和这是一段足够长的正文内容用于测试字符阈值逻辑是否正确工作" + "</p>"
        pages = spark.createDataFrame(
            [("https://e/cjk", f"<html><body>{body}</body></html>")],
            "url string, html string",
        )
        out = extract_main_content(pages).collect()
        assert len(out) == 1 and "深圳" in out[0]["main_text"]

    def test_binary_html_and_null_quarantine(self, spark):
        pages = spark.createDataFrame(
            [("https://e/b", bytearray("<p>binary page body with enough characters here</p>".encode())),
             ("https://e/null", None)],
            "url string, html binary",
        )
        out = {r["url"]: r for r in extract_main_content(pages).collect()}
        assert "binary page body" in out["https://e/b"]["main_text"]
        assert "https://e/null" not in out  # no nodes → no row

    def test_warc_to_main_content_lane(self, spark, tmp_path):
        """Common-Crawl shape end to end: .warc.gz segment → pages →
        boilerplate-stripped main text."""
        from arkhammirror_spark.sources.warc import build_warc, warc_to_pages

        raw = build_warc(
            [{"url": "https://w/a", "date": "2026-01-02T03:04:05Z",
              "payload": ARTICLE_PAGE.encode()}]
        )
        seg = tmp_path / "seg-0.warc.gz"
        seg.write_bytes(raw)
        pages = warc_to_pages(spark.read.format("binaryFile").load(str(seg)))
        ok = pages.where(pages["error"].isNull() & pages["html"].isNotNull())
        out = extract_main_content(ok).collect()
        assert len(out) == 1
        assert "first real paragraph" in out[0]["main_text"]
        assert "Terms of service" not in out[0]["main_text"]

    def test_composed_webtext_chain_each_stage_fires(self, spark):
        """prepare_webtext_corpus over the fixture pages: url-variant
        collapse, exact dup, near dup, quality gate, link farm, and shared
        footer line each handled by their stage."""
        from arkhammirror_spark.operators.webtext import prepare_webtext_corpus
        from arkhammirror_spark.queries_ext2 import _WEBTEXT_PAGES, _WT_FOOTER

        pages = spark.createDataFrame(_WEBTEXT_PAGES, "url string, html string")
        out = {r["url"]: r["text"]
               for r in prepare_webtext_corpus(pages).collect()}
        assert set(out) == {"https://w/a", "https://w/b", "https://w/c"}
        assert _WT_FOOTER in out["https://w/a"]      # first occurrence kept
        assert _WT_FOOTER not in out["https://w/b"]  # line-deduped
        assert "alpha system" in out["https://w/a"]
        assert "beta pipeline" in out["https://w/b"]
        assert "gamma archive" in out["https://w/c"]
        assert "Home" not in out["https://w/a"]      # nav stripped

    def test_python_selection_equals_window_selection(self, spark):
        """main_content_py (the Python pin path) must match the
        url-partitioned window variant exactly on every fixture page —
        including the webtext fixtures with their rescue/heading cases."""
        from arkhammirror_spark.operators.boilerplate import main_content_py
        from arkhammirror_spark.queries_ext2 import _BOILER_PAGES, _WEBTEXT_PAGES

        fixtures = list(_BOILER_PAGES) + list(_WEBTEXT_PAGES) + [
            ("https://e/art", ARTICLE_PAGE)
        ]
        pages = spark.createDataFrame(fixtures, "url string, html string")
        batch = {r["url"]: (r["main_text"], r["n_blocks"])
                 for r in extract_main_content(pages).collect()}
        for url, html in fixtures:
            text, n = main_content_py(html)
            if n == 0:
                assert url not in batch, url
            else:
                assert batch[url] == (text, n), url

    def test_scoring_is_native(self, spark):
        """Stages 2-4 must be pure column math: exactly ONE Arrow node
        (the flatten pass) in the full plan."""
        pages = spark.createDataFrame(
            [("https://e/art", ARTICLE_PAGE)], "url string, html string"
        )
        plan = extract_main_content(pages)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") == 1
        assert "BatchEvalPython" not in plan