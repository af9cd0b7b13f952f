"""plugin-parsedoc port: the reference package's own test expectations
(plugin-parsedoc/test/index.test.ts) against the pure-Python parser,
plus the Spark mapInPandas surface and an engine-level search test
mirroring the reference's 'it should store the values'.

The reference fixtures are rebuilt as the smallest inputs that yield
what each expectation pins (tests/fixtures/parsedoc/)."""

import os

import pytest

from orama_spark.kernel import TokenizerConfig
from orama_spark.oracle.engine import OramaOracle
from orama_spark.sources.parsedoc import (
    parse_html_records,
    parse_md_records,
    parse_records_df,
)

FX = os.path.join(os.path.dirname(__file__), "fixtures", "parsedoc")


def _rd(name):
    with open(os.path.join(FX, name)) as f:
        return f.read()


class TestReferenceExpectations:
    def test_store_values_paths(self):
        r = parse_html_records(_rd("index.html"), "index.html/")
        assert r == [
            {
                "type": "title",
                "content": "Test",
                "path": "index.html/root[1].html[0].head[1]",
                "properties": {},
            }
        ]

    def test_merge_strategies(self):
        html = _rd("two-paragraphs.html")
        assert len(parse_html_records(html)) == 1
        assert len(parse_html_records(html, merge_strategy="split")) == 2
        assert len(parse_html_records(html, merge_strategy="both")) == 3

    def test_no_merge_across_tags_or_containers(self):
        assert len(parse_html_records(_rd("item-in-between.html"))) == 3
        assert len(parse_html_records(_rd("different-containers.html"))) == 2

    def test_transform_tag(self):
        r = parse_html_records(
            _rd("h1.html"), "h1.html/",
            transform_fn=lambda n: {**n, "tag": "h2"} if n["tag"] == "h1" else n,
        )
        assert r == [
            {"type": "h2", "content": "Heading",
             "path": "h1.html/root[0].html[1].body[0]", "properties": {}}
        ]

    def test_transform_content(self):
        r = parse_html_records(
            _rd("h1.html"), "h1.html/",
            transform_fn=lambda n: {**n, "content": "New content"}
            if n["tag"] == "h1" else n,
        )
        assert r[0]["content"] == "New content" and r[0]["type"] == "h1"

    def test_transform_raw_wins(self):
        for fn in (
            lambda n: {**n, "raw": "<div><p>Hello</p></div>"},
            lambda n: {"tag": "h2", "content": "X", "raw": "<div><p>Hello</p></div>"},
        ):
            r = parse_html_records(
                _rd("h1.html"), "h1.html/",
                transform_fn=lambda n, fn=fn: fn(n) if n["tag"] == "h1" else n,
            )
            assert r == [
                {"type": "p", "content": "Hello",
                 "path": "h1.html/root[0].html[1].body[0].div[0]",
                 "properties": {}}
            ]

    def test_markdown(self):
        r = parse_md_records(_rd("markdown.md"), "markdown.md/")
        assert [(x["type"], x["content"], x["path"]) for x in r] == [
            ("h1", "Title", "markdown.md/root[1].html[1].body[0]"),
            ("p", "Some content", "markdown.md/root[1].html[1].body[1]"),
            ("h2", "Subtitle", "markdown.md/root[1].html[1].body[2]"),
            ("p", "Some more content", "markdown.md/root[1].html[1].body[3]"),
        ]

    def test_markdown_setext_headings(self):
        r = parse_md_records("Title Line\n==========\n\nSection\n-------\n\ntext\n")
        assert [(x["type"], x["content"]) for x in r] == [
            ("h1", "Title Line"), ("h2", "Section"), ("p", "text")]

    def test_markdown_setext_multiline_paragraph(self):
        # the WHOLE pending paragraph becomes the heading (CommonMark)
        r = parse_md_records("Two\nLines\n===\n")
        assert [(x["type"], x["content"]) for x in r] == [("h1", "Two Lines")]

    def test_markdown_lists(self):
        r = parse_md_records("- alpha\n- beta\n\n1. one\n2. two\n")
        assert [(x["type"], x["content"], x["path"]) for x in r] == [
            ("li", "alpha beta", "root[1].html[1].body[0].ul[0]"),
            ("li", "one two", "root[1].html[1].body[1].ol[0]"),
        ]

    def test_markdown_list_marker_change_starts_new_list(self):
        r = parse_md_records("- alpha\n* beta\n")
        assert [x["path"] for x in r] == [
            "root[1].html[1].body[0].ul[0]",
            "root[1].html[1].body[1].ul[0]",
        ]

    def test_markdown_ordered_start_attr(self):
        r = parse_md_records("5. five\n6. six\n", merge_strategy="split")
        assert [(x["type"], x["content"]) for x in r] == [
            ("li", "five"), ("li", "six")]
        from orama_spark.sources.parsedoc import markdown_to_html

        assert '<ol start="5">' in markdown_to_html("5. five\n6. six\n")

    def test_markdown_blockquote(self):
        r = parse_md_records("> quoted text\n> more quote\n\n> ## quoted heading\n> qp\n")
        assert [(x["type"], x["content"], x["path"]) for x in r] == [
            ("p", "quoted text more quote", "root[1].html[1].body[0].blockquote[0]"),
            ("h2", "quoted heading", "root[1].html[1].body[1].blockquote[0]"),
            ("p", "qp", "root[1].html[1].body[1].blockquote[1]"),
        ]

    def test_markdown_thematic_break(self):
        from orama_spark.sources.parsedoc import markdown_to_html

        html = markdown_to_html("para\n\n---\n\nafter\n")
        assert "<hr/>" in html
        # --- directly under a paragraph line is setext h2, not a break
        assert "<h2>para</h2>" in markdown_to_html("para\n---\n")
        # but a '*'/'_' run (or a spaced '-' run — no valid setext
        # underline) INTERRUPTS the paragraph (CommonMark; r4 ADVICE)
        for brk in ("***", "___", "- - -"):
            html = markdown_to_html(f"para\n{brk}\nafter\n")
            assert "<p>para</p><hr/>" in html, (brk, html)

    def test_merge_first_property_wins(self):
        r = parse_html_records(_rd("merge-properties.html"))
        assert r == [
            {"type": "p", "content": "First Second",
             "path": "root[0].html[1].body[0]", "properties": {"id": "first"}}
        ]

    def test_search_level(self):
        # reference test 1: index the records, search 'Test'
        db = OramaOracle(
            {"type": "string", "content": "string", "path": "string"},
            TokenizerConfig(),
        )
        for rec in parse_html_records(_rd("index.html"), "index.html/"):
            db.insert({k: rec[k] for k in ("type", "content", "path")})
        res = db.search(term="Test")
        assert res["count"] == 1
        assert res["hits"][0]["document"]["content"] == "Test"


class TestSparkSurface:
    def test_map_only_explode(self, spark):
        rows = [
            (0, "<h1>Alpha</h1><p>body text one</p>"),
            (1, "<body><p>First paragraph</p><p>Second paragraph</p></body>"),
            (2, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, html string")
        out = parse_records_df(df).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["id"], []).append(r)
        assert [r["type"] for r in sorted(by_doc[0], key=lambda r: r["record_idx"])] == ["h1", "p"]
        assert len(by_doc[1]) == 1  # merged paragraphs
        assert 2 not in by_doc     # null html -> no records
        # map-only plan: no exchange
        plan = parse_records_df(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan

    def test_parity_with_pure_python(self, spark):
        html = (
            "<body><div><p>First paragraph</p></div>"
            "<div><p>Second paragraph</p></div></body>"
        )
        df = spark.createDataFrame([(7, html)], "doc_id long, html string")
        got = [
            (r["type"], r["content"], r["path"])
            for r in sorted(parse_records_df(df).collect(),
                            key=lambda r: r["record_idx"])
        ]
        exp = [(x["type"], x["content"], x["path"])
               for x in parse_html_records(html)]
        assert got == exp


class TestInlineConstructs:
    """Inline CommonMark -> rehype AST nodes: every inline element is
    its own text-node parent, so records carry type em/strong/code/a
    with paths inside the containing block (index.ts AST walk)."""

    def _recs(self, md, strategy="split"):
        return [
            (r["type"], r["content"])
            for r in parse_md_records(md, merge_strategy=strategy)
        ]

    def test_strong_em_code_link(self):
        recs = self._recs("A **bold** and *soft* `x<y` [here](u).")
        assert recs == [
            ("p", "A"), ("strong", "bold"), ("p", "and"),
            ("em", "soft"), ("code", "x<y"),  # < survives the escape
            ("a", "here"), ("p", "."),
        ]

    def test_code_span_protects_markup(self):
        recs = self._recs("use `*glob*` patterns")
        assert ("code", "*glob*") in recs
        assert not any(t == "em" for t, _ in recs)

    def test_code_span_strip_one_space(self):
        assert ("code", "`tick`") in self._recs("a `` `tick` `` b")

    def test_underscore_intraword_not_emphasis(self):
        recs = self._recs("snake_case_name stays")
        assert recs == [("p", "snake_case_name stays")]
        assert ("em", "real") in self._recs("an _real_ one")

    def test_image_and_link_properties(self):
        recs = parse_md_records(
            "See ![pic](i.png) and [docs](http://d).", merge_strategy="split"
        )
        a = next(r for r in recs if r["type"] == "a")
        assert a["properties"].get("href") == "http://d"
        assert a["content"] == "docs"
        # images have no text child -> no record, but must not corrupt
        # neighbors
        assert [r["content"] for r in recs if r["type"] == "p"] == [
            "See", "and", "."
        ]

    def test_heading_and_list_inline(self):
        recs = self._recs("# Title *em*\n\n- item **strong**\n- plain")
        assert ("h1", "Title") in recs
        assert ("em", "em") in recs
        assert ("li", "item") in recs
        assert ("strong", "strong") in recs
        assert ("li", "plain") in recs

    def test_fenced_code_escapes_html(self):
        recs = self._recs("```\nif a < b: print('<tag>')\n```")
        assert recs == [("code", "if a < b: print('<tag>')")]

    def test_merge_keeps_inline_boundaries(self):
        # merge joins CONSECUTIVE same-tag-same-container records only;
        # an inline element interrupts the run (index.ts:226-233)
        recs = self._recs("x **b** y", strategy="merge")
        assert recs == [("p", "x"), ("strong", "b"), ("p", "y")]
