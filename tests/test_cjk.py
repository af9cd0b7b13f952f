"""@orama/tokenizers (japanese / mandarin) coverage.

Ports the reference package's own test suites
(packages/tokenizers/tests/japanese.test.ts, mandarin.test.ts) against
the oracle engine, then proves Spark-engine rank identity on the same
corpora. Segmentation is the ICU-parity dictionary segmenter
(kernel/cjk.py, kernel/cjk_dict.py); query and document text share it.
"""

import pytest

from orama_spark.config import IndexConfig
from orama_spark.build.indexer import IndexBuilder
from orama_spark.kernel import TokenizerConfig
from orama_spark.kernel.cjk import cjk_segment
from orama_spark.kernel.tokenizer import Tokenizer
from orama_spark.oracle.engine import OramaOracle
from orama_spark.query.engine import SearchIndex

JA_DOCS = ["東京", "大阪", "京都", "横浜", "札幌", "仙台", "広島",
           "東京大学", "京都大学", "大阪大学"]
ZH_DOCS = ["北京", "上海", "广州", "深圳", "成都", "杭州", "南京",
           "北京大学", "上海交通大学", "广州中医药大学"]

# (term, expected hit names in rank order) — the reference assertions
JA_CASES = [
    ("東京", ["東京", "東京大学"]),
    ("大阪", ["大阪", "大阪大学"]),
    ("京都", ["京都", "京都大学"]),
    ("横浜", ["横浜"]),
    ("札幌", ["札幌"]),
    ("仙台", ["仙台"]),
    ("広島", ["広島"]),
    ("大学", ["東京大学", "京都大学", "大阪大学"]),
]
ZH_CASES = [
    ("北京", ["北京", "北京大学"]),
    ("上海", ["上海", "上海交通大学"]),
    ("广州", ["广州", "广州中医药大学"]),
    ("深圳", ["深圳"]),
    ("成都", ["成都"]),
    ("南", ["南京"]),
]


class TestSegmenter:
    def test_han_bigrams(self):
        # han runs split into dictionary words, never overlapping
        # bigrams (no 京大 out of 東京大学)
        assert cjk_segment("東京大学") == ["東京", "大学"]
        assert cjk_segment("東") == ["東"]
        assert cjk_segment("") == []

    def test_script_runs_mixed(self):
        # kana runs whole, punctuation dropped
        assert cjk_segment("東京で、勉強。") == ["東京", "で", "勉強"]
        # katakana incl. prolonged mark stays one run
        assert cjk_segment("カード") == ["カード"]

    def test_latin_case_preserved(self):
        # the reference wrapper never lowercases (no normalizeToken on
        # the regular path)
        assert cjk_segment("東京Apple123店") == ["東京", "Apple123", "店"]

    def test_tokenizer_dedupe_and_skip(self):
        tok = Tokenizer(TokenizerConfig(language="japanese"))
        # 東京東京 -> 東京|東京, deduped
        assert tok.tokenize("東京東京") == ["東京"]
        tok_dup = Tokenizer(
            TokenizerConfig(language="japanese", allow_duplicates=True)
        )
        assert tok_dup.tokenize("東京 東京") == ["東京", "東京"]
        assert cjk_segment("東京東京") == ["東京", "東京"]


def _oracle(lang, names):
    db = OramaOracle({"name": "string"}, TokenizerConfig(language=lang))
    for n in names:
        db.insert({"name": n})
    return db


class TestReferenceSuites:
    @pytest.mark.parametrize("term,expected", JA_CASES)
    def test_japanese(self, term, expected):
        db = _oracle("japanese", JA_DOCS)
        res = db.search(term=term, threshold=0)
        assert res["count"] == len(expected)
        names = [h["document"]["name"] for h in res["hits"]]
        assert names == expected

    @pytest.mark.parametrize("term,expected", ZH_CASES)
    def test_mandarin(self, term, expected):
        db = _oracle("mandarin", ZH_DOCS)
        res = db.search(term=term, threshold=0)
        assert res["count"] == len(expected)
        names = [h["document"]["name"] for h in res["hits"]]
        assert names == expected


@pytest.fixture(scope="module")
def ja_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("jaidx"))
    cfg = IndexConfig(
        schema={"name": "string"},
        tokenizer=TokenizerConfig(language="japanese"),
    )
    rows = [{"docid": i + 1, "name": n} for i, n in enumerate(JA_DOCS)]
    IndexBuilder(cfg, postings_partitions=2).build(
        spark.createDataFrame(rows), out, input_id="ja"
    )
    return SearchIndex.load(spark, out, cfg)


class TestSparkParity:
    @pytest.mark.parametrize("term,expected", JA_CASES)
    def test_rank_identity(self, ja_index, term, expected):
        db = _oracle("japanese", JA_DOCS)
        ores = db.search(term=term, threshold=0)
        rows = ja_index.search(term=term, threshold=0).top_df().collect()
        assert [r["docid"] for r in rows] == [h["id"] for h in ores["hits"]]
        for r, h in zip(rows, ores["hits"]):
            assert r["score"] == pytest.approx(h["score"], rel=1e-9)
        assert [JA_DOCS[r["docid"] - 1] for r in rows] == expected


class TestSegmenterProperties:
    """Property-based hardening (hypothesis): the segmenter must never
    crash, never emit empty tokens, and preserve the word-like
    character stream in order."""

    def test_properties(self):
        from hypothesis import given, settings, strategies as st

        from orama_spark.kernel.cjk_dict import _MARKS, _cls

        mixed = st.text(
            alphabet=st.one_of(
                st.characters(min_codepoint=0x20, max_codepoint=0x7E),
                st.characters(min_codepoint=0x3040, max_codepoint=0x30FF),
                st.characters(min_codepoint=0x4E00, max_codepoint=0x4FFF),
                st.characters(min_codepoint=0xAC00, max_codepoint=0xACFF),
            ),
            max_size=60,
        )

        @given(mixed)
        @settings(max_examples=300, deadline=None)
        def check(text):
            toks = cjk_segment(text)
            assert all(toks), "no empty tokens"
            # every token is a verbatim slice of the input, in order
            at = 0
            for t in toks:
                at = text.index(t, at) + len(t)
            # every emitted character is word-like or a voicing mark
            # attached to one (punctuation and whitespace never leak
            # into tokens)
            for t in toks:
                for ch in t:
                    assert _cls(ch) is not None or ch in _MARKS or ch == "〆"

        check()

    def test_tokenizer_never_crashes_on_weird_input(self):
        from orama_spark.kernel.tokenizer import Tokenizer
        from orama_spark.kernel import TokenizerConfig

        tok = Tokenizer(TokenizerConfig(language="mandarin"))
        for s in ["", " ", "\x00", "á", "🦀🦀", "￿", "ー", "々"]:
            out = tok.tokenize(s)
            assert isinstance(out, list)
