"""ICU-parity dictionary segmentation (orama_spark.kernel.cjk_dict).

The golden fixture was generated by tools/fuzz_cjk_icu.py against
Node's ``Intl.Segmenter`` (ICU 78) — the exact backend the reference
tokenizers delegate to (packages/tokenizers/src/japanese.ts:23,
mandarin.ts:23).  Each fixture row is [case, wordlike_segments,
all_segments]; ja and zh-CN goldens were verified identical (0 diffs
on 6k fuzz cases), so one fixture serves both wrappers.

Known, accepted divergences (both verified to be ICU-side artifacts,
not segmentation logic — see tools/fuzz_cjk_icu.py output):
  * isWordLike-flag anomalies: ICU sporadically flags real dictionary
    words non-word-like near iteration/voicing-mark corners (boundaries
    still agree) — we keep the words;
  * non-local normalization-chunking artifacts on long adversarial
    strings with stray halfwidth voicing marks (the same substring
    segments correctly standalone).
On realistic text (dictionary words + punctuation + Latin, no stray
marks) parity is 4000/4000 exact — asserted in spirit here via the
curated subset, re-runnable via tools/fuzz_cjk_icu.py.
"""

from __future__ import annotations

import json
import os

from orama_spark.kernel.cjk_dict import (
    _cls,
    _MARKS,
    cj_viterbi,
    segment_dict,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "cjk_icu_golden.json")


def _wordish(seg: str) -> bool:
    return any(_cls(c) is not None or c in _MARKS or c == "〆" for c in seg)


def _load_fixture():
    with open(FIXTURE, encoding="utf-8") as f:
        return json.load(f)


class TestGoldenParity:
    def test_fixture_parity(self):
        """Every fixture case matches ICU exactly, or matches ICU's raw
        boundaries with only the isWordLike flag diverging."""
        rows = _load_fixture()
        assert len(rows) >= 400
        exact = flag_only = 0
        boundary_mismatch = []
        for case, wordlike, all_segs in rows:
            mine = segment_dict(case)
            if mine == wordlike:
                exact += 1
            elif mine == [g for g in all_segs if _wordish(g)]:
                flag_only += 1
            else:
                boundary_mismatch.append(case)
        # adversarial fuzz residue: stray-voicing-mark normalization
        # artifacts only; must stay a tiny fraction and never grow
        assert exact >= len(rows) * 0.98, (exact, len(rows))
        assert len(boundary_mismatch) <= 6, boundary_mismatch[:5]

    def test_curated_sentences_exact(self):
        """The real-language sentences (first rows of the fixture) are
        all exact — zero divergence on realistic text."""
        rows = _load_fixture()
        for case, wordlike, _ in rows[:36]:
            assert segment_dict(case) == wordlike, case


class TestDivergenceCasesClosed:
    """The ≥3-char dictionary-word divergences the bigram fallback had
    (documented in kernel/cjk.py r3) are gone."""

    def test_tokyo_university(self):
        assert segment_dict("東京大学") == ["東京", "大学"]

    def test_beijing_university(self):
        assert segment_dict("北京大学") == ["北京", "大学"]

    def test_sentence(self):
        assert segment_dict("東京大学の研究者") == ["東京", "大学", "の", "研究者"]

    def test_zh_sentence(self):
        assert segment_dict("我们在北京大学学习计算机科学") == [
            "我们", "在", "北京", "大学", "学习", "计算", "机", "科学"]


class TestMarkBehaviors:
    """Voicing-mark edge rules pinned empirically against ICU 78."""

    def test_halfwidth_composing_stays_in_span(self):
        assert segment_dict("ｶﾞｷｺﾞﾘ") == ["ｶﾞｷ", "ｺﾞﾘ"]
        assert segment_dict("ﾎﾟｹｯﾄ") == ["ﾎﾟｹｯﾄ"]

    def test_halfwidth_noncomposing_isolates_base(self):
        assert segment_dict("東京ﾟ大学") == ["東", "京ﾟ", "大学"]
        assert segment_dict("大学院ﾟ生") == ["大学", "院ﾟ", "生"]
        # full-span model: 後腐れ matches as a word, then れ splits off
        assert segment_dict("邦助後腐れﾟﾏ") == ["邦助", "後腐", "れﾟ", "ﾏ"]

    def test_combining_attaches_without_splitting_word(self):
        assert segment_dict("路軌゚東京") == ["路軌゚", "東京"]
        assert segment_dict("軌゙道") == ["軌゙", "道"]

    def test_combining_in_katakana_run_glues(self):
        assert segment_dict("ド゙ガ") == ["ド゙ガ"]
        assert segment_dict("アレクサンダー゚ガザ") == ["アレクサンダー゚ガザ"]

    def test_marks_in_latin_runs_absorbed(self):
        assert segment_dict("xﾟy") == ["xﾟy"]
        assert segment_dict("GPUﾞ") == ["GPUﾞ"]

    def test_baseless_mark_dropped(self):
        assert segment_dict("、ﾟア") == ["ア"]
        assert segment_dict("ﾟアイ") == ["アイ"]

    def test_shime_rule_bounded(self):
        # 〆切 is in cjdict but ICU rule-bounds U+3006: always alone
        assert segment_dict("〆切と") == ["〆", "切", "と"]

    def test_iteration_marks_in_words(self):
        assert segment_dict("弱々しい") == ["弱々しい"]
        assert segment_dict("津々浦々") == ["津々浦々"]


class TestViterbi:
    def test_empty_and_single(self):
        assert cj_viterbi("") == []
        assert cj_viterbi("東") == [1]
        assert segment_dict("") == []

    def test_oov_han_singles(self):
        # OOV han runs fall back to per-character (the 255-cost rule)
        toks = segment_dict("鷫蚇詭糈")
        assert toks == ["鷫", "蚇", "詭", "糈"]

    def test_katakana_run_cost(self):
        # 8-char OOV katakana: run cost (480) beats 8 singles (2040)
        assert segment_dict("ヂルブムダナユシ") == ["ヂルブムダナユシ"]

    def test_hangul_untouched(self):
        assert segment_dict("한국어テスト") == ["한국어", "テスト"]

    def test_mixed_scripts(self):
        assert segment_dict("東京Apple123店") == ["東京", "Apple123", "店"]


class TestEntryVocabUnambiguous:
    def test_all_triples_resegment_exactly(self):
        """The flt_lang_ja oracle regenerates tokens arithmetically;
        that is sound only if EVERY unspaced 3-word concatenation of
        the entry vocabulary re-segments into its source words."""
        import itertools

        vocab = ["東京", "大学", "研究", "自然", "言語", "処理",
                 "会議", "新聞", "鉄道", "図書館", "機械", "学習"]
        for a, b, c in itertools.product(vocab, repeat=3):
            assert segment_dict(a + b + c) == [a, b, c], (a, b, c)

    def test_query_segmentation(self):
        assert segment_dict("東京図書館") == ["東京", "図書館"]

    def test_zh_triples_resegment_exactly(self):
        import itertools

        vocab = ["北京", "大学", "学习", "计算", "科学", "自然",
                 "语言", "处理", "上海", "城市", "系统", "设计"]
        for a, b, c in itertools.product(vocab, repeat=3):
            assert segment_dict(a + b + c) == [a, b, c], (a, b, c)
        assert segment_dict("北京科学") == ["北京", "科学"]


class TestDefaultRegistration:
    def test_default_segmenter_is_dict(self):
        """The one backend is the dictionary segmenter, on both the
        scalar (short text) and the vectorized (batch) path."""
        from orama_spark.kernel.cjk import cjk_segment, cjk_segment_many

        text = "東京大学の研究者"
        want = ["東京", "大学", "の", "研究者"]
        assert segment_dict(text) == want
        assert cjk_segment(text) == want
        assert cjk_segment_many([text, text * 10]) == [want, want * 10]

    def test_wrapper_uses_it(self):
        from orama_spark.kernel.cjk import cjk_segment

        assert cjk_segment("東京大学") == ["東京", "大学"]


class TestVectorizedTwin:
    """cjk_vec must be BIT-FOR-BIT identical to the scalar path on
    every input it accepts (None = declined, caller falls back)."""

    def test_fixture_cases_padded(self):
        from orama_spark.kernel.cjk_vec import segment_fast, MIN_VEC_CHARS

        rows = _load_fixture()
        tested = 0
        for case, _, _ in rows:
            padded = (case + "。") * ((MIN_VEC_CHARS // max(1, len(case))) + 1)
            for s in (case, padded):
                r = segment_fast(s)
                if r is None:
                    continue
                tested += 1
                assert r == segment_dict(s), repr(s[:80])
        assert tested >= 400  # the vec path must actually run

    def test_segment_many_random_concat(self):
        import random

        from orama_spark.kernel.cjk_vec import segment_many

        rows = _load_fixture()
        cases = [r[0] for r in rows]
        rng = random.Random(42)
        docs = cases + [
            "".join(rng.choice(cases) for _ in range(rng.randint(2, 30)))
            for _ in range(200)
        ]
        res = segment_many(docs)
        for d, r in zip(docs, res):
            assert r == segment_dict(d), repr(d[:80])

    def test_segment_many_realistic_words(self):
        import random

        from orama_spark.kernel.cjk_dict import _load
        from orama_spark.kernel.cjk_vec import segment_many

        words = list(_load().keys())
        rng = random.Random(7)
        docs = []
        for _ in range(60):
            parts, run = [], 0
            for _ in range(rng.randint(40, 150)):
                parts.append(rng.choice(words))
                run += 1
                if run >= rng.randint(4, 12):
                    parts.append(rng.choice("、。！？"))
                    run = 0
                if rng.random() < 0.03:
                    parts.append(" Spark 2024 ")
            docs.append("".join(parts))
        for d, r in zip(docs, segment_many(docs)):
            assert r == segment_dict(d), repr(d[:80])

    def test_tokenize_many_matches_tokenize(self):
        import random

        from orama_spark.kernel.tokenizer import Tokenizer, TokenizerConfig

        rows = _load_fixture()
        cases = [r[0] for r in rows]
        rng = random.Random(3)
        docs = cases[:120] + [
            "".join(rng.choice(cases) for _ in range(rng.randint(2, 15)))
            for _ in range(80)
        ] + ["", "hello world", None, 42]
        for dup in (False, True):
            cfg = TokenizerConfig(
                language="japanese", stemming=False,
                stopwords=frozenset(), allow_duplicates=dup,
                tokenize_skip_properties=frozenset(),
                stemmer_skip_properties=frozenset(),
            )
            tok = Tokenizer(cfg)
            many = tok.tokenize_many(docs)
            single = [tok.tokenize(d) for d in docs]
            assert many == single

    def test_empty_and_edge_batches(self):
        from orama_spark.kernel.cjk_vec import segment_many

        assert segment_many([]) == []
        assert segment_many([""]) == [[]]
        assert segment_many(["a"]) == [["a"]]
        # NUL inside a text must not confuse the join bucketing
        d = "東京大学\0の研究者" + "x" * 20
        assert segment_many([d])[0] == segment_dict(d)
