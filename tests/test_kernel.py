"""Kernel parity tests: Python kernel vs golden vectors generated by
executing the REFERENCE source in node (tools/gen_vectors.mjs).

Covers: Porter stemmer (incl. english-stemmer.ts:161 -ion quirk),
diacritics table, tokenizer pipeline both profiles, bounded Levenshtein
(incl. the non-standard prefix special cases of levenshtein.ts:26-36).
"""

import json
import os

import pytest

from orama_spark.kernel import (
    Tokenizer,
    TokenizerConfig,
    bm25,
    bounded_levenshtein,
    bounded_levenshtein_batch,
    replace_diacritics,
    stem,
)

VEC = os.path.join(os.path.dirname(__file__), "vectors")


def _load(name):
    with open(os.path.join(VEC, name)) as f:
        return json.load(f)


class TestStemmer:
    def test_golden_vectors(self):
        for word, expected in _load("stemmer.json"):
            assert stem(word) == expected, f"stem({word!r})"

    def test_ion_quirk(self):
        # english-stemmer.ts:161 precedence quirk: s/t dropped
        assert stem("adoption") == "adop"

    def test_short_words_unchanged(self):
        assert stem("ab") == "ab"
        assert stem("a") == "a"
        assert stem("") == ""


class TestDiacritics:
    def test_folding(self):
        assert replace_diacritics("café") == "cafe"
        assert replace_diacritics("naïve") == "naive"
        assert replace_diacritics("ÀÈÌÒÙ") == "AEIOU"
        # ß -> 's' (charcode 223 -> 115)
        assert replace_diacritics("ß") == "s"
        # × (215) and ÷ (247) are null in the table -> unchanged
        assert replace_diacritics("×÷") == "×÷"
        # outside the 192..383 range -> unchanged
        assert replace_diacritics("hello,世界") == "hello,世界"


class TestTokenizer:
    def test_golden_vectors(self):
        plain = Tokenizer(TokenizerConfig.plain())
        full = Tokenizer(TokenizerConfig.full())
        for case in _load("tokenizer.json"):
            tok = plain if case["profile"] == "plain" else full
            assert tok.tokenize(case["text"]) == case["tokens"], (
                f"{case['profile']}:{case['text']!r}"
            )

    def test_multi_language_golden_vectors(self):
        """All non-English splitters (languages.ts:34-65) vs vectors
        generated by running the reference SPLITTERS in node; 'full'
        vectors additionally run the language's stopwords + Snowball
        stemmer — the complete non-English pipeline."""
        toks = {}
        for case in _load("tokenizer_langs.json"):
            key = (case["language"], case.get("profile", "plain"))
            if key not in toks:
                toks[key] = Tokenizer(
                    TokenizerConfig.full_for(case["language"])
                    if key[1] == "full"
                    else TokenizerConfig(language=case["language"])
                )
            assert toks[key].tokenize(case["text"]) == case["tokens"], key

    def test_stopwords_multi_shape(self):
        from orama_spark.kernel.stopwords_multi import STOPWORDS

        # 30 lists incl. ja/zh — those two ship in @orama/stopwords as
        # data only (languages.ts defines no CJK splitter, so no
        # Tokenizer accepts them; same limitation as the reference)
        assert len(STOPWORDS) == 30
        assert "これ" in STOPWORDS["japanese"] and len(STOPWORDS["chinese"]) > 700
        assert "der" in STOPWORDS["german"] and "le" in STOPWORDS["french"]
        # full_for: every reference stemmer language now stems (28/28)
        t = Tokenizer(TokenizerConfig.full_for("turkish"))
        assert t.config.stemming and len(t.config.stopwords) > 0
        assert t.tokenize("kitaplarımız") == ["kitap"]
        # ... czech is the one stopwords-only language (the reference
        # maps it to a stemmer module that does not exist)
        tc = Tokenizer(TokenizerConfig.full_for("czech"))
        assert not tc.config.stemming
        t2 = Tokenizer(TokenizerConfig.full_for("russian"))
        assert t2.tokenize("и быстрая лиса") == ["быстр", "лис"]

    def test_all_30_languages_registered(self):
        from orama_spark.kernel.tokenizer import SPLITTERS

        assert len(SPLITTERS) == 30
        for lang in SPLITTERS:
            assert Tokenizer(TokenizerConfig(language=lang)).tokenize("abc 123") == [
                "abc", "123"
            ]

    def test_unsupported_language_raises(self):
        with pytest.raises(ValueError, match="LANGUAGE_NOT_SUPPORTED"):
            Tokenizer(TokenizerConfig(language="klingon"))

    def test_stemming_without_stemmer_raises(self):
        # czech is the only language without a stemmer (the reference's
        # own stemmer file for it does not exist)
        with pytest.raises(ValueError, match="STEMMER_NOT_SUPPORTED"):
            Tokenizer(TokenizerConfig(language="czech", stemming=True))


class TestSnowballStemmers:
    def test_golden_vectors(self):
        """de/fr/es/it Snowball vs the reference's compiled stemmers
        (packages/stemmers/lib/*.js, run in node by gen_vectors.mjs)."""
        from orama_spark.kernel.snowball import STEMMERS

        code2name = {"de": "german", "fr": "french", "es": "spanish",
                     "it": "italian", "ru": "russian", "pt": "portuguese",
                     "nl": "dutch", "dk": "danish", "no": "norwegian",
                     "se": "swedish", "ro": "romanian", "hu": "hungarian",
                     "fi": "finnish"}
        for case in _load("stemmer_langs.json"):
            fn = STEMMERS[code2name[case["language"]]]
            assert fn(case["word"]) == case["stem"], (
                f"{case['language']}:{case['word']!r}"
            )

    def test_stemming_tokenizer_pipeline(self):
        tok = Tokenizer(TokenizerConfig(language="german", stemming=True))
        # zeitungen -> zeitung -> zeit... (snowball: zeitung); full
        # pipeline = split, stem, fold umlauts
        assert tok.tokenize("Die Zeitungen der Möglichkeiten") == [
            "die", "zeitung", "der", "moglich"
        ]

    def test_dedupe_keeps_first_occurrence_order(self):
        tok = Tokenizer(TokenizerConfig.plain())
        assert tok.tokenize("b a b c a") == ["b", "a", "c"]

    def test_allow_duplicates(self):
        tok = Tokenizer(TokenizerConfig(allow_duplicates=True))
        assert tok.tokenize("a b a") == ["a", "b", "a"]

    def test_skip_properties_single_token(self):
        tok = Tokenizer(
            TokenizerConfig(tokenize_skip_properties=frozenset({"sku"}))
        )
        # whole value = one normalized token, NOT lowercased
        # (tokenizer/index.ts:75-76 bypasses toLowerCase+split)
        assert tok.tokenize("AB-12 CD", prop="sku") == ["AB-12 CD"]
        assert tok.tokenize("AB-12 CD", prop="other") == ["ab-12", "cd"]

    def test_stopword_checked_before_stemming(self):
        # 'was' is a stopword; 'wa' (its stem) must not leak through
        tok = Tokenizer(TokenizerConfig.full())
        assert tok.tokenize("was running") == ["run"]

    def test_stemmer_skip_properties(self):
        tok = Tokenizer(
            TokenizerConfig(stemming=True, stemmer_skip_properties=frozenset({"raw"}))
        )
        assert tok.tokenize("running", prop="raw") == ["running"]
        assert tok.tokenize("running", prop="other") == ["run"]


class TestLevenshtein:
    def test_golden_vectors(self):
        for c in _load("levenshtein.json"):
            d = bounded_levenshtein(c["term"], c["word"], c["tolerance"])
            assert d == c["distance"], f"{c['term']}~{c['word']} tol={c['tolerance']}"
            assert (d >= 0) == c["isBounded"]

    def test_batch_matches_scalar(self):
        """The fixed cases, then seeded random words: non-ASCII and NUL
        characters, empty strings, every length band edge."""
        import random

        import numpy as np

        words = ["fox", "box", "fo", "f", "foxes", "dog", "", "fax", "oxf"]
        cases = [(term, words, tol) for term in ["fox", "fo", "f", ""] for tol in [-1, 0, 1, 2]]
        rng = random.Random(5)
        word = lambda k: "".join(rng.choices("abcé日\x00", k=k))  # noqa: E731
        for _ in range(500):
            cases.append((word(rng.randint(0, 7)),
                          [word(rng.randint(0, 8)) for _ in range(rng.randint(0, 40))],
                          rng.randint(-1, 3)))
        for term, ws, tol in cases:
            got = bounded_levenshtein_batch(term, np.array(ws, dtype=object), tol)
            want = [bounded_levenshtein(term, w, tol) >= 0 for w in ws]
            assert got.dtype == bool and list(got) == want, (term, ws, tol)


class TestBM25:
    def test_formula(self):
        # idf = ln(1 + (10 - 2 + 0.5)/(2 + 0.5)); tf=0.25, fl=4, avg=5
        import math

        idf = math.log(1 + 8.5 / 2.5)
        want = idf * (0.5 + 0.25 * 2.2) / (0.25 + 1.2 * (0.25 + 0.75 * 4 / 5))
        assert bm25(0.25, 2, 10, 4, 5) == pytest.approx(want, rel=1e-12)
