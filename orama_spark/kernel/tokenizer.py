"""Tokenizer kernel — exact port of the reference default tokenizer.

Reference: /root/reference/packages/orama/src/components/tokenizer/index.ts:19-93
Split regexes: .../tokenizer/languages.ts:34-65

Pipeline (tokenizer/index.ts:57-93):
    input.toLowerCase()
      -> split on the per-language regex
      -> per-token normalize: stopword? -> '' ; stem (unless prop in
         stemmer_skip) ; fold diacritics      (tokenizer/index.ts:19-44)
      -> drop empty tokens (filter(Boolean))
      -> trim leading/trailing '' (vestigial after the filter)
      -> dedupe preserving first-occurrence order unless allow_duplicates

This kernel is shared verbatim by the Spark Arrow UDFs (build side and
query side) and by the pure-Python oracle, so engine and oracle cannot
drift. A per-instance memo dict mirrors the reference's
``normalizationCache`` (tokenizer/index.ts:20-43) — it caches the
stemming hot path per unique (prop, token).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .diacritics import replace_diacritics
from .stemmer import stem as porter_stem
from .stopwords_en import STOPWORDS_EN

# Per-language split regexes — exact ports of SPLITTERS
# (tokenizer/languages.ts:34-65). JS /gim flags: only `i` matters for a
# character-class split (g/m are match-iteration flags); input is
# lowercased before the split. NOTE portuguese has NO `+` quantifier in
# the reference — kept verbatim (empty tokens are filtered later).
SPLITTERS: dict[str, re.Pattern] = {
    "dutch": re.compile(r"[^A-Za-zàèéìòóù0-9_'-]+", re.IGNORECASE),
    "english": re.compile(r"[^A-Za-zàèéìòóù0-9_'-]+", re.IGNORECASE),
    "french": re.compile(r"[^a-z0-9äâàéèëêïîöôùüûœç-]+", re.IGNORECASE),
    "italian": re.compile(r"[^A-Za-zàèéìòóù0-9_'-]+", re.IGNORECASE),
    "norwegian": re.compile(r"[^a-z0-9_æøåÆØÅäÄöÖüÜ]+", re.IGNORECASE),
    "portuguese": re.compile(r"[^a-z0-9à-úÀ-Ú]", re.IGNORECASE),
    "russian": re.compile(r"[^a-z0-9а-яА-ЯёЁ]+", re.IGNORECASE),
    "spanish": re.compile(r"[^a-z0-9A-Zá-úÁ-ÚñÑüÜ]+", re.IGNORECASE),
    "swedish": re.compile(r"[^a-z0-9_åÅäÄöÖüÜ-]+", re.IGNORECASE),
    "german": re.compile(r"[^a-z0-9A-ZäöüÄÖÜß]+", re.IGNORECASE),
    "finnish": re.compile(r"[^a-z0-9äöÄÖ]+", re.IGNORECASE),
    "danish": re.compile(r"[^a-z0-9æøåÆØÅ]+", re.IGNORECASE),
    "hungarian": re.compile(r"[^a-z0-9áéíóöőúüűÁÉÍÓÖŐÚÜŰ]+", re.IGNORECASE),
    "romanian": re.compile(r"[^a-z0-9ăâîșțĂÂÎȘȚ]+", re.IGNORECASE),
    "serbian": re.compile(r"[^a-z0-9čćžšđČĆŽŠĐ]+", re.IGNORECASE),
    "turkish": re.compile(r"[^a-z0-9çÇğĞıİöÖşŞüÜ]+", re.IGNORECASE),
    "lithuanian": re.compile(r"[^a-z0-9ąčęėįšųūžĄČĘĖĮŠŲŪŽ]+", re.IGNORECASE),
    "arabic": re.compile(r"[^a-z0-9أ-ي]+", re.IGNORECASE),
    "nepali": re.compile(r"[^a-z0-9अ-ह]+", re.IGNORECASE),
    "irish": re.compile(r"[^a-z0-9áéíóúÁÉÍÓÚ]+", re.IGNORECASE),
    "indian": re.compile(r"[^a-z0-9अ-ह]+", re.IGNORECASE),
    "armenian": re.compile(r"[^a-z0-9ա-ֆ]+", re.IGNORECASE),
    "greek": re.compile(r"[^a-z0-9α-ωά-ώ]+", re.IGNORECASE),
    "indonesian": re.compile(r"[^a-z0-9]+", re.IGNORECASE),
    "ukrainian": re.compile(r"[^a-z0-9а-яА-ЯіїєІЇЄ]+", re.IGNORECASE),
    "slovenian": re.compile(r"[^a-z0-9čžšČŽŠ]+", re.IGNORECASE),
    "bulgarian": re.compile(r"[^a-z0-9а-яА-Я]+", re.IGNORECASE),
    "tamil": re.compile(r"[^a-z0-9அ-ஹ]+", re.IGNORECASE),
    "sanskrit": re.compile(r"[^a-z0-9A-Zāīūṛḷṃṁḥśṣṭḍṇṅñḻḹṝ]+", re.IGNORECASE),
    "czech": re.compile(r"[^A-Z0-9a-zěščřžýáíéúůóťďĚŠČŘŽÝÁÍÉÓÚŮŤĎ-]+", re.IGNORECASE),
}

SUPPORTED_LANGUAGES = list(SPLITTERS.keys())


@dataclass(frozen=True)
class TokenizerConfig:
    """Mirrors DefaultTokenizerConfig (types.ts / tokenizer/index.ts:95-164).

    Orama defaults: stemming OFF, stopwords OFF (empty list),
    allow_duplicates False. The engine's "full" web profile enables
    stemming + the 180-word English list (the profile Orama's own
    dataset tests use, tests/dataset.test.ts:52-57).

    Frozen and hashable: a UDF kernel keys its executor-local
    tokenizer by the config itself (build/tokenize.py).
    """

    language: str = "english"
    stemming: bool = False
    stopwords: frozenset[str] = frozenset()
    allow_duplicates: bool = False
    tokenize_skip_properties: frozenset[str] = frozenset()
    stemmer_skip_properties: frozenset[str] = frozenset()

    @staticmethod
    def plain() -> "TokenizerConfig":
        """Orama `create({schema})` default: no stemming, no stopwords."""
        return TokenizerConfig()

    @staticmethod
    def full() -> "TokenizerConfig":
        """Stemming + English stopwords (reference dataset-test profile)."""
        return TokenizerConfig(stemming=True, stopwords=frozenset(STOPWORDS_EN))

    @staticmethod
    def full_for(language: str) -> "TokenizerConfig":
        """Full profile for any supported language: that language's
        stopword list (@orama/stopwords) + its stemmer. All 28 of the
        reference's stemmers ship (en Porter + 27 in kernel.snowball*,
        each differential-fuzzed against the reference's compiled JS),
        plus the reference's slovenian->russian aliasing quirk. The only
        stopwords-only language is czech: the reference maps it to a
        stemmer file that does not exist (languages.ts 'cz'), so no
        reference behavior exists to match."""
        from .snowball import STEMMERS as _SNOWBALL
        from .stopwords_multi import STOPWORDS as _SW

        stem = language == "english" or language in _SNOWBALL
        return TokenizerConfig(
            language=language,
            stemming=stem,
            stopwords=_SW.get(language, frozenset()),
        )


class Tokenizer:
    """Callable tokenizer with a normalization memo (one per instance)."""

    __slots__ = ("config", "_split", "_cache", "_stem")

    def __init__(self, config: TokenizerConfig | None = None):
        from .cjk import CJK_LANGUAGES

        self.config = config or TokenizerConfig()
        if self.config.language in CJK_LANGUAGES:
            # @orama/tokenizers japanese/mandarin: segmenter-based path,
            # no split regex (kernel/cjk.py)
            self._split = None
        elif self.config.language not in SPLITTERS:
            raise ValueError(f"LANGUAGE_NOT_SUPPORTED: {self.config.language}")
        else:
            self._split = SPLITTERS[self.config.language]
        self._cache: dict[tuple[str, str], str] = {}
        self._stem = None
        if self.config.stemming:
            if self.config.language == "english":
                self._stem = porter_stem
            else:
                from .snowball import STEMMERS as _SNOWBALL

                self._stem = _SNOWBALL.get(self.config.language)
                if self._stem is None:
                    # all 28 reference stemmers ship; this fires only
                    # for czech, whose stemmer file does not exist in
                    # the reference either (languages.ts maps 'cz' to
                    # a missing module) — refuse rather than silently
                    # index unstemmed
                    raise ValueError(
                        f"STEMMER_NOT_SUPPORTED: {self.config.language}"
                    )

    def normalize_token(self, prop: str, token: str) -> str:
        """Port of ``normalizeToken`` (tokenizer/index.ts:19-44).

        Order matters: stopword check on the raw (lowered) token first,
        then stemming, then diacritics folding.
        """
        key = (prop, token)
        cached = self._cache.get(key)
        if cached is not None:
            return cached
        cfg = self.config
        if token in cfg.stopwords:
            self._cache[key] = ""
            return ""
        if self._stem is not None and prop not in cfg.stemmer_skip_properties:
            token = self._stem(token)
        token = replace_diacritics(token)
        self._cache[key] = token
        return token

    def tokenize(self, text: str, prop: str = "") -> list[str]:
        """Port of ``tokenize`` (tokenizer/index.ts:57-93)."""
        if not isinstance(text, str):
            return [text]
        cfg = self.config
        if prop and prop in cfg.tokenize_skip_properties:
            tokens = [self.normalize_token(prop, text)]
            # trim() (tokenizer/index.ts:47-55): strip leading/trailing ''
            while tokens and tokens[-1] == "":
                tokens.pop()
            while tokens and tokens[0] == "":
                tokens.pop(0)
        elif self._split is None:
            # CJK path (packages/tokenizers/src/japanese.ts:29-68,
            # mandarin.ts same): segment, keep word-like tokens, trim
            # edge empties. The reference wrapper applies NO
            # normalizeToken on this path — no lowercasing, stopwords,
            # or stemming — replicated faithfully.
            from .cjk import cjk_segment

            tokens = cjk_segment(text)
            while tokens and tokens[-1] == "":
                tokens.pop()
            while tokens and tokens[0] == "":
                tokens.pop(0)
        else:
            raw = self._split.split(text.lower())
            tokens = []
            for t in raw:
                n = self.normalize_token(prop, t)
                if n:
                    tokens.append(n)
        if not cfg.allow_duplicates:
            return list(dict.fromkeys(tokens))
        return tokens

    def tokenize_many(self, texts, prop: str = "") -> list[list[str]]:
        """Batch tokenize — output identical to
        ``[self.tokenize(t, prop) for t in texts]``.  On the CJK path
        the whole batch is segmented in one vectorized pass
        (cjk.cjk_segment_many), amortizing the kernel setup across an
        Arrow batch of documents."""
        cfg = self.config
        if self._split is None and not (
            prop and prop in cfg.tokenize_skip_properties
        ):
            from .cjk import cjk_segment_many

            sidx = [i for i, t in enumerate(texts) if isinstance(t, str)]
            segged = cjk_segment_many([texts[i] for i in sidx])
            out: list = [None] * len(texts)
            for i, tokens in zip(sidx, segged):
                while tokens and tokens[-1] == "":
                    tokens.pop()
                while tokens and tokens[0] == "":
                    tokens.pop(0)
                out[i] = (
                    tokens
                    if cfg.allow_duplicates
                    else list(dict.fromkeys(tokens))
                )
            for i, t in enumerate(texts):
                if out[i] is None:
                    out[i] = [t]
            return out
        return [self.tokenize(t, prop) for t in texts]

    __call__ = tokenize
