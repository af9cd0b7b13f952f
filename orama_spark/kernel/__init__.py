"""Pure-Python parity kernel shared by the Spark engine and the oracle.

Every byte-level contract of the reference (tokenizer, stemmer,
diacritics, stopwords, bounded Levenshtein, BM25) lives here exactly
once, so the distributed engine and the single-process oracle cannot
disagree on semantics.
"""

from .bm25 import BM25Params, DEFAULT_BM25, bm25
from .diacritics import replace_diacritics
from .levenshtein import bounded_levenshtein, bounded_levenshtein_batch, is_bounded
from .stemmer import stem
from .stopwords_en import STOPWORDS_EN, STOPWORDS_EN_SET
from .tokenizer import SPLITTERS, Tokenizer, TokenizerConfig

__all__ = [
    "BM25Params",
    "DEFAULT_BM25",
    "bm25",
    "replace_diacritics",
    "bounded_levenshtein",
    "bounded_levenshtein_batch",
    "is_bounded",
    "stem",
    "STOPWORDS_EN",
    "STOPWORDS_EN_SET",
    "SPLITTERS",
    "Tokenizer",
    "TokenizerConfig",
]
