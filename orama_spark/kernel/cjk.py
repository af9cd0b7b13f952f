"""CJK tokenizers — the @orama/tokenizers package re-expressed.

Reference: packages/tokenizers/src/japanese.ts:1-98 and mandarin.ts:1-98.
Both reference tokenizers are the SAME thin wrapper around
``Intl.Segmenter`` (ICU's dictionary-based word break, 'ja' / 'zh-CN'
locales): segment, keep ``isWordLike`` segments, trim edge empties,
dedupe unless ``allowDuplicates``. Notably the wrapper never calls
``normalizeToken`` on the regular path — no lowercasing, no stopwords,
no stemming are applied to CJK tokens (only the tokenize-skip-properties
path normalizes). That quirk is replicated here faithfully.

Segmentation is the ICU-parity dictionary segmenter in ``cjk_dict``
(ICU's own cjdict + the published CjkBreakEngine Viterbi — see that
module), run through its vectorized twin ``cjk_vec``; texts and chunks
the vectorized path declines go through the scalar ``segment_dict``.
There is no second backend: the cjdict table ships as package data,
it is read on the first CJK segmentation (importing this module reads
no file), and a missing table raises rather than changing the tokens.
"""

from __future__ import annotations

from typing import List

from .cjk_dict import segment_dict
from .cjk_vec import segment_fast, segment_many

CJK_LANGUAGES = ("japanese", "mandarin")


def cjk_segment(text: str) -> List[str]:
    r = segment_fast(text)
    return segment_dict(text) if r is None else r


def cjk_segment_many(texts: List[str]) -> List[List[str]]:
    """Segment a batch of texts: every clean CJ run in the batch goes
    through one lockstep Viterbi (``cjk_vec.segment_many``)."""
    return segment_many(texts)
