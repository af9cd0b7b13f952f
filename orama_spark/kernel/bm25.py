"""BM25+ scoring — exact port of the reference formula.

Reference: /root/reference/packages/orama/src/components/algorithms.ts:116-126
Defaults k=1.2, b=0.75, d=0.5 (methods/search-fulltext.ts:254-258).

Notes pinned by the reference semantics (see SURVEY.md §2.3/§6):
  * ``tf`` is the RELATIVE frequency over the stored token list
    (components/index.ts:93-111). With the default deduplicating
    tokenizer that list is unique tokens, so tf == 1/field_len.
  * ``df`` (matchingCount) is the per-property document frequency of the
    matched word (components/index.ts:428).
  * ``docs_count`` is the GLOBAL live document count
    (methods/search-fulltext.ts:72), not per-property.
  * ``field_len`` = number of unique tokens of the property
    (components/index.ts:79-91 over the deduped list).
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class BM25Params:
    k: float = 1.2
    b: float = 0.75
    d: float = 0.5


DEFAULT_BM25 = BM25Params()


def bm25(
    tf: float,
    matching_count: float,
    docs_count: float,
    field_length: float,
    average_field_length: float,
    params: BM25Params = DEFAULT_BM25,
) -> float:
    """Scalar port of ``BM25`` (algorithms.ts:116-126)."""
    idf = math.log(1 + (docs_count - matching_count + 0.5) / (matching_count + 0.5))
    return (idf * (params.d + tf * (params.k + 1))) / (
        tf + params.k * (1 - params.b + (params.b * field_length) / average_field_length)
    )
