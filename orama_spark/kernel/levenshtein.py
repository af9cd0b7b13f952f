"""Bounded Levenshtein — exact port of the reference's non-standard metric.

Reference: /root/reference/packages/orama/src/components/levenshtein.ts:10-96

Non-standard prefix special cases (they change fuzzy match sets vs the
textbook metric):
  * if ``term`` starts with ``word``  -> distance = len(term) - len(word)
  * if ``word`` starts with ``term``  -> distance = 0 (any completion of
    the query token matches at distance 0)
Returns -1 when the distance exceeds the tolerance.

``bounded_levenshtein_batch`` is the numpy-vectorized variant the fuzzy
term expansion runs over many dictionary words at once.
"""

from __future__ import annotations

from itertools import repeat

import numpy as np


def bounded_levenshtein(term: str, word: str, tolerance: int) -> int:
    """Port of ``_boundedLevenshtein`` (levenshtein.ts:10-73).

    Returns the distance, or -1 if it exceeds ``tolerance``.
    """
    if tolerance < 0:
        return -1
    if term == word:
        return 0

    m = len(term)
    n = len(word)

    if m == 0:
        return n if n <= tolerance else -1
    if n == 0:
        return m if m <= tolerance else -1

    diff = abs(m - n)
    # Prefix special cases (levenshtein.ts:26-36)
    if term.startswith(word):
        return diff if diff <= tolerance else -1
    if word.startswith(term):
        return 0

    if diff > tolerance:
        return -1

    # DP with per-row early exit (levenshtein.ts:41-72)
    prev = list(range(n + 1))
    for i in range(1, m + 1):
        cur = [i] + [0] * n
        row_min = float("inf")
        tc = term[i - 1]
        for j in range(1, n + 1):
            if tc == word[j - 1]:
                cur[j] = prev[j - 1]
            else:
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + 1)
            if cur[j] < row_min:
                row_min = cur[j]
        if row_min > tolerance:
            return -1
        prev = cur

    return prev[n] if prev[n] <= tolerance else -1


def is_bounded(term: str, word: str, tolerance: int) -> bool:
    """Port of ``syncBoundedLevenshtein(...).isBounded`` (levenshtein.ts:90-96)."""
    return bounded_levenshtein(term, word, tolerance) >= 0


def bounded_levenshtein_batch(term: str, words: np.ndarray, tolerance: int) -> np.ndarray:
    """Vectorized ``bounded_levenshtein(term, w, tolerance) >= 0`` over a
    numpy object array of candidate words.

    Used by the fuzzy term expansion over the ``dictionary`` table, in
    the Levenshtein UDF and on the driver over a held dictionary. No
    per-word bytecode: the lengths and the completions of ``term``
    (distance 0, levenshtein.ts:31-33) are builtins mapped over the
    words, and the other words of the length band run one textbook
    edit-distance DP
    together (``_distances``). A word that ``term`` completes is at
    distance len(term) - len(word) there too, so levenshtein.ts:26-29
    needs no case of its own, and the scalar's per-row early exit only
    saves work: a DP row's minimum never decreases.
    """
    n = len(words)
    if tolerance < 0:
        return np.zeros(n, dtype=bool)
    lens = np.fromiter(map(len, words), dtype=np.int64, count=n)
    if not term:  # every word completes "" (levenshtein.ts:19-20 first)
        return lens <= tolerance
    out = np.fromiter(map(str.startswith, words, repeat(term)), dtype=bool, count=n)
    todo = np.flatnonzero(~out & (np.abs(lens - len(term)) <= tolerance))
    if len(todo):
        band = np.asarray(words, dtype=object)[todo]
        out[todo] = _distances(term, band, lens[todo]) <= tolerance
    return out


def _distances(term: str, words: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Textbook Levenshtein distance of ``term`` to each word (of
    ``lens`` characters). One DP row per character of ``term`` over a
    (characters x words) code-point matrix, words along the contiguous
    axis; within a row, D[i][j] = min(D[i][j-1] + 1, a[j]) with a[j] the
    substitution and deletion moves, which is j + cummin(a[k] - k) over
    k <= j. Cells past a word's end never reach its D[m][len]."""
    n, width = len(words), max(int(lens.max()), 1)
    chars = np.ascontiguousarray(words.astype(f"<U{width}").view(np.uint32).reshape(n, width).T)
    cols = np.arange(width + 1, dtype=np.int32)[:, None]
    row = np.broadcast_to(cols, (width + 1, n))
    a = np.empty((width + 1, n), dtype=np.int32)
    for i, c in enumerate(term, 1):
        a[0] = i
        np.minimum(row[1:] + 1, row[:-1] + (chars != ord(c)), out=a[1:])
        a -= cols
        row = np.minimum.accumulate(a, axis=0) + cols
    return row[lens, np.arange(n)]
