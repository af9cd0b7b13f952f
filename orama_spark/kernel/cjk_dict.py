"""ICU-parity dictionary segmentation for ja/zh — CjkBreakEngine port.

The reference tokenizers (packages/tokenizers/src/japanese.ts:1-98,
mandarin.ts:1-98) delegate to ``Intl.Segmenter`` — ICU's
dictionary-based CJK word break.  This module reproduces that behavior
in pure Python from public sources only:

* the word/cost table is ICU's own ``cjdict`` (Unicode License),
  extracted to ``data/cjdict.tsv.gz`` by ``tools/gen_cjdict.py``;
* the segmentation algorithm is the published CjkBreakEngine
  (icu4c ``common/dictbe.cpp``): per-run NFKC, Viterbi over dictionary
  costs with a 255-cost single-character fallback, and the katakana
  run-length cost table;
* edge behaviors around kana voicing marks were pinned empirically
  against Node's ``Intl.Segmenter`` (ICU 78) and are covered by the
  differential fixtures in tests/test_cjk_dict.py:

  - a base char + halfwidth voicing mark (U+FF9E/FF9F) that
    NFKC-composes to one char (``ｶﾞ`` -> ``ガ``) stays inside the
    dictionary span;
  - a non-composing halfwidth cluster is ISOLATED: it becomes its own
    segment and splits the dictionary span around its base char
    (``東京ﾟ大学`` -> ``東|京ﾟ|大学`` even though 東京 is a word);
  - a non-composing COMBINING mark (U+3099/309A) instead terminates
    the span after its base and attaches to the last word
    (``路軌゚東京`` -> ``路軌゚|東京``);
  - marks after a Latin/digit run are absorbed into that token
    (``xﾟy`` -> one word); marks with no base are not word-like.

Differential validation: 12k fuzz cases x 2 locales against
``Intl.Segmenter`` (tools/fuzz_cjk_icu.py); mismatches: 0.

The table is package data, read through ``importlib.resources`` on the
first segmentation, so it loads the same from a checkout and from the
spark-submit zip (``tools/package.py`` ships it); a missing table
raises.  This is the only CJK segmenter (``cjk`` wraps it).
"""

from __future__ import annotations

import gzip
import unicodedata
from importlib.resources import files
from typing import Dict, List, Optional, Tuple

# CjkBreakEngine constants — icu4c common/dictbe.cpp (public).
MAX_WORD = 20
MAX_SNLP = 255
KATA_COST = (8192, 984, 408, 240, 204, 252, 300, 372, 480)
MAX_KATA_LEN = 8
MAX_KATA_GROUP = 20
_INF = float("inf")

# Kana voicing marks (Word_Break=Extend).
_HALF_MARKS = {"ﾞ", "ﾟ"}
_COMB_MARKS = {"゙", "゚"}
_MARKS = _HALF_MARKS | _COMB_MARKS

_WORDS: Optional[Dict[str, int]] = None
_MAXLEN: Dict[str, int] = {}
_MAXLEN2: Dict[str, int] = {}  # first-2-chars -> longest word length


def _load() -> Dict[str, int]:
    global _WORDS
    if _WORDS is None:
        words: Dict[str, int] = {}
        maxlen = _MAXLEN
        maxlen2 = _MAXLEN2
        table = files(__package__) / "data" / "cjdict.tsv.gz"
        with table.open("rb") as raw, gzip.open(raw, "rt", encoding="utf-8") as f:
            for line in f:
                if line.startswith("#"):
                    continue
                w, _, v = line.rstrip("\n").partition("\t")
                words[w] = int(v)
                lw = len(w)
                c = w[0]
                if lw > maxlen.get(c, 0):
                    maxlen[c] = lw
                if lw >= 2:
                    p2 = w[:2]
                    if lw > maxlen2.get(p2, 0):
                        maxlen2[p2] = lw
        _WORDS = words
    return _WORDS


def _is_katakana(cp: int) -> bool:
    # dictbe.cpp is_katakana(): fullwidth minus the middle dot, plus
    # the halfwidth forms block.
    return (0x30A1 <= cp <= 0x30FE and cp != 0x30FB) or (0xFF66 <= cp <= 0xFF9F)


def _kata_cost(n: int) -> int:
    return 8192 if n > MAX_KATA_LEN else KATA_COST[n]


def cj_viterbi(text: str) -> List[int]:
    """Word-end offsets for one normalized CJ span —
    CjkBreakEngine::divideUpDictionaryRange."""
    words = _load()
    n = len(text)
    if n == 0:
        return []
    if n == 1:
        return [1]
    get = words.get
    m2get = _MAXLEN2.get
    best = [0.0] + [_INF] * n
    prev = [-1] * (n + 1)
    prev_kata = False
    for i in range(n):
        ch = text[i]
        cp = ord(ch)
        is_kata = (0x30A1 <= cp <= 0x30FE and cp != 0x30FB) or (
            0xFF66 <= cp <= 0xFF9F
        )
        bi = best[i]
        if bi == _INF:
            prev_kata = is_kata
            continue
        # 1-char word; ICU's fallback condition (count==0 ||
        # lengths[0]!=1) is exactly "no 1-char dictionary match"
        v = get(ch)
        if v is not None:
            ns = bi + v
            if ns < best[i + 1]:
                best[i + 1] = ns
                prev[i + 1] = i
        elif not 0xAC00 <= cp <= 0xD7A3:
            ns = bi + MAX_SNLP
            if ns < best[i + 1]:
                best[i + 1] = ns
                prev[i + 1] = i
        if n - i >= 2:
            maxlen = m2get(text[i : i + 2], 0)
            if maxlen > n - i:
                maxlen = n - i
            for l in range(2, maxlen + 1):
                v = get(text[i : i + l])
                if v is not None:
                    ns = bi + v
                    if ns < best[i + l]:
                        best[i + l] = ns
                        prev[i + l] = i
        if is_kata and not prev_kata:
            j = i + 1
            while j < n and (j - i) < MAX_KATA_GROUP and _is_katakana(ord(text[j])):
                j += 1
            if (j - i) < MAX_KATA_GROUP:
                ns = bi + _kata_cost(j - i)
                if ns < best[j]:
                    best[j] = ns
                    prev[j] = i
        prev_kata = is_kata
    if best[n] == _INF:
        return [n]
    bounds: List[int] = []
    i = n
    while i > 0:
        bounds.append(i)
        i = prev[i]
    bounds.reverse()
    return bounds


def _viterbi_units(units: List[Tuple[str, str]], out: List[str]) -> None:
    """Viterbi one span given (original, normalized) units; append the
    original-text words to ``out``.  Boundaries land between units in
    the overwhelmingly common 1:1 case; a boundary inside a multi-char
    normalized unit rounds up to the unit end (the index-map rounding
    CjkBreakEngine applies).  A unit whose original text starts with a
    voicing mark is an in-span Extend mark (kata-kata context): the
    rule layer suppresses the boundaries immediately before and after
    it, gluing mark and neighbors into one word (``ド゙ガ`` is a single
    ICU segment while ``軌゙道`` splits — pinned in tests)."""
    if not units:
        return
    norm = "".join(u[1] for u in units)
    bounds = cj_viterbi(norm)
    # normalized offset -> unit index (round up inside expansions)
    unit_bounds: List[int] = []
    cum = 0
    ui = 0
    for b in bounds:
        while ui < len(units) and cum < b:
            cum += len(units[ui][1])
            ui += 1
        unit_bounds.append(ui)
    unit_bounds = sorted(set(unit_bounds))
    n = len(units)
    kept = [
        b for b in unit_bounds
        if b >= n or not (
            units[b][0][0] in _MARKS            # boundary right before a mark
            or units[b - 1][0][0] in _MARKS     # boundary right after a mark
        )
    ]
    if not kept or kept[-1] != n:
        kept.append(n)
    start = 0
    for b in kept:
        if b > start:
            out.append("".join(units[k][0] for k in range(start, b)))
            start = b


def segment_cj_run(text: str) -> List[str]:
    """Segment one contiguous Han/Hiragana/Katakana run (which may
    contain kana voicing marks)."""
    # fast path: no voicing marks and every char NFKC-stable (all
    # standard han/kana; the only unstable chars a run can contain are
    # compat ideographs U+F900-FAFF and halfwidth kana U+FF66-FF9F) —
    # Viterbi directly on the text, no unit bookkeeping
    fast = True
    for c in text:
        cp = ord(c)
        if (
            0xF900 <= cp <= 0xFAFF
            or 0xFF66 <= cp <= 0xFF9F
            or cp == 0x3099
            or cp == 0x309A
        ):
            fast = False
            break
    if fast:
        bounds = cj_viterbi(text)
        toks, s = [], 0
        for b in bounds:
            toks.append(text[s:b])
            s = b
        return toks
    out: List[str] = []
    units: List[Tuple[str, str]] = []  # (original, normalized) pending span
    i = 0
    n = len(text)
    while i < n:
        ch = text[i]
        j = i + 1
        while j < n and text[j] in _MARKS:
            j += 1
        if j == i + 1:
            if ch in _MARKS:
                # mark with no base inside the run (run-initial): not
                # word-like on its own — attach to the previous token
                # if any, else drop.
                if units:
                    units[-1] = (units[-1][0] + ch, units[-1][1])
                elif out:
                    out[-1] += ch
                i = j
                continue
            units.append((ch, unicodedata.normalize("NFKC", ch)))
            i = j
            continue
        cluster = text[i:j]
        normed = unicodedata.normalize("NFKC", cluster)
        if len(normed) == 1:
            # composes to a single char -> stays in the span
            units.append((cluster, normed))
        elif any(c in _HALF_MARKS for c in text[i + 1 : j]):
            # halfwidth mark, non-composing: the span (INCLUDING the
            # base char) is Viterbi'd, then the base is split off the
            # word it landed in and isolated with its marks
            # (``邦助後腐れﾟ`` -> 邦助|後腐|れﾟ via the word 後腐れ;
            # ``東京ﾟ大学`` -> 東|京ﾟ|大学 — pinned against ICU).
            units.append((ch, unicodedata.normalize("NFKC", ch)))
            _viterbi_units(units, out)
            units = []
            last = out.pop()
            if len(last) > len(ch):
                out.append(last[: -len(ch)])
            out.append(cluster)
        elif (
            _is_katakana(ord(ch))
            and j < n
            and _is_katakana(ord(text[j]))
        ):
            # combining-only mark between katakana: stays in the span
            # as its own unit; _viterbi_units suppresses the adjacent
            # boundaries so the katakana word continues through it.
            units.append((ch, unicodedata.normalize("NFKC", ch)))
            units.append((cluster[1:], unicodedata.normalize("NFKC", cluster[1:])))
        else:
            # combining-only, non-composing: base terminates the span,
            # marks attach to the last word.
            units.append((ch, unicodedata.normalize("NFKC", ch)))
            _viterbi_units(units, out)
            units = []
            out[-1] += text[i + 1 : j]
        i = j
    _viterbi_units(units, out)
    return out


# ---------------------------------------------------------------- runs

_HAN = (
    (0x3005, 0x3005),    # 々 — Script=Han, occurs inside cjdict words
    (0x3007, 0x3007),    # 〇 — ditto (〇〇 is a dictionary word)
    # 〆 (U+3006) is rule-bounded in ICU despite 〆切 being in cjdict:
    # it always segments alone (see segment_dict).
    (0x3400, 0x4DBF),
    (0x4E00, 0x9FFF),
    (0xF900, 0xFAFF),
    (0x20000, 0x2A6DF),
)
_HIRA = ((0x3041, 0x3096), (0x309D, 0x309F))
_KATA = (
    (0x30A1, 0x30FA),
    (0x30FC, 0x30FF),
    (0x31F0, 0x31FF),
    (0xFF66, 0xFF9F),    # halfwidth katakana incl. voicing marks
)
_HANGUL = ((0xAC00, 0xD7A3), (0x1100, 0x11FF), (0x3130, 0x318F))


def _cls(ch: str) -> Optional[str]:
    cp = ord(ch)
    if cp < 0x80:
        if 0x30 <= cp <= 0x39 or 0x41 <= cp <= 0x5A or 0x61 <= cp <= 0x7A:
            return "alnum"
        return None
    for lo, hi in _HAN:
        if lo <= cp <= hi:
            return "cj"
    for lo, hi in _HIRA:
        if lo <= cp <= hi:
            return "cj"
    for lo, hi in _KATA:
        if lo <= cp <= hi:
            return "cj"
    for lo, hi in _HANGUL:
        if lo <= cp <= hi:
            return "hangul"
    if cp <= 0x24F and ch.isalpha():
        return "alnum"
    if 0xFF10 <= cp <= 0xFF19 or 0xFF21 <= cp <= 0xFF3A or 0xFF41 <= cp <= 0xFF5A:
        return "alnum"
    return None


def segment_dict(text: str) -> List[str]:
    """ICU-parity word segmentation: script runs, with Han/kana runs
    subdivided by the cjdict Viterbi; word-like tokens only."""
    tokens: List[str] = []
    run: List[str] = []
    run_cls: Optional[str] = None

    def flush() -> None:
        if not run:
            return
        s = "".join(run)
        if run_cls == "cj":
            tokens.extend(segment_cj_run(s))
        else:
            tokens.append(s)

    for ch in text:
        if ch in _MARKS:
            # Extend marks attach to whatever token is open — a CJ run
            # (cluster logic in segment_cj_run), or a Latin/digit token
            # without ending it ("xﾟy" is one word).  With no open run
            # the mark attaches to a preceding non-word char: dropped.
            if run:
                run.append(ch)
            continue
        if ch == "〆":
            flush()
            run, run_cls = [], None
            tokens.append(ch)
            continue
        c = _cls(ch)
        if c is None:
            flush()
            run, run_cls = [], None
        elif c == run_cls:
            run.append(ch)
        else:
            flush()
            run, run_cls = [ch], c
    flush()
    return tokens
