"""Snowball stemmers for German / French / Spanish / Italian.

Implemented from the PUBLIC Snowball algorithm descriptions
(snowballstem.org/algorithms/{german,french,spanish,italian}/stemmer.html)
— not transliterations of the reference's generated JS — and verified
token-for-token against the reference's compiled stemmers
(/root/reference/packages/stemmers/lib/{de,fr,es,it}.js) via golden
vectors (tests/vectors/stemmer_langs.json, tools/gen_vectors.mjs).

Each ``stem_xx(word)`` expects a lowercased word.
"""

from __future__ import annotations

# --------------------------------------------------------------- helpers

def _r1_r2(word: str, vowels: str) -> tuple[int, int]:
    """Standard R1/R2: R1 = region after the first non-vowel following
    a vowel; R2 = same again within R1. Returned as start offsets
    (len(word) when absent)."""
    n = len(word)

    # find first vowel, then first non-vowel after it
    i = 0
    while i < n and word[i] not in vowels:
        i += 1
    while i < n and word[i] in vowels:
        i += 1
    r1 = i + 1 if i < n else n
    j = r1
    while j < n and word[j] not in vowels:
        j += 1
    while j < n and word[j] in vowels:
        j += 1
    r2 = j + 1 if j < n else n
    return r1, r2


def _in(region_start: int, word_len: int, suffix_len: int) -> bool:
    """Whole suffix lies inside the region starting at region_start."""
    return word_len - suffix_len >= region_start


# ================================================================ German

_DE_VOWELS = "aeiouyäöü"
_DE_S_END = "bdfghklmnrt"
_DE_ST_END = "bdfghklmnt"


def stem_de(word: str) -> str:
    """Snowball German."""
    w = word.replace("ß", "ss")
    # mark u/y between vowels as consonant (upper)
    chars = list(w)
    for i in range(1, len(chars) - 1):
        if chars[i] == "u" and w[i - 1] in _DE_VOWELS and w[i + 1] in _DE_VOWELS:
            chars[i] = "U"
        if chars[i] == "y" and w[i - 1] in _DE_VOWELS and w[i + 1] in _DE_VOWELS:
            chars[i] = "Y"
    w = "".join(chars)

    r1, r2 = _r1_r2(w, _DE_VOWELS)  # marked U/Y count as consonants
    r1 = max(r1, 3)  # region before R1 must hold >= 3 letters

    def in_r1(slen: int) -> bool:
        return _in(r1, len(w), slen)

    def in_r2(slen: int) -> bool:
        return _in(r2, len(w), slen)

    # step 1
    for suf in ("ern", "em", "er"):
        if w.endswith(suf):
            if in_r1(len(suf)):
                w = w[: -len(suf)]
            break
    else:
        for suf in ("en", "es", "e"):
            if w.endswith(suf):
                if in_r1(len(suf)):
                    w = w[: -len(suf)]
                    if w.endswith("niss"):
                        w = w[:-1]
                break
        else:
            if w.endswith("s") and len(w) >= 2 and w[-2] in _DE_S_END:
                if in_r1(1):
                    w = w[:-1]

    # step 2
    for suf in ("est", "en", "er"):
        if w.endswith(suf):
            if in_r1(len(suf)):
                w = w[: -len(suf)]
            break
    else:
        if w.endswith("st") and len(w) >= 6 and w[-3] in _DE_ST_END:
            if in_r1(2):
                w = w[:-2]

    # step 3 (d-suffixes)
    if w.endswith("end") or w.endswith("ung"):
        if in_r2(3):
            w = w[:-3]
            if w.endswith("ig") and in_r2(2) and (len(w) < 3 or w[-3] != "e"):
                w = w[:-2]
    elif w.endswith("isch"):
        if in_r2(4) and (len(w) < 5 or w[-5] != "e"):
            w = w[:-4]
    elif w.endswith("ig") or w.endswith("ik"):
        if in_r2(2) and (len(w) < 3 or w[-3] != "e"):
            w = w[:-2]
    elif w.endswith("lich") or w.endswith("heit"):
        if in_r2(4):
            w = w[:-4]
            if (w.endswith("er") or w.endswith("en")) and in_r1(2):
                w = w[:-2]
    elif w.endswith("keit"):
        if in_r2(4):
            w = w[:-4]
            if w.endswith("lich") and in_r2(4):
                w = w[:-4]
            elif w.endswith("ig") and in_r2(2):
                w = w[:-2]

    out = []
    for ch in w:
        if ch == "U":
            out.append("u")
        elif ch == "Y":
            out.append("y")
        elif ch == "ä":
            out.append("a")
        elif ch == "ö":
            out.append("o")
        elif ch == "ü":
            out.append("u")
        else:
            out.append(ch)
    return "".join(out)


# ================================================================ French

_FR_VOWELS = "aeiouyâàëéêèïîôûù"


def _fr_rv(w: str) -> int:
    n = len(w)
    if n >= 3 and w[0] in _FR_VOWELS and w[1] in _FR_VOWELS:
        return 3
    if w[:3] in ("par", "col", "tap"):
        return 3
    i = 1
    while i < n and w[i] not in _FR_VOWELS:
        i += 1
    # w[i] is a vowel not at start; RV after it
    return i + 1 if i < n else n


def stem_fr(word: str) -> str:
    """Snowball French."""
    # prelude (repeat goto, french.sbl): after EVERY replacement the
    # cursor resets to the match START and the alternatives re-run
    # there (compiled fr.js: `f.cursor = b` before `break b`) — so
    # "ïua" goes ï[u->U]a then [ï->Hi] at the same position, yielding
    # "HiUa". Staying on `c` after a replacement reproduces that;
    # every branch rewrites its trigger, so each position terminates.
    chars = list(word)
    n = len(chars)
    c = 0
    while c < n:
        ch = chars[c]
        if ch in _FR_VOWELS and c + 1 < n:
            nx = chars[c + 1]
            if nx == "u" and c + 2 < n and chars[c + 2] in _FR_VOWELS:
                chars[c + 1] = "U"
                continue
            if nx == "i" and c + 2 < n and chars[c + 2] in _FR_VOWELS:
                chars[c + 1] = "I"
                continue
            if nx == "y":
                chars[c + 1] = "Y"
                continue
        if ch == "ë":  # newer french.sbl: 'ë' -> 'He', 'ï' -> 'Hi'
            chars[c:c + 1] = ["H", "e"]
            n += 1
            continue
        if ch == "ï":
            chars[c:c + 1] = ["H", "i"]
            n += 1
            continue
        if ch == "y" and c + 1 < n and chars[c + 1] in _FR_VOWELS:
            chars[c] = "Y"
            continue
        if ch == "q" and c + 1 < n and chars[c + 1] == "u":
            chars[c + 1] = "U"
            continue
        c += 1
    w = "".join(chars)

    rv = _fr_rv(w)  # marked U/I/Y count as consonants
    r1, r2 = _r1_r2(w, _FR_VOWELS)

    def in_rv(slen: int) -> bool:
        return _in(rv, len(w), slen)

    def in_r1(slen: int) -> bool:
        return _in(r1, len(w), slen)

    def in_r2(slen: int) -> bool:
        return _in(r2, len(w), slen)

    original = w
    step1_done = False
    found_ment = False

    # ---- step 1: standard suffix removal (longest match) ----
    suffixes = sorted(
        [
            "ance", "iqUe", "isme", "able", "iste", "eux",
            "ances", "iqUes", "ismes", "ables", "istes",
            "atrice", "ateur", "ation", "atrices", "ateurs", "ations",
            "logie", "logies", "usion", "ution", "usions", "utions",
            "ence", "ences", "ement", "ements", "ité", "ités",
            "if", "ive", "ifs", "ives", "eaux", "aux", "euse", "euses",
            "issement", "issements", "amment", "emment", "ment", "ments",
        ],
        key=len,
        reverse=True,
    )
    changed = False
    for suf in suffixes:
        if not w.endswith(suf):
            continue
        sl = len(suf)
        base = w[:-sl]
        if suf in ("ance", "iqUe", "isme", "able", "iste", "eux",
                   "ances", "iqUes", "ismes", "ables", "istes"):
            if in_r2(sl):
                w, changed = base, True
        elif suf in ("atrice", "ateur", "ation", "atrices", "ateurs", "ations"):
            if in_r2(sl):
                w, changed = base, True
                if w.endswith("ic"):
                    if _in(r2, len(w), 2):
                        w = w[:-2]
                    else:
                        w = w[:-2] + "iqU"
        elif suf in ("logie", "logies"):
            if in_r2(sl):
                w, changed = base + "log", True
        elif suf in ("usion", "ution", "usions", "utions"):
            if in_r2(sl):
                w, changed = base + "u", True
        elif suf in ("ence", "ences"):
            if in_r2(sl):
                w, changed = base + "ent", True
        elif suf in ("ement", "ements"):
            if in_rv(sl):
                w, changed = base, True
                if w.endswith("iv") and _in(r2, len(w), 2):
                    w = w[:-2]
                    if w.endswith("at") and _in(r2, len(w), 2):
                        w = w[:-2]
                elif w.endswith("eus"):
                    if _in(r2, len(w), 3):
                        w = w[:-3]
                    elif _in(r1, len(w), 3):
                        w = w[:-3] + "eux"
                elif w.endswith("abl") and _in(r2, len(w), 3):
                    w = w[:-3]
                elif w.endswith("iqU") and _in(r2, len(w), 3):
                    w = w[:-3]
                elif w.endswith("ièr") and _in(rv, len(w), 3):
                    w = w[:-3] + "i"
                elif w.endswith("Ièr") and _in(rv, len(w), 3):
                    w = w[:-3] + "i"
        elif suf in ("ité", "ités"):
            if in_r2(sl):
                w, changed = base, True
                if w.endswith("abil"):
                    if _in(r2, len(w), 4):
                        w = w[:-4]
                    else:
                        w = w[:-4] + "abl"
                elif w.endswith("ic"):
                    if _in(r2, len(w), 2):
                        w = w[:-2]
                    else:
                        w = w[:-2] + "iqU"
                elif w.endswith("iv") and _in(r2, len(w), 2):
                    w = w[:-2]
        elif suf in ("if", "ive", "ifs", "ives"):
            if in_r2(sl):
                w, changed = base, True
                if w.endswith("at") and _in(r2, len(w), 2):
                    w = w[:-2]
                    if w.endswith("ic"):
                        if _in(r2, len(w), 2):
                            w = w[:-2]
                        else:
                            w = w[:-2] + "iqU"
        elif suf == "eaux":
            w, changed = base + "eau", True
        elif suf == "aux":
            if in_r1(sl):
                w, changed = base + "al", True
        elif suf in ("euse", "euses"):
            if in_r2(sl):
                w, changed = base, True
            elif in_r1(sl):
                w, changed = base + "eux", True
        elif suf in ("issement", "issements"):
            if in_r1(sl) and len(base) > 0 and base[-1] not in _FR_VOWELS:
                w, changed = base, True
        elif suf == "amment":
            if in_rv(sl):
                w, changed = base + "ant", True
                found_ment = True
        elif suf == "emment":
            if in_rv(sl):
                w, changed = base + "ent", True
                found_ment = True
        elif suf in ("ment", "ments"):
            if len(base) > 0 and base[-1] in _FR_VOWELS and _in(rv, len(w), sl + 1):
                w, changed = base, True
                found_ment = True
        break
    step1_done = changed

    # ---- step 2a: verb suffixes beginning i ----
    do_2a = (not step1_done) or found_ment
    step2a_done = False
    step2b_done = False
    if do_2a:
        i_sufs = sorted(
            ["îmes", "ît", "îtes", "i", "ie", "ies", "ir", "ira", "irai",
             "iraIent", "irais", "irait", "iras", "irent", "irez", "iriez",
             "irions", "irons", "iront", "is", "issaIent", "issais",
             "issait", "issant", "issante", "issantes", "issants", "isse",
             "issent", "isses", "issez", "issiez", "issions", "issons",
             "it"],
            key=len, reverse=True,
        )
        for suf in i_sufs:
            sl = len(suf)
            # the among is inside setlimit-to-RV: a suffix extending
            # beyond RV does not MATCH and shorter ones are tried
            if not w.endswith(suf) or not _in(rv, len(w), sl):
                continue
            base = w[:-sl]
            # action condition: preceded by a non-vowel, itself in RV
            if (_in(rv, len(w), sl + 1) and len(base) > 0
                    and base[-1] not in _FR_VOWELS and base[-1] != "H"):
                w = base
                step2a_done = True
            break
        if not step2a_done:
            # ---- step 2b ----
            b_sufs = sorted(
                ["ions", "é", "ée", "ées", "és", "èrent", "er", "era",
                 "erai", "eraIent", "erais", "erait", "eras", "erez",
                 "eriez", "erions", "erons", "eront", "ez", "iez",
                 "âmes", "ât", "âtes", "a", "ai", "aIent", "ais", "ait",
                 "ant", "ante", "antes", "ants", "as", "asse", "assent",
                 "asses", "assiez", "assions"],
                key=len, reverse=True,
            )
            for suf in b_sufs:
                sl = len(suf)
                if not w.endswith(suf) or not _in(rv, len(w), sl):
                    continue
                base = w[:-sl]
                if suf == "ions":
                    if in_r2(sl):
                        w = base
                        step2b_done = True
                elif suf in ("é", "ée", "ées", "és", "èrent", "er", "era",
                             "erai", "eraIent", "erais", "erait", "eras",
                             "erez", "eriez", "erions", "erons", "eront",
                             "ez", "iez"):
                    w = base
                    step2b_done = True
                else:
                    w = base
                    step2b_done = True
                    if w.endswith("e") and _in(rv, len(w), 1):
                        w = w[:-1]
                break

    # ---- step 3 / step 4 ----
    if step1_done or step2a_done or step2b_done:
        # step 3
        if w.endswith("Y"):
            w = w[:-1] + "i"
        elif w.endswith("ç"):
            w = w[:-1] + "c"
    else:
        # step 4 — the suffix match itself is limited to RV
        # (setlimit tomark pV in the Snowball source): a suffix that
        # extends beyond RV does not match and shorter ones are tried
        if w.endswith("s") and len(w) >= 2 and (
            w[-2] not in "aiouès" or w[-3:-1] == "Hi"
        ):
            w = w[:-1]
        for suf in ("ière", "Ière", "ion", "ier", "Ier", "e"):
            if not w.endswith(suf) or not _in(rv, len(w), len(suf)):
                continue
            if suf == "ion":
                if _in(r2, len(w), 3) and len(w) >= 4 and w[-4] in "st":
                    w = w[:-3]
            elif suf in ("ière", "Ière", "ier", "Ier"):
                w = w[: -len(suf)] + "i"
            elif suf == "e":
                w = w[:-1]
            break

    # ---- step 5: undouble ----
    for dbl in ("enn", "onn", "ett", "ell", "eill"):
        if w.endswith(dbl):
            w = w[:-1]
            break

    # ---- step 6: un-accent ----
    i = len(w) - 1
    seen_nonvowel = 0
    while i >= 0:
        ch6 = w[i]
        if ch6 in _FR_VOWELS:  # marked U/I/Y count as NON-vowels here
            break
        seen_nonvowel += 1
        i -= 1
    if i >= 0 and seen_nonvowel >= 1 and w[i] in "éè":
        w = w[:i] + "e" + w[i + 1:]

    out = []
    i = 0
    while i < len(w):
        ch7 = w[i]
        if ch7 == "H":
            if i + 1 < len(w) and w[i + 1] == "e":
                out.append("ë")
                i += 2
                continue
            if i + 1 < len(w) and w[i + 1] == "i":
                out.append("ï")
                i += 2
                continue
            i += 1  # orphaned H (its vowel was stemmed away): delete
            continue
        out.append({"I": "i", "U": "u", "Y": "y"}.get(ch7, ch7))
        i += 1
    return "".join(out)


# =============================================================== Spanish

_ES_VOWELS = "aeiouáéíóúü"


def _es_rv(w: str) -> int:
    n = len(w)
    if n < 3:
        return n
    if w[1] not in _ES_VOWELS:
        # skip to next vowel after position 1
        i = 2
        while i < n and w[i] not in _ES_VOWELS:
            i += 1
        return i + 1 if i < n else n
    if w[0] in _ES_VOWELS and w[1] in _ES_VOWELS:
        i = 2
        while i < n and w[i] in _ES_VOWELS:
            i += 1
        return i + 1 if i < n else n
    # consonant-vowel start
    return 3


_ES_ACCENT = str.maketrans("áéíóú", "aeiou")


def stem_es(word: str) -> str:
    """Snowball Spanish."""
    w = word
    rv = _es_rv(w)
    r1, r2 = _r1_r2(w, _ES_VOWELS)

    def in_rv(slen: int, wl: int | None = None) -> bool:
        return _in(rv, wl if wl is not None else len(w), slen)

    def in_r1(slen: int, wl: int | None = None) -> bool:
        return _in(r1, wl if wl is not None else len(w), slen)

    def in_r2(slen: int, wl: int | None = None) -> bool:
        return _in(r2, wl if wl is not None else len(w), slen)

    # ---- step 0: attached pronoun ----
    pronouns = ("selas", "selos", "sela", "selo", "las", "les", "los",
                "nos", "me", "se", "la", "le", "lo")
    pre_acute = ("iéndo", "ándo", "ár", "ér", "ír")
    pre_plain = ("iendo", "ando", "ar", "er", "ir")
    for p in pronouns:
        if not w.endswith(p) or not _in(rv, len(w), len(p)):
            continue
        stem_part = w[: -len(p)]
        matched = False
        for pa, pp in zip(pre_acute, pre_plain):
            if stem_part.endswith(pa) and _in(rv, len(stem_part), len(pa)):
                w = stem_part[: -len(pa)] + pp
                matched = True
                break
        if not matched:
            for pp in pre_plain:
                if stem_part.endswith(pp) and _in(rv, len(stem_part), len(pp)):
                    w = stem_part
                    matched = True
                    break
        if not matched and stem_part.endswith("uyendo") and _in(rv, len(stem_part), 5):
            w = stem_part
            matched = True
        break

    # ---- step 1: standard suffixes (longest match) ----
    changed = False
    s1 = sorted(
        ["anza", "anzas", "ico", "ica", "icos", "icas", "ismo", "ismos",
         "able", "ables", "ible", "ibles", "ista", "istas", "oso", "osa",
         "osos", "osas", "amiento", "amientos", "imiento", "imientos",
         "adora", "ador", "ación", "adoras", "adores", "aciones",
         "ante", "antes", "ancia", "ancias",
         "logía", "logías", "ución", "uciones", "encia", "encias",
         "amente", "mente", "idad", "idades",
         "iva", "ivo", "ivas", "ivos"],
        key=len, reverse=True,
    )
    for suf in s1:
        if not w.endswith(suf):
            continue
        sl = len(suf)
        base = w[:-sl]
        if suf in ("anza", "anzas", "ico", "ica", "icos", "icas", "ismo",
                   "ismos", "able", "ables", "ible", "ibles", "ista",
                   "istas", "oso", "osa", "osos", "osas", "amiento",
                   "amientos", "imiento", "imientos"):
            if in_r2(sl):
                w, changed = base, True
        elif suf in ("adora", "ador", "ación", "adoras", "adores",
                     "aciones", "ante", "antes", "ancia", "ancias"):
            if in_r2(sl):
                w, changed = base, True
                if w.endswith("ic") and _in(r2, len(w), 2):
                    w = w[:-2]
        elif suf in ("logía", "logías"):
            if in_r2(sl):
                w, changed = base + "log", True
        elif suf in ("ución", "uciones"):
            if in_r2(sl):
                w, changed = base + "u", True
        elif suf in ("encia", "encias"):
            if in_r2(sl):
                w, changed = base + "ente", True
        elif suf == "amente":
            if in_r1(sl):
                w, changed = base, True
                if w.endswith("iv") and _in(r2, len(w), 2):
                    w = w[:-2]
                    if w.endswith("at") and _in(r2, len(w), 2):
                        w = w[:-2]
                elif w.endswith("os") and _in(r2, len(w), 2):
                    w = w[:-2]
                elif w.endswith("ic") and _in(r2, len(w), 2):
                    w = w[:-2]
                elif w.endswith("ad") and _in(r2, len(w), 2):
                    w = w[:-2]
        elif suf == "mente":
            if in_r2(sl):
                w, changed = base, True
                for pre in ("ante", "able", "ible"):
                    if w.endswith(pre) and _in(r2, len(w), 4):
                        w = w[:-4]
                        break
        elif suf in ("idad", "idades"):
            if in_r2(sl):
                w, changed = base, True
                for pre in ("abil", "ic", "iv"):
                    if w.endswith(pre) and _in(r2, len(w), len(pre)):
                        w = w[: -len(pre)]
                        break
        elif suf in ("iva", "ivo", "ivas", "ivos"):
            if in_r2(sl):
                w, changed = base, True
                if w.endswith("at") and _in(r2, len(w), 2):
                    w = w[:-2]
        break

    # ---- step 2a: verb suffixes beginning y (if step 1 did nothing) ----
    if not changed:
        done2a = False
        y_sufs = sorted(["ya", "ye", "yan", "yen", "yeron", "yendo", "yo",
                         "yó", "yas", "yes", "yais", "yamos"],
                        key=len, reverse=True)
        for suf in y_sufs:
            if not w.endswith(suf) or not in_rv(len(suf)):
                continue
            base = w[: -len(suf)]
            if base.endswith("u"):
                w = base
                done2a = True
            break
        # ---- step 2b ----
        if not done2a:
            gu_sufs = ("en", "es", "éis", "emos")
            verb_sufs = sorted(
                ["arían", "arías", "arán", "arás", "aríais", "aría",
                 "aréis", "aríamos", "aremos", "ará", "aré", "erían",
                 "erías", "erán", "erás", "eríais", "ería", "eréis",
                 "eríamos", "eremos", "erá", "eré", "irían", "irías",
                 "irán", "irás", "iríais", "iría", "iréis", "iríamos",
                 "iremos", "irá", "iré", "aba", "ada", "ida", "ía",
                 "ara", "iera", "ad", "ed", "id", "ase", "iese", "aste",
                 "iste", "an", "aban", "ían", "aran", "ieran", "asen",
                 "iesen", "aron", "ieron", "ado", "ido", "ando", "iendo",
                 "ió", "ar", "er", "ir", "as", "abas", "adas", "idas",
                 "ías", "aras", "ieras", "ases", "ieses", "ís", "áis",
                 "abais", "íais", "arais", "ierais", "aseis", "ieseis",
                 "asteis", "isteis", "ados", "idos", "amos", "ábamos",
                 "íamos", "imos", "áramos", "iéramos", "iésemos",
                 "ásemos", "en", "es", "éis", "emos"],
                key=len, reverse=True,
            )
            for suf in verb_sufs:
                if not w.endswith(suf) or not in_rv(len(suf)):
                    continue
                w = w[: -len(suf)]
                if suf in gu_sufs and w.endswith("gu"):
                    w = w[:-1]
                break

    # ---- step 3: residual ----
    for suf in ("os", "a", "o", "á", "í", "ó"):
        if w.endswith(suf) and in_rv(len(suf)):
            w = w[: -len(suf)]
            break
    else:
        if w.endswith("e") or w.endswith("é"):
            if in_rv(1):
                w = w[:-1]
                if w.endswith("gu") and _in(rv, len(w) + 1, 2):
                    # the u is in RV (checked against the pre-deletion
                    # length: u sat at position len(w)-1)
                    w = w[:-1]

    return w.translate(_ES_ACCENT)


# =============================================================== Italian

_IT_VOWELS = "aeiouàèìòù"
_IT_ACUTE = str.maketrans("áéíóúë", "àèìòùe")


def stem_it(word: str) -> str:
    """Snowball Italian."""
    # prelude pass 1 (italian.sbl): acute -> grave, qu -> qU
    w = word.translate(_IT_ACUTE).replace("qu", "qU")
    # prelude pass 2: repeat-goto marking of u/i between vowels, on the
    # EVOLVING string (a char already marked is a consonant afterwards)
    chars = list(w)
    n = len(chars)
    c = 0
    while c < n:
        if chars[c] in _IT_VOWELS and c + 2 < n + 1 and c + 1 < n:
            nx = chars[c + 1]
            if nx in "ui" and c + 2 < n and chars[c + 2] in _IT_VOWELS:
                chars[c + 1] = nx.upper()
                c += 2
                continue
        c += 1
    w = "".join(chars)

    rv = _es_rv_generic(w, _IT_VOWELS)  # marked U/I count as consonants
    r1, r2 = _r1_r2(w, _IT_VOWELS)

    def in_rv(slen: int, wl_: int | None = None) -> bool:
        return _in(rv, wl_ if wl_ is not None else len(w), slen)

    def in_r1(slen: int) -> bool:
        return _in(r1, len(w), slen)

    def in_r2(slen: int, wl_: int | None = None) -> bool:
        return _in(r2, wl_ if wl_ is not None else len(w), slen)

    # ---- step 0: attached pronoun ----
    pronouns = sorted(
        ["ci", "gli", "la", "le", "li", "lo", "mi", "ne", "si", "ti",
         "vi", "sene", "gliela", "gliele", "glieli", "glielo", "gliene",
         "mela", "mele", "meli", "melo", "mene", "tela", "tele", "teli",
         "telo", "tene", "cela", "cele", "celi", "celo", "cene", "vela",
         "vele", "veli", "velo", "vene"],
        key=len, reverse=True,
    )
    for p in pronouns:
        if not w.endswith(p) or not _in(rv, len(w), len(p)):
            continue
        base = w[: -len(p)]
        for pre in ("ando", "endo"):
            if base.endswith(pre) and _in(rv, len(base), len(pre)):
                w = base
                break
        else:
            for pre in ("ar", "er", "ir"):
                if base.endswith(pre) and _in(rv, len(base), len(pre)):
                    w = base + "e"
                    break
        break

    # ---- step 1: standard suffixes ----
    changed = False
    s1 = sorted(
        ["anza", "anze", "ico", "ici", "ica", "ice", "iche", "ichi",
         "ismo", "ismi", "abile", "abili", "ibile", "ibili", "ista",
         "iste", "isti", "istà", "istè", "istì", "oso", "osi", "osa",
         "ose", "mente", "atrice", "atrici", "ante", "anti",
         "azione", "azioni", "atore", "atori", "logia", "logie",
         "uzione", "uzioni", "usione", "usioni", "enza", "enze",
         "amento", "amenti", "imento", "imenti", "amente",
         "ità", "ivo", "ivi", "iva", "ive"],
        key=len, reverse=True,
    )
    for suf in s1:
        if not w.endswith(suf):
            continue
        sl = len(suf)
        base = w[:-sl]
        if suf in ("anza", "anze", "ico", "ici", "ica", "ice", "iche",
                   "ichi", "ismo", "ismi", "abile", "abili", "ibile",
                   "ibili", "ista", "iste", "isti", "istà", "istè",
                   "istì", "oso", "osi", "osa", "ose", "mente",
                   "atrice", "atrici", "ante", "anti"):
            if in_r2(sl):
                w, changed = base, True
        elif suf in ("azione", "azioni", "atore", "atori"):
            if in_r2(sl):
                w, changed = base, True
                if w.endswith("ic") and _in(r2, len(w), 2):
                    w = w[:-2]
        elif suf in ("logia", "logie"):
            if in_r2(sl):
                w, changed = base + "log", True
        elif suf in ("uzione", "uzioni", "usione", "usioni"):
            if in_r2(sl):
                w, changed = base + "u", True
        elif suf in ("enza", "enze"):
            if in_r2(sl):
                w, changed = base + "ente", True
        elif suf in ("amento", "amenti", "imento", "imenti"):
            if in_rv(sl):
                w, changed = base, True
        elif suf == "amente":
            if in_r1(sl):
                w, changed = base, True
                if w.endswith("iv") and _in(r2, len(w), 2):
                    w = w[:-2]
                    if w.endswith("at") and _in(r2, len(w), 2):
                        w = w[:-2]
                else:
                    for pre in ("os", "ic", "abil"):
                        if w.endswith(pre) and _in(r2, len(w), len(pre)):
                            w = w[: -len(pre)]
                            break
        elif suf == "ità":
            if in_r2(sl):
                w, changed = base, True
                for pre in ("abil", "ic", "iv"):
                    if w.endswith(pre) and _in(r2, len(w), len(pre)):
                        w = w[: -len(pre)]
                        break
        elif suf in ("ivo", "ivi", "iva", "ive"):
            if in_r2(sl):
                w, changed = base, True
                if w.endswith("at") and _in(r2, len(w), 2):
                    w = w[:-2]
                    if w.endswith("ic") and _in(r2, len(w), 2):
                        w = w[:-2]
        break

    # ---- step 2: verb suffixes (if step 1 did nothing) ----
    if not changed:
        verb_sufs = sorted(
            ["ammo", "ando", "ano", "are", "arono", "asse", "assero",
             "assi", "assimo", "ata", "ate", "ati", "ato", "ava",
             "avamo", "avano", "avate", "avi", "avo", "emmo", "enda",
             "ende", "endi", "endo", "erà", "erai", "eranno", "ere",
             "erebbe", "erebbero", "erei", "eremmo", "eremo", "ereste",
             "eresti", "erete", "erò", "erono", "essero", "ete", "eva",
             "evamo", "evano", "evate", "evi", "evo", "Yamo", "iamo",
             "immo", "irà", "irai", "iranno", "ire", "irebbe",
             "irebbero", "irei", "iremmo", "iremo", "ireste", "iresti",
             "irete", "irò", "irono", "isca", "iscano", "isce", "isci",
             "isco", "iscono", "issero", "ita", "ite", "iti", "ito",
             "iva", "ivamo", "ivano", "ivate", "ivi", "ivo", "ono",
             "uta", "ute", "uti", "uto", "ar", "ir"],
            key=len, reverse=True,
        )
        for suf in verb_sufs:
            if not w.endswith(suf) or not in_rv(len(suf)):
                continue
            w = w[: -len(suf)]
            break

    # ---- step 3a: residual vowel ----
    for suf in ("a", "e", "i", "o", "à", "è", "ì", "ò"):
        if w.endswith(suf) and in_rv(1):
            w = w[:-1]
            if w.endswith("i") and in_rv(1):
                w = w[:-1]
            break

    # ---- step 3b ----
    if (w.endswith("ch") or w.endswith("gh")) and in_rv(2):
        w = w[:-1]

    return w.replace("I", "i").replace("U", "u")


def _es_rv_generic(w: str, vowels: str) -> int:
    """Spanish/Italian RV definition."""
    n = len(w)
    if n < 3:
        return n
    if w[1] not in vowels:
        i = 2
        while i < n and w[i] not in vowels:
            i += 1
        return i + 1 if i < n else n
    if w[0] in vowels and w[1] in vowels:
        i = 2
        while i < n and w[i] in vowels:
            i += 1
        return i + 1 if i < n else n
    return 3


STEMMERS: dict[str, callable] = {
    "german": stem_de,
    "french": stem_fr,
    "spanish": stem_es,
    "italian": stem_it,
}


# =============================================================== Russian

_RU_VOWELS = "аеиоуыэюя"

_RU_PERF_GERUND_1 = ("вшись", "вши", "в")            # require preceding а/я
_RU_PERF_GERUND_2 = ("ившись", "ывшись", "ивши", "ывши", "ив", "ыв")
_RU_ADJECTIVE = ("ими", "ыми", "его", "ого", "ему", "ому", "ее", "ие",
                 "ые", "ое", "ей", "ий", "ый", "ой", "ем", "им", "ым",
                 "ом", "их", "ых", "ую", "юю", "ая", "яя", "ою", "ею")
_RU_PARTICIPLE_1 = ("ем", "нн", "вш", "ющ", "щ")     # require preceding а/я
_RU_PARTICIPLE_2 = ("ивш", "ывш", "ующ")
_RU_VERB_1 = ("ешь", "нно", "ете", "йте", "ла", "на", "ли", "ем", "ло",
              "но", "ет", "ют", "ны", "ть", "й", "л", "н")  # preceding а/я
_RU_VERB_2 = ("ейте", "уйте", "ила", "ыла", "ена", "ите", "или", "ыли",
              "ило", "ыло", "ено", "ует", "уют", "ены", "ить", "ыть",
              "ишь", "ей", "уй", "ил", "ыл", "им", "ым", "ен", "ят",
              "ит", "ыт", "ую", "ю")
_RU_NOUN = ("иями", "ями", "ами", "ией", "иям", "ием", "иях", "ев", "ов",
            "ие", "ье", "еи", "ии", "ей", "ой", "ий", "ям", "ем", "ам",
            "ом", "ах", "ях", "ию", "ью", "ия", "ья", "а", "е", "и",
            "й", "о", "у", "ы", "ь", "ю", "я")


def stem_ru(word: str) -> str:
    """Snowball Russian (snowballstem.org/algorithms/russian/stemmer.html).
    All steps operate within RV; 'preceded by а/я' tests stay in RV too.
    Prelude: ё is folded to е (as the reference stemmer does)."""
    w = word.replace("ё", "е")
    n = len(w)
    # RV: after the first vowel; R2: standard
    rv = n
    for i, ch in enumerate(w):
        if ch in _RU_VOWELS:
            rv = i + 1
            break
    _, r2 = _r1_r2(w, _RU_VOWELS)

    def in_rv(wl: int, slen: int) -> bool:
        return wl - slen >= rv

    def del_grp(word_: str, sufs: tuple) -> str | None:
        for suf in sorted(sufs, key=len, reverse=True):
            if word_.endswith(suf) and in_rv(len(word_), len(suf)):
                return word_[: -len(suf)]
        return None

    def del_longest(word_: str, grp1: tuple, grp2: tuple) -> str | None:
        """Snowball among over BOTH groups: pick the longest matching
        suffix (with grp1's preceding-а/я condition); a matched suffix
        whose condition fails ends the among."""
        cands = [(s, 1) for s in grp1] + [(s, 2) for s in grp2]
        for suf, g in sorted(cands, key=lambda t: len(t[0]), reverse=True):
            if not word_.endswith(suf) or not in_rv(len(word_), len(suf)):
                continue
            if g == 1:
                if in_rv(len(word_), len(suf) + 1) and word_[-len(suf) - 1] in "ая":
                    return word_[: -len(suf)]
                return None  # matched but condition failed -> among fails
            return word_[: -len(suf)]
        return None

    # step 1
    out = del_longest(w, _RU_PERF_GERUND_1, _RU_PERF_GERUND_2)
    if out is not None:
        w = out
    else:
        # reflexive (try)
        for suf in ("ся", "сь"):
            if w.endswith(suf) and in_rv(len(w), len(suf)):
                w = w[: -len(suf)]
                break
        # adjectival | verb | noun
        adj = del_grp(w, _RU_ADJECTIVE)
        if adj is not None:
            w = adj
            part = del_longest(w, _RU_PARTICIPLE_1, _RU_PARTICIPLE_2)
            if part is not None:
                w = part
        else:
            verb = del_longest(w, _RU_VERB_1, _RU_VERB_2)
            if verb is not None:
                w = verb
            else:
                noun = del_grp(w, _RU_NOUN)
                if noun is not None:
                    w = noun

    # step 2: final и
    if w.endswith("и") and in_rv(len(w), 1):
        w = w[:-1]

    # step 3: derivational (in R2, within RV)
    for suf in ("ость", "ост"):
        if w.endswith(suf) and in_rv(len(w), len(suf)) and _in(r2, len(w), len(suf)):
            w = w[: -len(suf)]
            break

    # step 4: tidy up (longest among нн / ейше / ейш / ь)
    for suf in ("ейше", "ейш", "нн", "ь"):
        if not w.endswith(suf) or not in_rv(len(w), len(suf)):
            continue
        if suf == "нн":
            w = w[:-1]
        elif suf == "ь":
            w = w[:-1]
        else:
            w = w[: -len(suf)]
            if w.endswith("нн") and in_rv(len(w), 2):
                w = w[:-1]
        break

    return w


STEMMERS["russian"] = stem_ru


# ============================================================ Portuguese

_PT_VOWELS = "aeiouáéíóúâêô"


def stem_pt(word: str) -> str:
    """Snowball Portuguese. Prelude marks nasal vowels (ã -> a~, õ -> o~,
    ~ being a consonant); postlude restores them."""
    w = word.replace("ã", "a~").replace("õ", "o~")
    rv = _es_rv_generic(w, _PT_VOWELS)
    r1, r2 = _r1_r2(w, _PT_VOWELS)

    def in_rv(slen: int, wl: int | None = None) -> bool:
        return _in(rv, wl if wl is not None else len(w), slen)

    def in_r1(slen: int) -> bool:
        return _in(r1, len(w), slen)

    def in_r2(slen: int, wl: int | None = None) -> bool:
        return _in(r2, wl if wl is not None else len(w), slen)

    changed = False
    # ---- step 1: standard suffixes (longest match) ----
    s1 = sorted(
        ["eza", "ezas", "ico", "ica", "icos", "icas", "ismo", "ismos",
         "ável", "ível", "ista", "istas", "oso", "osa", "osos", "osas",
         "amento", "amentos", "imento", "imentos",
         "adora", "ador", "aça~o", "adoras", "adores", "aço~es",
         "ante", "antes", "ância",
         "logia", "logias", "uça~o", "uço~es", "ência", "ências",
         "amente", "mente", "idade", "idades",
         "iva", "ivo", "ivas", "ivos", "ira", "iras"],
        key=len, reverse=True,
    )
    for suf in s1:
        if not w.endswith(suf):
            continue
        sl = len(suf)
        base = w[:-sl]
        if suf in ("eza", "ezas", "ico", "ica", "icos", "icas", "ismo",
                   "ismos", "ável", "ível", "ista", "istas", "oso", "osa",
                   "osos", "osas", "amento", "amentos", "imento",
                   "imentos"):
            if in_r2(sl):
                w, changed = base, True
        elif suf in ("adora", "ador", "aça~o", "adoras", "adores",
                     "aço~es", "ante", "antes", "ância"):
            if in_r2(sl):
                w, changed = base, True
        elif suf in ("logia", "logias"):
            if in_r2(sl):
                w, changed = base + "log", True
        elif suf in ("uça~o", "uço~es"):
            if in_r2(sl):
                w, changed = base + "u", True
        elif suf in ("ência", "ências"):
            if in_r2(sl):
                w, changed = base + "ente", True
        elif suf == "amente":
            if in_r1(sl):
                w, changed = base, True
                if w.endswith("iv") and _in(r2, len(w), 2):
                    w = w[:-2]
                    if w.endswith("at") and _in(r2, len(w), 2):
                        w = w[:-2]
                else:
                    for pre in ("os", "ic", "ad"):
                        if w.endswith(pre) and _in(r2, len(w), 2):
                            w = w[:-2]
                            break
        elif suf == "mente":
            if in_r2(sl):
                w, changed = base, True
                for pre in ("ante", "avel", "ível"):
                    if w.endswith(pre) and _in(r2, len(w), 4):
                        w = w[:-4]
                        break
        elif suf in ("idade", "idades"):
            if in_r2(sl):
                w, changed = base, True
                if w.endswith("abil") and _in(r2, len(w), 4):
                    w = w[:-4]
                else:
                    for pre in ("ic", "iv"):
                        if w.endswith(pre) and _in(r2, len(w), 2):
                            w = w[:-2]
                            break
        elif suf in ("iva", "ivo", "ivas", "ivos"):
            if in_r2(sl):
                w, changed = base, True
                if w.endswith("at") and _in(r2, len(w), 2):
                    w = w[:-2]
        elif suf in ("ira", "iras"):
            # replace with ir if in RV and preceded by e
            if in_rv(sl) and base.endswith("e"):
                w, changed = base + "ir", True
        break

    # ---- step 2: verb suffixes (if step 1 changed nothing) ----
    step2 = False
    if not changed:
        verb_sufs = sorted(
            ["aríamos", "eríamos", "iríamos", "ássemos", "êssemos",
             "íssemos", "aríeis", "eríeis", "iríeis", "ásseis", "ésseis",
             "ísseis", "áramos", "éramos", "íramos", "ávamos", "aremos",
             "eremos", "iremos", "ariam", "eriam", "iriam", "assem",
             "essem", "issem", "ara~o", "era~o", "ira~o", "arias",
             "erias", "irias", "ardes", "erdes", "irdes", "asses",
             "esses", "isses", "astes", "estes", "istes", "áreis",
             "areis", "éreis", "ereis", "íreis", "ireis", "áveis",
             "íamos", "armos", "ermos", "irmos", "aria", "eria", "iria",
             "asse", "esse", "isse", "aste", "este", "iste", "arei",
             "erei", "irei", "aram", "eram", "iram", "avam", "arem",
             "erem", "irem", "ando", "endo", "indo", "adas", "idas",
             "arás", "aras", "erás", "eras", "irás", "avas", "ares",
             "eres", "ires", "íeis", "ados", "idos", "ámos", "amos",
             "emos", "imos", "iras", "ada", "ida", "ará", "ara", "erá",
             "era", "irá", "ava", "iam", "ado", "ido", "ias", "ais",
             "eis", "ira", "ia", "ei", "am", "em", "ar", "er", "ir",
             "as", "es", "is", "eu", "iu", "ou"],
            key=len, reverse=True,
        )
        for suf in verb_sufs:
            if w.endswith(suf) and in_rv(len(suf)):
                w = w[: -len(suf)]
                changed = True
                step2 = True
                break

    # ---- step 3 / step 4 ----
    if changed:
        # step 3: final i preceded by c, in RV
        if w.endswith("i") and in_rv(1) and len(w) >= 2 and w[-2] == "c":
            w = w[:-1]
    else:
        # step 4: residual suffix
        for suf in ("os", "a", "i", "o", "á", "í", "ó"):
            if w.endswith(suf) and in_rv(len(suf)):
                w = w[: -len(suf)]
                break

    # ---- step 5: residual form ----
    for suf in ("e", "é", "ê"):
        if w.endswith(suf) and in_rv(1):
            w = w[:-1]
            # if preceded by gu (u in RV) or ci (i in RV), delete u/i
            if w.endswith("gu") and _in(rv, len(w) + 1, 2):
                w = w[:-1]
            elif w.endswith("ci") and _in(rv, len(w) + 1, 2):
                w = w[:-1]
            break
    else:
        if w.endswith("ç"):
            w = w[:-1] + "c"

    return w.replace("a~", "ã").replace("o~", "õ")


STEMMERS["portuguese"] = stem_pt


# ================================================================= Dutch

_NL_VOWELS = "aeiouyè"


def stem_nl(word: str) -> str:
    """Snowball Dutch."""
    # prelude: fold umlauts/acutes, then mark consonantal i/y uppercase
    w = word.translate(str.maketrans("äëïöüáéíóú", "aeiouaeiou"))
    chars = list(w)
    n = len(chars)
    # neighbor checks run over the EVOLVING string: once an i/y is
    # uppercased it is a consonant for the next position ("iiie" ->
    # "iIie", the third i stays — its left neighbor is already I)
    for i in range(n):
        if chars[i] == "y" and (i == 0 or chars[i - 1] in _NL_VOWELS):
            chars[i] = "Y"
        elif chars[i] == "i" and 0 < i < n - 1 \
                and chars[i - 1] in _NL_VOWELS and chars[i + 1] in _NL_VOWELS:
            chars[i] = "I"
    w = "".join(chars)

    r1, r2 = _r1_r2(w, _NL_VOWELS)
    r1 = max(r1, 3)

    def in_r1(slen: int, wl: int | None = None) -> bool:
        return _in(r1, wl if wl is not None else len(w), slen)

    def in_r2(slen: int, wl: int | None = None) -> bool:
        return _in(r2, wl if wl is not None else len(w), slen)

    def undouble(word_: str) -> str:
        for dbl in ("kk", "dd", "tt"):
            if word_.endswith(dbl):
                return word_[:-1]
        return word_

    # ---- step 1 ----
    if w.endswith("heden"):
        if in_r1(5):
            w = w[:-5] + "heid"
    elif w.endswith("ene") or w.endswith("en"):
        sl = 3 if w.endswith("ene") else 2
        base = w[:-sl]
        # valid en-ending: preceded by a non-vowel, and not 'gem'
        if in_r1(sl) and base and base[-1] not in _NL_VOWELS and not base.endswith("gem"):
            w = undouble(base)
    elif w.endswith("se") or w.endswith("s"):
        sl = 2 if w.endswith("se") else 1
        base = w[:-sl]
        # valid s-ending: non-vowel other than j
        if in_r1(sl) and base and base[-1] not in _NL_VOWELS + "j":
            w = base

    # ---- step 2: final e preceded by a non-vowel ----
    e_removed = False
    if w.endswith("e") and in_r1(1) and len(w) >= 2 and w[-2] not in _NL_VOWELS:
        w = undouble(w[:-1])
        e_removed = True

    # ---- step 3a: heid ----
    if w.endswith("heid") and in_r2(4) and (len(w) < 5 or w[-5] != "c"):
        w = w[:-4]
        if w.endswith("en"):
            base = w[:-2]
            if in_r1(2) and base and base[-1] not in _NL_VOWELS and not base.endswith("gem"):
                w = undouble(base)

    # ---- step 3b: d-suffixes ----
    if w.endswith("end") or w.endswith("ing"):
        if in_r2(3):
            w = w[:-3]
            if w.endswith("ig") and in_r2(2) and (len(w) < 3 or w[-3] != "e"):
                w = w[:-2]
            else:
                w = undouble(w)
    elif w.endswith("ig"):
        if in_r2(2) and (len(w) < 3 or w[-3] != "e"):
            w = w[:-2]
    elif w.endswith("lijk"):
        if in_r2(4):
            w = w[:-4]
            # repeat step 2
            if w.endswith("e") and in_r1(1) and len(w) >= 2 and w[-2] not in _NL_VOWELS:
                w = undouble(w[:-1])
    elif w.endswith("baar"):
        if in_r2(4):
            w = w[:-4]
    elif w.endswith("bar"):
        if in_r2(3) and e_removed:
            w = w[:-3]

    # ---- step 4: undouble vowel (C v v C, final consonant not I) ----
    if len(w) >= 4:
        c1, v1, v2, c2 = w[-4], w[-3], w[-2], w[-1]
        if (
            c2 not in _NL_VOWELS and c2 != "I"
            and v1 == v2 and v1 in "aeou"
            and c1 not in _NL_VOWELS
        ):
            w = w[:-2] + c2

    return w.replace("I", "i").replace("Y", "y")


STEMMERS["dutch"] = stem_nl


# ========================================================== Scandinavian

def _scan_r1(w: str, vowels: str) -> int:
    r1, _ = _r1_r2(w, vowels)
    return max(r1, 3)


_DA_VOWELS = "aeiouyæåø"
_DA_S_END = "abcdfghjklmnoprtvyzå"
_DA_STEP1 = sorted(
    ["hed", "ethed", "ered", "e", "erede", "ende", "erende", "ene",
     "erne", "ere", "en", "heden", "eren", "er", "heder", "erer",
     "heds", "es", "endes", "erendes", "enes", "ernes", "eres", "ens",
     "hedens", "erens", "ers", "ets", "erets", "et", "eret"],
    key=len, reverse=True,
)


def stem_da(word: str) -> str:
    """Snowball Danish."""
    w = word
    r1 = _scan_r1(w, _DA_VOWELS)

    def in_r1(slen: int, wl: int | None = None) -> bool:
        return _in(r1, wl if wl is not None else len(w), slen)

    # step 1
    for suf in _DA_STEP1:
        if w.endswith(suf) and in_r1(len(suf)):
            w = w[: -len(suf)]
            break
    else:
        if (w.endswith("s") and in_r1(1) and len(w) >= 2
                and w[-2] in _DA_S_END):
            w = w[:-1]

    # step 2: consonant pair endings -> drop last letter
    if in_r1(2) and w[-2:] in ("gd", "dt", "gt", "kt"):
        w = w[:-1]

    # step 3
    if w.endswith("igst") and in_r1(4):
        w = w[:-2]
    for suf in ("elig", "lig", "els", "ig"):
        if w.endswith(suf) and in_r1(len(suf)):
            w = w[: -len(suf)]
            if in_r1(2) and w[-2:] in ("gd", "dt", "gt", "kt"):
                w = w[:-1]
            break
    else:
        if w.endswith("løst") and in_r1(4):
            w = w[:-1]

    # step 4: undouble final double consonant in R1
    if (len(w) >= 2 and w[-1] == w[-2] and w[-1] not in _DA_VOWELS
            and in_r1(1)):
        w = w[:-1]
    return w


_NO_VOWELS = "aeiouyæåø"
_NO_S_END = "bcdfghjlmnoprtvyz"
_NO_STEP1 = sorted(
    ["a", "e", "ede", "ande", "ende", "ane", "ene", "hetene", "en",
     "heten", "ar", "er", "heter", "as", "es", "edes", "endes", "enes",
     "hetenes", "ens", "hetens", "ers", "ets", "et", "het", "ast"],
    key=len, reverse=True,
)
_NO_STEP3 = sorted(
    ["leg", "eleg", "ig", "eig", "lig", "elig", "els", "lov", "elov",
     "slov", "hetslov"],
    key=len, reverse=True,
)


def stem_no(word: str) -> str:
    """Snowball Norwegian."""
    w = word
    r1 = _scan_r1(w, _NO_VOWELS)

    def in_r1(slen: int, wl: int | None = None) -> bool:
        return _in(r1, wl if wl is not None else len(w), slen)

    # step 1 (longest among incl. erte/ert and the s-rule)
    cands = [(s, "del") for s in _NO_STEP1] + [("erte", "er"), ("ert", "er"), ("s", "s")]
    for suf, action in sorted(cands, key=lambda t: len(t[0]), reverse=True):
        if not w.endswith(suf) or not in_r1(len(suf)):
            continue
        if action == "del":
            w = w[: -len(suf)]
        elif action == "er":
            w = w[: -len(suf)] + "er"
        else:  # s: valid s-ending = listed consonant, or k not after vowel
            if len(w) < 2:
                continue
            prev = w[-2]
            ok = prev in _NO_S_END or (
                prev == "k" and (len(w) < 3 or w[-3] not in _NO_VOWELS)
            )
            if not ok:
                continue
            w = w[:-1]
        break

    # step 2
    if in_r1(2) and w[-2:] in ("dt", "vt"):
        w = w[:-1]

    # step 3
    for suf in _NO_STEP3:
        if w.endswith(suf) and in_r1(len(suf)):
            w = w[: -len(suf)]
            break
    return w


_SV_VOWELS = "aeiouyäåö"
_SV_S_END = "bcdfghjklmnoprtvy"
_SV_STEP1 = sorted(
    ["a", "arna", "erna", "heterna", "orna", "ad", "e", "ade", "ande",
     "arne", "are", "aste", "en", "anden", "aren", "heten", "ern", "ar",
     "er", "heter", "or", "as", "arnas", "ernas", "ornas", "es", "ades",
     "andes", "ens", "arens", "hetens", "erns", "at", "andet", "het",
     "ast"],
    key=len, reverse=True,
)


def stem_sv(word: str) -> str:
    """Snowball Swedish."""
    w = word
    r1 = _scan_r1(w, _SV_VOWELS)

    def in_r1(slen: int, wl: int | None = None) -> bool:
        return _in(r1, wl if wl is not None else len(w), slen)

    # step 1
    for suf in _SV_STEP1:
        if w.endswith(suf) and in_r1(len(suf)):
            w = w[: -len(suf)]
            break
    else:
        if (w.endswith("s") and in_r1(1) and len(w) >= 2
                and w[-2] in _SV_S_END):
            w = w[:-1]

    # step 2
    if in_r1(2) and w[-2:] in ("dd", "gd", "nn", "dt", "gt", "kt", "tt"):
        w = w[:-1]

    # step 3
    for suf in ("lig", "ig", "els"):
        if w.endswith(suf) and in_r1(len(suf)):
            w = w[: -len(suf)]
            break
    else:
        if w.endswith("löst") and in_r1(4):
            w = w[:-1]
        elif w.endswith("fullt") and in_r1(5):
            w = w[:-1]
    return w


STEMMERS["danish"] = stem_da
STEMMERS["norwegian"] = stem_no
STEMMERS["swedish"] = stem_sv


# ============================================================== Romanian

_RO_VOWELS = "aeiouăâî"

_RO_S1 = [
    ("abilitate", "abil"), ("abilitati", "abil"), ("abilităi", "abil"),
    ("abilităţi", "abil"), ("ibilitate", "ibil"),
    ("ivitate", "iv"), ("ivitati", "iv"), ("ivităi", "iv"), ("ivităţi", "iv"),
    ("icitate", "ic"), ("icitati", "ic"), ("icităi", "ic"), ("icităţi", "ic"),
    ("icatori", "ic"), ("icator", "ic"),
    ("iciva", "ic"), ("icive", "ic"), ("icivi", "ic"), ("icivă", "ic"),
    ("iciv", "ic"), ("icala", "ic"), ("icale", "ic"), ("icali", "ic"),
    ("icală", "ic"), ("ical", "ic"),
    ("ativa", "at"), ("ative", "at"), ("ativi", "at"), ("ativă", "at"),
    ("ativ", "at"), ("aţiune", "at"), ("atoare", "at"), ("atori", "at"),
    ("ator", "at"), ("ătoare", "at"), ("ători", "at"), ("ător", "at"),
    ("itiva", "it"), ("itive", "it"), ("itivi", "it"), ("itivă", "it"),
    ("itiv", "it"), ("iţiune", "it"), ("itoare", "it"), ("itori", "it"),
    ("itor", "it"),
]
_RO_S2_DEL = [
    "ica", "abila", "ibila", "oasa", "ata", "ita", "anta", "uta", "iva",
    "ic", "ice", "abile", "ibile", "oase", "ate", "itate", "ite", "ante",
    "ute", "ive", "ici", "abili", "ibili", "atori", "osi", "oşi", "ati",
    "itati", "ităi", "ităţi", "iti", "anti", "uti", "ivi", "abil",
    "ibil", "ator", "os", "at", "it", "ant", "ut", "iv",
    "ică", "abilă", "ibilă", "oasă", "ată", "ită", "antă", "ută", "ivă",
]
_RO_S2_IST = ["isme", "ism", "ista", "iste", "isti", "istă", "işti", "ist"]
_RO_VERB_1 = [
    "are", "ere", "ire", "âre", "ind", "ând", "indu", "ându", "eze",
    "ează", "ez", "ezi", "ească", "esc", "ăsc", "eşti", "eşte", "ăşti",
    "ăşte", "am", "ai", "au", "eam", "eai", "ea", "eaţi", "eau", "iam",
    "iai", "ia", "iaţi", "iau", "ui", "aşi", "arăm", "arăţi", "ară",
    "uşi", "urăm", "urăţi", "ură", "işi", "irăm", "irăţi", "iră", "âi",
    "âşi", "ârăm", "ârăţi", "âră", "asem", "aseşi", "ase", "aserăm",
    "aserăţi", "aseră", "isem", "iseşi", "ise", "iserăm", "iserăţi",
    "iseră", "âsem", "âseşi", "âse", "âserăm", "âserăţi", "âseră",
    "usem", "useşi", "use", "userăm", "userăţi", "useră",
]
_RO_VERB_2 = [
    "ăm", "aţi", "em", "eţi", "im", "iţi", "âm", "âţi", "seşi", "serăm",
    "serăţi", "seră", "sei", "se", "sesem", "seseşi", "sese", "seserăm",
    "seserăţi", "seseră",
]


def stem_ro(word: str) -> str:
    """Snowball Romanian, bit-compatible with the reference's compiled
    stemmer: CEDILLA spellings (ş U+015F / ţ U+0163) in every table —
    comma-below input (ș/ț) is NOT folded and simply doesn't match,
    exactly as the reference behaves (verified by probing)."""
    w = word
    # prelude: mark u/i between vowels (sequential, evolving string)
    chars = list(w)
    n = len(chars)
    c = 0
    while c < n:
        if chars[c] in _RO_VOWELS and c + 1 < n:
            nx = chars[c + 1]
            if nx in "ui" and c + 2 < n and chars[c + 2] in _RO_VOWELS:
                chars[c + 1] = nx.upper()
                c += 2
                continue
        c += 1
    w = "".join(chars)

    rv = _es_rv_generic(w, _RO_VOWELS)
    r1, r2 = _r1_r2(w, _RO_VOWELS)

    def in_rv(slen: int) -> bool:
        return _in(rv, len(w), slen)

    def in_r1(slen: int) -> bool:
        return _in(r1, len(w), slen)

    def in_r2(slen: int) -> bool:
        return _in(r2, len(w), slen)

    # ---- step 0: plural / article (R1) ----
    s0 = [
        ("ului", ""), ("ul", ""), ("aua", "a"), ("elor", "e"), ("ele", "e"),
        ("ea", "e"), ("iilor", "i"), ("iile", "i"), ("iei", "i"),
        ("iua", "i"), ("ii", "i"), ("ilor", "i"), ("ile", "i"),
        ("atei", "at"), ("aţie", "aţi"), ("aţia", "aţi"),
    ]
    for suf, rep in sorted(s0, key=lambda t: len(t[0]), reverse=True):
        if not w.endswith(suf):
            continue
        # among: longest STRING match wins; a failed condition aborts
        if in_r1(len(suf)) and not (suf == "ile" and w[: -3].endswith("ab")):
            w = w[: -len(suf)] + rep
        break

    # ---- step 1: combining suffixes (R1, repeat) ----
    step1_done = False
    while True:
        hit = False
        for suf, rep in sorted(_RO_S1, key=lambda t: len(t[0]), reverse=True):
            if w.endswith(suf):
                if in_r1(len(suf)):
                    w = w[: -len(suf)] + rep
                    hit = True
                    step1_done = True
                break
        if not hit:
            break

    # ---- step 2: standard suffixes (R2) ----
    step2_done = False
    for suf in sorted(_RO_S2_DEL + _RO_S2_IST + ["iune", "iuni"],
                      key=len, reverse=True):
        if not w.endswith(suf):
            continue
        if not in_r2(len(suf)):
            break  # longest string match, condition failed -> among fails
        if suf in ("iune", "iuni"):
            if w[: -len(suf)].endswith("ţ"):
                w = w[: -len(suf) - 1] + "t"
                step2_done = True
        elif suf in _RO_S2_IST:
            w = w[: -len(suf)] + "ist"
            step2_done = True
        else:
            w = w[: -len(suf)]
            step2_done = True
        break

    # ---- step 3: verb suffixes (RV; only if steps 1&2 removed nothing) ----
    if not step1_done and not step2_done:
        cands = [(s_, 1) for s_ in _RO_VERB_1] + [(s_, 2) for s_ in _RO_VERB_2]
        for suf, g in sorted(cands, key=lambda t: len(t[0]), reverse=True):
            # the verb among is setlimit-to-RV: a suffix extending beyond
            # RV does not MATCH and shorter candidates are tried
            if not w.endswith(suf) or not in_rv(len(suf)):
                continue
            if g == 1:
                base = w[: -len(suf)]
                if (_in(rv, len(w), len(suf) + 1) and base
                        and (base[-1] not in _RO_VOWELS or base[-1] == "u")):
                    w = base
                break
            w = w[: -len(suf)]
            break

    # ---- step 4: final vowel (RV) ----
    for suf in ("ie", "a", "e", "i", "ă"):
        if not w.endswith(suf):
            continue
        if in_rv(len(suf)):
            w = w[: -len(suf)]
        break

    return w.replace("I", "i").replace("U", "u")


STEMMERS["romanian"] = stem_ro


# ============================================================= Hungarian

_HU_VOWELS = "aeiouáéíóöőúüű"
_HU_DIGRAPHS = ("cs", "dzs", "gy", "ly", "ny", "sz", "ty", "zs")
_HU_DOUBLES = ("bb", "cc", "ccs", "dd", "ff", "gg", "ggy", "jj", "kk",
               "ll", "lly", "mm", "nn", "nny", "pp", "rr", "ss", "ssz",
               "tt", "tty", "vv", "zz", "zzs")


def _hu_r1(w: str) -> int:
    """Hungarian R1: vowel-initial word -> after the first consonant or
    digraph; consonant-initial -> after the first vowel."""
    n = len(w)
    if n == 0:
        return 0
    if w[0] in _HU_VOWELS:
        i = 1
        while i < n and w[i] in _HU_VOWELS:
            i += 1
        if i >= n:
            return n
        # consonant found; digraphs count as one unit
        for d in sorted(_HU_DIGRAPHS, key=len, reverse=True):
            if w.startswith(d, i):
                return i + len(d)
        return i + 1
    i = 1
    while i < n and w[i] not in _HU_VOWELS:
        i += 1
    return i + 1 if i < n else n


def _hu_double(w: str) -> str | None:
    """The double consonant the word ends with (longest), or None."""
    for d in sorted(_HU_DOUBLES, key=len, reverse=True):
        if w.endswith(d):
            return d
    return None


def stem_hu(word: str) -> str:
    """Snowball Hungarian: nine independent suffix passes, all in R1."""
    w = word
    r1 = _hu_r1(w)

    def in_r1(slen: int) -> bool:
        return _in(r1, len(w), slen)

    def v_ending(word_: str) -> str:
        if word_.endswith("á") and _in(r1, len(word_), 1):
            return word_[:-1] + "a"
        if word_.endswith("é") and _in(r1, len(word_), 1):
            return word_[:-1] + "e"
        return word_

    def undouble(word_: str) -> str:
        d = _hu_double(word_)
        if d:
            # remove one character of the double (ccs -> cs etc.)
            return word_[: -len(d)] + d[1:] if len(d) == 3 else word_[:-1]
        return word_

    def among(table: list[tuple[str, str | None]]) -> bool:
        """Longest string match; condition = in R1; action replaces the
        suffix (None = table entry requires double-consonant handling)."""
        nonlocal w
        for suf, rep in sorted(table, key=lambda t: len(t[0]), reverse=True):
            if not w.endswith(suf):
                continue
            if in_r1(len(suf)):
                w = w[: -len(suf)] + (rep or "")
                return True
            return False
        return False

    # instrument: al/el preceded by a double consonant
    for suf in ("al", "el"):
        if w.endswith(suf) and in_r1(2) and _hu_double(w[:-2]):
            w = undouble(w[:-2])
            break

    # case
    case = ["ba", "ra", "be", "re", "ig", "nak", "nek", "val", "vel",
            "ul", "nál", "nél", "ból", "ról", "tól", "ül", "ből", "ről",
            "től", "n", "an", "ban", "en", "ben", "képpen", "on", "ön",
            "képp", "kor", "t", "at", "et", "ként", "anként", "enként",
            "onként", "ot", "ért", "öt", "hez", "hoz", "höz", "vá", "vé"]
    if among([(s_, "") for s_ in case]):
        w = v_ending(w)

    # case_special
    among([("ánként", "a"), ("án", "a"), ("én", "e")])

    # case_other
    among([("astul", ""), ("estül", ""), ("stul", ""), ("stül", ""),
           ("ástul", "a"), ("éstül", "e")])

    # factive: á/é preceded by a double consonant
    for suf in ("á", "é"):
        if w.endswith(suf) and in_r1(1) and _hu_double(w[:-1]):
            w = undouble(w[:-1])
            break

    # owned
    among([("áké", "a"), ("áéi", "a"), ("éké", "e"), ("ééi", "e"),
           ("éé", "e"), ("ké", ""), ("oké", ""), ("eké", ""),
           ("aké", ""), ("öké", ""), ("éi", ""), ("é", "")])

    # sing_owner
    among([("ünk", ""), ("unk", ""), ("nk", ""), ("ánk", "a"),
           ("énk", "e"), ("uk", ""), ("juk", ""),
           ("ük", ""), ("jük", ""), ("ájuk", "a"), ("éjük", "e"),
           ("m", ""), ("am", ""), ("em", ""), ("om", ""), ("ám", "a"),
           ("ém", "e"), ("o", ""), ("a", ""), ("e", ""), ("d", ""),
           ("ad", ""), ("ed", ""), ("od", ""), ("öd", ""), ("ád", "a"),
           ("éd", "e"), ("ja", ""), ("je", ""), ("á", "a"), ("é", "e")])

    # plur_owner
    among([("id", ""), ("aid", ""), ("jaid", ""), ("eid", ""),
           ("jeid", ""), ("áid", "a"), ("éid", "e"), ("i", ""),
           ("ai", ""), ("jai", ""), ("ei", ""), ("jei", ""), ("ái", "a"),
           ("éi", "e"), ("itek", ""), ("eitek", ""), ("jeitek", ""),
           ("éitek", "e"), ("ik", ""), ("aik", ""), ("jaik", ""),
           ("eik", ""), ("jeik", ""), ("áik", "a"), ("éik", "e"),
           ("ink", ""), ("aink", ""), ("jaink", ""), ("eink", ""),
           ("jeink", ""), ("áink", "a"), ("éink", "e"), ("aitok", ""),
           ("jaitok", ""), ("áitok", "a"), ("im", ""), ("aim", ""),
           ("jaim", ""), ("eim", ""), ("jeim", ""), ("áim", "a"),
           ("éim", "e")])

    # plural
    among([("ák", "a"), ("ék", "e"), ("ök", ""), ("ok", ""), ("ek", ""),
           ("ak", ""), ("k", "")])
    return w


STEMMERS["hungarian"] = stem_hu


# =============================================================== Finnish

_FI_V1 = "aeiouyäö"          # vowel grouping z
_FI_V2 = "aeiouäö"           # grouping e (no y)
_FI_PARTICLE_PREV = "aeiouyäönt"   # grouping A
_FI_TIDY_V = "aeiä"          # grouping u
_FI_LV = ("aa", "ee", "ii", "oo", "uu", "ää", "öö")


def stem_fi(word: str) -> str:
    """Snowball Finnish, traced from the reference's compiled stemmer
    (fi.js): particle -> possessive -> case -> other-endings ->
    i/t-plural -> tidy, with the case among's condition-function
    entries (den/tten/siin/seen) falling back to the bare 'n' rule."""
    w = word
    r1, r2 = _r1_r2(w, _FI_V1)
    ended = False

    def in_r1(slen: int, wl: int | None = None) -> bool:
        return _in(r1, wl if wl is not None else len(w), slen)

    def in_r2(slen: int, wl: int | None = None) -> bool:
        return _in(r2, wl if wl is not None else len(w), slen)

    # ---- particle etc (R1-limited among; condition failure aborts) ----
    for suf in sorted(["pa", "sti", "kaan", "han", "kin", "hän", "kään",
                       "ko", "pä", "kö"], key=len, reverse=True):
        if not w.endswith(suf) or not in_r1(len(suf)):
            continue
        if suf == "sti":
            if in_r2(3):
                w = w[:-3]
        elif len(w) > len(suf) and w[-len(suf) - 1] in _FI_PARTICLE_PREV:
            w = w[: -len(suf)]
        break

    # ---- possessive (R1) ----
    for suf in sorted(["nsa", "nsä", "mme", "nne", "ni", "si", "an",
                       "en", "än"], key=len, reverse=True):
        if not w.endswith(suf) or not in_r1(len(suf)):
            continue
        base = w[: -len(suf)]
        if suf == "si":
            if not base.endswith("k"):
                w = base
        elif suf == "ni":
            w = base
            if w.endswith("kse"):
                w = w[:-1] + "i"
        elif suf == "an":
            if base.endswith(("lla", "na", "ssa", "ta", "lta", "sta")):
                w = base
        elif suf == "än":
            if base.endswith(("llä", "nä", "ssä", "tä", "ltä", "stä")):
                w = base
        elif suf == "en":
            if base.endswith(("lle", "ine")):
                w = base
        else:
            w = base
        break

    # ---- case ending (R1 among; den/tten/siin/seen fall back to 'n') ----
    hxn = {"han": "a", "hen": "e", "hin": "i", "hon": "o",
           "hän": "ä", "hön": "ö"}
    cases = sorted(
        list(hxn.keys())
        + ["den", "tten", "siin", "seen", "tta", "ttä", "a", "ä", "n",
           "lla", "na", "ssa", "ta", "lta", "sta", "lle", "ine", "ksi",
           "llä", "nä", "ssä", "tä", "ltä", "stä"],
        key=len, reverse=True,
    )

    def vi_ok(base: str) -> bool:  # preceded by i + V2 vowel
        return (len(base) >= 2 and base[-1] == "i"
                and base[-2] in _FI_V2)

    def do_n_rule() -> None:
        nonlocal w, ended
        base = w[:-1]
        if base[-2:] in _FI_LV or base.endswith("ie"):
            base = base[:-1]
        w, ended = base, True

    for suf in cases:
        if not w.endswith(suf) or not in_r1(len(suf)):
            continue
        base = w[: -len(suf)]
        if suf in ("den", "tten", "siin"):
            if vi_ok(base):
                w, ended = base, True
            else:
                do_n_rule()  # condition-fn failure -> parent 'n'
        elif suf == "seen":
            if base[-2:] in _FI_LV:
                w, ended = base, True
            else:
                do_n_rule()
        elif suf in hxn:
            if base.endswith(hxn[suf]):
                w, ended = base, True
        elif suf in ("tta", "ttä"):
            if base.endswith("e"):
                w, ended = base, True
        elif suf in ("a", "ä"):
            if (len(base) >= 2 and base[-1] in _FI_V1
                    and base[-2] not in _FI_V1):
                w, ended = base, True
        elif suf == "n":
            do_n_rule()
        else:
            w, ended = base, True
        break

    # ---- other endings (R2 among; 'po' check aborts) ----
    for suf in sorted(["eja", "ejä", "imma", "impa", "immi", "impi",
                       "immä", "impä", "mma", "mpa", "mmi", "mpi",
                       "mmä", "mpä"], key=len, reverse=True):
        if not w.endswith(suf) or not in_r2(len(suf)):
            continue
        if suf in ("mma", "mpa", "mmi", "mpi", "mmä", "mpä"):
            if not w[: -len(suf)].endswith("po"):
                w = w[: -len(suf)]
        else:
            w = w[: -len(suf)]
        break

    # ---- i-plural / t-plural ----
    if ended:
        if w and w[-1] in "ij" and in_r1(1):
            w = w[:-1]
    else:
        if (w.endswith("t") and in_r1(1) and len(w) >= 2
                and w[-2] in _FI_V1):
            w = w[:-1]
            for suf in ("imma", "mma"):
                if w.endswith(suf) and _in(r2, len(w), len(suf)):
                    if suf == "mma" and w[: -3].endswith("po"):
                        break
                    w = w[: -len(suf)]
                    break

    # ---- tidy ----
    # a) undouble a long vowel at the end of R1
    if w[-2:] in _FI_LV and in_r1(2):
        w = w[:-1]
    # b) final a/e/i/ä preceded by a consonant — the preceding char must
    # ALSO lie inside R1 (the whole tidy block runs under setlimit R1)
    if (len(w) >= 2 and w[-1] in _FI_TIDY_V
            and w[-2] not in _FI_V1 and in_r1(2)):
        w = w[:-1]
    # c) final j preceded by o or u (both in R1)
    if (w.endswith("oj") or w.endswith("uj")) and in_r1(2):
        w = w[:-1]
    # d) final o preceded by j (both in R1)
    if w.endswith("jo") and in_r1(2):
        w = w[:-1]
    # e) undouble the consonant pair opening the final consonant run:
    # scan right-to-left to the first position whose preceding char is
    # a NON-vowel; if that char is a consonant doubled by its
    # predecessor, drop one
    i = len(w)
    while i > 0 and w[i - 1] in _FI_V1:
        i -= 1
    if i >= 2 and w[i - 1] not in _FI_V1 and w[i - 2] == w[i - 1]:
        w = w[: i - 1] + w[i:]
    return w


STEMMERS["finnish"] = stem_fi


# Non-Snowball light stemmers (bg/sk/uk) and the second Snowball batch
# register themselves into STEMMERS on import; importing here keeps
# `from .snowball import STEMMERS` the single registry entry point.
from . import light_stemmers as _light  # noqa: E402,F401  (registers bg/sk/uk)
from . import snowball_indic as _indic  # noqa: E402,F401  (registers hindi/nepali/tamil)
from . import snowball_misc as _misc  # noqa: E402,F401  (registers id/ie/lt/am)
from . import snowball_tr as _tr  # noqa: E402,F401  (registers turkish)
from . import snowball_ar as _ar  # noqa: E402,F401  (registers arabic)
from . import snowball_gr as _gr  # noqa: E402,F401  (registers greek)
from . import snowball_ta as _ta  # noqa: E402,F401  (registers tamil)
from . import snowball_rs as _rs  # noqa: E402,F401  (registers serbian)
