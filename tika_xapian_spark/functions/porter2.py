"""Pure-Python Porter2 (Snowball "english") stemmer.

Implements the published Snowball english algorithm — the same stemmer the
reference selects via ``Stem::new("en")`` (/root/reference/src/main.rs:74,
/root/reference/src/xapian_utils.rs:585; algorithm source
xapian-core-1.4.17.tar.xz!languages/english.sbl).

No external stemmer wheel is available in the target environment, so this is a
from-scratch implementation of the public algorithm. It is deliberately
dependency-free and operates on single lowercase tokens, which is how the
Xapian term generator invokes its stemmer (terms are lowercased before
stemming — termgenerator_internal.cc:57-61).
"""

from __future__ import annotations

_V = frozenset("aeiouy")  # Snowball grouping v (capital Y is NOT a vowel)
_V_WXY = frozenset("aeiouywx")  # v + w, x (Y handled via case)
_VALID_LI = frozenset("cdeghkmnrt")
_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")

_EXCEPTION1 = {
    "skis": "ski",
    "skies": "sky",
    "dying": "die",
    "lying": "lie",
    "tying": "tie",
    "idly": "idl",
    "gently": "gentl",
    "ugly": "ugli",
    "early": "earli",
    "only": "onli",
    "singly": "singl",
    "sky": "sky",
    "news": "news",
    "howe": "howe",
    "atlas": "atlas",
    "cosmos": "cosmos",
    "bias": "bias",
    "andes": "andes",
}

_EXCEPTION2 = frozenset(
    ("inning", "outing", "canning", "herring", "earring", "proceed", "exceed", "succeed")
)

_STEP2 = (
    # (suffix, replacement) — longest-match-first; None replacement = special
    ("ational", "ate"),
    ("fulness", "ful"),
    ("iveness", "ive"),
    ("ization", "ize"),
    ("ousness", "ous"),
    ("biliti", "ble"),
    ("lessli", "less"),
    ("tional", "tion"),
    ("alism", "al"),
    ("aliti", "al"),
    ("ation", "ate"),
    ("entli", "ent"),
    ("fulli", "ful"),
    ("iviti", "ive"),
    ("ousli", "ous"),
    ("abli", "able"),
    ("alli", "al"),
    ("anci", "ance"),
    ("ator", "ate"),
    ("enci", "ence"),
    ("izer", "ize"),
    ("bli", "ble"),
    ("ogi", None),  # -> og, only when preceded by 'l'
    ("li", None),  # -> '', only when preceded by valid_LI
)

_STEP3 = (
    ("ational", "ate"),
    ("tional", "tion"),
    ("alize", "al"),
    ("icate", "ic"),
    ("iciti", "ic"),
    ("ative", None),  # delete, only in R2
    ("ical", "ic"),
    ("ness", ""),
    ("ful", ""),
)

_STEP4 = (
    "ement",
    "ance",
    "ence",
    "able",
    "ible",
    "ment",
    "ant",
    "ent",
    "ism",
    "ate",
    "iti",
    "ous",
    "ive",
    "ize",
    "ion",  # special: requires preceding s/t
    "al",
    "er",
    "ic",
)


def _mark_regions(w: str) -> tuple[int, int]:
    for pre in ("gener", "commun", "arsen"):
        if w.startswith(pre):
            p1 = len(pre)
            break
    else:
        p1 = _region_after(w, 0)
    p2 = _region_after(w, p1)
    return p1, p2


def _region_after(w: str, start: int) -> int:
    """Position after the first non-vowel following a vowel, at/after start."""
    n = len(w)
    i = start
    while i < n and w[i] not in _V:
        i += 1
    while i < n and w[i] in _V:
        i += 1
    if i < n:
        return i + 1
    return n


def _ends_shortv(w: str) -> bool:
    """Word ends with a short syllable (backwards shortv test)."""
    n = len(w)
    if n >= 3:
        c1, c2, c3 = w[-1], w[-2], w[-3]
        if c1 not in _V_WXY and c1 != "Y" and c2 in _V and c3 not in _V:
            return True
    if n == 2 and w[-1] not in _V and w[-2] in _V:
        return True
    return False


def stem(word: str) -> str:
    """Stem one lowercase word with the Snowball english (Porter2) algorithm."""
    exc = _EXCEPTION1.get(word)
    if exc is not None:
        return exc
    if len(word) <= 2:
        return word

    w = word
    # --- prelude ---
    if w.startswith("'"):
        w = w[1:]
    y_found = False
    chars = list(w)
    if chars and chars[0] == "y":
        chars[0] = "Y"
        y_found = True
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _V:
            chars[i] = "Y"
            y_found = True
    w = "".join(chars)

    p1, p2 = _mark_regions(w)

    # --- Step 1a ---
    if w.endswith("'s'"):
        w = w[:-3]
    elif w.endswith("'s"):
        w = w[:-2]
    elif w.endswith("'"):
        w = w[:-1]

    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ied") or w.endswith("ies"):
        w = w[:-3] + ("i" if len(w) - 3 >= 2 else "ie")
    elif w.endswith("us") or w.endswith("ss"):
        pass
    elif w.endswith("s"):
        if any(c in _V for c in w[:-2]):
            w = w[:-1]

    # --- exception2 (whole-word, after 1a) ---
    if w in _EXCEPTION2:
        return w

    # --- Step 1b --- (longest-match-first, as Snowball `among` does)
    for suf in ("eedly", "ingly", "edly", "eed", "ing", "ed"):
        if w.endswith(suf):
            if suf in ("eed", "eedly"):
                if len(w) - len(suf) >= p1:
                    w = w[: -len(suf)] + "ee"
            else:
                stem_part = w[: -len(suf)]
                if any(c in _V for c in stem_part):
                    w = stem_part
                    if w.endswith(("at", "bl", "iz")):
                        w += "e"
                    elif w.endswith(_DOUBLES):
                        w = w[:-1]
                    elif len(w) == p1 and _ends_shortv(w):
                        w += "e"
            break

    # --- Step 1c ---
    if len(w) > 2 and w[-1] in "yY" and w[-2] not in _V:
        w = w[:-1] + "i"

    # --- Step 2 (suffix start must be >= p1) ---
    for suf, rep in _STEP2:
        if w.endswith(suf):
            if len(w) - len(suf) >= p1:
                if suf == "ogi":
                    if w.endswith("logi"):
                        w = w[:-1]  # ogi -> og
                elif suf == "li":
                    if len(w) >= 3 and w[-3] in _VALID_LI:
                        w = w[:-2]
                else:
                    w = w[: -len(suf)] + rep
            break

    # --- Step 3 (R1; 'ative' needs R2) ---
    for suf, rep in _STEP3:
        if w.endswith(suf):
            if len(w) - len(suf) >= p1:
                if suf == "ative":
                    if len(w) - len(suf) >= p2:
                        w = w[: -len(suf)]
                else:
                    w = w[: -len(suf)] + rep
            break

    # --- Step 4 (R2) ---
    for suf in _STEP4:
        if w.endswith(suf):
            if len(w) - len(suf) >= p2:
                if suf == "ion":
                    if len(w) >= 4 and w[-4] in "st":
                        w = w[:-3]
                else:
                    w = w[: -len(suf)]
            break

    # --- Step 5 ---
    if w.endswith("e"):
        if len(w) - 1 >= p2 or (len(w) - 1 >= p1 and not _ends_shortv(w[:-1])):
            w = w[:-1]
    elif w.endswith("l"):
        if len(w) - 1 >= p2 and len(w) >= 2 and w[-2] == "l":
            w = w[:-1]

    # --- postlude ---
    if y_found:
        w = w.replace("Y", "y")
    return w
