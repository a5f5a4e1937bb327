"""Text postprocessing — exact parity with the reference's string pipeline.

Reference semantics (SURVEY.md §2.8):
- postprocess_text: ``\\r\\n``->``\\n``, special-char map, control-char
  filter, ligature expansion, in that order
  (reference pdftext/postprocessing.py:22-28).
- special chars: SPACES {" ", U+FFFE, U+FEFF, NBSP} -> " ";
  LINE_BREAKS {"\\n", "\\r"} -> "\\n"; TABS {"\\t"} -> "\\t"
  (pdftext/pdf/utils.py:8-11, postprocessing.py:56-63).
- control-char filter: drop Unicode category C* except the hyphen
  sentinel \\x02 and {"\\n","\\r","\\f","\\t"," "} — MUST use Python
  ``unicodedata`` categories, not Java regex classes
  (postprocessing.py:66-67).
- ligatures: ff/ffi/ffl/fi/fl/st/st expansion (postprocessing.py:7-15).
- handle_hyphens(keep=True): ``\\x02`` -> ``-\\n`` (postprocessing.py:32-33).
- handle_hyphens(keep=False): stateful scan with two parity quirks we
  reproduce bit-for-bit: (a) the scan runs over ``range(len(text)-1)`` so
  the final input character is always dropped; (b) the found-hyphen flag
  stays set until a SPACE character arrives — line breaks are skipped and
  word characters are appended while the flag is still set
  (postprocessing.py:31-53).

Implementation note: because every special/ligature source is a single
codepoint, steps 2-4 of postprocess_text compose into a small
``str.translate`` table (specials + ligatures) followed by one compiled
character-class regex deletion for category-C chars. The C-codepoint
ranges are precomputed at build time (core/_cc_ranges.py) so Python
workers skip a ~0.7 s full-plane unicodedata scan at startup — worker
spin-up cost matters when a cluster job starts thousands of them. The
\\r\\n collapse stays a separate first pass since it is a 2-char pattern.
"""

from __future__ import annotations

import re
import unicodedata
from functools import lru_cache

from pdftext_spark.core._cc_ranges import CC_DELETE_RANGES

HYPHEN_SENTINEL = "\x02"

SPACE_CHARS = (" ", "￾", "﻿", "\xa0")
LINE_BREAK_CHARS = ("\n", "\r")
TAB_CHARS = ("\t",)
KEPT_WHITESPACE = frozenset(["\n", "\r", "\f", "\t", " "])

LIGATURE_MAP = {
    "ﬀ": "ff",
    "ﬃ": "ffi",
    "ﬄ": "ffl",
    "ﬁ": "fi",
    "ﬂ": "fl",
    "ﬆ": "st",
    "ﬅ": "st",
}


@lru_cache(maxsize=1)
def _specials_table() -> dict:
    """Translate table for special chars + ligatures. Precedence mirrors
    the reference's pass order: special-char replacement happens before the
    control filter, so U+FFFE (Cn) and U+FEFF (Cf) become spaces rather
    than being dropped (the regex below therefore excludes them)."""
    table: dict[int, str] = {}
    for ch in SPACE_CHARS:
        table[ord(ch)] = " "
    for ch in LINE_BREAK_CHARS:
        table[ord(ch)] = "\n"
    for ch in TAB_CHARS:
        table[ord(ch)] = "\t"
    for src, dst in LIGATURE_MAP.items():
        table[ord(src)] = dst
    return table


@lru_cache(maxsize=1)
def _cc_delete_re():
    """Compiled char-class matching exactly the category-C codepoints the
    reference filter drops (postprocessing.py:66-67), minus the special
    chars the translate pass already mapped away."""
    mapped = {ord(c) for c in SPACE_CHARS + LINE_BREAK_CHARS + TAB_CHARS}
    parts = []
    for a, b in CC_DELETE_RANGES:
        # carve out codepoints the specials pass already consumed
        lo = a
        for m in sorted(cp for cp in mapped if a <= cp <= b):
            if lo <= m - 1:
                parts.append((lo, m - 1))
            lo = m + 1
        if lo <= b:
            parts.append((lo, b))
    cls = "".join(
        re.escape(chr(a)) if a == b else f"{re.escape(chr(a))}-{re.escape(chr(b))}"
        for a, b in parts)
    return re.compile(f"[{cls}]+")


def postprocess_text(text: str) -> str:
    """F1+F2+F3+F4 (postprocessing.py:22-28) as three C-level passes."""
    text = text.replace("\r\n", "\n").translate(_specials_table())
    return _cc_delete_re().sub("", text)


# --- batch-level skip flags -------------------------------------------------
# Codepoints whose presence makes the translate pass (incl. the \r\n
# collapse) observable: everything _specials_table maps to a DIFFERENT
# string. ' ', '\n', '\t' map to themselves and can be skipped.
_TRANSLATE_ACTIVE_CPS = None
_CC_BOUNDS = None


def _init_flag_tables():
    global _TRANSLATE_ACTIVE_CPS, _CC_BOUNDS
    import numpy as np
    tbl = _specials_table()
    active = [cp for cp, dst in tbl.items() if dst != chr(cp)]
    _TRANSLATE_ACTIVE_CPS = np.asarray(sorted(active), dtype=np.uint32)
    bounds = []
    for a, b in CC_DELETE_RANGES:
        bounds.append(a)
        bounds.append(b + 1)
    _CC_BOUNDS = np.asarray(bounds, dtype=np.uint32)


def batch_text_flags(cps):
    """Per-char flags over a uint32 codepoint array: (needs_translate,
    needs_cc_delete, is_hyphen). Prefix sums of these let the assembler
    skip whole passes for clean (typically pure-ASCII) ranges.

    needs_cc_delete is evaluated on RAW codepoints, i.e. a superset of
    what survives the translate pass — skipping is safe, never unsound.
    """
    import numpy as np
    if _CC_BOUNDS is None:
        _init_flag_tables()
    tr = np.isin(cps, _TRANSLATE_ACTIVE_CPS)
    cc = (np.searchsorted(_CC_BOUNDS, cps, side="right") % 2) == 1
    hy = cps == 2
    return tr, cc, hy


def handle_hyphens(text: str, keep_hyphens: bool = False) -> str:
    """F5/F6 (postprocessing.py:31-53), quirks reproduced exactly."""
    if keep_hyphens:
        return text.replace(HYPHEN_SENTINEL, "-\n")
    if not text:
        return text
    # Parity quirk: the reference iterates range(len(text)-1), dropping the
    # last input character unconditionally. Outside joining mode every
    # char is appended verbatim, so the scan only needs to walk char by
    # char from each sentinel to the space that ends its joining run —
    # everything between runs is bulk slice appends (~10x on turns where
    # sentinels are sparse, which is all of them).
    t = text[:-1]
    i = t.find(HYPHEN_SENTINEL)
    if i < 0:
        return t
    pieces: list[str] = []
    prev = 0
    n = len(t)
    while i >= 0:
        if i > prev:
            pieces.append(t[prev:i])
        i += 1  # consume the sentinel (never emitted)
        while i < n:  # joining mode: reference's found_hyphen flag is set
            ch = t[i]
            if ch == HYPHEN_SENTINEL or ch in LINE_BREAK_CHARS:
                i += 1
                continue
            if ch in SPACE_CHARS:
                # rstrip accumulated text, then a single newline; the
                # space itself is dropped
                joined = "".join(pieces).rstrip()
                pieces = [joined, "\n"]
                i += 1
                break
            pieces.append(ch)
            i += 1
        else:
            return "".join(pieces)  # input ended while still joining
        prev = i
        i = t.find(HYPHEN_SENTINEL, prev)
    pieces.append(t[prev:])
    return "".join(pieces)


def is_math_symbol(ch: str) -> bool:
    """Unicode Sm check (pages.py:15-20)."""
    return len(ch) == 1 and unicodedata.category(ch) == "Sm"


def script_text_ok(text: str) -> bool:
    """Text gate for super/subscript flagging (pages.py:51-55):
    stripped text is a single char or all digits, AND alnum or a math
    symbol."""
    t = text.strip()
    return (len(t) == 1 or t.isdigit()) and (t.isalnum() or is_math_symbol(t))
