#!/usr/bin/env python
"""Print pdftext_spark/core/_cc_ranges.py: the codepoint ranges of Unicode
category C (control, format, surrogate, private use, unassigned) that
postprocess_text deletes, minus the \\x02 hyphen sentinel and the kept
whitespace, computed from this interpreter's unicodedata.

    python scripts/gen_cc_ranges.py > pdftext_spark/core/_cc_ranges.py

Run it after a Python upgrade changes `unicodedata.unidata_version`;
tests/test_textproc.py fails until the module matches.
"""

import sys
import unicodedata

# core/textproc.py: HYPHEN_SENTINEL plus KEPT_WHITESPACE
KEPT = frozenset(["\x02", "\n", "\r", "\f", "\t", " "])


def cc_delete_ranges() -> tuple:
    """Inclusive (first, last) codepoint runs over the whole plane."""
    ranges: list = []
    for cp in range(sys.maxunicode + 1):
        ch = chr(cp)
        if unicodedata.category(ch)[0] != "C" or ch in KEPT:
            continue
        if ranges and ranges[-1][1] == cp - 1:
            ranges[-1] = (ranges[-1][0], cp)
        else:
            ranges.append((cp, cp))
    return tuple(ranges)


def module_source() -> str:
    lines = [
        '"""Unicode category-C codepoint ranges (minus the \\\\x02 hyphen',
        "sentinel and kept whitespace), precomputed from this build's",
        f"unicodedata ({unicodedata.unidata_version}) so Python workers "
        "skip the ~0.7 s full-plane scan",
        "at startup. Regenerate with scripts/gen_cc_ranges.py; verified",
        "against live unicodedata in tests/test_textproc.py.",
        '"""',
        "",
        "CC_DELETE_RANGES = (",
    ]
    lines += [f"    ({a}, {b})," for a, b in cc_delete_ranges()]
    lines.append(")")
    return "\n".join(lines) + "\n"


if __name__ == "__main__":
    sys.stdout.write(module_source())
