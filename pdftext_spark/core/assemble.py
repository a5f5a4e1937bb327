"""Output assembly helpers: the plain-text render (F7), the span-text
pass (F8) and the reading-order sort (O1). core/arrow_out.py builds the
structured pages from these; plain text is rendered here directly.

Reference lifecycle: SURVEY.md §3.1-3.2; pdftext/postprocessing.py:95-113,
pdftext/extraction.py:70-131.
"""

from __future__ import annotations

from typing import Optional

import numpy as np

from pdftext_spark.core.segment import Segmentation
from pdftext_spark.core.textproc import (
    LIGATURE_MAP,
    _specials_table,
    handle_hyphens,
)


def sort_order(bboxes: list, tolerance: float = 1.25) -> list[int]:
    """Reading-order permutation (O1, postprocessing.py:76-92): bucket by
    round(y1/tolerance)*tolerance, sort buckets by key, each bucket by x1
    (stable)."""
    keys = [round(b[1] / tolerance) * tolerance for b in bboxes]
    order = list(range(len(bboxes)))
    # stable two-level: first by x within key groups, preserving insertion
    # order for ties — equivalent to the reference's grouped sort.
    order.sort(key=lambda i: (keys[i], bboxes[i][0]))
    return order


def postprocess_global(seg: Segmentation, range_starts) -> tuple[str, Optional[np.ndarray]]:
    """The whole replace+translate+control-filter pass applied ONCE over
    the post-dedup global string, such that ``g_full[off[a]:off[b]]``
    equals ``postprocess_text(seg.chars.gtext[a:b])`` for every range
    whose endpoints lie on ``range_starts`` boundaries (off=None means
    offsets are the identity).

    1. 1:1 maps (spaces/line-breaks/tabs) as a vectorized codepoint
       remap + one utf-32 decode (str.translate with a dict table walks
       a per-char dict lookup, ~4x slower on the same string).
    2. Length-changing constructs — ligature expansions (1→2/3), \\r\\n
       pair collapses (the \\r emits nothing, the \\n survives), and
       control-char DELETIONS — spliced in at their (few) positions,
       with per-char output lengths cumsum'd into an offset map so every
       range is a plain slice.
    postprocess_text of a slice sees the slice alone, so a \\r\\n pair
    straddling a range boundary keeps its \\r as "\\n" — pair collapse
    is therefore masked where the \\n is a range start, making the slice
    exact there too.
    The deletion mask is cc_flag MINUS the specials-mapped codepoints:
    _cc_delete_re carves those out of its char class (they translate to
    spaces instead of being dropped) while the batch flag deliberately
    over-approximates for pass-skipping."""
    cps = seg.chars.cps
    n = len(cps)
    t1 = {k: v for k, v in _specials_table().items() if len(v) == 1}
    if seg.tr_cum[-1] > 0:
        cps1 = cps.copy()
        for src, dst in t1.items():
            cps1[cps == src] = ord(dst)
        g1 = cps1.astype("<u4").tobytes().decode("utf-32-le")
    else:
        g1 = seg.chars.gtext
    out_len = np.ones(n, dtype=np.int64)
    for src, dst in LIGATURE_MAP.items():
        out_len[cps == ord(src)] = len(dst)
    pair = np.zeros(n, dtype=bool)
    if n > 1:
        pair[:-1] = (cps[:-1] == 13) & (cps[1:] == 10)
        rs = np.asarray(range_starts)
        if len(rs):
            pair[rs[rs > 0] - 1] = False
    out_len[pair] = 0
    if seg.cc_cum[-1] > 0:
        ccm = np.diff(seg.cc_cum).astype(bool)
        mapped = np.asarray(sorted(k for k in _specials_table()),
                            dtype=np.uint32)
        ccm &= ~np.isin(cps, mapped)
        out_len[ccm] = 0
    special = np.flatnonzero(out_len != 1)
    if not len(special):
        return g1, None
    parts = []
    prev = 0
    lig_out = {ord(k): v for k, v in LIGATURE_MAP.items()}
    cps_l = cps[special].tolist()
    ol_l = out_len[special].tolist()
    for i, cp, ol in zip(special.tolist(), cps_l, ol_l):
        parts.append(g1[prev:i])
        if ol:
            parts.append(lig_out[cp])
        prev = i + 1
    parts.append(g1[prev:])
    g_full = "".join(parts)
    off = np.empty(n + 1, dtype=np.int64)
    off[0] = 0
    np.cumsum(out_len, out=off[1:])
    return g_full, off


def postprocess_ranges(seg: Segmentation, starts, ends,
                       hyphen_sentinel: bool = False) -> list[str]:
    """postprocess_text over many contiguous char ranges at once (the F8
    span texts): one global pass + a slice per range; with hyphen_sentinel,
    ranges containing \\x02 get the keep-hyphens replacement applied."""
    g_full, off = postprocess_global(seg, starts)
    if off is None:
        a_l, z_l = starts.tolist(), ends.tolist()
    else:
        a_l, z_l = off[starts].tolist(), off[ends].tolist()
    texts = [g_full[a:z] for a, z in zip(a_l, z_l)]
    if hyphen_sentinel and seg.hy_cum[-1] > 0:
        hy = seg.hy_cum
        for i in np.flatnonzero((hy[ends] - hy[starts]) > 0).tolist():
            texts[i] = texts[i].replace("\x02", "-\n")
    return texts


def plain_text_batch(seg: Segmentation, sort: bool = False,
                     hyphens: bool = False,
                     sort_tolerance: float = 1.25) -> list[str]:
    """Per-turn plain text, stripped — paginated_plain_text_output semantics
    (extraction.py:75-80: per page merge_text(...).strip()).

    sort=False takes the batched path: per-line char bounds and all the
    pass-skip flags come from vectorized gathers over ALL lines of the
    batch, and the specials translate runs ONCE over the whole post-dedup
    string through a 1:1-only table (spaces/line-breaks/tabs — every map
    whose output is a single char, so indices stay aligned and a line is
    a plain slice of the translated global). Only lines containing a
    ligature (1→2/3 expansion), an in-line \\r\\n pair (2→1 collapse), or
    a deleted control char — the length-changing constructs — is handled
    by splicing those few positions into the global string and cumsum'ing
    per-char output lengths into an offset map, so EVERY line is a plain
    slice. Measured 18 → 3.7 ms on the sf0.01 batch; output identical on
    both fixture tiers, the property suite, and adversarial
    ligature/CRLF/control mixes. sort=True renders the same lines and
    only visits each turn's blocks in sort_order."""
    a_arr = seg.spans.start[seg.lines.start]
    z_arr = seg.spans.end[seg.lines.end - 1]
    # Boundary note: with collapse masked at line starts, a \r\n pair
    # straddling a line end keeps its \r as "\n" — that char is the
    # line's LAST and lines are rstripped, so outputs are unchanged from
    # the unmasked form either way; the mask is what makes the same
    # global pass exact for the unstripped span texts (arrow_out).
    g_full, off = postprocess_global(seg, a_arr)
    if off is None:
        a_l, z_l = a_arr.tolist(), z_arr.tolist()
    else:
        a_l, z_l = off[a_arr].tolist(), off[z_arr].tolist()
    line_strs = [g_full[a:z].rstrip() for a, z in zip(a_l, z_l)]
    block_bbox = seg.blocks.bbox
    line_lo = seg.blocks.line_lo.tolist()
    line_hi = seg.blocks.line_hi.tolist()
    tb_lo = seg.turn_block_lo.tolist()
    tb_hi = seg.turn_block_hi.tolist()
    hy_l = ((seg.hy_cum[seg.turn_char_hi]
             - seg.hy_cum[seg.turn_char_lo]) > 0).tolist()
    out = []
    for t in range(seg.n_turns):
        parts = []
        blocks = range(tb_lo[t], tb_hi[t])
        if sort and blocks:
            blocks = [blocks[i] for i in sort_order(
                block_bbox[tb_lo[t]:tb_hi[t]], sort_tolerance)]
        for b in blocks:
            # The reference builds "".join(line + "\n")·rstrip() + "\n\n"
            # per block. With every line already rstripped (ends
            # non-whitespace or empty), that equals
            # "\n".join(lines).rstrip() + "\n\n": the outer rstrip can
            # only eat the final newline run left by trailing empty
            # lines, never reach into line content.
            parts.append("\n".join(line_strs[line_lo[b]:line_hi[b]]).rstrip())
            parts.append("\n\n")
        text = "".join(parts)
        if hy_l[t]:
            text = handle_hyphens(text, keep_hyphens=hyphens)
        elif not hyphens:
            text = text[:-1]
        out.append(text.strip())
    return out
