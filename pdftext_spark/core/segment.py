"""Batch-vectorized char→word→span→line→block segmentation (W1-W6).

The reference builds each page's hierarchy with per-char Python loops
(pdftext/pdf/chars.py:58-115, pdftext/pdf/pages.py:77-257). Here the same
break conditions are evaluated as numpy lag-comparisons over *all chars of
all turns in an Arrow batch at once*; turn boundaries are forced breaks.

The only conditions that cannot be pure lag+cumsum are the ones that
reference the *running merged bbox* of the segment being built
(SURVEY.md §4.3; pages.py:116-121 span superscript break, pages.py:157-159
line y-overflow break). Those are solved by iterative refinement: compute
segmented cumulative bboxes, find the FIRST violation per segment, split
there, recompute. Each round's first-violations are exact (the prefix of
every segment is already final), so the result is bit-identical to the
reference's sequential scan; rounds needed = max extra splits in any one
segment (0 for prose, tiny in practice).

Block assembly (pages.py:167-257) runs per turn over *lines* — two to
three orders of magnitude fewer elements than chars — so a plain loop is
the right tool there, mirroring how the reference itself loops the short
part and vectorizes the heavy part (pdf/utils.py:41-59).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np

from pdftext_spark.core.geometry import envelope_reduceat, intersection_pct
from pdftext_spark.core.payload import DecodedTurn, font_tuple
from pdftext_spark.core.textproc import script_text_ok

# Codepoints that end a word when they are the previous char:
# '\n' (10), ' ' (32), '\x02' (2) — chars.py:84-86.
_WORD_END_CPS = np.array([10, 32, 2], dtype=np.uint32)
# Codepoints that end a span/line when previous: '\x02', '\n'
# — pages.py:111-113, pages.py:148-150.
_SPAN_END_CPS = np.array([2, 10], dtype=np.uint32)
# Odd 64-bit multipliers of _dup_masks' row hash (a wrapping uint64 dot
# product).
_ROW_MIX = np.array([0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F,
                     0x165667B19E3779F9, 0xD6E8FEB86659FD93,
                     0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53,
                     0x94D049BB133111EB, 0xBF58476D1CE4E5B9],
                    dtype=np.uint64)


@dataclass
class CharBatch:
    """All turns of a batch, concatenated into flat char-level arrays."""

    turns: list                 # list[DecodedTurn] (per-turn metadata)
    turn_of: np.ndarray         # (N,) int32 — batch-local turn index
    cps: np.ndarray             # (N,) uint32 codepoints
    boxes: np.ndarray           # (N, 4) float64 (normalized + rotated)
    rot: np.ndarray             # (N,) float64 char rotation
    font: np.ndarray            # (N,) int32 global font code
    char_idx: np.ndarray        # (N,) int32 original per-turn char index
    gtext: str                  # all chars concatenated (index-aligned)
    fonts: list                 # global font table: list[tuple(name,flags,size,weight)]


def build_char_batch(decoded: list[DecodedTurn]) -> CharBatch:
    font_codes: dict[tuple, int] = {}
    fonts: list[tuple] = []
    boxes, rot, font, texts = [], [], [], []
    lens: list[int] = []
    turn_ids: list[int] = []
    for t_i, dt in enumerate(decoded):
        n = len(dt.text)
        if n == 0:
            continue
        local_codes = np.empty(len(dt.fonts), dtype=np.int32)
        for j, f in enumerate(dt.fonts):
            key = font_tuple(f)
            code = font_codes.get(key)
            if code is None:
                code = font_codes[key] = len(fonts)
                fonts.append(key)
            local_codes[j] = code
        lens.append(n)
        turn_ids.append(t_i)
        boxes.append(dt.boxes)
        rot.append(dt.charrot)
        font.append(local_codes[dt.font_id])
        texts.append(dt.text)
    if not lens:
        empty = np.empty(0)
        return CharBatch(decoded, np.empty(0, np.int32), np.empty(0, np.uint32),
                         np.empty((0, 4)), empty, np.empty(0, np.int32),
                         np.empty(0, np.int32), "", fonts)
    # One joined encode + repeat/arange arithmetic replaces the old
    # per-turn np.full/np.frombuffer/np.arange round-trips (~4x on a
    # many-small-turns batch); bytes are identical because utf-32-le is
    # concatenation-stable.
    lens_a = np.asarray(lens, dtype=np.int64)
    total = int(lens_a.sum())
    gtext = "".join(texts)
    cps = np.frombuffer(gtext.encode("utf-32-le"), dtype=np.uint32)
    turn_of = np.repeat(np.asarray(turn_ids, dtype=np.int32), lens_a)
    starts = np.repeat((np.cumsum(lens_a) - lens_a).astype(np.int32), lens_a)
    char_idx = np.arange(total, dtype=np.int32) - starts
    # preallocate-and-fill beats vstack's per-piece overhead for many
    # small per-turn arrays
    all_boxes = np.empty((total, 4), dtype=np.float64)
    off = 0
    for b in boxes:
        all_boxes[off:off + len(b)] = b
        off += len(b)
    return CharBatch(
        turns=decoded,
        turn_of=turn_of,
        cps=cps,
        boxes=all_boxes,
        rot=np.concatenate(rot),
        font=np.concatenate(font),
        char_idx=char_idx,
        gtext=gtext,
        fonts=fonts,
    )


def _lag_breaks(cb_turn: np.ndarray, cps: np.ndarray, font: np.ndarray,
                rot: np.ndarray, end_cps: np.ndarray) -> np.ndarray:
    """Start-of-segment flags from pure lag comparisons."""
    n = len(cps)
    starts = np.zeros(n, dtype=bool)
    if n == 0:
        return starts
    starts[0] = True
    starts[1:] |= cb_turn[1:] != cb_turn[:-1]
    # 2-3 scalar compares beat np.isin's sort path ~8x at this set size
    prev = cps[:-1]
    acc = prev == end_cps[0]
    for cp in end_cps[1:]:
        acc |= prev == cp
    starts[1:] |= acc
    starts[1:] |= font[1:] != font[:-1]
    starts[1:] |= rot[1:] != rot[:-1]
    return starts


def _dup_masks(rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Duplicate rows of a C-contiguous (n, k<=8) int64 array: (equal to
    any other row, equal to an EARLIER row). A wrapping multiply-add
    hash picks the candidate rows; an exact stable lexsort over the
    candidates alone decides, so a hash collision costs time, never
    correctness."""
    n, k = rows.shape
    dup_any = np.zeros(n, dtype=bool)
    dup_later = np.zeros(n, dtype=bool)
    h = rows.view(np.uint64) @ _ROW_MIX[:k]
    o = np.argsort(h)
    hs = h[o]
    eq = hs[1:] == hs[:-1]
    if not eq.any():
        return dup_any, dup_later
    hit = np.zeros(n, dtype=bool)
    hit[o[1:][eq]] = True
    hit[o[:-1][eq]] = True
    cand = np.flatnonzero(hit)
    c = rows[cand]
    # stable: equal rows stay in original order, so each group's first
    # sorted member is its first-seen row
    order = np.lexsort(c.T[::-1])
    sc = c[order]
    same = (sc[1:] == sc[:-1]).all(axis=1)
    later = cand[order[1:][same]]
    dup_later[later] = True
    dup_any[later] = True
    dup_any[cand[order[:-1][same]]] = True
    return dup_any, dup_later


def word_dedup_mask(cb: CharBatch) -> np.ndarray:
    """W1 + A6: build words, first-seen-dedup them, return the char keep
    mask (chars.py:58-115).

    The reference keys on an f-string joined with '-' separators
    (chars.py:110), which is AMBIGUOUS: distinct field tuples can render
    the same string (e.g. text 'b' + rotation -0.0 collides with text
    'b-' + rotation 0.0) and the reference then dedups words a
    field-wise key would keep. The fast path below uses a field-wise
    int64 key, which is exactly the f-string partition whenever at most
    ONE field class in the turn can render a '-' (a squeeze argument:
    '-'-free fields left of the capable one are pinned by scanning to
    each separator, those right of it by scanning from the end, and the
    capable field is the remainder — the rounded-bbox list is always
    safe because both parses end at the string's first ']'). Turns where
    two or more classes are '-'-capable fall back to the literal
    reference f-string per word, reproducing the collision quirk
    bit-for-bit.

    The font component of the fast key is the global font CODE, which is
    value-factorized on the raw (name, flags, size, weight) tuple at
    batch build (_build above) — duplicate font-table entries therefore
    already share one code and dedup exactly as the reference's
    rendered-value key does. Remaining caveat: two entries whose fields
    differ only in TYPE but render identically (name None vs the string
    'None', flags 5 vs '5') dedup in the reference's f-string but stay
    distinct here; the payload contract types each field (str, int,
    float, int), so this cannot occur on schema-conforming input.
    """
    n = len(cb.cps)
    if n == 0:
        return np.zeros(0, dtype=bool)
    starts = _lag_breaks(cb.turn_of, cb.cps, cb.font, cb.rot, _WORD_END_CPS)
    s_idx = np.flatnonzero(starts)
    e_idx = np.append(s_idx[1:], n)
    env = envelope_reduceat(cb.boxes, s_idx)
    rb = np.round(env)  # round-half-even, matching Python round(x, 0) (chars.py:108)
    g = cb.gtext
    nw = len(s_idx)
    wturn = cb.turn_of[s_idx]
    rotw = np.ascontiguousarray(cb.rot[s_idx])
    # ONE hashing pass over the cheap (turn, rounded-bbox) pre-key — as
    # float BIT patterns, so -0.0 and 0.0 stay distinct like their
    # f-string renderings — serves two masters: (a) a full-key duplicate
    # always repeats (turn, rb), so only rb_dup words ever need their
    # text sliced/factorized and their rot/font compared for the exact
    # dedup; (b) the f-string collision gate below needs exactly this
    # set (rendered-key equality requires equal turn + rb, because both
    # parses of the reference f-string end at its first ']' — the
    # docstring's squeeze argument).
    k5 = np.empty((nw, 5), dtype=np.int64)
    k5[:, 0] = wturn
    k5[:, 1:5] = rb.view(np.int64)
    rb_dup = _dup_masks(k5)[0]
    keep_word = np.ones(nw, dtype=bool)
    if rb_dup.any():
        ci = np.flatnonzero(rb_dup)
        # plain-int slicing: str.__getitem__ on numpy int64 scalars pays
        # a per-call __index__ conversion — pre-tolist() halves this
        _cs, _ce = s_idx[ci].tolist(), e_idx[ci].tolist()
        ctexts = [g[a:b] for a, b in zip(_cs, _ce)]
        ckey = np.empty((len(ci), 8), dtype=np.int64)
        ckey[:, :5] = k5[ci]
        ckey[:, 5] = rotw[ci].view(np.int64)
        ckey[:, 6] = cb.font[s_idx[ci]]
        # text codes only feed row equality, so any injective code works
        tcode: dict = {}
        ckey[:, 7] = [tcode.setdefault(t, len(tcode)) for t in ctexts]
        # full-key duplicates restricted to the candidate subset give
        # the global verdict: any full-key-equal pair is (turn, rb)-
        # equal, so both members are in `ci`, in original order
        keep_word[ci] = ~_dup_masks(ckey)[1]

    # --- f-string collision gate (see docstring). Field classes that can
    # put a '-' into the rendered key: text chars, rotation repr (sign,
    # or |x| < 1e-4 which reprs as '1e-05'), and each font field. Count
    # classes per turn; >= 2 -> exact reference keys for that turn.
    # Batch-wide short-circuit first: if fewer than two classes are
    # capable ANYWHERE in the batch (the overwhelmingly common case — a
    # '-' in font names alone, as in 'Serif-Bold', is provably safe), no
    # per-turn refinement runs at all.
    dash_char = cb.cps == 45
    rot_dash = np.signbit(rotw) | ((rotw != 0) & (np.abs(rotw) < 1e-4))
    font_dash = np.asarray(
        [["-" in str(f[0]), "-" in repr(f[1]),
          "-" in repr(f[2]), "-" in repr(f[3])] for f in cb.fonts],
        dtype=bool).reshape(len(cb.fonts), 4)
    n_capable = (int(dash_char.any()) + int(rot_dash.any())
                 + int(font_dash.any(axis=0).sum()))
    if n_capable < 2:
        return np.repeat(keep_word, e_idx - s_idx)
    n_turns = len(cb.turns)
    cls = np.zeros((n_turns, 6), dtype=bool)
    if dash_char.any():
        cls[np.unique(cb.turn_of[dash_char]), 0] = True
    if rot_dash.any():
        cls[np.unique(wturn[rot_dash]), 1] = True
    if font_dash.any():
        fw = cb.font[s_idx]
        for j in range(4):
            m = font_dash[fw, j]
            if m.any():
                cls[np.unique(wturn[m]), 2 + j] = True
    amb_turns = cls.sum(axis=1) >= 2
    if amb_turns.any():
        # Words whose (turn, rb) pair is unique can neither collide with
        # nor shadow any other word under the rendered key (see the
        # rb_dup derivation above) — the literal per-word f-string loop
        # only needs to run over (turn, rb)-repeated words in ambiguous
        # turns; every other word's fast-key verdict stands.
        cand_w = amb_turns[wturn] & rb_dup
        if cand_w.any():
            fonts = cb.fonts
            fcodes = cb.font[s_idx]
            seen: set = set()
            for i in np.flatnonzero(cand_w).tolist():
                f = fonts[int(fcodes[i])]
                rbl = [float(v) for v in rb[i]]
                k = (int(wturn[i]),
                     f"{rbl}-{g[s_idx[i]:e_idx[i]]}-{float(rotw[i])}"
                     f"-{f[0]}-{f[1]}-{f[2]}-{f[3]}")
                if k in seen:
                    keep_word[i] = False
                else:
                    seen.add(k)
                    keep_word[i] = True
    return np.repeat(keep_word, e_idx - s_idx)


def apply_mask(cb: CharBatch, mask: np.ndarray) -> CharBatch:
    if mask.all():
        return cb
    # dropped chars come in word-sized runs, so the kept text is a small
    # number of contiguous slices of the old gtext — join those instead
    # of round-tripping every kept codepoint through utf-32
    m8 = mask.view(np.int8)
    edges = np.flatnonzero(m8[1:] != m8[:-1]) + 1
    bounds = np.empty(len(edges) + 2, dtype=np.int64)
    bounds[0] = 0
    bounds[1:-1] = edges
    bounds[-1] = len(mask)
    first_kept = 0 if mask[0] else 1
    g = cb.gtext
    gtext = "".join(
        g[a:b] for a, b in zip(bounds[first_kept:-1:2].tolist(),
                               bounds[first_kept + 1::2].tolist()))
    return CharBatch(
        turns=cb.turns,
        turn_of=cb.turn_of[mask],
        cps=cb.cps[mask],
        boxes=cb.boxes[mask],
        rot=cb.rot[mask],
        font=cb.font[mask],
        char_idx=cb.char_idx[mask],
        gtext=gtext,
        fonts=cb.fonts,
    )


def _segment_running_envelope(starts: np.ndarray, boxes: np.ndarray) -> np.ndarray:
    """Per-row running bbox envelope (cummin x1/y1, cummax x2/y2) with
    resets at segment starts — Hillis-Steele doubling, O(n · log maxseg)
    pure numpy. Fancy-indexed reads are materialized before the write, so
    each round combines prefix-2^k values synchronously."""
    m = len(starts)
    run = boxes.copy()
    if m == 0:
        return run
    idx = np.arange(m)
    seg_start_pos = np.flatnonzero(starts)
    dist = idx - seg_start_pos[np.cumsum(starts) - 1]
    maxd = int(dist.max())
    shift = 1
    while shift <= maxd:
        valid = np.flatnonzero(dist >= shift)
        src = valid - shift
        run[valid, :2] = np.minimum(run[valid, :2], run[src, :2])
        run[valid, 2:] = np.maximum(run[valid, 2:], run[src, 2:])
        shift <<= 1
    return run


def _refine_running_breaks(starts: np.ndarray, boxes: np.ndarray,
                           violate: Callable[[np.ndarray, np.ndarray], np.ndarray],
                           candidates: Optional[np.ndarray] = None,
                           max_rounds: int = 4096) -> np.ndarray:
    """Iteratively add breaks where `violate(running_bbox_before_elem, elem)`
    holds, taking only the first violation per segment each round (see
    module docstring for the exactness argument).

    After round 1 only the tails of split segments can change, so later
    rounds operate on the shrinking affected subset — total work is
    O(N + splits · avg_segment_len), not O(N · rounds)."""
    n = len(starts)
    if n == 0:
        return starts
    starts = starts.copy()
    if candidates is not None:
        # restrict round 1 to segments containing at least one row passing
        # the caller's cheap NECESSARY condition for a violation — segments
        # without any candidate can never split
        cand = candidates & ~starts
        if not cand.any():
            return starts
        seg = np.cumsum(starts) - 1
        has = np.zeros(int(seg[-1]) + 1, dtype=bool)
        has[seg[cand]] = True
        index = np.flatnonzero(has[seg])
    else:
        index = np.arange(n)  # current active rows (whole remaining segments)
    for _ in range(max_rounds):
        sub_starts = starts[index]
        sub_boxes = boxes[index]
        run = _segment_running_envelope(sub_starts, sub_boxes)
        prev = np.empty_like(run)
        prev[1:] = run[:-1]
        prev[0] = 0.0
        viol = violate(prev, sub_boxes) & ~sub_starts
        if not viol.any():
            return starts
        m = len(index)
        pos = np.arange(m)
        cand = np.where(viol, pos, m)
        seg_start_pos = np.flatnonzero(sub_starts)
        firsts = np.minimum.reduceat(cand, seg_start_pos)
        firsts = firsts[firsts < m]
        if firsts.size == 0:
            return starts
        starts[index[firsts]] = True
        # next round: only rows from each new break to its old segment end
        seg_end_pos = np.append(seg_start_pos[1:], m)
        ends = seg_end_pos[np.searchsorted(seg_start_pos, firsts, side="right") - 1]
        index = np.concatenate([index[a:b] for a, b in zip(firsts, ends)])
    raise RuntimeError("running-bbox refinement did not converge")


def span_starts(cb: CharBatch, superscript_height_threshold: float,
                line_distance_threshold: float) -> np.ndarray:
    """W2 — char→span breaks (pages.py:77-129), superscript break included."""
    starts = _lag_breaks(cb.turn_of, cb.cps, cb.font, cb.rot, _SPAN_END_CPS)

    def sup_violate(prev: np.ndarray, cur: np.ndarray) -> np.ndarray:
        h = prev[:, 3] - prev[:, 1]
        return (
            (cur[:, 1] < prev[:, 1] - h * line_distance_threshold)
            & (cur[:, 3] < h * superscript_height_threshold + prev[:, 1])
            & (cur[:, 0] > prev[:, 2])
        )

    # necessary condition vs the immediate predecessor: a violation needs
    # cur.y1 < run_min_y1 <= lag.y1 and cur.x1 > run_max_x2 >= lag.x2
    boxes = cb.boxes
    cand = np.zeros(len(starts), dtype=bool)
    if len(starts) > 1:
        cand[1:] = (boxes[1:, 1] < boxes[:-1, 1]) & (boxes[1:, 0] > boxes[:-1, 2])
    return _refine_running_breaks(starts, boxes, sup_violate, candidates=cand)


@dataclass
class SpanTable:
    start: np.ndarray           # (S,) char offset of first char (post-dedup index)
    end: np.ndarray             # (S,) exclusive
    turn: np.ndarray            # (S,)
    bbox: np.ndarray            # (S, 4)
    rot: np.ndarray             # (S,)
    font: np.ndarray            # (S,) global font code
    char_start_idx: np.ndarray  # (S,) original char_idx of first char
    char_end_idx: np.ndarray    # (S,) original char_idx of last char
    superscript: np.ndarray     # (S,) bool
    subscript: np.ndarray       # (S,) bool


def build_span_table(cb: CharBatch, starts: np.ndarray) -> SpanTable:
    s_idx = np.flatnonzero(starts)
    e_idx = np.append(s_idx[1:], len(starts))
    nspans = len(s_idx)
    return SpanTable(
        start=s_idx,
        end=e_idx,
        turn=cb.turn_of[s_idx],
        bbox=envelope_reduceat(cb.boxes, s_idx) if nspans else np.empty((0, 4)),
        rot=cb.rot[s_idx],
        font=cb.font[s_idx],
        char_start_idx=cb.char_idx[s_idx],
        char_end_idx=cb.char_idx[e_idx - 1] if nspans else np.empty(0, np.int32),
        superscript=np.zeros(nspans, dtype=bool),
        subscript=np.zeros(nspans, dtype=bool),
    )


@dataclass
class LineTable:
    start: np.ndarray   # (L,) span offset of first span
    end: np.ndarray     # (L,) exclusive
    turn: np.ndarray    # (L,)
    bbox: np.ndarray    # (L, 4)
    rot: np.ndarray     # (L,)


def line_starts(cb: CharBatch, spans: SpanTable) -> np.ndarray:
    """W3 — span→line breaks (pages.py:132-164)."""
    ns = len(spans.start)
    starts = np.zeros(ns, dtype=bool)
    if ns == 0:
        return starts
    starts[0] = True
    starts[1:] |= spans.turn[1:] != spans.turn[:-1]
    last_cp = cb.cps[spans.end - 1]
    starts[1:] |= np.isin(last_cp[:-1], _SPAN_END_CPS)
    starts[1:] |= spans.rot[1:] != spans.rot[:-1]

    def y_violate(prev: np.ndarray, cur: np.ndarray) -> np.ndarray:
        return cur[:, 1] > prev[:, 3]

    # necessary condition: cur.y1 > run_max_y2 >= lag.y2
    sb = spans.bbox
    cand = np.zeros(ns, dtype=bool)
    if ns > 1:
        cand[1:] = sb[1:, 1] > sb[:-1, 3]
    return _refine_running_breaks(starts, sb, y_violate, candidates=cand)


def build_line_table(spans: SpanTable, starts: np.ndarray) -> LineTable:
    s_idx = np.flatnonzero(starts)
    e_idx = np.append(s_idx[1:], len(starts))
    return LineTable(
        start=s_idx,
        end=e_idx,
        turn=spans.turn[s_idx],
        bbox=envelope_reduceat(spans.bbox, s_idx) if len(s_idx) else np.empty((0, 4)),
        rot=spans.rot[s_idx],
    )


def assign_scripts(cb: CharBatch, spans: SpanTable, lines: LineTable,
                   height_threshold: float, line_distance_threshold: float) -> None:
    """W6 — super/subscript flags per span (pages.py:22-74), in place.

    Fully BATCHED across lines: every per-span quantity (neighbor
    comparisons, fullheight ratios, the vs-every-other-span above/below
    tests) is one numpy pass over the concatenation of all candidate
    lines' spans — the per-line loop and its small-array overhead are
    gone. The reference's O(nsp²) "any other span" test becomes a
    max-excluding-self per line (tj < max_{k≠j} up_lim[k] is the same
    predicate). The only Python left is the per-span text gate, and the
    script_text_ok call runs only on spans that already pass every
    geometric gate. All float ops match the scalar formulation
    (IEEE double either way), so flags are bit-identical.
    """
    if len(lines.start) == 0:
        return
    # Line pre-filter. A span can only be flagged when its
    # line_fullheight ratio h / max(1, line_h) <= threshold (pages.py:39),
    # so a line whose MINIMUM span-height ratio fails can emit nothing —
    # along with the <2-span and vertical-line skips (pages.py:25-30).
    sp_h_all = spans.bbox[:, 3] - spans.bbox[:, 1]
    ln_w = lines.bbox[:, 2] - lines.bbox[:, 0]
    ln_h = lines.bbox[:, 3] - lines.bbox[:, 1]
    n_sp = lines.end - lines.start
    min_sh = np.minimum.reduceat(sp_h_all, lines.start)
    cand = ((n_sp >= 2) & (ln_h <= ln_w)
            & (min_sh / np.maximum(1.0, ln_h) <= height_threshold))
    if not cand.any():
        return

    cl = np.flatnonzero(cand)
    lo = lines.start[cl]
    cnt = (lines.end - lines.start)[cl]          # >= 2 by the filter
    total = int(cnt.sum())
    lstart = np.cumsum(cnt) - cnt                # segment starts in flat space
    line_ord = np.repeat(np.arange(len(cl)), cnt)
    flat = np.arange(total) - lstart[line_ord] + np.repeat(lo, cnt)

    tops = spans.bbox[flat, 1]
    bottoms = spans.bbox[flat, 3]
    heights = bottoms - tops
    ldt = line_distance_threshold
    up_lim = tops - heights * ldt
    dn_lim = bottoms + heights * ldt

    first = np.zeros(total, dtype=bool)
    first[lstart] = True
    last = np.zeros(total, dtype=bool)
    last[lstart + cnt - 1] = True

    # blank-neighbor checks (reference prev_span = previously iterated =
    # j-1): texts materialized once per candidate span
    s_start = spans.start[flat].tolist()
    s_end = spans.end[flat].tolist()
    gtext = cb.gtext
    texts = [gtext[a:b] for a, b in zip(s_start, s_end)]
    blank = np.fromiter((not t.strip() for t in texts), dtype=bool,
                        count=total)
    prev_blank = np.empty(total, dtype=bool)
    prev_blank[0] = False
    prev_blank[1:] = blank[:-1]
    next_blank = np.empty(total, dtype=bool)
    next_blank[-1] = False
    next_blank[:-1] = blank[1:]
    is_first = first | prev_blank
    is_last = last | next_blank

    # fullheight gates (pages.py:37-41); shifted values at line borders
    # are masked by is_first/is_last exactly like the scalar short-circuit
    h_prev = np.empty(total)
    h_prev[0] = 1.0
    h_prev[1:] = heights[:-1]
    h_next = np.empty(total)
    h_next[-1] = 1.0
    h_next[:-1] = heights[1:]
    line_h_div = np.maximum(1.0, ln_h[cl])
    line_fullheight = heights / line_h_div[line_ord] <= height_threshold
    prev_fullheight = is_first | (heights / np.maximum(1.0, h_prev)
                                  <= height_threshold)
    next_fullheight = is_last | (heights / np.maximum(1.0, h_next)
                                 <= height_threshold)
    gate = (prev_fullheight | next_fullheight) & line_fullheight
    if not gate.any():
        return

    def _excl_self(vals, reducer, sentinel):
        """Per line, reducer(vals over k != j) for each j, via the
        best/second-best trick (duplicate extrema handled by counting)."""
        m1 = reducer.reduceat(vals, lstart)
        at_ext = vals == m1[line_ord]
        n_ext = np.add.reduceat(at_ext, lstart)
        m2 = reducer.reduceat(np.where(at_ext, sentinel, vals), lstart)
        return np.where(at_ext & (n_ext[line_ord] == 1),
                        m2[line_ord], m1[line_ord])

    above = tops < _excl_self(up_lim, np.maximum, -np.inf)
    below = bottoms > _excl_self(dn_lim, np.minimum, np.inf)

    t_prev = np.empty(total)
    t_prev[0] = 0.0
    t_prev[1:] = tops[:-1]
    t_next = np.empty(total)
    t_next[-1] = 0.0
    t_next[:-1] = tops[1:]
    b_prev = np.empty(total)
    b_prev[0] = 0.0
    b_prev[1:] = bottoms[:-1]
    b_next = np.empty(total)
    b_next[-1] = 0.0
    b_next[:-1] = bottoms[1:]
    sup_geo = gate & above & (is_first | (tops < t_prev)
                              | is_last | (tops < t_next))
    sub_geo = gate & below & (is_first | (bottoms > b_prev)
                              | is_last | (bottoms > b_next))
    need_text = sup_geo | sub_geo
    gi = np.flatnonzero(need_text)
    if len(gi) == 0:
        return
    text_ok = np.zeros(total, dtype=bool)
    for i in gi.tolist():
        text_ok[i] = script_text_ok(texts[i])
    sup = sup_geo & text_ok
    sub = sub_geo & text_ok & ~sup  # reference elif: superscript wins
    spans.superscript[flat[sup]] = True
    spans.subscript[flat[sub]] = True


@dataclass
class BlockTable:
    """Blocks per turn as contiguous line ranges (merging only ever joins
    adjacent-in-order lines/blocks, pages.py:190-257)."""

    line_lo: np.ndarray   # (B,) first line index
    line_hi: np.ndarray   # (B,) exclusive
    turn: np.ndarray      # (B,)
    bbox: np.ndarray      # (B, 4)


def build_blocks(lines: LineTable, n_turns: int,
                 tolerance_factor: float = 1.5,
                 default_median_gap: float = 0.1) -> BlockTable:
    """W4 + A4 + W5 — line→block assembly per turn (pages.py:167-257)."""
    out_lo: list[int] = []
    out_hi: list[int] = []
    out_turn: list[int] = []
    out_bbox: list[list] = []

    # bulk numpy->python once; the per-turn loops then run on plain floats
    all_bbox = lines.bbox.tolist()
    turn_line_lo = np.searchsorted(lines.turn, np.arange(n_turns), side="left").tolist()
    turn_line_hi = np.searchsorted(lines.turn, np.arange(n_turns), side="right").tolist()

    def _median(vals: list) -> float:
        # statistics.median semantics: sorted middle / mean of the two middles
        sv = sorted(vals)
        m = len(sv) // 2
        return sv[m] if len(sv) % 2 else (sv[m - 1] + sv[m]) / 2

    def _pct(a: list, b: list) -> float:
        # intersection_pct on plain floats (schema.py:75-80)
        area = (a[2] - a[0]) * (a[3] - a[1])
        if area == 0:
            return 0.0
        w = min(a[2], b[2]) - max(a[0], b[0])
        if w <= 0:
            return 0.0
        h = min(a[3], b[3]) - max(a[1], b[1])
        if h <= 0:
            return 0.0
        return (w * h) / area

    for t in range(n_turns):
        lo, hi = turn_line_lo[t], turn_line_hi[t]
        if lo >= hi:
            continue
        lb = all_bbox[lo:hi]
        cx = [(b[0] + b[2]) / 2 for b in lb]
        cy = [(b[1] + b[3]) / 2 for b in lb]
        # A4 — median center gaps; `or`-fallback to 0.1 when empty OR zero
        # (pages.py:171-188)
        if hi - lo > 1:
            median_x = _median([abs(cx[i + 1] - cx[i]) for i in range(len(cx) - 1)]) \
                or default_median_gap
            median_y = _median([abs(cy[i + 1] - cy[i]) for i in range(len(cy) - 1)]) \
                or default_median_gap
        else:
            median_x = median_y = default_median_gap
        allowed_x = median_x * tolerance_factor
        allowed_y = median_y * tolerance_factor
        allowed_y_tiny = allowed_y * 0.2

        blocks: list[list] = []  # [line_lo, line_hi, bbox]
        for i in range(hi - lo):
            box = lb[i]
            if not blocks:
                blocks.append([i, i + 1, list(box)])
                continue
            blk = blocks[-1]
            last = lb[blk[1] - 1]  # last line in current block
            x_diff = abs(cx[i] - (last[0] + last[2]) / 2)
            y_diff = abs(cy[i] - (last[1] + last[3]) / 2)
            if ((x_diff <= allowed_x and y_diff <= allowed_y)
                    # first-line indent exception (pages.py:215-219)
                    or (blk[1] - blk[0] == 1 and last[0] > box[0] and y_diff <= allowed_y)
                    # short-last-line exception (pages.py:221-224)
                    or (last[2] > box[2] and y_diff <= allowed_y)
                    # tiny-y continuation (pages.py:227-230)
                    or (y_diff < allowed_y_tiny and last[2] > box[0])
                    # running-block intersection (pages.py:232-234)
                    or _pct(blk[2], box) > 0):
                blk[1] = i + 1
                bb = blk[2]
                if box[0] < bb[0]:
                    bb[0] = box[0]
                if box[1] < bb[1]:
                    bb[1] = box[1]
                if box[2] > bb[2]:
                    bb[2] = box[2]
                if box[3] > bb[3]:
                    bb[3] = box[3]
            else:
                blocks.append([i, i + 1, list(box)])

        # W5 — forward merge of overlapping blocks (pages.py:239-257)
        merged: list[list] = []
        for blk in blocks:
            if merged and _pct(merged[-1][2], blk[2]) > 0:
                prev = merged[-1]
                prev[1] = blk[1]
                pb = prev[2]
                bb = blk[2]
                if bb[0] < pb[0]:
                    pb[0] = bb[0]
                if bb[1] < pb[1]:
                    pb[1] = bb[1]
                if bb[2] > pb[2]:
                    pb[2] = bb[2]
                if bb[3] > pb[3]:
                    pb[3] = bb[3]
            else:
                merged.append(blk)

        for blk in merged:
            out_lo.append(lo + blk[0])
            out_hi.append(lo + blk[1])
            out_turn.append(t)
            out_bbox.append(blk[2])

    if not out_lo:
        return BlockTable(np.empty(0, np.int64), np.empty(0, np.int64),
                          np.empty(0, np.int32), np.empty((0, 4)))
    return BlockTable(
        line_lo=np.asarray(out_lo, dtype=np.int64),
        line_hi=np.asarray(out_hi, dtype=np.int64),
        turn=np.asarray(out_turn, dtype=np.int32),
        bbox=np.asarray(out_bbox, dtype=np.float64),
    )


@dataclass
class Segmentation:
    chars: CharBatch            # post-dedup
    spans: SpanTable
    lines: LineTable
    blocks: BlockTable
    n_turns: int
    # per-turn block index ranges into BlockTable
    turn_block_lo: np.ndarray
    turn_block_hi: np.ndarray
    # prefix sums (length N+1) of text-pass flags over post-dedup chars:
    # translate-needed, control-delete-needed, hyphen-sentinel — assembly
    # skips whole string passes for ranges where the delta is zero
    tr_cum: np.ndarray = None
    cc_cum: np.ndarray = None
    hy_cum: np.ndarray = None
    # per-turn char/span/line ranges into the post-dedup arrays
    turn_char_lo: np.ndarray = None
    turn_char_hi: np.ndarray = None
    turn_span_lo: np.ndarray = None
    turn_span_hi: np.ndarray = None
    turn_line_lo: np.ndarray = None
    turn_line_hi: np.ndarray = None


def segment_batch(decoded: list[DecodedTurn],
                  superscript_height_threshold: float = 0.7,
                  line_distance_threshold: float = 0.1,
                  tolerance_factor: float = 1.5,
                  with_scripts: bool = True,
                  default_median_gap: float = 0.1) -> Segmentation:
    """Full W1→W6 pipeline over a batch of decoded turns.

    with_scripts=False skips W6 flag assignment — the flags are pure span
    metadata (never consulted by text render, blocks, links or tables), so
    plain-text-only callers save the per-line scan."""
    cb0 = build_char_batch(decoded)
    cb = apply_mask(cb0, word_dedup_mask(cb0)) if len(cb0.cps) else cb0
    sp_starts = span_starts(cb, superscript_height_threshold, line_distance_threshold)
    spans = build_span_table(cb, sp_starts)
    ln_starts = line_starts(cb, spans)
    lines = build_line_table(spans, ln_starts)
    if with_scripts:
        assign_scripts(cb, spans, lines, superscript_height_threshold,
                       line_distance_threshold)
    n_turns = len(decoded)
    blocks = build_blocks(lines, n_turns, tolerance_factor,
                          default_median_gap)
    tb_lo = np.searchsorted(blocks.turn, np.arange(n_turns), side="left")
    tb_hi = np.searchsorted(blocks.turn, np.arange(n_turns), side="right")
    from pdftext_spark.core.textproc import batch_text_flags
    tr, cc, hy = batch_text_flags(cb.cps)
    zero = np.zeros(1, dtype=np.int64)
    tr_cum = np.concatenate([zero, np.cumsum(tr, dtype=np.int64)])
    cc_cum = np.concatenate([zero, np.cumsum(cc, dtype=np.int64)])
    hy_cum = np.concatenate([zero, np.cumsum(hy, dtype=np.int64)])
    ids = np.arange(n_turns, dtype=cb.turn_of.dtype if len(cb.turn_of) else np.int32)
    tc_lo = np.searchsorted(cb.turn_of, ids, side="left")
    tc_hi = np.searchsorted(cb.turn_of, ids, side="right")
    ts_lo = np.searchsorted(spans.turn, ids, side="left")
    ts_hi = np.searchsorted(spans.turn, ids, side="right")
    tl_lo = np.searchsorted(lines.turn, ids, side="left")
    tl_hi = np.searchsorted(lines.turn, ids, side="right")
    return Segmentation(cb, spans, lines, blocks, n_turns, tb_lo, tb_hi,
                        tr_cum, cc_cum, hy_cum, tc_lo, tc_hi,
                        ts_lo, ts_hi, tl_lo, tl_hi)
