"""Char-stream payload decode — the S3 scan analog.

A document-like turn's ``text`` column holds a columnar JSON payload (the
transcript analog of what pdfium hands the reference per page,
pdftext/pdf/chars.py:17-39):

```
{"kind": "chars",
 "page_bbox": [x0, y0, x1, y1],      # raw page box; width/height via ceil(abs(...))
 "rotation": 0,                       # page rotation in {0, 90, 180, 270}
 "text": "<all chars concatenated>",  # char i = text[i]
 "bbox": [x1,y1,x2,y2, ...],          # 4N floats, top-left origin, pre-rotation
 "charrot": [r0, r1, ...] | r,        # per-char rotation; scalar when constant
 "fonts": [{"name","flags","size","weight"}, ...],   # font table
 "font_id": [f0, f1, ...] | f,        # per-char font-table index; scalar when constant
 "tbox": {"<char_idx>": [4 floats]},  # sparse tight boxes (rotated chars/quotes)
 "links": [{"bbox":[4], "dest_page":int|null, "dest_pos":[x,y]|null, "url":str|null}],
 "tables": [[x1,y1,x2,y2], ...], "img_size": [w, h]}
```

Decode mirrors get_chars (chars.py:10-55): pick the tight box when the
char is rotated or is a bare quote with ``quote_loosebox=False``
(chars.py:21-23), min/max-normalize corners (chars.py:34), rotate by the
page rotation (chars.py:35). The payload is already top-left-origin, so
the bottom-left flip (chars.py:26-32) is the generator's job.

Turns whose ``text`` does not parse as a payload (plain prose, HTML) are
routed elsewhere by the caller; `decode_turn` returns None for them.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from typing import Any, Optional

import numpy as np

from pdftext_spark.core.geometry import normalize_boxes, rotate_boxes

_FONT_KEYS = ("name", "flags", "size", "weight")


@dataclass
class DecodedTurn:
    """One turn's char stream in numpy form (post rotate/normalize)."""

    page_bbox: list  # raw payload page_bbox
    rotation: int
    page_width: int
    page_height: int
    text: str                    # chars concatenated, index-aligned with arrays
    boxes: np.ndarray            # (N, 4) float64
    charrot: np.ndarray          # (N,) float64
    font_id: np.ndarray          # (N,) int32 — LOCAL font-table index
    fonts: list                  # local font table (dicts with _FONT_KEYS)
    links: list = field(default_factory=list)
    tables: list = field(default_factory=list)
    img_size: Optional[list] = None


try:  # optional fast path: bit-exact double parsing, ~3x faster tokenizer
    import orjson as _fastjson
except ImportError:  # pragma: no cover - env without orjson
    _fastjson = None


def maybe_parse_payload_raw(raw) -> Optional[dict]:
    """The payload dict of a turn, or None when the turn is not a chars
    payload (prose, HTML, other JSON, invalid JSON). `raw` is a UTF-8
    bytes-like view — in the kernel a memoryview of the Arrow string
    buffer: skipping the Arrow→str decode AND orjson's internal
    str→UTF-8 re-encode is ~45% of the scan-and-parse cost on a payload
    corpus."""
    if not raw or raw[0] != 0x7B:  # '{'
        return None
    obj = None
    if _fastjson is not None:
        try:
            obj = _fastjson.loads(raw)
        except ValueError:
            obj = None  # stricter than stdlib (NaN, >64-bit ints): retry below
    if obj is None:
        try:
            # strict decode: json.loads(bytes) decodes with surrogatepass,
            # passing a lone surrogate on to segmentation, where it fails
            # the whole batch instead of this turn
            obj = json.loads(str(raw, "utf-8"))
        except ValueError:
            return None
        if isinstance(obj, dict) and obj.get("kind") == "chars":
            # ...and a "\ud800" escape decodes to one as well (orjson
            # rejects it): a strict re-encode raises UnicodeEncodeError
            # here, inside the caller's per-turn error channel. So do
            # NaN, Infinity and 1e400 (-> inf), which orjson rejects too:
            # allow_nan=False raises ValueError for one anywhere in the
            # payload, read by the kernel or not, so a chars payload
            # must be RFC 8259 JSON on either parser
            json.dumps(obj, ensure_ascii=False,
                       allow_nan=False).encode("utf-8")
            return obj
        return None
    if isinstance(obj, dict) and obj.get("kind") == "chars":
        return obj
    return None


def decode_turn(obj: dict, quote_loosebox: bool = True) -> DecodedTurn:
    pb = [float(v) for v in obj["page_bbox"]]
    rotation = int(obj.get("rotation", 0))
    # width/height contract: ceil(abs(x1-x0)), ceil(abs(y0-y1))
    # (pages.py:279-280, chars.py:14-15 — both reduce to the same values)
    page_w = math.ceil(abs(pb[2] - pb[0]))
    page_h = math.ceil(abs(pb[1] - pb[3]))
    if not (_int32(page_w) and _int32(page_h)):
        # the int32 width/height columns would wrap it silently
        raise ValueError("page_bbox width/height exceed int32")

    text: str = obj.get("text", "")
    n = len(text)
    boxes = np.asarray(obj.get("bbox", []), dtype=np.float64).reshape(n, 4)

    # Length/bounds validation HERE, inside the caller's per-turn error
    # channel: a malformed-but-parseable payload (short charrot, font_id
    # past the font table) would otherwise surface later in segment_batch
    # as a numpy broadcast/IndexError OUTSIDE the per-turn try, killing
    # every turn of the Arrow batch instead of just this one.
    cr = obj.get("charrot", 0.0)
    charrot = (np.full(n, float(cr)) if not isinstance(cr, list)
               else np.asarray(cr, dtype=np.float64))
    if len(charrot) != n:
        raise ValueError(f"charrot length {len(charrot)} != text length {n}")

    fid = obj.get("font_id", 0)
    fonts = obj.get("fonts") or [{"name": "", "flags": 0, "size": 0.0, "weight": 0}]
    for f in fonts:
        # keep malformed font tables failing HERE, inside the caller's
        # per-turn error channel, not later in build_char_batch or in the
        # Arrow font columns, where one bad turn would kill the whole batch
        if not isinstance(f, dict):
            raise ValueError("fonts entries must be objects")
        for key, fits in _FONT_FIELDS:
            if f.get(key) is not None and not fits(f[key]):
                raise ValueError(f"font {key} {f[key]!r} does not fit its "
                                 "Arrow type")
    if not isinstance(fid, list):
        # scalar fast path: bounds-check the one value, skip the array scan
        fid = int(fid)
        if n and not 0 <= fid < len(fonts):
            raise ValueError(
                f"font_id out of range [0, {len(fonts)}) for the fonts table")
        font_id = np.full(n, fid, dtype=np.int32)
    else:
        font_id = np.asarray(fid, dtype=np.int32)
        if len(font_id) != n:
            raise ValueError(f"font_id length {len(font_id)} != text length {n}")
        if n and (int(font_id.min()) < 0 or int(font_id.max()) >= len(fonts)):
            raise ValueError(
                f"font_id out of range [0, {len(fonts)}) for the fonts table")

    # Tight-box substitution: loose box only when the char is unrotated and
    # (not a quote, or quote_loosebox) — chars.py:21-23.
    tbox = obj.get("tbox")
    if tbox:
        for k, tb in tbox.items():
            i = int(k)
            if not 0 <= i < n:  # "-1" would index the last char's box
                raise ValueError(f"tbox key {k!r} out of range [0, {n})")
            loose = (charrot[i] == 0) and (text[i] != "'" or quote_loosebox)
            if not loose:
                boxes[i] = tb

    # links and table regions are read after segmentation (core/links.py,
    # core/tables.py) and in the Arrow span/link_dests columns, all
    # outside the per-turn error channel: check them here
    links = obj.get("links") or []
    for ln in links:
        _check_link(ln)
    tables = obj.get("tables") or []
    img_size = obj.get("img_size")
    if tables and img_size:  # read together, and only together
        for tb in tables:
            _floats(tb, 4, "tables entries")
        if not (isinstance(img_size, list) and len(img_size) >= 2
                and all(isinstance(v, (int, float)) for v in img_size[:2])):
            raise ValueError("img_size must hold 2 numbers")

    boxes = normalize_boxes(boxes)
    boxes = rotate_boxes(boxes, page_w, page_h, rotation)

    return DecodedTurn(
        page_bbox=pb,
        rotation=rotation,
        page_width=page_w,
        page_height=page_h,
        text=text,
        boxes=boxes,
        charrot=charrot,
        font_id=font_id,
        # raw dicts pass through: every consumer reads them via
        # font_tuple(), whose .get() normalization makes the old
        # key-projection copy redundant
        fonts=fonts,
        links=links,
        tables=tables,
        img_size=img_size,
    )


def _int32(v, coerce: bool = False) -> bool:
    """Whether int(v) fits an int32 column: a non-bool number whose
    truncation fits; with coerce, whatever int() takes, as core/links.py
    registers int(dest_page). core/arrow_out.py builds the int32 columns
    from numpy buffers, and numpy wraps a value past int32 silently, so
    this check is what keeps such a value an error row."""
    if not coerce and (isinstance(v, bool) or not isinstance(v, (int, float))):
        return False
    try:
        return -2**31 <= int(v) < 2**31
    except (TypeError, ValueError, OverflowError):  # also nan, inf
        return False


# the values core/arrow_out.py:_font_array converts for each non-null
# FONT_PA field: int(v) into int32 buffers (range-checked here, as numpy
# wraps), float(v) into float64 (a Python int rounds, any int64 fits)
_FONT_FIELDS = (
    ("name", lambda v: isinstance(v, str)),
    ("flags", _int32),
    ("size", lambda v: isinstance(v, float)
     or (isinstance(v, int) and -2**63 <= v < 2**63)),
    ("weight", _int32),
)


def _floats(v, n: int, what: str, exact: bool = True) -> None:
    """Raise unless float() takes v[0] .. v[n-1], as core/links.py and
    core/tables.py read these fields, and v holds exactly n when exact."""
    try:
        if exact and len(v) != n:
            raise ValueError
        for i in range(n):
            float(v[i])
    except (TypeError, ValueError, LookupError, OverflowError):
        raise ValueError(f"{what} must hold {n} numbers") from None


def _check_link(ln) -> None:
    if not isinstance(ln, dict):
        raise ValueError("links entries must be objects")
    _floats(ln.get("bbox"), 4, "link bbox")
    if ln.get("dest_pos") is not None:
        _floats(ln["dest_pos"], 2, "link dest_pos", exact=False)
    dest_page = ln.get("dest_page")
    if dest_page is not None and not _int32(dest_page, coerce=True):
        raise ValueError("link dest_page must be an integer within int32")
    if not isinstance(ln.get("url", ""), (str, type(None))):
        raise ValueError("link url must be a string")


def prose_to_payload(text: str, page_width: float = 612.0, page_height: float = 792.0,
                     font_size: float = 11.0, margin: float = 72.0) -> dict:
    """Degrade-gracefully path for plain-prose turns: synthesize a
    deterministic monospace layout so extraction is near-identity
    (SURVEY.md §7.0). Pure arithmetic, vectorizable upstream."""
    advance = font_size * 0.6
    line_h = font_size * 1.2
    max_cols = max(1, int((page_width - 2 * margin) / advance))
    out_chars: list[str] = []
    out_boxes: list[float] = []
    col = 0
    row = 0
    for ch in text:
        if ch == "\n":
            out_chars.append("\n")
            x = margin + col * advance
            y = margin + row * line_h
            out_boxes.extend([x, y, x, y + line_h])
            col = 0
            row += 1
            continue
        if col >= max_cols:
            out_chars.append("\n")
            x = margin + col * advance
            y = margin + row * line_h
            out_boxes.extend([x, y, x, y + line_h])
            col = 0
            row += 1
        x = margin + col * advance
        y = margin + row * line_h
        out_chars.append(ch)
        out_boxes.extend([x, y, x + advance, y + font_size])
        col += 1
    return {
        "kind": "chars",
        "page_bbox": [0.0, 0.0, page_width, page_height],
        "rotation": 0,
        "text": "".join(out_chars),
        "bbox": out_boxes,
        "charrot": 0.0,
        "fonts": [{"name": "Mono", "flags": 0, "size": font_size, "weight": 400}],
        "font_id": 0,
    }


def prose_to_decoded(text: str, page_width: float = 612.0,
                     page_height: float = 792.0, font_size: float = 11.0,
                     margin: float = 72.0) -> DecodedTurn:
    """Vectorized fast path for decode_turn(prose_to_payload(text)):
    builds the DecodedTurn arrays directly with numpy instead of a
    char-by-char Python loop through a JSON-shaped dict. Verified
    value-identical to the dict path on fuzzed inputs (same float
    formulas element-wise; boxes are already corner-normalized and the
    synthesized page is unrotated, so normalize/rotate are no-ops)."""
    advance = font_size * 0.6
    line_h = font_size * 1.2
    max_cols = max(1, int((page_width - 2 * margin) / advance))
    segs = text.split("\n")
    # emitted text: each segment wrapped into max_cols chunks joined by
    # '\n', segments joined by the original '\n'
    out_text = "\n".join(
        "\n".join(seg[i:i + max_cols] for i in range(0, len(seg), max_cols))
        if seg else "" for seg in segs)
    n = len(out_text)
    cols = np.empty(n, dtype=np.int64)
    rows = np.empty(n, dtype=np.int64)
    is_nl = np.zeros(n, dtype=bool)
    off = 0
    row = 0
    last = len(segs) - 1
    for si, seg in enumerate(segs):
        L = len(seg)
        if L:
            k = np.arange(L, dtype=np.int64)
            ccol = k % max_cols
            crow = row + k // max_cols
            n_wrap = (L - 1) // max_cols
            if n_wrap:
                # wrap newlines sit BEFORE chars at k = max_cols, 2*max_cols,
                # ... at col == max_cols (the pre-reset col of the scalar
                # scan) on the row being left
                m = L + n_wrap
                idx = np.arange(m, dtype=np.int64)
                # emitted index of char k: k + k // max_cols... inverse map:
                wrap_at = (np.arange(1, n_wrap + 1, dtype=np.int64)
                           * (max_cols + 1) - 1)
                is_w = np.zeros(m, dtype=bool)
                is_w[wrap_at] = True
                cols[off:off + m][is_w] = max_cols
                rows[off:off + m][is_w] = row + np.arange(n_wrap)
                cols[off:off + m][~is_w] = ccol
                rows[off:off + m][~is_w] = crow
                is_nl[off:off + m] = is_w
                off += m
            else:
                cols[off:off + L] = ccol
                rows[off:off + L] = crow
                off += L
            row += n_wrap
        if si != last:
            # the original '\n': emitted at the CURRENT col (no wrap
            # check for newline chars — quirk preserved: col can be
            # max_cols when L is a positive multiple of max_cols)
            endcol = 0 if L == 0 else (L % max_cols or max_cols)
            cols[off] = endcol
            rows[off] = row
            is_nl[off] = True
            off += 1
            row += 1
    assert off == n
    x = margin + cols.astype(np.float64) * advance
    y = margin + rows.astype(np.float64) * line_h
    boxes = np.empty((n, 4), dtype=np.float64)
    boxes[:, 0] = x
    boxes[:, 1] = y
    boxes[:, 2] = np.where(is_nl, x, x + advance)
    boxes[:, 3] = np.where(is_nl, y + line_h, y + font_size)
    return DecodedTurn(
        page_bbox=[0.0, 0.0, page_width, page_height],
        rotation=0,
        page_width=math.ceil(page_width),
        page_height=math.ceil(page_height),
        text=out_text,
        boxes=boxes,
        charrot=np.full(n, 0.0),
        font_id=np.full(n, 0, dtype=np.int32),
        fonts=[{"name": "Mono", "flags": 0, "size": font_size, "weight": 400}],
    )


def payload_json(obj: dict) -> str:
    """Canonical payload serialization (deterministic key order)."""
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"), sort_keys=True)


def font_tuple(f: dict[str, Any]) -> tuple:
    return (f.get("name"), f.get("flags"), f.get("size"), f.get("weight"))
