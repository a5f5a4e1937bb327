"""Columnar pyarrow assembly of the extraction output.

Builds the nested `page` column (blocks→lines→spans) DIRECTLY from
segmentation offsets as Arrow ListArray/StructArray — no per-span Python
dicts and no `pa.array`, which would import pandas into the worker:
every leaf column is built from its buffers (core/arrow_buffers.py,
`pa.nulls`) and gathered by `pc.take` with Arrow indices, and the
`tables` and `link_dests` columns from flat child arrays plus offsets.
`build_page_array` is the only
page assembler: the Spark kernel (`mapInArrow`, keep_chars included)
emits its rows as they are, and `core.api.process_batch` (local library
use and tests) converts them to page dicts.

Hierarchy offsets fall out of the segmentation for free: spans are
contiguous char ranges, lines contiguous span ranges, blocks contiguous
line ranges (core/segment.py invariants), so the nested arrays are just
offset vectors over flat numpy columns. Link splits splice extra span
rows; reading-order sort becomes a gather permutation.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pdftext_spark.config import ExtractConfig
from pdftext_spark.core.api import RoutedBatch
from pdftext_spark.core.arrow_buffers import from_numpy, string_array
from pdftext_spark.core.assemble import postprocess_ranges, sort_order

CHAR_PA = pa.struct([
    ("bbox", pa.list_(pa.float64())),
    ("char", pa.string()),
    ("rotation", pa.float64()),
    ("char_idx", pa.int32()),
])
FONT_PA = pa.struct([
    ("name", pa.string()),
    ("flags", pa.int32()),
    ("size", pa.float64()),
    ("weight", pa.int32()),
])
SPAN_PA = pa.struct([
    ("bbox", pa.list_(pa.float64())),
    ("text", pa.string()),
    ("font", FONT_PA),
    ("char_start_idx", pa.int32()),
    ("char_end_idx", pa.int32()),
    ("rotation", pa.float64()),
    ("url", pa.string()),
    ("superscript", pa.bool_()),
    ("subscript", pa.bool_()),
    ("chars", pa.list_(CHAR_PA)),
])
LINE_PA = pa.struct([
    ("bbox", pa.list_(pa.float64())),
    ("spans", pa.list_(SPAN_PA)),
])
BLOCK_PA = pa.struct([
    ("bbox", pa.list_(pa.float64())),
    ("lines", pa.list_(LINE_PA)),
])
REF_PA = pa.struct([
    ("idx", pa.int32()),
    ("page", pa.int32()),
    ("coord", pa.list_(pa.float64())),
    ("ref", pa.string()),
    ("url", pa.string()),
])
PAGE_PA = pa.struct([
    ("page", pa.int32()),
    ("bbox", pa.list_(pa.float64())),
    ("width", pa.int32()),
    ("height", pa.int32()),
    ("rotation", pa.int32()),
    ("blocks", pa.list_(BLOCK_PA)),
    ("refs", pa.list_(REF_PA)),
])
TABLES_PA = pa.list_(pa.list_(pa.struct([
    ("text", pa.string()),
    ("bbox", pa.list_(pa.float64())),
])))
LINK_DEST_PA = pa.list_(pa.struct([
    ("ord", pa.int32()),
    ("gid", pa.int32()),
    ("dest_page", pa.int32()),
    ("x", pa.float64()),
    ("y", pa.float64()),
]))


def _offsets(counts: np.ndarray) -> pa.Array:
    off = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=off[1:])
    return from_numpy(off)


def _bbox_list(flat: np.ndarray) -> pa.ListArray:
    n = len(flat)
    offsets = from_numpy(np.arange(0, 4 * n + 1, 4, dtype=np.int32))
    values = np.asarray(flat, dtype=np.float64).ravel()
    return pa.ListArray.from_arrays(offsets, from_numpy(values))


def _font_array(fonts: list, codes: np.ndarray) -> pa.StructArray:
    """FONT_PA rows for the global font codes `codes`. The font table
    holds raw payload values (None where a key is missing), range- and
    type-checked by core/payload.py:_FONT_FIELDS."""
    # a batch of empty turns has an empty font table
    names, flags, sizes, weights = zip(*fonts) if fonts else [()] * 4

    def column(vals, conv, dtype):
        valid = np.fromiter((v is not None for v in vals), bool, len(vals))
        out = np.fromiter((0 if v is None else conv(v) for v in vals),
                          dtype, len(vals))
        return from_numpy(out, valid)

    idx = from_numpy(np.asarray(codes, dtype=np.int32))
    return pa.StructArray.from_arrays([
        pc.take(string_array(names), idx),
        pc.take(column(flags, int, np.int32), idx),
        # float(v): a Python int past 2**53 rounds, where pa.array raised
        pc.take(column(sizes, float, np.float64), idx),
        pc.take(column(weights, int, np.int32), idx),
    ], fields=list(FONT_PA))


def build_page_array(rb: RoutedBatch, cfg: ExtractConfig) -> pa.StructArray:
    """PAGE struct array for the batch's doc turns (length = #doc turns)."""
    seg = rb.seg
    spans = seg.spans
    lines = seg.lines
    blocks = seg.blocks
    cb = seg.chars
    S = len(spans.start)
    T = len(rb.decoded)

    # ---- output span rows (link splits spliced in) ----
    counts = np.ones(S, dtype=np.int64)
    all_splits: dict = {}
    for d in rb.splits_by_local.values():
        all_splits.update(d)
    for gsi, ovs in all_splits.items():
        counts[gsi] = len(ovs)
    first_out = np.zeros(S, dtype=np.int64)
    np.cumsum(counts[:-1], out=first_out[1:])
    S_out = int(counts.sum())
    rep = np.repeat(np.arange(S), counts)

    bbox_out = spans.bbox[rep].copy()
    rot_out = spans.rot[rep]
    font_out = cb.font[spans.start][rep]
    csi_out = spans.char_start_idx[rep].astype(np.int32, copy=True)
    cei_out = spans.char_end_idx[rep].astype(np.int32, copy=True)
    sup_out = spans.superscript[rep].copy()
    sub_out = spans.subscript[rep].copy()
    start_out = spans.start[rep].copy()
    end_out = spans.end[rep].copy()
    urls: list = [""] * S_out
    for gsi, ovs in all_splits.items():
        base = int(first_out[gsi])
        for k, ov in enumerate(ovs):
            row = base + k
            bbox_out[row] = ov["bbox"]
            start_out[row] = ov["start"]
            end_out[row] = ov["end"]
            urls[row] = ov["url"]
            csi_out[row] = cb.char_idx[ov["start"]]
            cei_out[row] = cb.char_idx[ov["end"] - 1]
            sup_out[row] = False
            sub_out[row] = False

    # span texts (F8): one global postprocess pass + a slice per output
    # span; output rows are contiguous ranges, so masking \r\n collapse
    # at their starts makes every slice exact
    texts = postprocess_ranges(seg, start_out, end_out, hyphen_sentinel=True)

    # ---- permutations for reading-order sort (identity when sort=False) ----
    line_span_counts = np.add.reduceat(counts, lines.start) if len(lines.start) \
        else np.zeros(0, dtype=np.int64)
    block_line_counts = blocks.line_hi - blocks.line_lo
    if cfg.sort:
        block_perm_parts = []
        for t in range(T):
            blo, bhi = int(seg.turn_block_lo[t]), int(seg.turn_block_hi[t])
            if bhi > blo:
                order = sort_order([blocks.bbox[b] for b in range(blo, bhi)],
                                   cfg.sort_tolerance)
                block_perm_parts.append(np.asarray(order, dtype=np.int64) + blo)
        block_perm = (np.concatenate(block_perm_parts) if block_perm_parts
                      else np.zeros(0, dtype=np.int64))
        line_perm = np.concatenate(
            [np.arange(blocks.line_lo[b], blocks.line_hi[b]) for b in block_perm]
        ) if len(block_perm) else np.zeros(0, dtype=np.int64)
        span_perm = np.concatenate(
            [np.arange(lines.start[li], lines.end[li]) for li in line_perm]
        ) if len(line_perm) else np.zeros(0, dtype=np.int64)
        out_perm = np.concatenate(
            [np.arange(first_out[s], first_out[s] + counts[s]) for s in span_perm]
        ) if len(span_perm) else np.zeros(0, dtype=np.int64)

        bbox_out = bbox_out[out_perm]
        rot_out = rot_out[out_perm]
        font_out = font_out[out_perm]
        csi_out = csi_out[out_perm]
        cei_out = cei_out[out_perm]
        sup_out = sup_out[out_perm]
        sub_out = sub_out[out_perm]
        start_out = start_out[out_perm]
        end_out = end_out[out_perm]
        texts = [texts[i] for i in out_perm]
        urls = [urls[i] for i in out_perm]
        line_span_counts = line_span_counts[line_perm]
        line_bbox = lines.bbox[line_perm]
        block_line_counts = block_line_counts[block_perm]
        block_bbox = blocks.bbox[block_perm]
    else:
        line_bbox = lines.bbox
        block_bbox = blocks.bbox

    # ---- arrow assembly, bottom-up ----
    font_arr = _font_array(cb.fonts, font_out)

    # per-span char lists (keep_chars) straight from the [start, end) char
    # ranges — same gather trick as everything else, no per-char dicts.
    # Per-char font is dropped deliberately (always identical to the span
    # font; operators/schema.py:5-6).
    if cfg.keep_chars:
        lens = (end_out - start_out).astype(np.int64)
        cum = np.cumsum(lens)
        total = int(cum[-1]) if len(cum) else 0
        flat = (np.arange(total, dtype=np.int64)
                - np.repeat(cum - lens, lens)
                + np.repeat(start_out, lens))
        # per-char StringArray built from the utf-8 buffer + a vectorized
        # byte-offset map — pa.array(list(gtext)) would allocate one
        # Python str object per char of the whole batch first
        cps = cb.cps
        blen = np.ones(len(cps), dtype=np.int32)
        blen[cps >= 0x80] = 2
        blen[cps >= 0x800] = 3
        blen[cps >= 0x10000] = 4
        boffs = np.zeros(len(cps) + 1, dtype=np.int32)
        np.cumsum(blen, out=boffs[1:])
        char_pool = pa.StringArray.from_buffers(
            len(cps), pa.py_buffer(boffs.tobytes()),
            pa.py_buffer(cb.gtext.encode("utf-8")))
        char_vals = pc.take(char_pool, from_numpy(flat))
        char_arr = pa.StructArray.from_arrays([
            _bbox_list(cb.boxes[flat]),
            char_vals,
            from_numpy(cb.rot[flat]),
            from_numpy(cb.char_idx[flat].astype(np.int32, copy=False)),
        ], fields=list(CHAR_PA))
        chars_col = pa.ListArray.from_arrays(_offsets(lens), char_arr)
    else:
        chars_col = pa.nulls(S_out, type=pa.list_(CHAR_PA))

    span_arr = pa.StructArray.from_arrays([
        _bbox_list(bbox_out),
        string_array(texts),
        font_arr,
        from_numpy(csi_out),
        from_numpy(cei_out),
        from_numpy(rot_out),
        string_array(urls),
        from_numpy(sup_out),
        from_numpy(sub_out),
        chars_col,
    ], fields=list(SPAN_PA))

    spans_list = pa.ListArray.from_arrays(_offsets(line_span_counts), span_arr)
    line_arr = pa.StructArray.from_arrays([_bbox_list(line_bbox), spans_list],
                                          fields=list(LINE_PA))
    lines_list = pa.ListArray.from_arrays(_offsets(block_line_counts), line_arr)
    block_arr = pa.StructArray.from_arrays([_bbox_list(block_bbox), lines_list],
                                           fields=list(BLOCK_PA))
    n_blocks = (seg.turn_block_hi - seg.turn_block_lo).astype(np.int64)
    blocks_list = pa.ListArray.from_arrays(_offsets(n_blocks), block_arr)

    # page-level fields with the 90/270 fix-ups (extraction.py:128-130)
    widths = np.empty(T, dtype=np.int32)
    heights = np.empty(T, dtype=np.int32)
    rotations = np.empty(T, dtype=np.int32)
    pbbox = np.empty((T, 4), dtype=np.float64)
    for t, dt in enumerate(rb.decoded):
        w, h = dt.page_width, dt.page_height
        bb = dt.page_bbox
        if dt.rotation in (90, 270):
            w, h = h, w
            bb = [bb[2], bb[3], bb[0], bb[1]]
        widths[t] = w
        heights[t] = h
        rotations[t] = dt.rotation
        pbbox[t] = bb

    refs_arr = pa.ListArray.from_arrays(
        _offsets(np.zeros(T, dtype=np.int32)), pa.nulls(0, type=REF_PA))

    return pa.StructArray.from_arrays([
        from_numpy(np.asarray(rb.page_ids, dtype=np.int32)),
        _bbox_list(pbbox),
        from_numpy(widths),
        from_numpy(heights),
        from_numpy(rotations),
        blocks_list,
        refs_arr,
    ], fields=list(PAGE_PA))


def _tables_array(n: int, doc_pos: list, tables_by_local: dict) -> pa.Array:
    """TABLES_PA rows: each doc turn's tables (lists of {"text", "bbox"}
    cells, core/tables.py) at its row, flattened into cell columns plus
    table and row offsets; other rows get []."""
    n_tables = np.zeros(n, dtype=np.int64)
    n_cells: list = []
    texts: list = []
    boxes: list = []
    for local in sorted(tables_by_local):
        tables = tables_by_local[local]
        n_tables[doc_pos[local]] = len(tables)
        for cells in tables:
            n_cells.append(len(cells))
            for c in cells:
                texts.append(c["text"])
                boxes.append(c["bbox"])
    cell_arr = pa.StructArray.from_arrays(
        [string_array(texts),
         _bbox_list(np.asarray(boxes, dtype=np.float64).reshape(-1, 4))],
        fields=list(TABLES_PA.value_type.value_type))
    table_arr = pa.ListArray.from_arrays(
        _offsets(np.asarray(n_cells, dtype=np.int64)), cell_arr)
    return pa.ListArray.from_arrays(_offsets(n_tables), table_arr)


def _link_dests_array(n: int, doc_pos: list, regs_by_local: dict) -> pa.Array:
    """LINK_DEST_PA rows: each doc turn's registrations, (ord, gid,
    dest_page, x, y) tuples (core/links.py), at its row, flattened into
    columns plus row offsets; other rows get []."""
    n_regs = np.zeros(n, dtype=np.int64)
    regs: list = []
    for local in sorted(regs_by_local):
        n_regs[doc_pos[local]] = len(regs_by_local[local])
        regs.extend(regs_by_local[local])
    cols = list(zip(*regs)) if regs else [()] * 5
    # dest_page is int32-checked at decode (core/payload.py:_check_link);
    # x, y are floats of the scaled dest_pos (core/links.py)
    dtypes = (np.int32, np.int32, np.int32, np.float64, np.float64)
    dest_arr = pa.StructArray.from_arrays(
        [from_numpy(np.fromiter(c, dt, len(regs)))
         for c, dt in zip(cols, dtypes)],
        fields=list(LINK_DEST_PA.value_type))
    return pa.ListArray.from_arrays(_offsets(n_regs), dest_arr)


def assemble_record_batch(batch: pa.RecordBatch, rb: RoutedBatch,
                          cfg: ExtractConfig,
                          target_schema: pa.Schema) -> pa.RecordBatch:
    """Full EXTRACTED record batch from a routed batch + the input batch
    (conv_id/turn_idx/role/ts pass through zero-copy)."""
    n = rb.n
    T = len(rb.decoded)

    text_rows: list = [None] * n
    is_html = np.zeros(n, dtype=bool)
    errors: list = [None] * n
    n_chars = np.zeros(n, dtype=np.int32)
    n_spans = np.zeros(n, dtype=np.int32)
    n_blocks_row = np.zeros(n, dtype=np.int32)
    for i, o in enumerate(rb.outputs):
        if o is not None:
            text_rows[i] = o.text
            is_html[i] = o.is_html
            errors[i] = o.error
    doc_pos = np.asarray(rb.doc_pos, dtype=np.int64)
    for local, i in enumerate(rb.doc_pos):
        text_rows[i] = rb.plains[local]
    if T:
        n_chars[doc_pos] = rb.char_counts
        n_spans[doc_pos] = rb.span_counts
        n_blocks_row[doc_pos] = rb.seg.turn_block_hi - rb.seg.turn_block_lo

    if cfg.emit_struct and T:
        doc_pages = build_page_array(rb, cfg)
        idx = np.full(n, -1, dtype=np.int64)
        idx[doc_pos] = np.arange(T)
        page_col = pc.take(doc_pages, from_numpy(idx, valid=idx >= 0))
    else:
        page_col = pa.nulls(n, type=PAGE_PA)

    def col(name):
        return batch.column(batch.schema.get_field_index(name))

    arrays = [
        col("conv_id"),
        col("turn_idx"),
        col("role"),
        col("ts"),
        string_array(text_rows),
        from_numpy(is_html),
        page_col,
        _tables_array(n, rb.doc_pos, rb.tables_by_local),
        _link_dests_array(n, rb.doc_pos, rb.regs_by_local),
        string_array(errors),
        from_numpy(n_chars),
        from_numpy(n_spans),
        from_numpy(n_blocks_row),
    ]
    return pa.RecordBatch.from_arrays(arrays, schema=target_schema)
