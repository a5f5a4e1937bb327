"""Batch-level extraction API — the function the Spark layer maps over
Arrow batches, also directly callable in tests.

Routing per SURVEY.md §7.0: tool turns (``role='tool'``) carry HTML and go
through the boilerplate-strip/main-content scorer; everything else is a
char-stream payload (or plain prose, which degrades to a synthesized
monospace layout) and goes through the segmentation kernel.

Two consumers share the routing/segmentation core (`route_batch`), which
reads an Arrow string column, and the one page assembler
(`core/arrow_out.build_page_array`), which builds the nested pages
straight from segmentation offsets:
- the Spark kernel (operators/extract.py) emits Arrow record batches;
- `process_batch` (the local library API and tests) converts its
  `list[str]` to that column first and the page rows to dicts after.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pyarrow as pa

from pdftext_spark.config import ExtractConfig
from pdftext_spark.core.assemble import plain_text_batch
from pdftext_spark.core.html_main import extract_main_text
from pdftext_spark.core.links import merge_turn_links
from pdftext_spark.core.payload import (
    decode_turn,
    maybe_parse_payload_raw,
    prose_to_decoded,
)
from pdftext_spark.core.segment import Segmentation, segment_batch
from pdftext_spark.core.tables import table_cells_turn


@dataclass
class TurnOutput:
    text: str                      # plain-text render (merge_text(...).strip())
    page: Optional[dict] = None    # dictionary_output page (None for HTML turns)
    tables: list = field(default_factory=list)
    registrations: list = field(default_factory=list)  # (ord, gid, dest_page, x, y)
    n_chars: int = 0
    n_spans: int = 0
    n_blocks: int = 0
    is_html: bool = False
    error: Optional[str] = None


@dataclass
class RoutedBatch:
    """Everything downstream assembly needs, independent of output shape."""

    n: int
    outputs: list                       # TurnOutput for html/error rows, None for doc rows
    doc_pos: list                       # batch row index per doc turn (local order)
    decoded: list                       # DecodedTurn per doc turn
    page_ids: list                      # turn_idx per doc turn
    seg: Optional[Segmentation]
    plains: list                        # plain text per doc turn
    splits_by_local: dict               # local turn -> {global span idx: [override]}
    tables_by_local: dict               # local turn -> list of tables
    regs_by_local: dict                 # local turn -> registrations
    char_counts: Optional[np.ndarray]
    span_counts: Optional[np.ndarray]


def _arrow_text_view(texts):
    """(raw_at, str_at) accessors over an Arrow string array.

    raw_at(i) is a ZERO-COPY memoryview of row i's UTF-8 bytes (None for
    nulls) — orjson parses it directly, skipping both the Arrow→str
    decode of the whole batch and orjson's internal str→UTF-8 re-encode
    (~45% of the scan-and-parse cost on a payload corpus). str_at(i)
    decodes a single row on demand for the HTML/prose minority paths;
    it produces exactly `to_pylist()[i]` (same UTF-8 decode).

    Only string and large_string are read: other layouts (string_view,
    dictionary) keep their bytes elsewhere, and reading their buffers as
    offsets + data would misparse rows instead of failing."""
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    typ = getattr(texts, "type", None)
    if typ == pa.large_string():
        odtype, owidth = np.int64, 8
    elif typ == pa.string():
        odtype, owidth = np.int32, 4
    else:
        raise TypeError("text column must be a pyarrow string or "
                        f"large_string array, got {typ or type(texts)}")
    bufs = texts.buffers()
    if bufs[1] is None:
        # the Arrow spec lets a length-0 array omit its offsets buffer
        # (an IPC'd empty batch can arrive this way)
        offs = np.zeros(1, dtype=odtype)
    else:
        offs = np.frombuffer(bufs[1], dtype=odtype, count=len(texts) + 1,
                             offset=texts.offset * owidth)
    data = memoryview(bufs[2]) if bufs[2] is not None else memoryview(b"")
    valid = None
    if texts.null_count:
        # the validity bitmap, bit i = row i: is_null().to_numpy() would
        # import pandas into the worker
        valid = np.unpackbits(np.frombuffer(bufs[0], dtype=np.uint8),
                              count=texts.offset + len(texts),
                              bitorder="little")[texts.offset:].view(bool)

    def raw_at(i):
        if valid is not None and not valid[i]:
            return None
        return data[offs[i]:offs[i + 1]]

    def str_at(i):
        raw = raw_at(i)
        return None if raw is None else str(raw, "utf-8")

    return raw_at, str_at


def route_batch(texts, roles: list, turn_idxs: list,
                cfg: ExtractConfig = ExtractConfig()) -> RoutedBatch:
    """`texts` is a pyarrow string or large_string array (or a chunked
    one); payloads are parsed zero-copy from its UTF-8 buffer."""
    n = len(texts)
    outputs: list[Optional[TurnOutput]] = [None] * n
    raw_at, str_at = _arrow_text_view(texts)

    doc_pos: list[int] = []
    decoded = []
    for i in range(n):
        if roles[i] == "tool":
            try:
                main = extract_main_text(str_at(i) or "")
            except Exception as exc:  # defensive: never kill the batch
                outputs[i] = TurnOutput(text="", is_html=True, error=repr(exc))
                continue
            outputs[i] = TurnOutput(text=main, is_html=True)
        else:
            try:
                obj = maybe_parse_payload_raw(raw_at(i))
                dt = (prose_to_decoded(str_at(i) or "") if obj is None
                      else decode_turn(obj, cfg.quote_loosebox))
            except Exception as exc:
                # A bad payload must not kill the whole Arrow batch at scale;
                # route it to the error/lineage channel instead.
                outputs[i] = TurnOutput(text="", error=repr(exc))
                continue
            doc_pos.append(i)
            decoded.append(dt)

    if not decoded:
        return RoutedBatch(n, outputs, doc_pos, decoded, [], None, [], {}, {},
                           {}, None, None)

    seg = segment_batch(
        decoded,
        superscript_height_threshold=cfg.superscript_height_threshold,
        line_distance_threshold=cfg.line_distance_threshold,
        tolerance_factor=cfg.block_tolerance_factor,
        with_scripts=cfg.emit_struct,
        default_median_gap=cfg.block_default_median_gap,
    )
    plains = plain_text_batch(seg, cfg.sort, cfg.hyphens,
                              sort_tolerance=cfg.sort_tolerance) \
        if cfg.emit_plain \
        else [""] * len(decoded)
    span_start_mask = _span_start_mask(seg) if cfg.emit_tables else None
    n_local = len(decoded)
    char_counts = np.bincount(seg.chars.turn_of, minlength=n_local)
    span_counts = np.bincount(seg.spans.turn, minlength=n_local)
    page_ids = [int(turn_idxs[i]) for i in doc_pos]

    splits_by_local: dict = {}
    regs_by_local: dict = {}
    tables_by_local: dict = {}
    for local, i in enumerate(doc_pos):
        dt = decoded[local]
        page_id = page_ids[local]
        if not cfg.disable_links and dt.links:
            res = merge_turn_links(seg, local, page_id, dt.links)
            if res is not None:
                if res.span_splits:
                    splits_by_local[local] = res.span_splits
                    if span_start_mask is not None:
                        for ovs in res.span_splits.values():
                            for ov in ovs:
                                span_start_mask[ov["start"]] = True
                if res.registrations:
                    regs_by_local[local] = res.registrations
        if cfg.emit_tables and dt.tables and dt.img_size:
            tables_by_local[local] = table_cells_turn(
                seg, local, dt.tables, dt.img_size, span_start_mask,
                table_thresh=cfg.table_thresh, space_thresh=cfg.space_thresh,
                min_chars=cfg.table_min_chars)

    return RoutedBatch(n, outputs, doc_pos, decoded, page_ids, seg, plains,
                       splits_by_local, tables_by_local, regs_by_local,
                       char_counts, span_counts)


def process_batch(texts: list, roles: list, turn_idxs: list,
                  cfg: ExtractConfig = ExtractConfig()) -> list[TurnOutput]:
    # arrow_out imports RoutedBatch from this module
    from pdftext_spark.core.arrow_out import build_page_array

    # surrogatepass + a binary→string view: a lone surrogate reaches
    # route_batch as invalid UTF-8 and fails its own turn's decode,
    # where pa.array(texts, pa.string()) would fail the whole call
    arr = pa.array([None if t is None else t.encode("utf-8", "surrogatepass")
                    for t in texts], pa.binary()).view(pa.string())
    rb = route_batch(arr, roles, turn_idxs, cfg)
    seg = rb.seg
    if cfg.emit_struct and rb.doc_pos:
        pages = [_page_dict(p, cfg.keep_chars)
                 for p in build_page_array(rb, cfg).to_pylist()]
    else:
        pages = [None] * len(rb.doc_pos)
    for local, i in enumerate(rb.doc_pos):
        blo, bhi = int(seg.turn_block_lo[local]), int(seg.turn_block_hi[local])
        rb.outputs[i] = TurnOutput(
            text=rb.plains[local],
            page=pages[local],
            tables=rb.tables_by_local.get(local, []),
            registrations=rb.regs_by_local.get(local, []),
            n_chars=int(rb.char_counts[local]),
            n_spans=int(rb.span_counts[local]),
            n_blocks=bhi - blo,
        )
    return rb.outputs  # type: ignore[return-value]


def _page_dict(page: dict, keep_chars: bool) -> dict:
    """One build_page_array row in dictionary_output key order (the
    reference's, extraction.py:83-131): lines and spans before bbox, a
    chars key only with keep_chars, each char carrying its span's font."""
    blocks = []
    for blk in page["blocks"]:
        lines = []
        for ln in blk["lines"]:
            for sp in ln["spans"]:
                chars = sp.pop("chars")
                if keep_chars:
                    font = sp["font"]
                    sp["chars"] = [{"bbox": c["bbox"], "char": c["char"],
                                    "rotation": c["rotation"], "font": font,
                                    "char_idx": c["char_idx"]} for c in chars]
            lines.append({"spans": ln["spans"], "bbox": ln["bbox"]})
        blocks.append({"lines": lines, "bbox": blk["bbox"]})
    page["blocks"] = blocks
    return page


def _span_start_mask(seg: Segmentation) -> np.ndarray:
    mask = np.zeros(len(seg.chars.cps), dtype=bool)
    mask[seg.spans.start] = True
    return mask
