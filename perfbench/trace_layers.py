"""Traced run: per-layer numbers, each timed from outside its module.

Spark side: wall times of a scan-only pass, a passthrough `mapInArrow`
(the Arrow handoff with no kernel), the workload's pass and a struct pass
with links off, interleaved and repeated; Spark jobs and tasks per pass;
the size of the cached kernel output.

Kernel side: after the JVM is stopped, the workload's Arrow batches, cut
as the kernel received them, are replayed in this one process. Per
batch, the untraced `core.api.route_batch` (plus
`core.arrow_out.assemble_record_batch` for struct output) and a traced
copy of it alternate in order. The traced copy calls the same `core`
functions in the same order as `route_batch` and records a span around
each call. A layer's self time is its spans' time minus their children's.
The run fails unless the traced copy produces the same output as
`route_batch` and the layers add up to `route_batch`'s time within
`MAX_LAYER_GAP`.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import sys
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import e2e

SPARK_REPS = 3
MAX_LAYER_GAP = 0.10
CORE_LAYERS = ("payload", "html_main", "segment", "assemble", "links",
               "tables", "arrow_out")
COUNTS = ("payload.turns", "payload.prose_turns", "html_main.turns",
          "segment.chars", "segment.chars_kept", "segment.spans",
          "segment.blocks", "links.registrations", "tables.turns")

clock = time.perf_counter


class Tracer:
    """Spans kept in memory: [name, start, end, parent index, batch id]."""

    def __init__(self):
        self.spans: list = []

    def open(self, name: str, parent, batch) -> int:
        self.spans.append([name, clock(), None, parent, batch])
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        self.spans[idx][2] = clock()

    def add(self, name: str, start: float, parent, batch) -> None:
        self.spans.append([name, start, clock(), parent, batch])

    def self_times(self) -> Counter:
        """Per span name: total duration minus the children's."""
        out: Counter = Counter()
        for name, start, end, parent, _ in self.spans:
            out[name] += end - start
            if parent is not None:
                out[self.spans[parent][0]] -= end - start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [
                {"name": n, "start": s, "end": e, "parent": p, "batch": b}
                for n, s, e, p, b in self.spans]}, f)


def kernel_config(workload: str):
    """The config the workload's operator hands its kernel."""
    from pdftext_spark.config import ExtractConfig
    cfg = ExtractConfig()
    if e2e.is_struct(workload):
        return cfg
    return dataclasses.replace(cfg, emit_struct=False, emit_tables=False,
                               disable_links=True, emit_plain=True)


def kernel_columns(workload: str) -> list:
    cols = ["conv_id", "turn_idx", "role", "text"]
    return cols + ["ts"] if e2e.is_struct(workload) else cols


def _text_view(texts: pa.Array):
    """(raw_at, str_at): row i's UTF-8 bytes as a memoryview, or as str."""
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    width = 8 if texts.type == pa.large_string() else 4
    bufs = texts.buffers()
    offs = np.frombuffer(bufs[1], dtype=f"<i{width}", count=len(texts) + 1,
                         offset=texts.offset * width)
    data = memoryview(bufs[2] or b"")
    valid = texts.is_valid().to_numpy(zero_copy_only=False)

    def raw_at(i):
        return data[offs[i]:offs[i + 1]] if valid[i] else None

    def str_at(i):
        raw = raw_at(i)
        return None if raw is None else str(raw, "utf-8")

    return raw_at, str_at


def traced_route(tr: Tracer, counts: Counter, bid: int, batch: pa.RecordBatch,
                 cfg, target):
    """route_batch (+ assemble_record_batch when `target` is given) with a
    span around every call into a core module."""
    from pdftext_spark.core.api import RoutedBatch, TurnOutput
    from pdftext_spark.core.arrow_out import assemble_record_batch
    from pdftext_spark.core.assemble import plain_text_batch
    from pdftext_spark.core.html_main import extract_main_text
    from pdftext_spark.core.links import merge_turn_links
    from pdftext_spark.core.payload import (
        decode_turn,
        maybe_parse_payload_raw,
        prose_to_decoded,
    )
    from pdftext_spark.core.segment import segment_batch
    from pdftext_spark.core.tables import table_cells_turn

    root = tr.open("core.api", None, bid)
    roles = batch.column("role").to_pylist()
    turn_idxs = batch.column("turn_idx").to_pylist()
    raw_at, str_at = _text_view(batch.column("text"))
    n = batch.num_rows
    outputs: list = [None] * n
    doc_pos: list = []
    decoded: list = []
    for i in range(n):
        t0 = clock()
        if roles[i] == "tool":
            try:
                outputs[i] = TurnOutput(text=extract_main_text(str_at(i) or ""),
                                        is_html=True)
            except Exception as exc:
                outputs[i] = TurnOutput(text="", is_html=True, error=repr(exc))
            tr.add("core.html_main", t0, root, bid)
            counts["html_main.turns"] += 1
            continue
        try:
            obj = maybe_parse_payload_raw(raw_at(i))
            if obj is None:
                dt = prose_to_decoded(str_at(i) or "")
                counts["payload.prose_turns"] += 1
            else:
                dt = decode_turn(obj, cfg.quote_loosebox)
                counts["payload.turns"] += 1
        except Exception as exc:
            outputs[i] = TurnOutput(text="", error=repr(exc))
            dt = None
        tr.add("core.payload", t0, root, bid)
        if dt is not None:
            doc_pos.append(i)
            decoded.append(dt)

    if not decoded:
        rb = RoutedBatch(n, outputs, doc_pos, decoded, [], None, [], {}, {},
                         {}, None, None)
    else:
        t0 = clock()
        seg = segment_batch(
            decoded,
            superscript_height_threshold=cfg.superscript_height_threshold,
            line_distance_threshold=cfg.line_distance_threshold,
            tolerance_factor=cfg.block_tolerance_factor,
            with_scripts=cfg.emit_struct,
            default_median_gap=cfg.block_default_median_gap)
        tr.add("core.segment", t0, root, bid)
        counts["segment.chars"] += sum(len(dt.text) for dt in decoded)
        counts["segment.chars_kept"] += len(seg.chars.cps)
        counts["segment.spans"] += len(seg.spans.start)
        counts["segment.blocks"] += int(
            (seg.turn_block_hi - seg.turn_block_lo).sum())
        if cfg.emit_plain:
            t0 = clock()
            plains = plain_text_batch(seg, cfg.sort, cfg.hyphens,
                                      sort_tolerance=cfg.sort_tolerance)
            tr.add("core.assemble", t0, root, bid)
        else:
            plains = [""] * len(decoded)
        span_start_mask = None
        if cfg.emit_tables:
            span_start_mask = np.zeros(len(seg.chars.cps), dtype=bool)
            span_start_mask[seg.spans.start] = True
        n_local = len(decoded)
        char_counts = np.bincount(seg.chars.turn_of, minlength=n_local)
        span_counts = np.bincount(seg.spans.turn, minlength=n_local)
        page_ids = [int(turn_idxs[i]) for i in doc_pos]
        splits: dict = {}
        regs: dict = {}
        tables: dict = {}
        for local in range(n_local):
            dt = decoded[local]
            if not cfg.disable_links and dt.links:
                t0 = clock()
                res = merge_turn_links(seg, local, page_ids[local], dt.links)
                tr.add("core.links", t0, root, bid)
                if res is not None:
                    if res.span_splits:
                        splits[local] = res.span_splits
                        if span_start_mask is not None:
                            for ovs in res.span_splits.values():
                                for ov in ovs:
                                    span_start_mask[ov["start"]] = True
                    if res.registrations:
                        regs[local] = res.registrations
                        counts["links.registrations"] += len(res.registrations)
            if cfg.emit_tables and dt.tables and dt.img_size:
                t0 = clock()
                tables[local] = table_cells_turn(
                    seg, local, dt.tables, dt.img_size, span_start_mask,
                    table_thresh=cfg.table_thresh,
                    space_thresh=cfg.space_thresh,
                    min_chars=cfg.table_min_chars)
                tr.add("core.tables", t0, root, bid)
                counts["tables.turns"] += 1
        rb = RoutedBatch(n, outputs, doc_pos, decoded, page_ids, seg, plains,
                         splits, tables, regs, char_counts, span_counts)
    out = None
    if target is not None:
        t0 = clock()
        out = assemble_record_batch(batch, rb, cfg, target)
        tr.add("core.arrow_out", t0, root, bid)
    tr.close(root)
    return rb, out


def untraced_route(batch: pa.RecordBatch, cfg, target):
    from pdftext_spark.core.api import route_batch
    from pdftext_spark.core.arrow_out import assemble_record_batch
    rb = route_batch(batch.column("text"), batch.column("role").to_pylist(),
                     batch.column("turn_idx").to_pylist(), cfg)
    out = None if target is None else assemble_record_batch(batch, rb, cfg,
                                                            target)
    return rb, out


def turn_results(rb, batch: pa.RecordBatch) -> dict:
    """(conv_id, turn_idx) -> (text, n_spans, n_blocks) of a routed batch."""
    convs = batch.column("conv_id").to_pylist()
    idxs = batch.column("turn_idx").to_pylist()
    res = {}
    for i, o in enumerate(rb.outputs):
        if o is not None:
            res[(convs[i], idxs[i])] = (o.text, 0, 0)
    for local, i in enumerate(rb.doc_pos):
        res[(convs[i], idxs[i])] = (
            rb.plains[local], int(rb.span_counts[local]),
            int(rb.seg.turn_block_hi[local] - rb.seg.turn_block_lo[local]))
    return res


def spark_batches(spark, inp: corpus.RunInput) -> list:
    """The kernel's input batches as Spark cuts them. `plain_text` output
    keeps each batch's rows together and in order, so the partition and
    position of its rows give the cut (salted or not); every operator
    salts its input the same way. Within a partition Spark cuts batches
    of at most maxRecordsPerBatch rows."""
    from pyspark.sql import functions as F

    from pdftext_spark.operators.extract import plain_text
    from pdftext_spark.sources.session import load_transcripts
    keys = (plain_text(load_transcripts(spark, inp.path))
            .select("conv_id", "turn_idx",
                    F.spark_partition_id().alias("part"),
                    F.monotonically_increasing_id().alias("pos"))
            .toArrow().to_pylist())
    table = pq.read_table(inp.path, columns=kernel_columns(inp.workload))
    row_of = {k: i for i, k in enumerate(zip(
        table.column("conv_id").to_pylist(),
        table.column("turn_idx").to_pylist()))}
    per_part: dict = {}
    for k in sorted(keys, key=lambda k: (k["part"], k["pos"])):
        per_part.setdefault(k["part"], []).append(
            row_of[(k["conv_id"], k["turn_idx"])])
    cap = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches = []
    for part in sorted(per_part):
        rows = per_part[part]
        for lo in range(0, len(rows), cap):
            sub = table.take(pa.array(rows[lo:lo + cap], type=pa.int64()))
            batches.append(sub.combine_chunks().to_batches()[0])
    return batches


def replay(batches: list, workload: str, expected: dict, tr: Tracer):
    """Interleaved untraced/traced replay. Returns (route_s, traced wall,
    counts, mismatched turns)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdftext_spark.operators.schema import EXTRACTED
    cfg = kernel_config(workload)
    struct = e2e.is_struct(workload)
    target = to_arrow_schema(EXTRACTED) if struct else None
    # the first calls pay lazy imports and caches: warm both paths untimed
    untraced_route(batches[0], cfg, target)
    traced_route(Tracer(), Counter(), None, batches[0], cfg, target)
    counts: Counter = Counter()
    route_s = traced_s = 0.0
    mismatched = 0
    for bid, batch in enumerate(batches):
        for traced in ((False, True) if bid % 2 == 0 else (True, False)):
            t0 = clock()
            if traced:
                rb_t, out_t = traced_route(tr, counts, bid, batch, cfg, target)
                traced_s += clock() - t0
            else:
                rb_u, out_u = untraced_route(batch, cfg, target)
                route_s += clock() - t0
        got_u, got_t = turn_results(rb_u, batch), turn_results(rb_t, batch)
        for key, want in got_u.items():
            exp = expected.get(key)
            if (got_t.get(key) != want or exp is None or exp[0] != want[0]
                    or (struct and exp[1:] != want[1:])):
                mismatched += 1
        if struct and not out_t.equals(out_u):
            mismatched += batch.num_rows
    return route_s, traced_s, counts, mismatched


def cached_mb(spark) -> float:
    """Memory plus disk size of every cached RDD, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2 ** 20


def measure(inp: corpus.RunInput, seconds: float) -> tuple[int, dict]:
    from pdftext_spark.config import ExtractConfig
    from pdftext_spark.operators.extract import extract
    from pdftext_spark.sources.session import build_session, load_transcripts

    workload = inp.workload
    tr = Tracer()
    t0 = clock()
    spark = build_session("perfbench", master=e2e.MASTER)
    tr.add("sources.session", t0, None, "spark")
    session_s = tr.spans[-1][2] - t0
    sc = spark.sparkContext
    e2e.noop(e2e.run_op(spark, workload, inp.warmup_path))
    failed = e2e.count_failures(e2e.run_op(spark, workload, inp.path), inp,
                                e2e.is_struct(workload))

    cols = kernel_columns(workload)

    def scan():
        e2e.noop(load_transcripts(spark, inp.path).select(*cols))

    def handoff():
        def passthrough(batches):
            yield from batches
        df = load_transcripts(spark, inp.path).select(*cols)
        e2e.noop(df.mapInArrow(passthrough, schema=df.schema))

    def workload_pass():
        e2e.noop(e2e.run_op(spark, workload, inp.path))

    def nolinks():
        spark.catalog.clearCache()
        e2e.noop(extract(load_transcripts(spark, inp.path),
                         ExtractConfig(disable_links=True)))

    passes = {"sources.scan": scan, "operators.handoff": handoff,
              "operators.extract.pass": workload_pass,
              "operators.extract.nolinks": nolinks}
    walls: dict = {name: [] for name in passes}
    jobs, tasks, cache = [], [], []
    for rep in range(SPARK_REPS):
        for name, fn in passes.items():
            group = f"perfbench-{name}-{rep}"
            sc.setJobGroup(group, name)
            t0 = clock()
            fn()
            tr.add(name, t0, None, "spark")
            walls[name].append(tr.spans[-1][2] - t0)
            if fn is workload_pass:
                cache.append(cached_mb(spark))
                st = sc.statusTracker()
                ids = st.getJobIdsForGroup(group)
                jobs.append(len(ids))
                tasks.append(sum(
                    s.numCompletedTasks
                    for j in ids for s in
                    (st.getStageInfo(sid) for sid in st.getJobInfo(j).stageIds)
                    if s is not None))
    batches = spark_batches(spark, inp)
    _, jvm_rss_mb = e2e.peak_rss_mb()
    e2e.stop_jvm()  # the replay runs alone

    route_s, traced_s, counts, mismatched = replay(batches, workload,
                                                   inp.expected, tr)
    self_s = tr.self_times()
    layer_sum = sum(self_s[f"core.{m}"] for m in CORE_LAYERS)
    layer_gap = abs(layer_sum - route_s) / route_s
    trace_path = os.path.join(corpus.CACHE,
                              f"trace-{workload}-{inp.seed}.json")
    tr.dump(trace_path)
    e2e.log(f"spans: {trace_path}; {len(batches)} batches replayed; "
            f"{mismatched} replay mismatches")

    med = statistics.median
    metrics = {
        "sources.session_s": (session_s, "s"),
        "sources.scan_s": (med(walls["sources.scan"]), "s"),
        "operators.handoff_s": (med(walls["operators.handoff"]), "s"),
        "operators.extract.pass_s": (med(walls["operators.extract.pass"]), "s"),
        "operators.extract.nolinks_s":
            (med(walls["operators.extract.nolinks"]), "s"),
        "operators.extract.jobs": (med(jobs), "count"),
        "operators.extract.tasks": (med(tasks), "count"),
        "operators.refs.cache_mb": (med(cache), "MB"),
        "jvm_rss_mb": (jvm_rss_mb, "MB"),
        "core.api.route_s": (route_s, "s"),
    }
    for layer in CORE_LAYERS:
        metrics[f"core.{layer}.self_s"] = (self_s[f"core.{layer}"], "s")
    for name in COUNTS:
        metrics[f"core.{name}"] = (counts[name], "count")
    metrics["core.layer_gap"] = (layer_gap, "ratio")
    metrics["trace.overhead"] = (traced_s / route_s - 1, "ratio")
    if mismatched or layer_gap > MAX_LAYER_GAP:
        print(f"replay does not describe route_batch: {mismatched} turns "
              f"differ, layer gap {layer_gap:.3f} (limit {MAX_LAYER_GAP})",
              file=sys.stderr)
        failed += max(mismatched, 1)
    return failed, metrics
