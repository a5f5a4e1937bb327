"""The extraction operator: transcripts DataFrame → extracted DataFrame.

Plan shape (SURVEY.md §3.1 "Spark lifecycle equivalent"):

    scan → repartition(hash(conv_id, turn_idx)) → Arrow kernel →
    [tiny refs aggregation ⨝ broadcast back] → sink

Every operator here is a thin caller of one kernel entry (`_kernel`):
it picks the input projection, the output schema and a per-batch
`emit`; the entry alone projects, salts and maps each Arrow batch
through `core.api.route_batch`.

Scale notes (the parts that must survive 1000 executors / 100 TB):
- **Skew**: repartitioning on (conv_id, turn_idx) spreads a million-turn
  conversation across all tasks — the per-turn analog of the reference's
  contiguous page chunking (extraction.py:60-61). No conversation-level
  hotspot survives because no operator below needs whole-conversation
  locality for the heavy data.
- **One heavy shuffle total.** The X1 reference registry (the only
  cross-turn operator, SURVEY.md §2.9) is resolved on a projected
  side-table of link registrations — one exchange of a few bytes per
  link — and joined back with one broadcast join; the char payloads
  never shuffle again (operators/refs.py).
- **Python boundary**: exactly one Arrow round-trip for the kernel
  (extract() caches its output for the refs registry); url/ref
  rewriting is a pure JVM-side columnar projection over the cache.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pdftext_spark.config import ExtractConfig
from pdftext_spark.operators.refs import resolve_refs
from pdftext_spark.operators.schema import EXTRACTED

# Shuffle exchanges only — BroadcastExchange does NOT repartition the
# probe side, so a broadcast-join input still deserves the salt.
_SHUFFLE_EXCHANGE = re.compile(
    r"Exchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning"
    r"|SinglePartition)")


def _has_shuffle_exchange(plan_text: str) -> bool:
    return _SHUFFLE_EXCHANGE.search(plan_text) is not None


def _kernel(transcripts: DataFrame, columns: tuple, cfg: ExtractConfig,
            schema: T.StructType, emit) -> DataFrame:
    """The one kernel entry: project `columns`, salt, and turn every
    Arrow batch into `emit(batch, rb, target)`, where rb is the batch's
    `route_batch` result and target the Arrow form of `schema`.

    Catalyst cannot prune columns INTO the Python kernel, so callers pass
    exactly the columns they read — extra input columns (e.g. `tool`)
    would otherwise be scanned and, worse, shuffled by the salt."""
    from pyspark.sql.pandas.types import to_arrow_schema
    target = to_arrow_schema(schema)

    def run(batches):
        from pdftext_spark.core.api import route_batch
        for batch in batches:
            rb = route_batch(batch.column("text"),
                             batch.column("role").to_pylist(),
                             batch.column("turn_idx").to_pylist(), cfg)
            yield emit(batch, rb, target)

    salted = _apply_salt(transcripts.select(*columns), cfg,
                         transcripts.sparkSession)
    return salted.mapInArrow(run, schema=schema)


def _apply_salt(transcripts: DataFrame, cfg: ExtractConfig, spark) -> DataFrame:
    """Anti-skew salting of the kernel input (`_kernel`). Salting defeats
    conversation-clustered inputs (an Iceberg table bucketed by conv_id
    would put a mega-conversation in one task). When the scan already
    yields byte-balanced fine-grained splits — file sources split by
    size, so compute ∝ bytes is balanced by construction — the extra
    full-payload shuffle buys nothing; skip it."""
    n_parts = cfg.partitions or spark.sparkContext.defaultParallelism * 2
    if cfg.salt == "never":
        return transcripts
    if cfg.salt == "always":
        return transcripts.repartition(n_parts, "conv_id", "turn_idx")
    if _has_shuffle_exchange(
            transcripts._jdf.queryExecution().executedPlan().toString()):
        # The input already contains a shuffle (join/aggregate upstream):
        # its output partitioning is shuffle-partition-wide, so the salt
        # buys nothing — and probing toRdd() below would EXECUTE those
        # upstream stages under AQE (AdaptiveSparkPlanExec.doExecute
        # materializes query stages), doing the heavy work twice.
        # executedPlan is the post-EnsureRequirements compile: printing it
        # runs no job (isFinalPlan=false), and unlike sparkPlan it
        # actually CONTAINS the requirement-inserted exchanges —
        # sparkPlan shows none, so probing it missed every join/agg
        # upstream. BroadcastExchange is deliberately not matched: a
        # broadcast join leaves the probe side's partitioning untouched,
        # so such inputs still deserve the salt (and their toRdd() probe
        # below only materializes the small build side).
        return transcripts
    # Pure scan pipeline: JVM-side internal-RDD partition count builds
    # the physical plan once (cached on queryExecution) without the
    # Python-conversion mapPartitions that df.rdd would bolt on. No
    # job runs for a scan (no adaptive stages to materialize).
    n_input = transcripts._jdf.queryExecution().toRdd().getNumPartitions()
    return (transcripts if n_input >= n_parts
            else transcripts.repartition(n_parts, "conv_id", "turn_idx"))


def extract(transcripts: DataFrame, cfg: ExtractConfig = ExtractConfig(),
            resolve_links: bool = True) -> DataFrame:
    """Run the extraction kernel over a transcript table.

    Input columns: (conv_id, turn_idx, role, text, tool, ts) — the
    BASELINE.json input_hint contract.

    With resolve_links, the X1 registry is built from the kernel output
    itself: ONE kernel pass, cached MEMORY_AND_DISK; the registry
    aggregates the tiny cached link_dests column (the columnar cache
    prunes the heavy page column from that scan) and the rewrite joins
    back against the same cache, so no payload is ever decoded twice.
    The refs broadcast gate counts link registrations EAGERLY at call
    time (one Spark job that also materializes the kernel cache the
    first consumer would have paid for anyway)."""
    def emit(batch, rb, target):
        from pdftext_spark.core.arrow_out import assemble_record_batch
        return assemble_record_batch(batch, rb, cfg, target)

    out = _kernel(transcripts, ("conv_id", "turn_idx", "role", "text", "ts"),
                  cfg, EXTRACTED, emit)
    if resolve_links and not cfg.disable_links:
        out = resolve_refs(out, persist=True)
    return out


def _fill_text(rb, render) -> list:
    """One output string per batch row: the routed text of html/error
    rows, then `render(rb)`'s string per doc turn at its row."""
    out: list = [None] * rb.n
    for i, o in enumerate(rb.outputs):
        if o is not None:
            out[i] = o.text
    if rb.doc_pos:
        for i, text in zip(rb.doc_pos, render(rb)):
            out[i] = text
    return out


def _text_kernel(transcripts: DataFrame, cfg: ExtractConfig,
                 renders: dict) -> DataFrame:
    """(conv_id, turn_idx, *renders) — one string column per named
    render of the routed batch. The kernel skips nested page/table
    assembly (emit_struct/emit_tables off) — the Python-side analog of
    the column pruning Catalyst applies outside the UDF — and emits ONLY
    these columns: a full-EXTRACTED assembly would build null pages,
    empty table/dest arrays and count columns per row just for a
    downstream select to drop them, paying per-row Arrow work on both
    sides of the boundary."""
    import dataclasses

    cfg = dataclasses.replace(cfg, emit_struct=False, emit_tables=False,
                              disable_links=True, emit_plain=True)
    schema = T.StructType(
        [T.StructField("conv_id", T.StringType()),
         T.StructField("turn_idx", T.IntegerType())]
        + [T.StructField(name, T.StringType()) for name in renders])

    def emit(batch, rb, target):
        import pyarrow as pa

        from pdftext_spark.core.arrow_buffers import string_array
        return pa.RecordBatch.from_arrays(
            [batch.column("conv_id"), batch.column("turn_idx")]
            + [string_array(_fill_text(rb, render))
               for render in renders.values()],
            schema=target)

    return _kernel(transcripts, ("conv_id", "turn_idx", "role", "text"),
                   cfg, schema, emit)


def plain_text_variants(transcripts: DataFrame,
                        cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """All three plain-text render modes from ONE kernel pass:
    (conv_id, turn_idx, text, text_sorted, text_keephyphens).

    The expensive work — payload decode + char→word→span→line→block
    segmentation — is shared; the three renders (default, O1
    reading-order sort, F5 keep-hyphens — reference
    postprocessing.py:76-92 and :31-53) are cheap per-turn string
    assemblies over the same Segmentation. One gate row thus verifies
    three SURVEY §2 behaviors (F7, O1, F5) at the cost of one, and a
    production export wanting several render flavors pays one decode.
    HTML/tool turns have no layout, so all three columns agree there."""
    import dataclasses

    from pdftext_spark.core.assemble import plain_text_batch

    # sort/hyphens reset explicitly: the three output columns are
    # DEFINED as (default render, sorted, keep-hyphens) regardless of
    # the caller's flags — without the reset, cfg.sort=True would make
    # the `text` column silently equal text_sorted
    cfg = dataclasses.replace(cfg, sort=False, hyphens=False)
    return _text_kernel(transcripts, cfg, {
        "text": lambda rb: rb.plains,
        "text_sorted": lambda rb: plain_text_batch(
            rb.seg, sort=True, sort_tolerance=cfg.sort_tolerance),
        "text_keephyphens": lambda rb: plain_text_batch(rb.seg, hyphens=True),
    })


def plain_text(transcripts: DataFrame, cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """Flagship projection: (conv_id, turn_idx, text) — the
    paginated_plain_text_output analog (extraction.py:75-80), rendered
    with the caller's sort/hyphens flags."""
    return _text_kernel(transcripts, cfg, {"text": lambda rb: rb.plains})
