"""X1 — per-conversation link-reference resolution (SURVEY.md §2.9).

The reference keeps a PageReference registry that grows across the pages
of one document (schema.py:205-225, pdf/links.py:224-231). Per-turn
extraction emits (a) integer-only placeholder urls `#goto|turn|gid`
inside spans and (b) a tiny `link_dests` side column. This operator is
**100 % JVM-side**:

1. aggregate `link_dests` into the registry — first-arrival dedup on
   (conv_id, dest_page, coord), idx = arrival rank per dest page — two
   window functions over a table whose size is O(#links), not O(#chars);
2. broadcast-join the per-turn url map and per-turn refs arrays back;
3. rewrite span urls / attach refs with nested `transform` expressions —
   a pure columnar projection, no second Arrow round-trip for the heavy
   nested page column (which also dodges a pyarrow segfault on
   arrow→pandas for this depth of nesting).

At 10^12 turns the registry is usually millions of rows — small enough
to broadcast — but on link-dense corpora the per-turn url-map table is
O(linked turns) and a hard-forced broadcast would OOM the driver instead
of degrading. `resolve_refs` therefore counts the registrations (a
column-pruned scan of the tiny `link_dests` column) and drops the
`F.broadcast` hints above `BROADCAST_THRESHOLD`, letting AQE pick a
broadcast or sort-merge join on (conv_id, turn_idx) at runtime. On the
fallback path the two side tables are pre-merged into ONE per-(conv,
turn) table so the heavy nested page column meets exactly one join; the
broadcast hot path keeps two independent broadcast builds (measured
faster than pre-merging — zero data shuffles either way there).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdftext_spark.operators.schema import PAGE


def _registrations(extracted: DataFrame) -> DataFrame:
    return (extracted
            .where(F.size("link_dests") > 0)
            .select("conv_id", "turn_idx", F.explode("link_dests").alias("r"))
            .select("conv_id", "turn_idx", "r.ord", "r.gid", "r.dest_page",
                    "r.x", "r.y"))


def _firsts(regs: DataFrame) -> DataFrame:
    """Deduped registry: one row per distinct (conv, dest_page, coord) with
    its arrival-rank idx — the add_ref semantics of schema.py:212-225."""
    w_first = (Window.partitionBy("conv_id", "dest_page", "x", "y")
               .orderBy("turn_idx", "ord"))
    w_idx = Window.partitionBy("conv_id", "dest_page").orderBy("turn_idx", "ord")
    return (regs.withColumn("rn", F.row_number().over(w_first))
            .where(F.col("rn") == 1).drop("rn")
            .withColumn("idx", F.row_number().over(w_idx) - 1))


def build_registry(extracted: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, gid, dest_page, idx) — every registration with
    its resolved registry index (dedup on coords, first-arrival order)."""
    regs = _registrations(extracted)
    return (regs.join(_firsts(regs).select("conv_id", "dest_page", "x", "y", "idx"),
                      on=["conv_id", "dest_page", "x", "y"], how="inner")
            .select("conv_id", "turn_idx", "gid", "dest_page", "idx"))


def _span_with_url(s: Column, url_map: Column) -> Column:
    return F.struct(
        s["bbox"].alias("bbox"),
        s["text"].alias("text"),
        s["font"].alias("font"),
        s["char_start_idx"].alias("char_start_idx"),
        s["char_end_idx"].alias("char_end_idx"),
        s["rotation"].alias("rotation"),
        F.coalesce(F.element_at(url_map, s["url"]), s["url"]).alias("url"),
        s["superscript"].alias("superscript"),
        s["subscript"].alias("subscript"),
        s["chars"].alias("chars"),
    )


# Above this many registrations the per-turn url-map / target tables stop
# being "obviously driver-safe" (rule of thumb: ~100 bytes/row -> ~500 MB
# at 5e6, within spark.sql.autoBroadcastJoinThreshold territory but not a
# forced-broadcast bet). AQE decides from real runtime sizes beyond it.
BROADCAST_THRESHOLD = 5_000_000


def resolve_refs(extracted: DataFrame, persist: bool = True) -> DataFrame:
    # The registry is aggregated from `extracted`'s own link_dests column.
    # persist=True caches `extracted` so the kernel runs once for the
    # registry build, the size gate and the rewrite (extract(), tests,
    # ad-hoc use); persist=False means the caller already materialized
    # it to storage (streaming/incremental.py's staged read-back).
    persisted: list[DataFrame] = []
    if persist:
        extracted = extracted.persist()
        persisted.append(extracted)
    registry = build_registry(extracted)

    # per-turn url maps: placeholder '#goto|turn|gid' -> '#page-dest-idx'
    url_maps = (registry
                .select("conv_id", "turn_idx", "gid", "dest_page", "idx")
                .distinct()
                .groupBy("conv_id", "turn_idx")
                .agg(F.map_from_entries(F.collect_list(F.struct(
                    F.concat(F.lit("#goto|"), F.col("turn_idx").cast("string"),
                             F.lit("|"), F.col("gid").cast("string")).alias("k"),
                    F.concat(F.lit("#page-"), F.col("dest_page").cast("string"),
                             F.lit("-"), F.col("idx").cast("string")).alias("v"),
                ))).alias("url_map")))

    # per-target-turn refs arrays (refs POINTING TO that turn)
    targets = (_firsts(_registrations(extracted))
               .groupBy("conv_id", F.col("dest_page").alias("turn_idx"))
               .agg(F.sort_array(F.collect_list(F.struct("idx", "x", "y")))
                    .alias("page_refs")))

    # Broadcast size gate (VERDICT r2): a hard-forced broadcast on a
    # link-dense corpus OOMs the driver instead of degrading. The
    # registration count is a column-pruned scan of the tiny link_dests
    # column — cheap against the already-persisted/staged `extracted`
    # (measured ~0.2 s on the 110k-turn tier, interleaved best-of-5).
    n_regs = (extracted.select(F.coalesce(F.size("link_dests"), F.lit(0))
                               .alias("n"))
              .agg(F.sum("n")).collect()[0][0] or 0)
    if n_regs <= BROADCAST_THRESHOLD:
        # hot path: two independent broadcast builds, zero data shuffles
        # (measured faster than pre-merging them into one side table —
        # the full_outer merge serializes the two agg pipelines behind a
        # shuffle join before anything can broadcast)
        out = (extracted.alias("e")
               .join(F.broadcast(url_maps.alias("u")),
                     on=[F.col("e.conv_id") == F.col("u.conv_id"),
                         F.col("e.turn_idx") == F.col("u.turn_idx")],
                     how="left")
               .join(F.broadcast(targets.alias("t")),
                     on=[F.col("e.conv_id") == F.col("t.conv_id"),
                         F.col("e.turn_idx") == F.col("t.turn_idx")],
                     how="left"))
        page_refs = F.col("t.page_refs")
    else:
        # fallback (link-dense corpus): pre-merge the two side tables so
        # the heavy page column meets exactly ONE sort-merge join instead
        # of two; AQE may still convert it to broadcast at runtime
        side = url_maps.join(targets, on=["conv_id", "turn_idx"],
                             how="full_outer")
        out = (extracted.alias("e")
               .join(side.alias("u"),
                     on=[F.col("e.conv_id") == F.col("u.conv_id"),
                         F.col("e.turn_idx") == F.col("u.turn_idx")],
                     how="left"))
        page_refs = F.col("u.page_refs")

    page = F.col("e.page")
    url_map = F.col("u.url_map")
    refs_col = F.when(
        page_refs.isNotNull(),
        F.transform(page_refs, lambda r: F.struct(
            r["idx"].alias("idx"),
            page["page"].alias("page"),
            F.array(r["x"], r["y"]).alias("coord"),
            F.concat(F.lit("page-"), page["page"].cast("string"), F.lit("-"),
                     r["idx"].cast("string")).alias("ref"),
            F.concat(F.lit("#page-"), page["page"].cast("string"), F.lit("-"),
                     r["idx"].cast("string")).alias("url"),
        ))
    ).otherwise(page["refs"])

    blocks_col = F.when(url_map.isNotNull(), F.transform(
        page["blocks"], lambda b: F.struct(
            b["bbox"].alias("bbox"),
            F.transform(b["lines"], lambda ln: F.struct(
                ln["bbox"].alias("bbox"),
                F.transform(ln["spans"], lambda s: _span_with_url(s, url_map))
                .alias("spans"),
            )).alias("lines"),
        ))).otherwise(page["blocks"])

    new_page = F.when(page.isNotNull(), F.struct(
        page["page"].alias("page"),
        page["bbox"].alias("bbox"),
        page["width"].alias("width"),
        page["height"].alias("height"),
        page["rotation"].alias("rotation"),
        blocks_col.alias("blocks"),
        refs_col.alias("refs"),
    ).cast(PAGE)).otherwise(F.lit(None).cast(PAGE))

    keep = [F.col(f"e.{c}").alias(c) for c in extracted.columns if c != "page"]
    result = out.select(*keep, new_page.alias("page")) \
        .select(*extracted.columns)  # restore original column order
    # handle for cache-eviction seams (queries.unpersist_tier /
    # release_persisted below): the persist above is internal, so callers
    # need this to release storage memory
    result._pdftext_persisted = persisted
    return result


def release_persisted(df: DataFrame, blocking: bool = False) -> int:
    """Unpersist whatever resolve_refs persisted to build `df` (the
    cached kernel output of extract()) — the release seam for per-batch
    callers: a long-running service calls this after consuming each
    batch or its storage memory grows without bound. Safe to call at any
    time: the plan stays valid and recomputes if re-executed."""
    n = 0
    for f in getattr(df, "_pdftext_persisted", []):
        try:
            f.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n
