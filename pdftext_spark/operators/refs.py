"""X1 — per-conversation link-reference resolution (SURVEY.md §2.9).

The reference keeps a PageReference registry that grows across the pages
of one document (schema.py:205-225, pdf/links.py:224-231). Per-turn
extraction emits (a) integer-only placeholder urls `#goto|turn|gid`
inside spans and (b) a tiny `link_dests` side column. This operator is
**100 % JVM-side**, and it touches `link_dests` once:

1. one scan explodes `link_dests` into registrations, and ONE exchange
   (`repartition(conv_id)`) places each conversation in one partition;
   every later window and group clusters on a superset of `conv_id`, so
   no other exchange follows;
2. two windows give each registration its coord's first arrival
   `min((turn_idx, ord))` and its registry index, the dense rank of
   (first arrival, x, y) on its dest page — the add_ref semantics of
   schema.py:212-225 (first arrival wins, idx = arrival rank);
3. each registration yields a url-map entry at its own turn and, on its
   coord's first arrival, a ref at its dest page; ONE group by
   (conv_id, turn_idx) folds them into one side table (url_map,
   page_refs) with a row per linked or linked-to turn;
4. the side table meets the cached kernel output in ONE left join, and
   one SQL projection rewrites span urls and attaches refs with nested
   `transform` — no second Arrow round-trip for the heavy nested page
   column, which never shuffles.

At 10^12 turns the side table is usually millions of rows — small enough
to broadcast — but on link-dense corpora it is O(linked turns) and a
hard-forced broadcast would OOM the driver instead of degrading.
`resolve_refs` therefore counts the registrations (a column-pruned scan
of the tiny `link_dests` column) and drops the `F.broadcast` hint above
`BROADCAST_THRESHOLD`, letting AQE pick a broadcast or sort-merge join on
(conv_id, turn_idx) at runtime. Either way the plan holds at most one
broadcast relation: each one pins a `spark.buffer.pageSize` page (64 MB
under an 8 GB driver) on the driver heap for as long as the plan is
referenced, however small the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdftext_spark.operators.schema import PAGE

# Each registration yields its url-map entry at its own turn and, when it
# is its coord's first arrival, the coord's ref at its dest page (with the
# first arrival's x and y: -0.0 and 0.0 are one coord).
_SIDE_ROWS = """inline(filter(array(
  named_struct('turn_idx', turn_idx,
    'u', named_struct(
      'k', concat('#goto|', CAST(turn_idx AS STRING), '|', CAST(gid AS STRING)),
      'v', concat('#page-', CAST(dest_page AS STRING), '-', CAST(idx AS STRING))),
    'r', CAST(NULL AS STRUCT<idx: INT, x: DOUBLE, y: DOUBLE>)),
  IF(named_struct('turn_idx', turn_idx, 'ord', ord) = first_at,
     named_struct('turn_idx', dest_page,
       'u', CAST(NULL AS STRUCT<k: STRING, v: STRING>),
       'r', named_struct('idx', idx, 'x', x, 'y', y)),
     NULL)), e -> e IS NOT NULL))"""

# placeholder urls -> '#page-<dest>-<idx>'; refs pointing to this page
_PAGE_REWRITE = f"""IF(page IS NULL, NULL, CAST(named_struct(
  'page', page.page, 'bbox', page.bbox, 'width', page.width,
  'height', page.height, 'rotation', page.rotation,
  'blocks', IF(url_map IS NULL, page.blocks, transform(page.blocks,
    b -> named_struct('bbox', b.bbox, 'lines', transform(b.lines,
      ln -> named_struct('bbox', ln.bbox, 'spans', transform(ln.spans,
        s -> named_struct(
          'bbox', s.bbox, 'text', s.text, 'font', s.font,
          'char_start_idx', s.char_start_idx, 'char_end_idx', s.char_end_idx,
          'rotation', s.rotation,
          'url', coalesce(element_at(url_map, s.url), s.url),
          'superscript', s.superscript, 'subscript', s.subscript,
          'chars', s.chars))))))),
  'refs', IF(page_refs IS NULL, page.refs, transform(page_refs,
    r -> named_struct(
      'idx', r.idx, 'page', page.page, 'coord', array(r.x, r.y),
      'ref', concat('page-', CAST(page.page AS STRING), '-', CAST(r.idx AS STRING)),
      'url', concat('#page-', CAST(page.page AS STRING), '-', CAST(r.idx AS STRING)))))
) AS {PAGE.simpleString()})) AS page"""


def registry_side_table(extracted: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, url_map, page_refs) — one row per turn that
    registers a link or is linked to. url_map maps the turn's placeholder
    urls to final urls; page_refs is the sorted (idx, x, y) array of refs
    pointing to the turn. A turn with nothing of one kind has NULL there.

    Sets fold the repeats: a `(conv_id, turn_idx)` key that repeats in the
    input repeats its registrations, first arrivals included."""
    return (extracted
            .select("conv_id", "turn_idx", F.explode("link_dests").alias("r"))
            .select("conv_id", "turn_idx", "r.ord", "r.gid", "r.dest_page",
                    "r.x", "r.y")
            .repartition("conv_id")
            .selectExpr(
                "*",
                "min(named_struct('turn_idx', turn_idx, 'ord', ord)) OVER "
                "(PARTITION BY conv_id, dest_page, x, y) AS first_at")
            .selectExpr(
                "*",
                "dense_rank() OVER (PARTITION BY conv_id, dest_page "
                "ORDER BY first_at, x, y) - 1 AS idx")
            .selectExpr("conv_id", _SIDE_ROWS)
            .groupBy("conv_id", "turn_idx")
            .agg(F.collect_set("u").alias("u"), F.collect_set("r").alias("r"))
            .selectExpr(
                "conv_id", "turn_idx",
                "IF(size(u) > 0, map_from_entries(u), NULL) AS url_map",
                "IF(size(r) > 0, sort_array(r), NULL) AS page_refs"))


# Above this many registrations the side table stops being "obviously
# driver-safe" (rule of thumb: ~100 bytes/registration -> ~500 MB at 5e6,
# within spark.sql.autoBroadcastJoinThreshold territory but not a
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
    side = registry_side_table(extracted)

    # Broadcast size gate (VERDICT r2): a hard-forced broadcast on a
    # link-dense corpus OOMs the driver instead of degrading. The
    # registration count is a column-pruned scan of the tiny link_dests
    # column — cheap against the already-persisted/staged `extracted`
    # (measured ~0.2 s on the 110k-turn tier, interleaved best-of-5).
    n_regs = (extracted.select(F.coalesce(F.size("link_dests"), F.lit(0))
                               .alias("n"))
              .agg(F.sum("n")).collect()[0][0] or 0)
    if n_regs <= BROADCAST_THRESHOLD:
        side = F.broadcast(side)

    cols = [_PAGE_REWRITE if c == "page" else f"`{c}`"
            for c in extracted.columns]
    result = (extracted.join(side, on=["conv_id", "turn_idx"], how="left")
              .selectExpr(*cols))
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
