"""Relational/events family: TPC-H-ish demos, windows,
sessionization, funnels, as-of/range joins, CEP patterns, retention,
pivot/unpivot, value stats."""
from __future__ import annotations

from pdftext_spark.registry._shared import (  # noqa: F401
    F,
    Window,
    _let,
    os,
)

# --------------------------------------------------------------------------
# 2e. relational demos (TPC-H-ish)
# --------------------------------------------------------------------------

def q_rel_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregate; money carried as exact integer cents so
    both engines agree bit-for-bit."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    cents = (F.round(F.col("l_extendedprice") * 100).cast("long")
             * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")))
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
                 F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("sum_price_cents"),
                 F.sum(cents).alias("sum_disc_price_e4"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def sql_rel_pricing_summary(sf_dir):
    return (
        "SELECT l_returnflag, l_linestatus, "
        # outer ::BIGINT: DuckDB sum(BIGINT) widens to HUGEINT, Spark stays BIGINT
        "sum(round(l_quantity)::BIGINT)::BIGINT sum_qty, "
        "sum(round(l_extendedprice * 100)::BIGINT)::BIGINT sum_price_cents, "
        "sum(round(l_extendedprice * 100)::BIGINT * "
        "(100 - round(l_discount * 100)::BIGINT))::BIGINT sum_disc_price_e4, "
        "count(*) count_order FROM lineitem "
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")


def q_rel_ship_priority(spark, sf_dir):
    """TPC-H Q3-shape shipping priority: unshipped revenue by order for
    one market segment — the canonical 3-table star join. Plan: both
    dimension filters (segment customers, open orders) BROADCAST onto
    the lineitem fact scan, revenue partial-aggregates by orderkey
    map-side, and the global top-10 is TakeOrderedAndProject (partial
    per-partition top-k, no full sort). Money in exact 1e-4-dollar
    units (cents x (100 - discount%)) so both engines agree
    bit-for-bit."""
    cutoff = "1998-06-01"
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    cust = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    oo = (o.where(F.col("o_orderdate") < F.lit(cutoff))
          .join(F.broadcast(cust), o["o_custkey"] == F.col("c_custkey"),
                "left_semi")
          .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    rev = (F.round(F.col("l_extendedprice") * 100).cast("long")
           * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")))
    agg = (li.where(F.col("l_shipdate") > F.lit(cutoff))
           .join(F.broadcast(oo), li["l_orderkey"] == oo["o_orderkey"])
           .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
           .agg(F.sum(rev).alias("revenue_e4")))
    top = agg.orderBy(F.desc("revenue_e4"), F.asc("l_orderkey")).limit(10)
    w = Window.orderBy(F.desc("revenue_e4"), F.asc("l_orderkey"))
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", F.col("l_orderkey").alias("orderkey"),
                    "revenue_e4",
                    F.date_format("o_orderdate", "yyyy-MM-dd")
                    .alias("orderdate"),
                    "o_orderpriority"))


def sql_rel_ship_priority(sf_dir):
    return (
        "WITH agg AS (SELECT l_orderkey, "
        "sum(round(l_extendedprice * 100)::BIGINT * "
        "(100 - round(l_discount * 100)::BIGINT))::BIGINT revenue_e4, "
        "o_orderdate, o_orderpriority "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' "
        "AND o_orderdate < TIMESTAMP '1998-06-01' "
        "AND l_shipdate > TIMESTAMP '1998-06-01' "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority), "
        "r AS (SELECT *, row_number() OVER "
        "(ORDER BY revenue_e4 DESC, l_orderkey ASC) rank FROM agg) "
        "SELECT rank, l_orderkey orderkey, revenue_e4, "
        "strftime(o_orderdate, '%Y-%m-%d') orderdate, o_orderpriority "
        "FROM r WHERE rank <= 10")


def q_rel_top_customers(spark, sf_dir):
    """Broadcast join + top-k: top 10 customers by order value cents."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    agg = (o.groupBy("o_custkey")
           .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
                F.count("*").alias("n_orders")))
    # broadcast LEFT SEMI keeps the agg side map-side; the global top-10 is
    # TakeOrderedAndProject (per-partition partial top-k, no full sort /
    # single-partition window); rank is assigned on the 10 survivors only
    joined = agg.join(F.broadcast(c.select("c_custkey")),
                      agg["o_custkey"] == F.col("c_custkey"), "left_semi")
    top = joined.orderBy(F.desc("total_cents"), F.asc("o_custkey")).limit(10)
    w = Window.orderBy(F.desc("total_cents"), F.asc("o_custkey"))
    # long cast: DuckDB row_number() is BIGINT, Spark's is INT
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", F.col("o_custkey").alias("custkey"),
                    "total_cents", "n_orders"))


def sql_rel_top_customers(sf_dir):
    return (
        "WITH agg AS (SELECT o_custkey, sum(round(o_totalprice * 100)::BIGINT)::BIGINT total_cents, "
        "count(*) n_orders FROM orders GROUP BY o_custkey), "
        "j AS (SELECT agg.*, row_number() OVER (ORDER BY total_cents DESC, o_custkey ASC) rank "
        "FROM agg JOIN customer ON o_custkey = c_custkey) "
        "SELECT rank, o_custkey custkey, total_cents, n_orders FROM j WHERE rank <= 10")


def q_rel_region_volume(spark, sf_dir):
    """Multi-way star join (lineitem ⨝ supplier ⨝ nation ⨝ region) with
    broadcast dimensions — exact integer cents."""
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    su = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    na = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    re_ = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    dims = (su.join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
            .join(F.broadcast(re_), na["n_regionkey"] == re_["r_regionkey"])
            .select("s_suppkey", "r_name"))
    return (li.join(F.broadcast(dims), li["l_suppkey"] == dims["s_suppkey"])
            .groupBy("r_name")
            .agg(F.count("*").alias("n_items"),
                 F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                 .alias("volume_cents"))
            .orderBy("r_name"))


def sql_rel_region_volume(sf_dir):
    return (
        "SELECT r_name, count(*) n_items, "
        "sum(round(l_extendedprice * 100)::BIGINT)::BIGINT volume_cents "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY r_name ORDER BY r_name")


def q_rel_rollup(spark, sf_dir):
    """Hierarchical rollup (region → nation → grand total) over supplier
    account balances — grouping-sets coverage with exact integer cents.
    Dimensions broadcast; the rollup is one map-side-combining aggregate
    over the fact scan."""
    su = spark.read.parquet(os.path.join(sf_dir, "supplier.parquet"))
    na = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    re_ = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    j = (su.join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
         .join(F.broadcast(re_), na["n_regionkey"] == re_["r_regionkey"]))
    # rollup NULL indicators become explicit 'ALL' labels so the output
    # carries no NULL grouping keys (names are non-null, so no ambiguity)
    return (j.rollup("r_name", "n_name")
            .agg(F.count("*").alias("n_suppliers"),
                 F.sum(F.round(F.col("s_acctbal") * 100).cast("long"))
                 .cast("long").alias("acctbal_cents"))
            .select(F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
                    F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
                    "n_suppliers", "acctbal_cents"))


def sql_rel_rollup(sf_dir):
    return (
        "SELECT coalesce(r_name, 'ALL') r_name, coalesce(n_name, 'ALL') n_name, "
        "count(*) n_suppliers, "
        "sum(round(s_acctbal * 100)::BIGINT)::BIGINT acctbal_cents "
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "GROUP BY ROLLUP (r_name, n_name)")


def _with_us(ev):
    """Attach exact tz-free epoch micros for the parquet-naive ts column
    (TIMESTAMP_NTZ anchor; the single definition every events query
    keys its time axis on — the SQL twin is DuckDB's epoch_us(ts))."""
    return ev.withColumn("us", F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))


def q_events_value_stats(spark, sf_dir):
    """Exact ordered statistics per event type — median and p90 of the
    value column via Spark's exact `percentile` (DuckDB `quantile_cont`;
    both use the standard (n-1)·p linear interpolation). At 100 TB the
    exact sort-based percentile becomes approx_percentile with a bounded
    error budget (pinned against the exact values in
    tests/test_round4.py::test_events_value_stats_approx_scale_path);
    here the gate wants bit-equality, so exact it is."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (ev.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
                 F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
                 F.round(F.min("value"), 6).alias("vmin"),
                 F.round(F.max("value"), 6).alias("vmax")))


def sql_events_value_stats(sf_dir):
    return (
        "SELECT event_type, count(*) n_events, "
        "round(quantile_cont(value, 0.5), 6) p50, "
        "round(quantile_cont(value, 0.9), 6) p90, "
        "round(min(value), 6) vmin, round(max(value), 6) vmax "
        "FROM events GROUP BY event_type")


def q_events_window(spark, sf_dir):
    """Tumbling 1-hour window rollup — the batch twin of
    streaming.sessions.windowed_event_counts (same buckets a watermarked
    stream produces once all late data lands). Window identity is carried
    as epoch-micro bucket starts (integer floor-div, exact on both
    engines, no timestamp-type round trip); money as exact integer cents.
    Plan: map-side partial aggregation, one (window, type)-keyed shuffle
    of pre-aggregated rows — cardinality = hours x event types, not
    events."""
    ev = _with_us(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    hour_us = 3600 * 1_000_000
    return (ev.withColumn("window_start_us",
                          F.expr(f"(us div {hour_us}) * {hour_us}"))
            .groupBy("window_start_us", "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("value_cents")))


def sql_events_window(sf_dir):
    hour_us = 3600 * 1_000_000
    return (
        f"SELECT (epoch_us(ts) // {hour_us}) * {hour_us} AS window_start_us, "
        "event_type, count(*) n_events, "
        # ::BIGINT twice: DuckDB sum(BIGINT) widens to HUGEINT, which the
        # type-strict gate (correctly) refuses to call an int
        "sum(round(value * 100)::BIGINT)::BIGINT value_cents "
        "FROM events GROUP BY 1, 2")


def q_events_props(spark, sf_dir):
    """Semi-structured JSON extraction over the events `props` column —
    the schema-on-read operator every event pipeline leans on (payloads
    evolve faster than tables). `from_json` with a PINNED schema parses
    in the JVM projection (one pass, null on malformed — the
    permissive-mode contract); the decile rollup of the extracted
    metric then rides the usual partial-aggregated shuffle. At 100 TB
    the lesson is the pinned schema: schema INFERENCE on JSON is a full
    extra corpus scan, and get_json_object re-parses per path — one
    from_json with a struct schema parses once for any number of
    fields."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev = ev.withColumn(
        "k", F.from_json("props", "struct<k: bigint>")["k"])
    return (ev.groupBy(F.expr("k div 10").alias("k_decile"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("k").alias("k_sum"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("value_cents")))


def sql_events_props(sf_dir):
    return (
        "WITH e AS (SELECT event_type, value, "
        "json_extract(props, '$.k')::BIGINT k FROM events) "
        "SELECT k // 10 AS k_decile, event_type, count(*) n_events, "
        "sum(k)::BIGINT k_sum, "
        "sum(round(value * 100)::BIGINT)::BIGINT value_cents "
        "FROM e GROUP BY 1, 2")


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_events_pivot(spark, sf_dir):
    """PIVOT: one row per user, one count column per event type — the
    wide activity-profile table feature stores export. The value list
    is EXPLICIT (`.pivot(col, values)`), which matters at scale: the
    two-pass form (Spark first runs a distinct scan to discover values)
    both doubles the I/O and makes the schema data-dependent; with the
    domain pinned the plan is a single partial-aggregated shuffle of
    5-column cells keyed by user. Counts as exact longs; the DuckDB
    oracle is the equivalent conditional aggregation."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    p = (ev.groupBy("user_id")
         .pivot("event_type", list(_EVENT_TYPES))
         .agg(F.count(F.lit(1))))   # count(*) is rejected inside pivot
    return p.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
          for t in _EVENT_TYPES])


def sql_events_pivot(sf_dir):
    cols = ", ".join(
        f"count(*) FILTER (event_type = '{t}') AS n_{t}"
        for t in _EVENT_TYPES)
    return f"SELECT user_id, {cols} FROM events GROUP BY user_id"


def q_events_unpivot(spark, sf_dir):
    """UNPIVOT (melt) — the inverse reshape of events_pivot: the wide
    per-user profile back to long (user_id, event_type, n_events) rows.
    Dropping the zero cells makes pivot∘unpivot the identity on the
    long form, so the oracle is simply the direct per-(user, type)
    count — the algebraic property IS the correctness check. unpivot
    is a zero-shuffle projection (each wide row explodes to its K
    cells in place); the only exchange in the plan is the pivot's own
    user-keyed aggregate."""
    wide = q_events_pivot(spark, sf_dir)
    long = wide.unpivot(
        "user_id",
        [f"n_{t}" for t in _EVENT_TYPES],
        "event_type", "n_events")
    return (long.where(F.col("n_events") > 0)
            .withColumn("event_type",
                        F.expr("substring(event_type, 3)")))


def sql_events_unpivot(sf_dir):
    return ("SELECT user_id, event_type, count(*) n_events "
            "FROM events GROUP BY 1, 2")


_SLIDE_US = 900 * 1_000_000      # 15-min slide
_SLIDE_K = 4                     # 1-hour window = 4 slides


def q_events_window_sliding(spark, sf_dir):
    """SLIDING 1-hour / 15-min window rollup (the overlapping-window
    twin of events_window; cf. incremental sliding-window aggregation,
    ICDE 2023): every event belongs to exactly width/slide = 4 windows,
    manufactured by an explode over the 4 slide offsets — integer
    epoch-micro arithmetic, no timestamp round trip, no range join.
    Plan: the explode multiplies pre-projection rows 4x, partial
    aggregation collapses map-side, and the single shuffle carries
    (window, type) cells — cardinality slides x types, not events. At
    100 TB the slide factor is the only cost multiplier; the CPiX-style
    pane decomposition (aggregate per 15-min pane once, then merge 4
    panes per window) is the next lever if the factor ever grows."""
    ev = _with_us(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    ev = ev.withColumn(
        "window_start_us",
        F.explode(F.expr(
            f"transform(sequence(0, {_SLIDE_K - 1}), "
            f"k -> ((us div {_SLIDE_US}) - k) * {_SLIDE_US})")))
    return (ev.groupBy("window_start_us", "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("value_cents")))


def sql_events_window_sliding(sf_dir):
    return (
        f"SELECT ((epoch_us(ts) // {_SLIDE_US}) - k.k) * {_SLIDE_US} "
        "AS window_start_us, event_type, count(*) n_events, "
        "sum(round(value * 100)::BIGINT)::BIGINT value_cents "
        f"FROM events, unnest(range(0, {_SLIDE_K})) k(k) "
        "GROUP BY 1, 2")


_FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def q_events_funnel(spark, sf_dir, chunked: bool = False):
    """Ordered conversion funnel per user: how far each user progressed
    through signup → view → click → purchase, where every stage must
    happen strictly AFTER the previous one. ONE user-keyed shuffle
    (collect the user's ordered event array), then the stage times are
    chained conditional array-mins — entirely row-wise, no joins back to
    the events table (the naive form re-joins events per stage: 4
    corpus shuffles). NULLs thread the order constraint: a missing stage
    nulls its time, the next stage's ts > prev comparison is then NULL,
    and the filter drops everything — exactly 'never reached'.
    Composition of gated constituents (events_sessionize's per-user
    ordered collect + events_value_stats' conditional aggregation).

    The default form's collect_list materializes one user's full
    history on one task — the bot-user skew trap. ``chunked=True`` is
    the SEGMENTED scale form (value-identical by test), built on an
    exactness property of time-partitioned chunks: an entry state
    carried in from an earlier chunk has its time strictly BELOW every
    event in this chunk, so the 'ts > prev stage' constraint is
    automatically satisfied across the boundary and the per-chunk
    transition function depends only on the entry STAGE — a finite
    domain. Each (user, day-chunk) therefore precomputes the chained
    stage minima for every possible entry stage (a 4+3+2+1 triangle of
    array-mins over the chunk's own events), and a per-user fold
    (aggregate) over the TINY chunk-summary table (one row per active
    user-day) composes the transitions in chunk order, threading the
    reached stage and filling each stage time from the chunk that
    advanced past it. Worst-case bot cost drops from O(user history)
    on one task to O(events per user-day)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    # NULL-ts events can never be a stage time under the chained-min
    # semantics (min skips NULL; 'ts > prev' on NULL is NULL) — but the
    # greedy fold's ENTRY arm has no prev-time comparison to reject
    # them, so a NULL-ts entry event would be consumed, store ts=NULL,
    # and poison every later 'e.ts > NULL' check. Drop them up front.
    ev = ev.where(F.col("ts").isNotNull())
    n_st = len(_FUNNEL_STAGES)
    stages_arr = "array(" + ", ".join(
        f"'{s}'" for s in _FUNNEL_STAGES) + ")"
    nulls = ", ".join(["CAST(NULL AS TIMESTAMP)"] * n_st)

    def stage_fold(entry: str) -> str:
        """One aggregate() pass over the time-sorted event array,
        starting from entry stage `entry` (an int expression): the
        greedy earliest-transition scan. Equivalent to the chained
        conditional array-mins (t_i = min stage-i ts strictly after
        t_{i-1} — in a ts-sorted array the first qualifying event IS
        that min), but evaluates each event ONCE: the chained form's
        t{i-1} column references re-inline into interpreted filter()
        lambdas, re-evaluating the whole prior stage per element
        (the _let lesson, compounding to ~O(n^4) over 4 stages)."""
        # CASE arms (guaranteed-ordered evaluation) keep every
        # element_at index in [1, n_st] under ANSI mode: the stage
        # lookup only runs when acc.stage < n_st, and the prev-time
        # read clamps to index 1 when acc.stage = entry (the clamped
        # value is unused — the = entry arm of the OR already won).
        return (f"aggregate(evs, "
                f"named_struct('stage', {entry}, 'ts', array({nulls})), "
                f"(acc, e) -> CASE WHEN acc.stage >= {n_st} THEN acc "
                f"WHEN e.event_type = element_at({stages_arr}, acc.stage + 1)"
                f" AND (acc.stage = {entry} OR e.ts > "
                f"element_at(acc.ts, greatest(acc.stage, 1))) THEN "
                f"named_struct('stage', acc.stage + 1, "
                f"'ts', transform(acc.ts, (t, i) -> "
                f"IF(i = acc.stage, e.ts, t))) "
                f"ELSE acc END)")

    if not chunked:
        g = (ev.select("user_id", "ts", "event_id", "event_type")
             .groupBy("user_id")
             .agg(F.sort_array(F.collect_list(F.struct(
                 "ts", "event_id", "event_type"))).alias("evs")))
        res = g.select("user_id", F.expr(stage_fold("0")).alias("st"))
        return res.select("user_id",
                          F.col("st.stage").cast("int").alias("stage"),
                          *[F.col("st.ts")[i].alias(f"t{i}")
                            for i in range(n_st)])
    ev = _with_us(ev).withColumn("chunk", F.expr(f"us div {_ASOF_CHUNK_US}"))
    g = (ev.select("user_id", "chunk", "ts", "event_id", "event_type")
         .groupBy("user_id", "chunk")
         .agg(F.sort_array(F.collect_list(F.struct(
             "ts", "event_id", "event_type"))).alias("evs")))
    # the transition triangle: mat[s] = chained stage minima for entry
    # stage s (entry time is < every event here, so stage s's min is
    # unconstrained; later stages chain on this chunk's own times).
    # One fold per entry stage — 4 O(n) passes per chunk row, each
    # _let-bound so the fold result is computed once and then sliced
    # (a bare column reference would re-inline the fold per element
    # of the slice, the exact blowup this rewrite removes).
    mat = ("transform(sequence(0, " + str(n_st - 1) + "), s -> " +
           _let(stage_fold("s"), "r",
                f"slice(r.ts, s + 1, {n_st} - s)") + ")")
    summ = g.select("user_id", "chunk", F.expr(mat).alias("mat"))
    per_user = (summ.groupBy("user_id")
                .agg(F.sort_array(F.collect_list(F.struct("chunk", "mat")))
                     .alias("chunks")))
    nulls = ", ".join(["CAST(NULL AS TIMESTAMP)"] * n_st)
    fold = F.expr(f"""
        aggregate(chunks,
          named_struct('stage', 0, 'ts', array({nulls})),
          (acc, c) -> IF(acc.stage >= {n_st}, acc,
            named_struct(
              'stage', acc.stage + size(filter(
                  element_at(c.mat, acc.stage + 1), x -> x IS NOT NULL)),
              'ts', transform(acc.ts, (t, i) -> IF(i < acc.stage, t,
                  element_at(element_at(c.mat, acc.stage + 1),
                             i - acc.stage + 1))))))
    """)
    res = per_user.select("user_id", fold.alias("st"))
    return res.select("user_id",
                      F.col("st.stage").cast("int").alias("stage"),
                      *[F.col("st.ts")[i].alias(f"t{i}")
                        for i in range(n_st)])


def q_events_funnel_chunked(spark, sf_dir):
    """Registry alias for the segmented funnel (same DuckDB oracle as
    events_funnel — the segmentation must be invisible)."""
    return q_events_funnel(spark, sf_dir, chunked=True)


def sql_events_funnel(sf_dir):
    sel = ["SELECT user_id, list(struct_pack(ts := ts, "
           "event_id := event_id, event_type := event_type) "
           "ORDER BY ts, event_id, event_type) evs "
           "FROM events GROUP BY 1"]
    body = "WITH g0 AS (" + sel[0] + ")"
    for i, stage in enumerate(_FUNNEL_STAGES):
        cond = f"e.event_type = '{stage}'"
        if i:
            cond += f" AND e.ts > t{i - 1}"
        body += (f", g{i + 1} AS (SELECT *, "
                 f"list_min(list_transform(list_filter(evs, "
                 f"e -> {cond}), e -> e.ts)) t{i} FROM g{i})")
    n = len(_FUNNEL_STAGES)
    stage_expr = "CASE " + " ".join(
        f"WHEN t{i} IS NULL THEN {i}" for i in range(n)) + f" ELSE {n} END"
    cols = ", ".join(f"t{i}" for i in range(n))
    return (f"{body} SELECT user_id, ({stage_expr})::INT stage, {cols} "
            f"FROM g{n}")


_SESSION_GAP_US = 1800 * 1_000_000   # 30-min inactivity closes a session


def q_events_sessionize(spark, sf_dir, chunked: bool = False):
    """Gap-based sessionization over the events stream table (30-min
    inactivity closes a session) — lag + running-sum window composition,
    the batch form of a stateful streaming operator.

    The default form's running window scans one user's whole history on
    one task — the bot-user skew trap. ``chunked=True`` is the SEGMENTED
    scale form (value-identical by test): events shuffle on (user_id,
    day-chunk) and sessionize locally, each chunk emits a one-row
    summary (first/last event time, local session count), and a carry
    pass over the TINY summary table (one row per active user-day)
    decides which chunk-boundary fragments merge (bridge gap <= the
    session gap) and assigns each chunk a global session-index base =
    sessions-before-this-chunk minus boundary-merges-so-far. Local
    per-session partial aggregates (count / extrema / type set) then
    re-aggregate by global index — count and extrema are trivially
    mergeable and the type set stays exact as a set union (event_type
    cardinality is tiny). Worst-case bot cost drops from O(user
    history) on one task to O(events per user-day); streaming/
    sessions.py is the incremental twin of the same rule."""
    ev = _with_us(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    if not chunked:
        w = Window.partitionBy("user_id").orderBy("us", "event_id")
        gap = F.col("us") - F.lag("us").over(w)
        ev = ev.withColumn("new_s",
                           F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1)
                           .otherwise(0))
        ev = ev.withColumn(
            "session_idx",
            F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
        return (ev.groupBy("user_id", "session_idx")
                .agg(F.count("*").alias("n_events"),
                     (F.max("us") - F.min("us")).alias("duration_us"),
                     F.countDistinct("event_type").alias("n_types")))
    ev = ev.withColumn("chunk", F.expr(f"us div {_ASOF_CHUNK_US}"))
    wl = Window.partitionBy("user_id", "chunk").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(wl)
    ev = ev.withColumn("new_s",
                       F.when(gap.isNull() | (gap > _SESSION_GAP_US), 1)
                       .otherwise(0))
    ev = ev.withColumn(
        "loc_idx",
        F.sum("new_s").over(wl.rowsBetween(Window.unboundedPreceding, 0)) - 1)
    # per-(user, chunk, local session) partial aggregates — mergeable
    part = (ev.groupBy("user_id", "chunk", "loc_idx")
            .agg(F.count("*").alias("n_events"),
                 F.min("us").alias("first_us"),
                 F.max("us").alias("last_us"),
                 F.collect_set("event_type").alias("types")))
    # one row per active (user, day): enough to decide boundary merges
    summ = (part.groupBy("user_id", "chunk")
            .agg((F.max("loc_idx") + 1).alias("n_loc"),
                 F.min("first_us").alias("c_first"),
                 F.max("last_us").alias("c_last")))
    wc = Window.partitionBy("user_id").orderBy("chunk")
    # merge iff the bridge gap (prev chunk's last event -> this chunk's
    # first) is within the session gap; non-adjacent active days always
    # exceed it because the chunk width (1 day) > the gap
    summ = summ.withColumn(
        "merge",
        F.when(F.lag("c_last").over(wc).isNotNull()
               & (F.col("c_first") - F.lag("c_last").over(wc)
                  <= _SESSION_GAP_US), 1).otherwise(0))
    base = (F.coalesce(F.sum("n_loc")
                       .over(wc.rowsBetween(Window.unboundedPreceding, -1)),
                       F.lit(0))
            - F.sum("merge").over(wc.rowsBetween(Window.unboundedPreceding, 0)))
    summ = summ.select("user_id", "chunk", base.alias("base"))
    j = (part.join(summ, ["user_id", "chunk"])
         .withColumn("session_idx",
                     (F.col("base") + F.col("loc_idx")).cast("long")))
    return (j.groupBy("user_id", "session_idx")
            .agg(F.sum("n_events").alias("n_events"),
                 (F.max("last_us") - F.min("first_us")).alias("duration_us"),
                 F.size(F.array_distinct(F.flatten(F.collect_list("types"))))
                 .cast("long").alias("n_types")))


def sql_events_sessionize(sf_dir):
    return (
        "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) us FROM events), "
        "g AS (SELECT user_id, event_id, event_type, us, "
        "CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 "
        "THEN 1 ELSE 0 END new_s "
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), "
        "s AS (SELECT *, (sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id "
        "ROWS UNBOUNDED PRECEDING) - 1)::BIGINT session_idx FROM g) "
        "SELECT user_id, session_idx, count(*) n_events, "
        "(max(us) - min(us))::BIGINT duration_us, "
        "count(DISTINCT event_type) n_types "
        "FROM s GROUP BY user_id, session_idx")


def q_events_sessionize_chunked(spark, sf_dir):
    """Registry alias for the segmented sessionize (same DuckDB oracle
    as the gated events_sessionize — the segmentation must be
    invisible in the output)."""
    return q_events_sessionize(spark, sf_dir, chunked=True)


_ASOF_CHUNK_US = 86400 * 1_000_000   # per-day chunks for the sharded form


def q_events_asof(spark, sf_dir, chunked: bool = False):
    """AS-OF JOIN (last-touch attribution): each purchase event joined to
    the same user's most recent non-purchase event strictly earlier in
    (ts, event_id) order. Spark has no ASOF JOIN operator; the naive
    range-join form explodes to O(purchases x events-per-user). This is
    the union-sort-scan formulation instead: ONE shuffle on user_id, one
    in-partition sort, then `last(..., ignorenulls) OVER (ROWS UNBOUNDED
    PRECEDING .. 1 PRECEDING)` carries the latest touch forward — the
    window frame IS the as-of semantics, cost O(n log n) per user
    instead of a pair blowup, and it never re-reads or re-joins the
    table. The user_id key is the natural partitioner (same key
    sessionize shuffles on, so the two ops share one exchange when
    pipelined). Timestamps are carried as exact tz-free epoch micros
    end-to-end (no timestamp round trip); touch columns are NULL when
    no prior touch exists (left-join semantics of the empty prefix).

    A single user whose history outgrows one task (a bot at 10^12
    events — the text_pack skew lesson) is handled by the SEGMENTED
    form (``chunked=True``, value-identical by test): events shuffle on
    (user_id, day-chunk) so no user serializes; each chunk computes its
    local strictly-before frame plus a one-row summary (latest touch in
    chunk); a per-user carry window over the TINY summary table (one
    row per active user-day) propagates the incoming touch to each
    chunk; a coalesce stitches local and incoming. Worst-case bot cost
    drops from O(user history) on one task to O(events per user-day)."""
    ev = _with_us(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    touch = F.col("event_type") != "purchase"
    if not chunked:
        w = (Window.partitionBy("user_id").orderBy("us", "event_id")
             .rowsBetween(Window.unboundedPreceding, -1))
        ev = ev.select(
            "event_id", "user_id", "event_type",
            F.col("us").alias("purchase_us"),
            F.last(F.when(touch, F.col("event_id")), ignorenulls=True)
            .over(w).alias("touch_event_id"),
            F.last(F.when(touch, F.col("event_type")), ignorenulls=True)
            .over(w).alias("touch_type"),
            F.last(F.when(touch, F.col("us")), ignorenulls=True)
            .over(w).alias("touch_us"))
        return (ev.where(F.col("event_type") == "purchase")
                .select("event_id", "user_id", "purchase_us",
                        "touch_event_id", "touch_type",
                        (F.col("purchase_us") - F.col("touch_us"))
                        .alias("gap_us")))
    ev = ev.withColumn("chunk", F.expr(f"us div {_ASOF_CHUNK_US}"))
    wl = (Window.partitionBy("user_id", "chunk").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, -1))
    loc = ev.select(
        "event_id", "user_id", "event_type", "chunk",
        F.col("us").alias("purchase_us"),
        F.last(F.when(touch, F.struct("us", "event_id", "event_type")),
               ignorenulls=True).over(wl).alias("lt"))
    # one row per active (user, day): the latest touch inside the chunk
    # (struct max = lexicographic on (us, event_id), exactly the order
    # the window scans in)
    summ = (ev.groupBy("user_id", "chunk")
            .agg(F.max(F.when(touch, F.struct("us", "event_id",
                                              "event_type"))).alias("ct")))
    wc = (Window.partitionBy("user_id").orderBy("chunk")
          .rowsBetween(Window.unboundedPreceding, -1))
    inc = summ.select(
        "user_id", "chunk",
        F.last("ct", ignorenulls=True).over(wc).alias("inc"))
    j = (loc.join(inc, ["user_id", "chunk"])
         .withColumn("t", F.coalesce(F.col("lt"), F.col("inc"))))
    return (j.where(F.col("event_type") == "purchase")
            .select("event_id", "user_id", "purchase_us",
                    F.col("t.event_id").alias("touch_event_id"),
                    F.col("t.event_type").alias("touch_type"),
                    (F.col("purchase_us") - F.col("t.us")).alias("gap_us")))


def sql_events_asof(sf_dir):
    return (
        "WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) us "
        "FROM events), "
        "t AS (SELECT *, "
        "last_value(CASE WHEN event_type <> 'purchase' THEN event_id END "
        "IGNORE NULLS) OVER w touch_event_id, "
        "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END "
        "IGNORE NULLS) OVER w touch_type, "
        "last_value(CASE WHEN event_type <> 'purchase' THEN us END "
        "IGNORE NULLS) OVER w touch_us "
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) "
        "SELECT event_id, user_id, us AS purchase_us, touch_event_id, "
        "touch_type, (us - touch_us)::BIGINT gap_us "
        "FROM t WHERE event_type = 'purchase'")


_RANGE_W_US = 600 * 1_000_000  # 10-min incident window = bucket width


def q_events_range_join(spark, sf_dir):
    """BUCKETED RANGE JOIN (interval containment with NO equi-key): every
    'error' event opens a global 10-min incident window [ts, ts+10min);
    count the events (any user) falling inside each window. Spark's
    planner turns a pure inequality join into BroadcastNestedLoopJoin —
    O(incidents x events), the classic range-join blowup. The scale form
    here manufactures the equi-key: time is cut into buckets exactly one
    window wide, each incident is exploded to the <=2 buckets its window
    overlaps, each event maps to its single floor bucket, and the join
    becomes an equi-join on bucket followed by the exact containment
    filter. Each matching (incident, event) pair meets in exactly one
    bucket (the event's), so no dedup pass is needed. Cost: shuffle
    keyed by time bucket — uniform by construction, skew-free even when
    one user or one incident dominates — then a partial-aggregated
    rollup to per-incident counts. At 100 TB both sides partition-prune
    to the same time range and the bucket key co-locates them; the
    O(n x m) nested-loop form the oracle runs would never finish."""
    ev = _with_us(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    inc = (ev.where(F.col("event_type") == "error")
           .select(F.col("event_id").alias("incident_id"),
                   F.col("us").alias("w_start"),
                   (F.col("us") + F.lit(_RANGE_W_US)).alias("w_end")))
    # explode the interval onto every bucket it overlaps (<= 2 by width)
    inc = inc.withColumn(
        "bucket",
        F.explode(F.sequence(F.expr(f"w_start div {_RANGE_W_US}"),
                             F.expr(f"(w_end - 1) div {_RANGE_W_US}"))))
    hits = (ev.select("event_id", "user_id", "value", "us",
                      F.expr(f"us div {_RANGE_W_US}").alias("bucket"))
            .join(inc, "bucket")
            .where((F.col("us") >= F.col("w_start"))
                   & (F.col("us") < F.col("w_end"))
                   & (F.col("event_id") != F.col("incident_id"))))
    return (hits.groupBy("incident_id")
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("value_cents")))


def sql_events_range_join(sf_dir):
    # the naive inequality-join form — exactly what the bucketed plan
    # must reproduce (DuckDB executes it as an IEJoin, fine at sf<=0.01)
    return (
        "WITH e AS (SELECT event_id, user_id, event_type, value, "
        "epoch_us(ts) us FROM events) "
        "SELECT i.event_id incident_id, count(*) n_events, "
        "count(DISTINCT e2.user_id) n_users, "
        "sum(round(e2.value * 100)::BIGINT)::BIGINT value_cents "
        "FROM e i "
        f"JOIN e e2 ON e2.us >= i.us AND e2.us < i.us + {_RANGE_W_US} "
        "AND e2.event_id <> i.event_id "
        "WHERE i.event_type = 'error' "
        "GROUP BY 1")


_PATTERN_SPAN_US = 12 * 3600 * 1_000_000   # error,error,purchase within 12 h


def q_events_pattern(spark, sf_dir):
    """CEP-style sequence pattern detection (the MATCH_RECOGNIZE shape
    Spark lacks; cf. multi-pattern detection over event streams, SIGMOD
    2019): find every CONTIGUOUS [error, error, purchase] run in a
    user's event sequence whose first-to-last span is <= 12 hours —
    the 'two failures then a conversion' incident signature. Where
    events_funnel tracks non-contiguous global progression, this is
    strict adjacency: the pattern compiles to a lag-chain over ONE
    user-keyed window (lag(type,1), lag(type,2), lag(us,2)) plus a
    row-wise predicate — no joins, no state machine materialization,
    and fixed O(pattern length) columns per event. At 100 TB the lag
    chain rides the same (user_id)-keyed exchange sessionize uses; a
    bot user would segment per (user, day-chunk) with (pattern-1)-row
    chunk-boundary overlap (the events_asof(chunked=True) pattern)."""
    ev = _with_us(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    ev = (ev.select("user_id", "event_id", "event_type", "us")
          .withColumn("t1", F.lag("event_type", 1).over(w))
          .withColumn("t2", F.lag("event_type", 2).over(w))
          .withColumn("us2", F.lag("us", 2).over(w)))
    return (ev.where((F.col("event_type") == "purchase")
                     & (F.col("t1") == "error") & (F.col("t2") == "error")
                     & (F.col("us") - F.col("us2") <= _PATTERN_SPAN_US))
            .select("user_id", F.col("event_id").alias("close_event_id"),
                    (F.col("us") - F.col("us2")).alias("span_us")))


def sql_events_pattern(sf_dir):
    return (
        "WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) us "
        "FROM events), "
        "l AS (SELECT user_id, event_id, event_type, us, "
        "lag(event_type, 1) OVER w t1, lag(event_type, 2) OVER w t2, "
        "lag(us, 2) OVER w us2 FROM e "
        "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)) "
        "SELECT user_id, event_id close_event_id, (us - us2)::BIGINT span_us "
        "FROM l WHERE event_type = 'purchase' AND t1 = 'error' "
        f"AND t2 = 'error' AND us - us2 <= {_PATTERN_SPAN_US}")


_WEEK_US = 7 * 86400 * 1_000_000


def q_events_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-active week
    (epoch-week of their earliest event), counted again in every later
    week they return — the (cohort_week, offset_weeks) → n_users table
    every growth dashboard draws. Shape: ONE user-keyed shuffle does
    all the work — per user, aggregate the distinct active weeks AND
    their min in the same pass, then explode the (cohort, offset) pairs
    and count per cell (pre-aggregated rows; cell cardinality is
    weeks², not users). The naive form self-joins activity against
    first-activity — a second corpus shuffle this plan never takes.
    Weeks are exact integer epoch-week indexes (no calendar/timezone
    round trip)."""
    ev = _with_us(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    ev = ev.withColumn("wk", F.expr(f"us div {_WEEK_US}"))
    per_user = (ev.groupBy("user_id")
                .agg(F.collect_set("wk").alias("wks")))
    cells = (per_user
             .withColumn("cohort_week", F.array_min("wks"))
             .select("user_id", "cohort_week",
                     F.explode("wks").alias("wk")))
    return (cells.groupBy("cohort_week",
                          (F.col("wk") - F.col("cohort_week"))
                          .alias("offset_weeks"))
            .agg(F.count("*").alias("n_users")))


def sql_events_retention(sf_dir):
    return (
        f"WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} wk "
        "FROM events), "
        "c AS (SELECT user_id, min(wk) OVER (PARTITION BY user_id) "
        "cohort_week, wk FROM a) "
        "SELECT cohort_week, (wk - cohort_week)::BIGINT offset_weeks, "
        "count(*) n_users FROM c GROUP BY 1, 2")


