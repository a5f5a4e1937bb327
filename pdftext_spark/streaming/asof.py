"""Streaming as-of enrichment: last-touch attribution at ingest time.

The batch form (registry.relational.q_events_asof) window-scans the
finished events table: each purchase joins the same user's latest
non-purchase event strictly earlier in (ts, event_id) order. An online
pipeline wants that decision as events ARRIVE — emit the attributed
purchase in the micro-batch it lands in, without re-scanning history.

``asof_stream`` is that operator as a custom stateful stage
(``applyInPandasWithState`` keyed by user_id):

- state per user = the latest touch seen so far, as the max
  (touch_us, touch_event_id) non-purchase event — O(1) per user;
- within a micro-batch, one user's rows arrive together (the groupBy
  shuffles on user_id) and are processed in (us, event_id) order, so
  the strictly-earlier frame semantics of the batch window hold inside
  the batch by construction;
- across batches the state carries the frame forward: when event-time
  order is preserved across batches (the replay/backfill case — and
  the test drives exactly that through a checkpoint restart), the
  stream's output is ROW-IDENTICAL to q_events_asof. On out-of-order
  arrival a purchase is attributed to the best STRICTLY-EARLIER touch
  known at emission time (the carried touch is used only when it
  precedes the purchase in event time, so gap_us is never negative
  and nothing from the purchase's future is attributed); touches that
  arrive after a purchase was emitted never re-attribute it.

Scale notes (100 TB): state cardinality is O(users) at ~40 bytes each —
RocksDB state store territory like streaming/dedup.py; the per-batch
shuffle keys on user_id, the same partitioner the batch twin and
sessionization use, so the three ops share one exchange when chained.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

ASOF_OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("event_id", LongType()),
    StructField("purchase_us", LongType()),
    StructField("touch_event_id", LongType()),
    StructField("touch_type", StringType()),
    StructField("gap_us", LongType()),
])

# latest non-purchase event so far: (us, event_id, event_type)
ASOF_STATE_SCHEMA = StructType([
    StructField("touch_us", LongType()),
    StructField("touch_event_id", LongType()),
    StructField("touch_type", StringType()),
])


def _asof_fn():
    def update(key, pdfs, state):
        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        rows = (pd.concat(frames, ignore_index=True)
                .sort_values(["us", "event_id"]))
        # carried state and the in-batch running touch are tracked
        # SEPARATELY: a late-arriving purchase must never be attributed
        # to a carried touch from its event-time future (negative gap);
        # it can still use an in-batch touch that precedes it, and the
        # carried touch only when it is strictly earlier.
        s0 = tuple(state.get) if state.exists else None
        tb = None   # latest (us, event_id, event_type) touch in batch
        out = []
        for r in rows.itertuples(index=False):
            if r.event_type == "purchase":
                p = (int(r.us), int(r.event_id))
                best = tb
                if s0 is not None and (s0[0], s0[1]) < p \
                        and (best is None or (s0[0], s0[1]) > best[:2]):
                    best = s0
                out.append({
                    "user_id": int(key[0]),
                    "event_id": int(r.event_id),
                    "purchase_us": int(r.us),
                    "touch_event_id": None if best is None else int(best[1]),
                    "touch_type": None if best is None else best[2],
                    "gap_us": (None if best is None
                               else int(r.us) - int(best[0])),
                })
            elif tb is None or (int(r.us), int(r.event_id)) > tb[:2]:
                tb = (int(r.us), int(r.event_id), r.event_type)
        new = max(x for x in (s0, tb) if x is not None) \
            if (s0 or tb) else None
        if new is not None:
            state.update(tuple(new))
        if out:
            yield pd.DataFrame(out)

    return update


def asof_stream(events: DataFrame) -> DataFrame:
    """events readStream → attributed purchases (append). Input needs
    columns (event_id, ts, user_id, event_type); emits one row per
    purchase with the latest strictly-earlier non-purchase touch, in
    the micro-batch the purchase arrives."""
    from pdftext_spark.streaming.sessions import _epoch_us

    ev = (events
          .withColumn("us", _epoch_us("ts"))
          .select("user_id", "event_id", "event_type", "us"))
    return ev.groupBy("user_id").applyInPandasWithState(
        _asof_fn(),
        outputStructType=ASOF_OUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def attribution_join_stream(events: DataFrame, window_s: int = 3600) -> DataFrame:
    """TRUE stream-stream join (watermarked, time-range bounded): every
    (purchase, touch) pair for one user with the touch strictly earlier
    and within `window_s`. Where asof_stream keeps only the LATEST
    touch via O(1) state, the join form emits ALL in-window pairs —
    Spark's own symmetric-hash join state does the buffering, and the
    time-range condition plus the two watermarks bound that state: a
    buffered touch is dropped once the purchase-side watermark passes
    its window end, so state is O(events per user-hour), not O(stream).
    One self-source split feeds both sides here; in production the two
    sides are independent topics sharing the user_id shuffle key."""
    from pdftext_spark.streaming.sessions import _epoch_us

    base = (events
            .withColumn("us", _epoch_us("ts"))
            .withColumn("wts", F.expr("timestamp_micros(us)")))
    touches = (base.where(F.col("event_type") != "purchase")
               .select(F.col("user_id").alias("t_user"),
                       F.col("event_id").alias("touch_event_id"),
                       F.col("event_type").alias("touch_type"),
                       F.col("us").alias("touch_us"),
                       F.col("wts").alias("t_wts"))
               .withWatermark("t_wts", "30 minutes"))
    purchases = (base.where(F.col("event_type") == "purchase")
                 .select("user_id", "event_id",
                         F.col("us").alias("purchase_us"), "wts")
                 .withWatermark("wts", "30 minutes"))
    cond = ((purchases["user_id"] == touches["t_user"])
            & (touches["t_wts"] < purchases["wts"])
            & (touches["t_wts"] >= F.expr(
                f"wts - INTERVAL {window_s} SECONDS")))
    return (purchases.join(touches, cond)
            .select("user_id", "event_id", "purchase_us",
                    "touch_event_id", "touch_type",
                    (F.col("purchase_us") - F.col("touch_us"))
                    .alias("gap_us")))
