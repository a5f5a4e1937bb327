"""Streaming event analytics: stateful sessionization + windowed counts.

The batch form of gap-based sessionization lives in
registry.relational.q_events_sessionize (lag + running-sum windows).
These are its Structured Streaming twins over the same events table
(event_id, ts, user_id, event_type, value, props):

- ``sessionize_stream``: custom stateful operator via
  ``applyInPandasWithState`` — per-user state carries the OPEN session
  (last event time, start, counts, type set) across micro-batches; a
  session is emitted the moment an event arrives more than ``gap_s``
  after the previous one. Open sessions stay in state (a continuous
  stream never knows a session is over until the gap is observed; a
  production deployment would add GroupStateTimeout.EventTimeTimeout to
  flush sessions whose gap has provably passed the watermark — the
  emit-on-gap path tested here is the deterministic core either way).
- ``windowed_event_counts``: watermark + tumbling-window aggregation —
  the late-data-tolerant rollup (counts and value sums per
  window × event_type).

Scale notes: state is O(active users) × O(1) per user (the type set is
bounded by event-type cardinality); each micro-batch shuffles only the
new events on user_id — the same partitioning the batch query uses.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

GAP_US_DEFAULT = 1800 * 1_000_000  # 30 min, matches q_events_sessionize

SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start_us", LongType()),
    StructField("n_events", LongType()),
    StructField("duration_us", LongType()),
    StructField("n_types", LongType()),
])

# open-session state: last event us, session start us, event count,
# JSON-encoded sorted distinct event types (struct-of-scalars keeps the
# state codec trivial; JSON makes the encoding unambiguous for event
# types containing any delimiter character)
STATE_SCHEMA = StructType([
    StructField("us_last", LongType()),
    StructField("us_start", LongType()),
    StructField("n_events", LongType()),
    StructField("types", StringType()),
])


def _epoch_us(ts_col):
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})")


_WATERMARK_DELAY_S = 60  # must stay <= gap_s, see sessionize_stream


def _types_list(s: str) -> list:
    """Decode the state's type set. JSON since round 3; tolerate the
    legacy '|'-joined form so a query resumed from an old checkpoint
    doesn't crash (old entries may undercount types containing '|' —
    exactly the bug the JSON encoding fixed — but they keep running)."""
    if not s:
        return []
    try:
        v = json.loads(s)
        if isinstance(v, list):
            return v
    except ValueError:
        pass
    return s.split("|")


def _close(user_id: int, st) -> dict:
    return {
        "user_id": user_id,
        "session_start_us": st[1],
        "n_events": st[2],
        "duration_us": st[0] - st[1],
        "n_types": len(_types_list(st[3])),
    }


def _session_fn(gap_us: int, flush_on_timeout: bool = False):
    def update(key, pdfs, state):
        user_id = key[0]
        if flush_on_timeout and state.hasTimedOut:
            # the watermark has provably passed this open session's gap
            # boundary: no in-watermark event can extend it any more, so
            # emit it and drop the state (the NoTimeout mode keeps it
            # open forever — fine for tests, a leak on a real stream)
            st = list(state.get)
            state.remove()
            yield pd.DataFrame([_close(user_id, st)])
            return
        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        events = pd.concat(frames, ignore_index=True)
        events = events.sort_values(["us", "event_id"])
        if state.exists:
            st = list(state.get)
        else:
            st = None
        closed = []
        for us, etype in zip(events["us"].tolist(),
                             events["event_type"].tolist()):
            if st is None:
                st = [us, us, 1, json.dumps([etype])]
                continue
            if us - st[0] > gap_us:
                closed.append(_close(user_id, st))
                st = [us, us, 1, json.dumps([etype])]
            else:
                types = set(_types_list(st[3]))
                types.add(etype)
                # a late-but-within-watermark event can arrive AFTER a
                # newer one (previous micro-batch advanced us_last): keep
                # us_last monotone and pull the start back if the late
                # event predates it — never rewind the gap clock, or a
                # session would falsely close at the next event
                st = [max(st[0], us), min(st[1], us), st[2] + 1,
                      json.dumps(sorted(types))]
        state.update(tuple(st))
        if flush_on_timeout:
            # fire once the event-time watermark passes last-seen + gap;
            # clamp above the current watermark (Spark rejects timestamps
            # at or below it — if the gap has already provably passed, the
            # state times out at the very next trigger)
            ts_ms = (st[0] + gap_us) // 1000 + 1
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(ts_ms, wm + 1))
        if closed:
            yield pd.DataFrame(closed)

    return update


def sessionize_stream(events: DataFrame, gap_s: int = 1800,
                      flush_on_timeout: bool = False) -> DataFrame:
    """events readStream → closed sessions (append). Input needs columns
    (event_id, ts, user_id, event_type).

    flush_on_timeout=True adds GroupStateTimeout.EventTimeTimeout: an open
    session is emitted (and its state dropped) once the watermark passes
    its last event + gap — the point where no admissible late event could
    extend it. Without it, sessions with no successor event stay in state
    forever (deterministic core, but a state leak on endless streams).

    Requires gap_s >= the 1-minute watermark delay: the in-gap merge
    treats every admissible late event as part of the open session, which
    matches the sorted batch semantics only while lateness is bounded by
    the gap (a late event more than one gap BEFORE the session start
    would otherwise merge where the batch twin splits)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if gap_s < _WATERMARK_DELAY_S:
        raise ValueError(
            f"gap_s={gap_s} must be >= the {_WATERMARK_DELAY_S}s watermark "
            "delay, or late-event merging diverges from batch semantics")

    # epoch micros come from the parquet-naive (NTZ) ts; the watermark
    # column must be TIMESTAMP, built with timestamp_micros(us) so the
    # watermark clock IS the event clock. (A cast(ts as timestamp) would
    # shift by the session timezone while `us` stays tz-free — off-UTC
    # the flush-on-timeout clamp would then fire at wm+1 every trigger
    # and close open sessions prematurely.)
    ev = events.withColumn("us", _epoch_us("ts")) \
        .withColumn("wts", F.expr("timestamp_micros(us)")) \
        .select("user_id", "event_id", "event_type", "us", "wts") \
        .withWatermark("wts", f"{_WATERMARK_DELAY_S} seconds")
    return ev.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_s * 1_000_000, flush_on_timeout),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout if flush_on_timeout
                     else GroupStateTimeout.NoTimeout),
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "30 minutes") -> DataFrame:
    """Tumbling-window event rollup with a watermark for late data:
    (window, event_type) → count + exact value cents sum."""
    events = events.withColumn("wts", F.col("ts").cast("timestamp"))
    return (events.withWatermark("wts", watermark)
            .groupBy(F.window("wts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("value_cents")))
