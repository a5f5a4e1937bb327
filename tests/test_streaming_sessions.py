"""Streaming sessionization (applyInPandasWithState) + watermarked window
aggregation, verified against independently computed batch truth."""

import os

import duckdb
import pytest

SF = "/root/testdata/sf0.001"


def _batch_sessions():
    """Ground truth from DuckDB: 30-min-gap sessions per user, split into
    (closed-by-a-later-event, open-at-end-of-data)."""
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT user_id, epoch_us(ts) us, event_id, event_type "
        f"FROM read_parquet('{SF}/events.parquet') "
        f"ORDER BY user_id, us, event_id").fetchall()
    sessions = {}
    cur = {}
    for user, us, _eid, etype in rows:
        st = cur.get(user)
        if st is None:
            cur[user] = [us, us, 1, {etype}]
            continue
        if us - st[0] > 1800 * 1_000_000:
            sessions.setdefault(user, []).append(st)
            cur[user] = [us, us, 1, {etype}]
        else:
            st[0] = us
            st[2] += 1
            st[3].add(etype)
    closed = {(u, st[1], st[2], st[0] - st[1], len(st[3]))
              for u, sts in sessions.items() for st in sts}
    open_ = {(u, st[1], st[2], st[0] - st[1], len(st[3]))
             for u, st in cur.items()}
    return closed, open_


@pytest.fixture()
def two_batch_dir(spark, tmp_path):
    """The events corpus split into two time-ordered file batches, so the
    stream crosses a micro-batch boundary mid-session."""
    src = spark.read.parquet(os.path.join(SF, "events.parquet"))
    mid = src.selectExpr("percentile_approx(ts, 0.5) m").collect()[0]["m"]
    d = str(tmp_path / "events_in")
    src.where(src.ts <= mid).coalesce(1).write.parquet(d)
    src.where(src.ts > mid).coalesce(1).write.mode("append").parquet(d)
    return d


def test_sessionize_stream_matches_batch_truth(spark, two_batch_dir, tmp_path):
    from pdftext_spark.streaming.sessions import sessionize_stream

    schema = spark.read.parquet(os.path.join(SF, "events.parquet")).schema
    stream = spark.readStream.schema(schema) \
        .option("maxFilesPerTrigger", 1).parquet(two_batch_dir)
    q = (sessionize_stream(stream).writeStream
         .format("memory").queryName("sess_out")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], r["session_start_us"], r["n_events"],
            r["duration_us"], r["n_types"])
           for r in spark.sql("SELECT * FROM sess_out").collect()}
    closed, open_ = _batch_sessions()
    # every gap-closed session must be emitted exactly once, and nothing
    # else: sessions still open at end-of-data stay in state by design
    assert got == closed
    assert got.isdisjoint(open_)


class _FakeState:
    def __init__(self):
        self._v, self.exists = None, False

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True


def test_session_fn_late_event_and_delimiter_types():
    """A late-but-within-watermark event arriving in a later micro-batch
    must not rewind the gap clock (falsely closing the session at the next
    event) and must pull the session start back; event types containing
    '|' must count correctly (state is JSON-encoded)."""
    import pandas as pd

    from pdftext_spark.streaming.sessions import _close, _session_fn

    fn = _session_fn(gap_us=1800 * 1_000_000)
    st = _FakeState()
    m = 60 * 1_000_000  # one minute in us

    def feed(rows):
        pdf = pd.DataFrame(rows, columns=["us", "event_id", "event_type"])
        return list(fn((7,), [pdf], st))

    # batch 1: events at t=10min and t=20min
    assert feed([(10 * m, 1, "a|b"), (20 * m, 2, "a|b")]) == []
    # batch 2: a LATE event at t=5min (within the 30-min gap of us_last).
    # Old behavior rewound us_last to 5min; then t=40min would read as a
    # 35-min gap and falsely close. Correct: 40-20=20min, same session.
    assert feed([(5 * m, 3, "c")]) == []
    assert feed([(40 * m, 4, "d")]) == []
    closed = _close(7, list(st.get))
    assert closed["session_start_us"] == 5 * m   # start pulled back
    assert closed["n_events"] == 4
    assert closed["duration_us"] == (40 - 5) * m
    assert closed["n_types"] == 3                # {'a|b','c','d'}, not 4
    # a true gap now closes exactly one session
    out = feed([(100 * m, 5, "e")])
    assert len(out) == 1 and out[0].iloc[0]["n_events"] == 4


def test_sessionize_flush_on_timeout(spark, tmp_path):
    """EventTimeTimeout mode: an open session whose gap boundary the
    watermark has provably passed is emitted and its state dropped;
    sessions that could still be extended stay open. Synthetic two-file
    stream: user 1 goes quiet early, user 2 keeps the watermark moving."""
    from pyspark.sql import functions as F  # noqa: F401

    from pdftext_spark.streaming.sessions import sessionize_stream

    m = 60  # seconds per minute; gap = 30 min, watermark delay = 1 min
    base = 1_700_000_000  # any fixed epoch
    rows1 = [
        # user 1: two events, then silence forever
        (1, 1, "a", base + 0 * m), (2, 1, "b", base + 5 * m),
        # user 2: events that push the batch-1 watermark well past
        # user 1's last event + gap (+ 1 min delay)
        (3, 2, "x", base + 0 * m), (4, 2, "x", base + 50 * m),
    ]
    # batch 2 only needs to exist so a trigger runs AFTER the watermark
    # from batch 1 (50min - 1min delay = 49min > 5min + 30min gap)
    rows2 = [(5, 2, "y", base + 95 * m)]
    schema = ("event_id long, user_id long, event_type string, sec long")
    d = str(tmp_path / "flush_in")
    for rows in (rows1, rows2):
        (spark.createDataFrame(rows, schema)
         .selectExpr("event_id", "user_id", "event_type",
                     "timestamp_seconds(sec) as ts")
         .coalesce(1).write.mode("append").parquet(d))
    stream_schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(stream_schema) \
        .option("maxFilesPerTrigger", 1).parquet(d)
    q = (sessionize_stream(stream, flush_on_timeout=True).writeStream
         .format("memory").queryName("flush_out")
         .option("checkpointLocation", str(tmp_path / "ckpt_f"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user_id"], r["session_start_us"], r["n_events"],
            r["duration_us"], r["n_types"])
           for r in spark.sql("SELECT * FROM flush_out").collect()}
    us = 1_000_000
    # user 1's quiet session is flushed by the TIMEOUT (the only mechanism
    # that can emit it — no later user-1 event exists); user 2's two
    # single-event sessions close by ordinary gaps (0→50min and 50→95min
    # both exceed 30min); the 95min session stays open — no trigger ever
    # runs after its boundary passes
    assert got == {
        (1, base * us, 2, 5 * m * us, 2),          # timeout-flushed
        (2, base * us, 1, 0, 1),                   # gap-closed
        (2, (base + 50 * m) * us, 1, 0, 1),        # gap-closed
    }


def test_windowed_event_counts_matches_batch(spark, two_batch_dir, tmp_path):
    from pyspark.sql import functions as F

    from pdftext_spark.streaming.sessions import windowed_event_counts

    schema = spark.read.parquet(os.path.join(SF, "events.parquet")).schema
    stream = spark.readStream.schema(schema).parquet(two_batch_dir)
    q = (windowed_event_counts(stream).writeStream
         .format("memory").queryName("win_out").outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt_w"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["w"]["start"], r["event_type"], r["n_events"], r["value_cents"])
           for r in spark.sql("SELECT * FROM win_out").collect()}
    batch = (spark.read.parquet(two_batch_dir)
             .withColumn("wts", F.col("ts").cast("timestamp"))
             .groupBy(F.window("wts", "1 hour").alias("w"), "event_type")
             .agg(F.count("*").alias("n_events"),
                  F.sum(F.round(F.col("value") * 100).cast("long"))
                  .alias("value_cents")))
    exp = {(r["w"]["start"], r["event_type"], r["n_events"], r["value_cents"])
           for r in batch.collect()}
    assert got == exp and len(got) > 10


def test_windowed_counts_drop_beyond_watermark_late_data(spark, tmp_path):
    """Append-mode watermark semantics end to end: batch 1 advances the
    event clock far past hour 0, so batch 2's hour-0 straggler is
    BEYOND the 30-min watermark and must be dropped from the finalized
    hour-0 window, while batch 2's recent event still lands in its own
    (open) window. This is the late-data contract the q_events_window
    batch twin assumes when it recomputes 'once all late data lands'."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F  # noqa: F811 (module-style)

    from pdftext_spark.streaming.sessions import windowed_event_counts

    t0 = dt.datetime(2024, 1, 1)

    def rows(specs):
        return [{"event_id": i, "ts": t0 + dt.timedelta(minutes=m),
                 "user_id": 1, "event_type": ty, "value": 1.0, "props": "{}"}
                for i, (ty, m) in enumerate(specs)]

    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    src = tmp_path / "in"
    src.mkdir()
    # batch 1: two hour-0 events + a clock-advancer at hour 10
    pq.write_table(pa.Table.from_pylist(
        rows([("view", 1), ("view", 2), ("click", 600)]), schema=schema),
        str(src / "a_batch1.parquet"))

    out = str(tmp_path / "out")

    def run():
        stream = (spark.readStream.schema(
            spark.read.parquet(str(src)).schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src)))
        q = (windowed_event_counts(stream)
             .select(F.col("w.start").alias("ws"), "event_type", "n_events")
             .writeStream.format("parquet").outputMode("append")
             .option("path", out)
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return {(r["ws"].minute + 60 * r["ws"].hour, r["event_type"]):
                r["n_events"] for r in spark.read.parquet(out).collect()}

    run()
    # batch 2: an hour-0 straggler (beyond watermark: clock sits at
    # 10:00 - 30min) and a fresh event near the clock
    pq.write_table(pa.Table.from_pylist(
        [{"event_id": 10, "ts": t0 + dt.timedelta(minutes=3), "user_id": 1,
          "event_type": "view", "value": 1.0, "props": "{}"},
         {"event_id": 11, "ts": t0 + dt.timedelta(minutes=590), "user_id": 1,
          "event_type": "view", "value": 1.0, "props": "{}"}],
        schema=schema), str(src / "b_batch2.parquet"))
    got = run()
    # hour-0 window finalized at 2 views: the straggler was dropped
    assert got[(0, "view")] == 2
    # the straggler did not resurrect a second hour-0 emission either
    assert sum(1 for (start, ty) in got if start == 0 and ty == "view") == 1


def test_asof_stream_matches_batch_across_restart(spark, tmp_path):
    """Streaming last-touch attribution must be ROW-IDENTICAL to the
    batch as-of window (q_events_asof) when events replay in event-time
    order — split at the median timestamp into two files, run with a
    checkpoint RESTART between them (run 2 is a new query object), so
    the cross-batch frame lives entirely in the state store."""
    import os

    from pyspark.sql import functions as F

    from pdftext_spark.registry.relational import q_events_asof
    from pdftext_spark.streaming.asof import asof_stream

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
    mid = (ev.select(F.expr(
        "percentile(timestampdiff(MICROSECOND, "
        "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts), 0.5)").alias("m"))
        .collect()[0]["m"])
    ev = ev.withColumn("mid_us", F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"))
    src = tmp_path / "in"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ev.where(F.col("mid_us") <= mid).drop("mid_us").coalesce(1) \
        .write.parquet(str(src / "chunk_a"))
    for f in os.listdir(src / "chunk_a"):
        if f.endswith(".parquet"):
            os.rename(src / "chunk_a" / f, src / f"a_{f}")

    def run():
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(src)))
        q = (asof_stream(stream).writeStream.format("parquet")
             .outputMode("append").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run()
    ev.where(F.col("mid_us") > mid).drop("mid_us").coalesce(1) \
        .write.parquet(str(src / "chunk_b"))
    for f in os.listdir(src / "chunk_b"):
        if f.endswith(".parquet"):
            os.rename(src / "chunk_b" / f, src / f"b_{f}")
    run()

    cols = ("event_id", "user_id", "purchase_us", "touch_event_id",
            "touch_type", "gap_us")
    got = sorted(tuple(r[c] for c in cols)
                 for r in spark.read.parquet(out).collect())
    exp = sorted(tuple(r[c] for c in cols)
                 for r in q_events_asof(spark, sf).collect())
    assert got == exp and len(got) > 50


def test_asof_fn_out_of_order_never_attributes_future_touch():
    """Review finding (round 4): with a carried touch at t=100, a LATE
    batch delivering touch(50) and purchase(60) must attribute the
    purchase to the in-batch touch at 50 — never to the carried touch
    from its event-time future (negative gap); and the carried state
    must still advance to the overall max touch."""
    import pandas as pd

    from pdftext_spark.streaming.asof import _asof_fn

    class FakeState:
        def __init__(self, value=None):
            self._v = value

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)

    fn = _asof_fn()
    st = FakeState((100, 7, "view"))      # carried touch at us=100
    batch = pd.DataFrame([
        {"us": 50, "event_id": 1, "event_type": "click"},   # late touch
        {"us": 60, "event_id": 2, "event_type": "purchase"},
        {"us": 200, "event_id": 3, "event_type": "purchase"},
    ])
    out = pd.concat(list(fn((4,), iter([batch]), st)), ignore_index=True)
    rows = {int(r["event_id"]): r for _, r in out.iterrows()}
    # purchase at 60: in-batch touch(50) wins; the future touch(100) is
    # never attributed and no negative gap appears
    assert rows[2]["touch_event_id"] == 1 and rows[2]["gap_us"] == 10
    # purchase at 200: the carried touch(100) is now strictly earlier
    # and later than touch(50), so it wins
    assert rows[3]["touch_event_id"] == 7 and rows[3]["gap_us"] == 100
    assert st.get == (100, 7, "view")     # state = overall max touch

    # no prior state, purchase before any touch -> NULL attribution
    st2 = FakeState()
    b2 = pd.DataFrame([
        {"us": 10, "event_id": 1, "event_type": "purchase"},
        {"us": 20, "event_id": 2, "event_type": "view"},
    ])
    out2 = pd.concat(list(fn((5,), iter([b2]), st2)), ignore_index=True)
    assert out2.iloc[0]["touch_event_id"] is None or \
        pd.isna(out2.iloc[0]["touch_event_id"])
    assert st2.get == (20, 2, "view")


def test_attribution_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream watermarked join: all in-window (purchase, touch)
    pairs per user must equal the batch inequality join over the same
    events (strictly-earlier touch within 1 h)."""
    import os

    from pyspark.sql import functions as F

    from pdftext_spark.streaming.asof import attribution_join_stream

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(os.path.join(sf, "events.parquet"))
    src = tmp_path / "in"
    src.mkdir()
    ev.coalesce(2).write.mode("overwrite").parquet(str(src / "chunk"))
    for f in os.listdir(src / "chunk"):
        if f.endswith(".parquet"):
            os.rename(src / "chunk" / f, src / f)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(tmp_path / "in")))
    q = (attribution_join_stream(stream).writeStream.format("parquet")
         .outputMode("append").option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    us = F.expr("timestampdiff(MICROSECOND, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    e = ev.select("user_id", "event_id", "event_type", us.alias("us"))
    t = e.where(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("tu"), F.col("event_id").alias("tid"),
        F.col("us").alias("tus"))
    p = e.where(F.col("event_type") == "purchase")
    batch = (p.join(t, (p["user_id"] == t["tu"]) & (t["tus"] < p["us"])
                    & (t["tus"] >= p["us"] - 3600 * 1_000_000))
             .select("event_id", "tid"))
    exp = sorted((r["event_id"], r["tid"]) for r in batch.collect())
    got = sorted((r["event_id"], r["touch_event_id"])
                 for r in spark.read.parquet(out).collect())
    assert got == exp and len(got) >= 10
