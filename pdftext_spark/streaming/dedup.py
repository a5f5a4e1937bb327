"""Streaming exact dedup: first-seen pass-through at ingest time.

The batch form (registry.dedup.q_dedup_exact) groups the finished corpus by
content hash and keeps min(doc_id). A training-data INGEST pipeline wants
the same decision online: admit a document the first time its content is
seen, drop every later copy — without re-scanning the corpus per batch.

``dedup_stream`` is that operator as a custom stateful Structured
Streaming stage (``applyInPandasWithState`` keyed by content hash):

- state per distinct content hash = (keeper doc_id, copies seen) — O(1);
- a micro-batch's rows for one hash arrive together (the groupBy
  shuffles on the hash), are ordered by doc_id for determinism, and only
  a never-before-seen hash emits its first row;
- output mode is append: each distinct content emits EXACTLY ONCE, in
  the micro-batch where it first appears.

Keeper semantics vs the batch twin: the stream keeps the FIRST-ARRIVED
copy (min doc_id within its arrival micro-batch), the batch query keeps
the global min doc_id. They agree whenever ingest order is doc_id order
(the test asserts this); on out-of-order ingest the streaming answer is
the one an online pipeline actually wants — admit-then-never-replace,
no retroactive swaps.

Scale notes (100 TB): state cardinality is O(distinct contents), far too
big for the default in-memory store — production runs this with the
RocksDB state store provider (spark.sql.streaming.stateStore.providerClass),
where state is hash-partitioned across executors and spilled to local
disk + checkpointed incrementally; ~50 bytes/key means 10^10 distinct
docs ≈ 500 GB cluster-wide, routine for RocksDB state. The per-batch
shuffle is keyed by the 128-bit content hash, so no skew (identical
payloads collapse INTO one key's group — the one place heavy duplication
concentrates, and exactly the rows the operator exists to drop).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

DEDUP_OUT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text_hash", StringType()),
    StructField("n_chars", LongType()),
])

# (keeper doc_id, total copies seen so far)
DEDUP_STATE_SCHEMA = StructType([
    StructField("keeper_doc_id", LongType()),
    StructField("n_seen", LongType()),
])


def _dedup_fn():
    def update(key, pdfs, state):
        frames = [f for f in pdfs if len(f)]
        if not frames:
            return
        if state.exists:
            # already-admitted content: only the copy count moves — no
            # concat/sort of the duplicate rows (the heavily-duplicated
            # hash is exactly the hot key here)
            keeper, n_seen = state.get
            state.update((int(keeper),
                          int(n_seen) + sum(len(f) for f in frames)))
            return
        rows = pd.concat(frames, ignore_index=True).sort_values("doc_id")
        first = rows.iloc[0]
        state.update((int(first["doc_id"]), len(rows)))
        yield pd.DataFrame([{
            "doc_id": int(first["doc_id"]),
            "text_hash": key[0],
            "n_chars": int(first["n_chars"]),
        }])

    return update


def dedup_stream(docs: DataFrame) -> DataFrame:
    """docs readStream → first-seen documents (append). Input needs
    columns (doc_id, text); emits (doc_id, text_hash, n_chars) once per
    distinct text, in arrival order."""
    d = (docs
         .withColumn("text_hash", F.md5("text"))
         .withColumn("n_chars", F.length("text").cast("long"))
         .select("text_hash", "doc_id", "n_chars"))
    return d.groupBy("text_hash").applyInPandasWithState(
        _dedup_fn(),
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
