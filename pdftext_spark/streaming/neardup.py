"""Streaming NEAR-dup dedup at ingest — the online twin of
registry.dedup.q_dedup_minhash_lsh (as streaming/dedup.py is to
q_dedup_exact).

Semantics, exactly the batch twin's candidate+verify rule made
directional: a document D is dropped iff some EARLIER document E
(earlier micro-batch, or smaller doc_id within the same micro-batch)
shares an LSH band bucket with D (candidate) AND exact Jaccard over the
hashed shingle sets is >= NEARDUP_JACCARD (verify). Bucket collision
alone never drops a document — at 4 bands x 4 minhashes a Jaccard-0.5
pair (NOT a near-dup) still collides with ~23% probability, so an
unverified ingest would silently discard genuine content (round-4
review finding). The comparison set is ALL earlier documents, admitted
or not, so the rule is uniform across batch boundaries; a near-dup of
an already-dropped document is also dropped (transitive-aggressive,
same as the batch clustering's min-label propagation).

Why foreachBatch and not a stateful operator: the admit decision needs
per-doc candidate pairs gathered across band keys plus a set-similarity
verify — a second stateful aggregation after applyInPandasWithState,
a chain Structured Streaming does not support for arbitrary stateful
ops. foreachBatch is the idiomatic production shape: the engine still
provides checkpointed source offsets and batch replay, and the batch
body is plain DataFrame code joining against persistent state tables.

State (under state_dir, epoch-partitioned):
- ``bands/``: (band_idx, band_hash, doc_id) — the LSH index,
  O(docs x bands).
- ``sigs/``:  (doc_id, shset) — hashed shingle sets for the verify
  join, the standard dedup index (a few percent of corpus bytes at
  100 TB; Iceberg tables in production).

Exactly-once: every sink (admitted docs, bands, sigs) writes to
epoch=<id> partition directories with overwrite — a replayed epoch
replaces its own output instead of duplicating it — and all state
reads for epoch N filter to epoch < N, so a replay never sees its own
partial writes.

Scale notes (100 TB): signatures are row-wise (zero shuffle), reusing
the SAME expression trees the gated batch query ships; the state joins
are equi-joins sized by batch-bands x index with partition pruning on a
bucketed state layout; the verify join moves only candidate pairs'
shingle sets (near-dup-density-sized, not corpus-sized).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdftext_spark.registry.dedup import minhash_bands, minhash_signature

NEARDUP_JACCARD = 0.7  # same threshold as q_dedup_minhash_lsh

_BANDS_SCHEMA = "band_idx int, band_hash string, doc_id long"
_SIGS_SCHEMA = "doc_id long, shset array<bigint>"


def _epoch_dir(root: str, epoch_id: int) -> str:
    return os.path.join(root, f"epoch={int(epoch_id)}")


def _read_state(spark, root: str, schema: str, before_epoch: int) -> DataFrame:
    """State rows from all COMMITTED epochs strictly before this one."""
    if os.path.isdir(root) and any(
            e.startswith("epoch=") for e in os.listdir(root)):
        s = spark.read.schema(schema).option("basePath", root).parquet(root)
        return s.where(F.col("epoch") < before_epoch).drop("epoch")
    return spark.createDataFrame([], schema)


def neardup_batch(batch_df: DataFrame, epoch_id: int,
                  state_dir: str, admitted_dir: str) -> None:
    """foreachBatch body: candidate by band collision, verify by exact
    Jaccard, admit survivors, index every processed doc."""
    spark = batch_df.sparkSession
    bands_dir = os.path.join(state_dir, "bands")
    sigs_dir = os.path.join(state_dir, "sigs")
    sig = minhash_signature(batch_df.select("doc_id", "text")) \
        .select("doc_id", "shset").persist()
    bands = minhash_bands(minhash_signature(
        batch_df.select("doc_id", "text"))).persist()
    try:
        old_bands = _read_state(spark, bands_dir, _BANDS_SCHEMA, int(epoch_id))
        old_sigs = _read_state(spark, sigs_dir, _SIGS_SCHEMA, int(epoch_id))
        # candidate pairs (new, old): cross-batch vs the index, plus
        # within-batch against smaller doc_ids
        a, b = bands.alias("a"), bands.alias("b")
        cand = (bands.join(old_bands.withColumnRenamed("doc_id", "old_id"),
                           ["band_idx", "band_hash"])
                .select("doc_id", "old_id")
                .union(
                    a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                           & (F.col("a.band_hash") == F.col("b.band_hash"))
                           & (F.col("a.doc_id") > F.col("b.doc_id")))
                    .select(F.col("a.doc_id").alias("doc_id"),
                            F.col("b.doc_id").alias("old_id")))
                .distinct())
        # verify: exact jaccard over hashed shingle sets (old side may be
        # in state or in this batch)
        all_sigs = old_sigs.union(sig)
        dup = (cand
               .join(sig.withColumnRenamed("shset", "sha"), "doc_id")
               .join(all_sigs.select(F.col("doc_id").alias("old_id"),
                                     F.col("shset").alias("shb")), "old_id")
               .withColumn("common", F.size(F.array_intersect("sha", "shb")))
               .withColumn("jaccard",
                           F.col("common") / (F.size("sha") + F.size("shb")
                                              - F.col("common")))
               .where(F.col("jaccard") >= NEARDUP_JACCARD)
               .select("doc_id").distinct())
        admitted = batch_df.join(dup, "doc_id", "left_anti")
        (admitted.write.mode("overwrite")
         .parquet(_epoch_dir(admitted_dir, epoch_id)))
        # index EVERY processed doc (uniform rule, see module doc)
        (bands.write.mode("overwrite")
         .parquet(_epoch_dir(bands_dir, epoch_id)))
        (sig.write.mode("overwrite")
         .parquet(_epoch_dir(sigs_dir, epoch_id)))
    finally:
        bands.unpersist()
        sig.unpersist()


def compact_state(spark, state_dir: str, up_to_epoch: int) -> int:
    """Fold all state epochs <= up_to_epoch into a single base epoch.

    Epoch-per-micro-batch state accretes small files/dirs without bound
    (the parquet analog of an uncompacted Iceberg table); run this from
    a maintenance schedule BETWEEN stream runs — while the stream is
    stopped — so no in-flight epoch reads a half-swapped directory. The
    fold rewrites the rows into ``epoch=<up_to_epoch>`` and removes the
    folded directories, so `_read_state(..., before_epoch=N)` for every
    N > up_to_epoch sees exactly the same rows before and after.
    Returns the number of epoch directories folded away.
    """
    import shutil

    folded = 0
    for sub, schema in (("bands", _BANDS_SCHEMA), ("sigs", _SIGS_SCHEMA)):
        root = os.path.join(state_dir, sub)
        if not os.path.isdir(root):
            continue
        epochs = sorted(int(e.split("=", 1)[1]) for e in os.listdir(root)
                        if e.startswith("epoch="))
        old = [e for e in epochs if e <= up_to_epoch]
        if len(old) < 2:
            continue
        rows = _read_state(spark, root, schema, up_to_epoch + 1)
        tmp = os.path.join(root, "_compact_tmp")
        rows.write.mode("overwrite").parquet(tmp)
        for e in old:
            shutil.rmtree(os.path.join(root, f"epoch={e}"),
                          ignore_errors=True)
        os.replace(tmp, _epoch_dir(root, up_to_epoch))
        folded += len(old) - 1
    return folded


def neardup_stream(docs: DataFrame, state_dir: str, admitted_dir: str,
                   checkpoint: str, trigger_available_now: bool = True):
    """Wire a (doc_id, text) readStream into the near-dup ingest.
    Returns the started StreamingQuery."""
    writer = (docs.writeStream
              .foreachBatch(lambda df, eid: neardup_batch(
                  df, eid, state_dir, admitted_dir))
              .option("checkpointLocation", checkpoint))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
