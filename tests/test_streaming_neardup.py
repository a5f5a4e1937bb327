"""Streaming near-dup ingest (LSH bucket-first-seen via foreachBatch)
verified against the batch-computed oracle over the same input, plus
checkpoint-restart state persistence."""

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
SCHEMA = "doc_id long, text string"


def _near(text: str) -> str:
    """One-token perturbation: a genuine near-dup (high shingle Jaccard)."""
    toks = text.split()
    toks[len(toks) // 2] = "zzzz"
    return " ".join(toks)


def _oracle_admitted(spark, rows):
    """Candidate+verify over the full input by doc_id order (== ingest
    order here): dropped iff some smaller doc_id shares a band bucket
    AND exact Jaccard over hashed shingle sets >= the threshold — the
    batch twin's rule made directional."""
    from pdftext_spark.registry.dedup import minhash_bands, minhash_signature
    from pdftext_spark.streaming.neardup import NEARDUP_JACCARD
    sig = minhash_signature(spark.createDataFrame(rows, SCHEMA)) \
        .select("doc_id", "shset").persist()
    bands = minhash_bands(minhash_signature(
        spark.createDataFrame(rows, SCHEMA)))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.doc_id") > F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_id"),
                    F.col("b.doc_id").alias("old_id")).distinct())
    dup = (cand
           .join(sig.withColumnRenamed("shset", "sha"), "doc_id")
           .join(sig.select(F.col("doc_id").alias("old_id"),
                            F.col("shset").alias("shb")), "old_id")
           .withColumn("common", F.size(F.array_intersect("sha", "shb")))
           .withColumn("j", F.col("common")
                       / (F.size("sha") + F.size("shb") - F.col("common")))
           .where(F.col("j") >= NEARDUP_JACCARD)
           .select("doc_id").distinct())
    dup_ids = {r["doc_id"] for r in dup.collect()}
    sig.unpersist()
    return {i for i, _ in rows} - dup_ids


def test_streaming_neardup_matches_batch_oracle_and_survives_restart(
        spark, tmp_path):
    from pdftext_spark.streaming.neardup import neardup_stream

    src = (spark.read.parquet(os.path.join(SF, "documents.parquet"))
           .select("doc_id", "text").where("doc_id < 40"))
    rows = sorted((r["doc_id"], r["text"]) for r in src.collect())
    mid = len(rows) // 2
    base = 10_000
    longest = max(rows[:mid], key=lambda r: len(r[1]))
    b1 = rows[:mid]
    # batch 2: remaining docs + a near-dup (one-token change) of the
    # longest batch-1 doc + an exact copy of another batch-1 doc
    b2 = rows[mid:] + [(base + 1, _near(longest[1])),
                       (base + 2, b1[1][1])]
    d = str(tmp_path / "in")
    state = str(tmp_path / "state")
    admitted = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(b1, SCHEMA).coalesce(1).write.parquet(d)
    spark.createDataFrame(b2, SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)

    def run():
        stream = (spark.readStream.schema(SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = neardup_stream(stream, state, admitted, ckpt)
        q.awaitTermination()
        return {r["doc_id"] for r in spark.read.schema(SCHEMA)
                .option("basePath", admitted).parquet(admitted)
                .select("doc_id").collect()}

    got = run()
    exp = _oracle_admitted(spark, b1 + b2)
    assert got == exp
    assert base + 2 not in got          # exact copy always collides
    assert base + 1 not in got          # the one-token near-dup was caught
    # batch 1 only dedups against itself (no prior state) — the corpus
    # ships genuine near-dups, so this is the b1-only oracle, not "all"
    assert _oracle_admitted(spark, b1) <= got

    # restart: a NEW query resumes the same checkpoint; a near-dup of a
    # PRE-restart doc must be dropped from persisted state, novel
    # content admitted
    other = max((r for r in b1 if r[0] != longest[0]), key=lambda r: len(r[1]))
    b3 = [(base + 3, _near(other[1])),
          (base + 4, "wholly novel zebra quantum lattice "
                     "of unrepeated ingredients never seen before")]
    spark.createDataFrame(b3, SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    got2 = run()
    assert got2 == _oracle_admitted(spark, b1 + b2 + b3)
    assert base + 3 not in got2
    assert base + 4 in got2
    assert got <= got2

    # compaction between runs must be invisible to dedup decisions: fold
    # all prior epochs into one, ingest a batch 4 with a near-dup of a
    # PRE-compaction doc and a novel doc
    from pdftext_spark.streaming.neardup import compact_state
    folded = compact_state(spark, state, up_to_epoch=2)
    assert folded >= 1
    third = max((r for r in b1 if r[0] not in (longest[0], other[0])),
                key=lambda r: len(r[1]))
    b4 = [(base + 5, _near(third[1])),
          (base + 6, "another entirely fresh passage of unprecedented "
                     "vocabulary items strung together")]
    spark.createDataFrame(b4, SCHEMA).coalesce(1) \
        .write.mode("append").parquet(d)
    got3 = run()
    assert got3 == _oracle_admitted(spark, b1 + b2 + b3 + b4)
    assert base + 5 not in got3
    assert base + 6 in got3
