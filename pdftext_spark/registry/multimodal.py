"""Multimodal family: synthetic binary containers over the
documents table — metadata parse, frame sampling, perceptual hash,
Hamming-LSH near-dup."""
from __future__ import annotations

from pdftext_spark.registry._shared import (  # noqa: F401
    F,
    _docs,
    _let,
)

# --------------------------------------------------------------------------
# 2d. multimodal (synthetic binary payloads over documents)
# --------------------------------------------------------------------------

_MM_HEADER_SPARK = (
    "concat('IMG1;W=', cast(64 + doc_id % 192 as string), ';H=', "
    "cast(48 + doc_id % 144 as string), ';F=', cast(1 + doc_id % 30 as string), ';')"
)
_MM_HEADER_DUCK = (
    "'IMG1;W=' || (64 + doc_id % 192)::VARCHAR || ';H=' || "
    "(48 + doc_id % 144)::VARCHAR || ';F=' || (1 + doc_id % 30)::VARCHAR || ';'"
)


def q_mm_metadata(spark, sf_dir):
    """Opaque binary media column + typed metadata extraction. The payload
    is a deterministic synthetic 'image': ASCII header + raw bytes. Media
    stays an opaque binary column; metadata parsing is JVM-side."""
    d = _docs(spark, sf_dir)
    d = d.withColumn("media", F.expr(f"cast(concat({_MM_HEADER_SPARK}, text) as binary)"))
    hdr = F.expr("cast(media as string)")
    return d.select(
        "doc_id",
        F.length("media").cast("long").alias("n_bytes"),
        F.regexp_extract(hdr, r"W=(\d+);", 1).cast("long").alias("width"),
        F.regexp_extract(hdr, r"H=(\d+);", 1).cast("long").alias("height"),
        F.regexp_extract(hdr, r"F=(\d+);", 1).cast("long").alias("n_frames"),
    )


def sql_mm_metadata(sf_dir):
    return (
        f"WITH m AS (SELECT doc_id, ({_MM_HEADER_DUCK} || text) payload FROM documents) "
        "SELECT doc_id, octet_length(payload::BLOB)::BIGINT n_bytes, "
        "regexp_extract(payload, 'W=(\\d+);', 1)::BIGINT width, "
        "regexp_extract(payload, 'H=(\\d+);', 1)::BIGINT height, "
        "regexp_extract(payload, 'F=(\\d+);', 1)::BIGINT n_frames FROM m")


def q_mm_frame_sample(spark, sf_dir):
    """Uniform frame sampling: 4 equally-spaced frame indices per video."""
    meta = q_mm_metadata(spark, sf_dir)
    return (meta.select("doc_id", "n_frames",
                        F.explode(F.expr("sequence(0L, 3L)")).alias("slot"))
            .withColumn("frame_idx",
                        F.floor(F.col("slot") * F.col("n_frames") / 4).cast("long"))
            .select("doc_id", "slot", "frame_idx"))


def sql_mm_frame_sample(sf_dir):
    return (
        "WITH m AS (SELECT doc_id, (1 + doc_id % 30)::BIGINT n_frames FROM documents) "
        "SELECT doc_id, slot::BIGINT slot, (slot * n_frames // 4)::BIGINT frame_idx "
        "FROM m, range(4) r(slot)")


_PHASH_HAM_MAX = 6       # near-dup when hamming(phash_a, phash_b) <= 6
_PHASH_BANDS = 8         # 8 bands x 8 bits: collision guaranteed at d<=7


def q_mm_phash(spark, sf_dir):
    """Perceptual AVERAGE-HASH over the media payload's decoded body
    bytes: split the body into 64 contiguous cells, bit k set iff cell
    k's mean byte exceeds the global mean — the standard aHash, with the
    image-resample step standing on the synthetic IMG1 container's byte
    stream (decode seam; on real images the same 64-cell pipeline runs
    on downsampled luma). Everything is exact integer arithmetic — cell
    comparisons are cross-multiplied (cell_sum * n > total * cell_len),
    never a float mean — so both engines agree bit-for-bit. The Spark
    path parses the opaque binary column for real: payload -> hex ->
    per-byte ints in ONE linear regexp_extract_all scan (never a
    per-byte substring — UTF8String.substring walks codepoints from the
    string head, so indexed extraction is quadratic in the body size),
    header stripped by its regexp length (ASCII header => char offset
    == byte offset); every intermediate is _let-bound to one evaluation
    per row; zero shuffle, one corpus scan."""
    out = _let(
        f"cast(concat({_MM_HEADER_SPARK}, text) as binary)", "media",
        _let("substring(hex(media), length(regexp_extract("
             r"cast(media as string), '^IMG1;W=\\d+;H=\\d+;F=\\d+;', 0))"
             " * 2 + 1)", "bh",
        _let("named_struct("
             "'bs', transform(regexp_extract_all(bh, '..', 0), "
             "h -> cast(conv(h, 16, 10) as bigint)), "
             "'n', cast(length(bh) div 2 as bigint))", "w",
        _let("aggregate(w.bs, 0L, (acc, b) -> acc + b)", "tot",
             "named_struct("
             "'n_body_bytes', w.n, "
             "'phash', aggregate(sequence(0, 63), 0L, (acc, k) -> acc + "
             "IF(aggregate(slice(w.bs, cast(w.n * k div 64 as int) + 1, "
             "cast(w.n * (k + 1) div 64 - w.n * k div 64 as int)), "
             "0L, (a2, b) -> a2 + b) * w.n "
             "> tot * (w.n * (k + 1) div 64 - w.n * k div 64), "
             "shiftleft(1L, k), 0L)))"))))
    return _docs(spark, sf_dir).select(
        "doc_id", F.inline(F.array(F.expr(out))))


def sql_mm_phash(sf_dir):
    # the oracle skips the container round-trip: body bytes ARE the
    # doc's utf-8 text bytes by construction
    return (
        "WITH b AS (SELECT doc_id, hex(text::BLOB) bh FROM documents), "
        "n_ AS (SELECT doc_id, bh, (length(bh) // 2)::BIGINT n FROM b), "
        "v AS (SELECT doc_id, n, list_transform(range(1, n::INT + 1), "
        "i -> ('0x' || substr(bh, (2 * i - 1)::INT, 2))::BIGINT) bs "
        "FROM n_), "
        "s AS (SELECT doc_id, n, list_sum(bs) tot, "
        "list_transform(range(0, 64), k -> coalesce(list_sum(list_slice(bs, "
        "(n * k // 64 + 1)::INT, (n * (k + 1) // 64)::INT)), 0)) cs, "
        "list_transform(range(0, 64), k -> "
        "n * (k + 1) // 64 - n * k // 64) cl FROM v) "
        "SELECT doc_id, n n_body_bytes, "
        # bit 63 is int64's sign bit: DuckDB raises on 1::BIGINT << 63
        # (Spark's shiftleft wraps to long-min), so add long-min directly
        "coalesce(list_sum(list_transform(range(0, 64), k -> "
        "CASE WHEN cs[k + 1] * n > tot * cl[k + 1] THEN "
        "(CASE WHEN k = 63 THEN -9223372036854775808 "
        "ELSE (1::BIGINT << k) END) ELSE 0 END)), 0)::BIGINT phash FROM s")


def q_mm_neardup(spark, sf_dir):
    """Multimodal near-duplicate pairs by banded Hamming LSH over the
    perceptual hash: 8 bands x 8 bits — two hashes within Hamming
    distance 7 MUST share at least one intact band (pigeonhole), so
    band-equality candidates are exact-complete for the <=6 threshold,
    then candidates verify by bit_count(xor). The image twin of
    dedup_minhash_lsh's band-join shape: candidate volume is set by
    near-dup density, never all-pairs; one explode to 8 band rows per
    doc, equi-join on (band, value), verify in the join projection."""
    ph = q_mm_phash(spark, sf_dir).select("doc_id", "phash")
    bands = ph.select(
        "doc_id", "phash",
        F.explode(F.expr(
            f"transform(sequence(0, {_PHASH_BANDS - 1}), b -> "
            "named_struct('band', b, 'val', "
            "shiftright(phash, b * 8) & 255))")).alias("bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.bv.band") == F.col("b.bv.band"))
                   & (F.col("a.bv.val") == F.col("b.bv.val"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.phash").alias("pa"),
                    F.col("b.phash").alias("pb"))
            .distinct())
    return (cand.withColumn("hamming", F.expr(
                "cast(bit_count(pa ^ pb) as bigint)"))
            .where(F.col("hamming") <= _PHASH_HAM_MAX)
            .select("doc_a", "doc_b", "hamming"))


def sql_mm_neardup(sf_dir):
    return (
        "WITH ph AS (SELECT doc_id, phash FROM (" + sql_mm_phash(sf_dir)
        + ") q), "
        f"bands AS (SELECT doc_id, phash, b, (phash >> (b * 8)) & 255 val "
        f"FROM ph, range({_PHASH_BANDS}) r(b)), "
        "cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b, "
        "a.phash pa, b.phash pb FROM bands a JOIN bands b "
        "ON a.b = b.b AND a.val = b.val AND a.doc_id < b.doc_id) "
        "SELECT doc_a, doc_b, bit_count(xor(pa, pb))::BIGINT hamming "
        f"FROM cand WHERE bit_count(xor(pa, pb)) <= {_PHASH_HAM_MAX}")


