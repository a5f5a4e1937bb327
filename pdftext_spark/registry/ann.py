"""Similarity-search family: brute-force cosine/L2/MIPS top-k,
IVF (+multi-probe, +k-means), PQ codebooks + ADC, quantization."""
from __future__ import annotations

from pdftext_spark.registry._shared import (  # noqa: F401
    F,
    Window,
    _cos6,
    _emb,
    _let,
    _register_persisted,
)

# --------------------------------------------------------------------------
# 2c. similarity search (embeddings)
# --------------------------------------------------------------------------

def _query_pairs(spark, sf_dir, query_pred):
    """Broadcast-queries x one-candidate-scan pair stream (qid, qe, cid,
    ce) — the single pair-generation plan every brute-force metric
    (cosine, L2) layers its score onto. The candidate side is
    hash-spread over the parallelism: the source file arrives as one
    split at bench scale, which would serialize every |q|x|c| score onto
    a single task (at 100 TB the scan has real splits and the exchange
    coalesces away under AQE)."""
    e = _emb(spark, sf_dir)
    q = e.where(query_pred).select(F.col("vec_id").alias("qid"),
                                   F.col("embedding").alias("qe"))
    c = (e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
         .repartition(spark.sparkContext.defaultParallelism, "cid"))
    return F.broadcast(q).crossJoin(c).where(F.col("qid") != F.col("cid"))


_NORM_SPARK = ("sqrt(aggregate({v}, cast(0.0 as double), "
               "(acc, v) -> acc + cast(v as double) * cast(v as double)))")


def _cosine_pairs(spark, sf_dir, query_pred):
    """Pair stream + 6-dp cosine, with each side's norm folded once per
    VECTOR in the pre-join projection (bit-identical to _cos6's inline
    fold, which would re-fold both norms for every pair)."""
    e = _emb(spark, sf_dir)
    q = (e.where(query_pred)
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
                 F.expr(_NORM_SPARK.format(v="embedding")).alias("nq")))
    c = (e.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"),
                  F.expr(_NORM_SPARK.format(v="embedding")).alias("nc"))
         .repartition(spark.sparkContext.defaultParallelism, "cid"))
    dot = F.expr("aggregate(zip_with(qe, ce, (x, y) -> "
                 "cast(x as double) * cast(y as double)), "
                 "cast(0.0 as double), (acc, v) -> acc + v)")
    return (F.broadcast(q).crossJoin(c).where(F.col("qid") != F.col("cid"))
            .withColumn("cos", F.round(dot / (F.col("nq") * F.col("nc")), 6))
            .drop("nq", "nc"))


def q_ann_bruteforce(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors (vec_id < 8); broadcast
    the queries, scan candidates once — the baseline ANN plan."""
    pairs = _cosine_pairs(spark, sf_dir, F.col("vec_id") < 8)
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (pairs.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 5)
            .select("qid", "rank", F.col("cid").alias("neighbor_id"), "cos"))


_COS_DUCK = ("round(list_sum(list_transform(range(1, len(q.embedding) + 1), "
             "i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) / "
             "(sqrt(list_sum(list_transform(q.embedding, x -> x::DOUBLE * x::DOUBLE))) * "
             "sqrt(list_sum(list_transform(c.embedding, x -> x::DOUBLE * x::DOUBLE)))), 6)")


def sql_ann_bruteforce(sf_dir):
    return (
        "WITH p AS (SELECT q.vec_id qid, c.vec_id cid, " + _COS_DUCK + " cos "
        "FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id != c.vec_id), "
        "r AS (SELECT qid, cid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, cid ASC) rank FROM p) "
        "SELECT qid, rank, cid neighbor_id, cos FROM r WHERE rank <= 5")


def q_ann_bruteforce_l2(spark, sf_dir):
    """Brute-force EUCLIDEAN top-5 — the L2 metric twin of
    ann_bruteforce (same broadcast-queries × one-scan plan, same
    6-dp-rounded index-ordered fold so both engines sum identically;
    only the score and its sort direction change: distance ascending).
    Cosine serves normalized-embedding search; L2 is the metric FAISS /
    IVF-flat indexes default to for unnormalized vectors."""
    pairs = (_query_pairs(spark, sf_dir, F.col("vec_id") < 8)
             .withColumn("l2", F.round(F.expr(
                 "sqrt(aggregate(zip_with(qe, ce, (x, y) -> "
                 "(cast(x as double) - cast(y as double)) * "
                 "(cast(x as double) - cast(y as double))), "
                 "cast(0.0 as double), (acc, v) -> acc + v))"), 6)))
    w = Window.partitionBy("qid").orderBy(F.asc("l2"), F.asc("cid"))
    return (pairs.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 5)
            .select("qid", "rank", F.col("cid").alias("neighbor_id"), "l2"))


def q_ann_maxip(spark, sf_dir):
    """Brute-force MAXIMUM-INNER-PRODUCT top-5 — the MIPS metric twin of
    ann_bruteforce (same broadcast-queries × one-scan plan; only the
    score changes: unnormalized dot product, descending). MIPS is the
    recommender-system retrieval metric (user × item factor models
    score by raw inner product, where item popularity lives in the
    vector norm). The fixture embeddings are unit-norm (measured in
    round 4), under which MIPS degenerates to cosine — so the
    candidate side carries a DETERMINISTIC derived magnitude
    m = 1 + vec_id % 5 (standing in for the varying norms real factor
    models produce; no external data, both engines derive it from
    vec_id identically). The test pins that the resulting ranking
    genuinely disagrees with cosine's — the norm term must matter."""
    pairs = (_query_pairs(spark, sf_dir, F.col("vec_id") < 8)
             .withColumn("ip", F.round(
                 (F.lit(1) + F.col("cid") % 5).cast("double")
                 * F.expr("aggregate(zip_with(qe, ce, (x, y) -> "
                          "cast(x as double) * cast(y as double)), "
                          "cast(0.0 as double), (acc, v) -> acc + v)"), 6)))
    w = Window.partitionBy("qid").orderBy(F.desc("ip"), F.asc("cid"))
    return (pairs.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 5)
            .select("qid", "rank", F.col("cid").alias("neighbor_id"), "ip"))


def sql_ann_maxip(sf_dir):
    ip = ("round((1 + c.vec_id % 5)::DOUBLE * "
          "list_sum(list_transform(range(1, len(q.embedding) + 1), "
          "i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)), 6)")
    return (
        "WITH p AS (SELECT q.vec_id qid, c.vec_id cid, " + ip + " ip "
        "FROM embeddings q JOIN embeddings c "
        "ON q.vec_id < 8 AND q.vec_id != c.vec_id), "
        "r AS (SELECT qid, cid, ip, row_number() OVER "
        "(PARTITION BY qid ORDER BY ip DESC, cid ASC) rank FROM p) "
        "SELECT qid, rank, cid neighbor_id, ip FROM r WHERE rank <= 5")


def sql_ann_bruteforce_l2(sf_dir):
    l2 = ("round(sqrt(list_sum(list_transform(range(1, len(q.embedding) + 1), "
          "i -> (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) * "
          "(q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)))), 6)")
    return (
        "WITH p AS (SELECT q.vec_id qid, c.vec_id cid, " + l2 + " l2 "
        "FROM embeddings q JOIN embeddings c "
        "ON q.vec_id < 8 AND q.vec_id != c.vec_id), "
        "r AS (SELECT qid, cid, l2, row_number() OVER "
        "(PARTITION BY qid ORDER BY l2 ASC, cid ASC) rank FROM p) "
        "SELECT qid, rank, cid neighbor_id, l2 FROM r WHERE rank <= 5")


def q_ann_bruteforce_np(spark, sf_dir):
    """The same brute-force top-5, scored by an ARROW-BATCHED NUMPY kernel
    (mapInPandas) — the 100 TB form of the dot product. Each batch computes
    cosines against the driver-collected query matrix (8 rows — the
    broadcast side) and emits only its partial top-k per query, so the
    shuffle carries O(batches × k) rows instead of |queries| × |corpus|;
    the final window ranks the tiny union.

    Value parity: sums run in SEQUENTIAL order (np.cumsum row scans), which
    is bit-identical to the aggregate() fold of ann_bruteforce and the
    DuckDB list_sum oracle — this query shares ann_bruteforce's oracle SQL.
    Partial top-k keeps a 16-wide margin on the unrounded cosine PLUS every
    candidate within 1e-6 (one full rounding bucket) of the kept minimum.
    That makes the cut provably safe: a dropped candidate sits more than
    one bucket below at least 5 kept candidates, so its 6-decimal-rounded
    cosine is STRICTLY smaller than theirs and no tie-break order can put
    it in the final rounded (cos DESC, cid ASC) top-5."""
    import numpy as np
    import pandas as pd

    e = _emb(spark, sf_dir)
    qrows = e.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    if not qrows:
        # no query vectors on this tier: empty result, same as the
        # expression-tree twin and the shared oracle (np.asarray([]) is
        # 1-D and would AxisError on the axis=1 reductions below)
        return spark.createDataFrame(
            [], "qid long, rank long, neighbor_id long, cos double")
    qids = [int(r["vec_id"]) for r in qrows]
    Q = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    nq = np.sqrt(np.cumsum(Q * Q, axis=1)[:, -1])

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            E = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            cids = pdf["vec_id"].to_numpy()
            ncand = np.sqrt(np.cumsum(E * E, axis=1)[:, -1])
            out = []
            for qi, qid in enumerate(qids):
                dots = np.cumsum(E * Q[qi][None, :], axis=1)[:, -1]
                cos = dots / (nq[qi] * ncand)
                keep = np.flatnonzero(cids != qid)
                order = np.lexsort((cids[keep], -cos[keep]))
                top = order[:16]
                if len(order) > 16:
                    # widen to every candidate the 1e-6 rounding could
                    # still promote into a tie at the cut (see docstring)
                    floor = cos[keep][top].min() - 1e-6
                    top = order[cos[keep][order] >= floor]
                sel = keep[top]
                out.append(pd.DataFrame(
                    {"qid": qid, "cid": cids[sel], "cos": cos[sel]}))
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = e.select("vec_id", "embedding").mapInPandas(
        score, "qid long, cid long, cos double")
    w = Window.partitionBy("qid").orderBy(F.desc("cos_r"), F.asc("cid"))
    return (scored.withColumn("cos_r", F.round("cos", 6))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 5)
            .select("qid", "rank", F.col("cid").alias("neighbor_id"),
                    F.col("cos_r").alias("cos")))


def _ivf_search(spark, sf_dir, nprobe: int):
    """Shared seed-centroid IVF search: centroids = vec_id < 8; every
    vector is assigned to its nearest centroid, queries (8 <= vec_id <
    24) search the buckets of their `nprobe` nearest centroids, top-3 by
    exact cosine. The centroid ranking is computed once and persisted
    (at 100 TB it is the materialized assignment table every IVF variant
    shares); each candidate belongs to exactly one bucket, so distinct
    probes can never produce duplicate (qid, cid) pairs — no dedup
    shuffle."""
    pairs = _cosine_pairs(spark, sf_dir, F.col("vec_id") < 8) \
        .select(F.col("cid").alias("vec_id"), F.col("qid").alias("centroid"), "cos")
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("centroid"))
    ranked = (pairs.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= nprobe)
              .select("vec_id", "centroid", "rn").persist())
    _register_persisted(ranked)
    assign = ranked.where(F.col("rn") == 1).select("vec_id", "centroid")
    probes = ranked.select("vec_id", F.col("centroid").alias("qc"))
    e = _emb(spark, sf_dir)
    # per-side norms + a hash-spread candidate side, as in _cosine_pairs:
    # bit-identical cosine, but the bucket verify no longer re-folds two
    # norms per pair or runs on the source's single scan split
    q = (e.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 24))
         .join(probes, "vec_id")
         .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
                 "qc", F.expr(_NORM_SPARK.format(v="embedding")).alias("nq")))
    c = (e.join(assign, "vec_id")
         .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"),
                 F.col("centroid").alias("cc"),
                 F.expr(_NORM_SPARK.format(v="embedding")).alias("nc"))
         .repartition(spark.sparkContext.defaultParallelism, "cid"))
    cand = F.broadcast(q).join(c, (F.col("qc") == F.col("cc"))
                               & (F.col("qid") != F.col("cid")))
    dot = F.expr("aggregate(zip_with(qe, ce, (x, y) -> "
                 "cast(x as double) * cast(y as double)), "
                 "cast(0.0 as double), (acc, v) -> acc + v)")
    scored = cand.withColumn("cos", F.round(dot / (F.col("nq") * F.col("nc")), 6))
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid"))
    return (scored.withColumn("rank", F.row_number().over(w2).cast("long"))
            .where(F.col("rank") <= 3)
            .select("qid", "rank", F.col("cid").alias("neighbor_id"), "cos"))


def q_ann_ivf(spark, sf_dir):
    """IVF-style bucketed search over raw seed centroids, single probe —
    the scale path that avoids the all-pairs product (see _ivf_search)."""
    return _ivf_search(spark, sf_dir, nprobe=1)


def sql_ann_ivf(sf_dir):
    return (
        "WITH ap AS (SELECT c.vec_id vec_id, q.vec_id centroid, " + _COS_DUCK + " cos "
        "FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id != c.vec_id), "
        "ar AS (SELECT vec_id, centroid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY cos DESC, centroid ASC) rn FROM ap), "
        "assign AS (SELECT vec_id, centroid FROM ar WHERE rn = 1), "
        "p AS (SELECT q.vec_id qid, c.vec_id cid, " + _COS_DUCK + " cos "
        "FROM embeddings q JOIN assign aq ON aq.vec_id = q.vec_id "
        "JOIN assign ac ON TRUE JOIN embeddings c ON c.vec_id = ac.vec_id "
        "WHERE q.vec_id >= 8 AND q.vec_id < 24 AND aq.centroid = ac.centroid "
        "AND q.vec_id != c.vec_id), "
        "r AS (SELECT qid, cid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, cid ASC) rank FROM p) "
        "SELECT qid, rank, cid neighbor_id, cos FROM r WHERE rank <= 3")


_NPROBE = 2


def q_ann_ivf_probe(spark, sf_dir):
    """IVF with MULTI-PROBE (nprobe=2): each query searches the buckets of
    its 2 nearest centroids instead of only the nearest — the standard fix
    for the single-probe recall cliff (a query near a Voronoi boundary
    misses neighbors sitting just across it). Cost model at scale: the
    candidate set grows linearly in nprobe (2/K of the corpus for K
    centroids), still nothing like the all-pairs product. Mechanics in
    _ivf_search."""
    return _ivf_search(spark, sf_dir, nprobe=_NPROBE)


def sql_ann_ivf_probe(sf_dir):
    return (
        "WITH ap AS (SELECT c.vec_id vec_id, q.vec_id centroid, " + _COS_DUCK + " cos "
        "FROM embeddings q JOIN embeddings c ON q.vec_id < 8 AND q.vec_id != c.vec_id), "
        "ar AS (SELECT vec_id, centroid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY cos DESC, centroid ASC) rn FROM ap), "
        "assign AS (SELECT vec_id, centroid FROM ar WHERE rn = 1), "
        f"probes AS (SELECT vec_id, centroid FROM ar WHERE rn <= {_NPROBE}), "
        "p AS (SELECT q.vec_id qid, c.vec_id cid, " + _COS_DUCK + " cos "
        "FROM embeddings q JOIN probes aq ON aq.vec_id = q.vec_id "
        "JOIN assign ac ON ac.centroid = aq.centroid "
        "JOIN embeddings c ON c.vec_id = ac.vec_id "
        "WHERE q.vec_id >= 8 AND q.vec_id < 24 AND q.vec_id != c.vec_id), "
        "r AS (SELECT qid, cid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, cid ASC) rank FROM p) "
        "SELECT qid, rank, cid neighbor_id, cos FROM r WHERE rank <= 3")


# --- k-means-refined IVF --------------------------------------------------
# Centroid refinement without a single float in the loop state: a cluster
# "centroid" is the elementwise INTEGER SUM of its members' quantized
# embeddings (round(x*1000) int64). Cosine is scale-invariant, so the sum
# vector scores identically to the mean vector — no division, no float
# accumulation order, and the whole iteration is exact int64 arithmetic
# that Spark and DuckDB reproduce bit-for-bit. Assignment uses the
# 6-dp-rounded cosine with centroid-id tie-break (floats appear only in
# the final sqrt/divide, which is deterministic IEEE on both engines).
_KM_ITERS = 2
_KM_K = 8          # seeds = vec_id < 8, centroid id = seed vec_id
_KM_NPROBE = 2


def _km_cos_sql_spark(cvec):
    arr = ", ".join(f"{int(v)}L" for v in cvec)
    nc2 = sum(int(v) * int(v) for v in cvec)
    nc = "1.0" if nc2 == 0 else f"sqrt({nc2})"
    return (f"round(aggregate(zip_with(qe, array({arr}), (x, y) -> x * y), "
            f"0L, (a, v) -> a + v) / "
            f"((CASE WHEN nq2 = 0 THEN 1.0 ELSE sqrt(nq2) END) * {nc}), 6)")


def _km_argmax_expr(cents):
    """array_max over (cos, -cid) structs: max cosine, ties to smaller
    centroid id (struct comparison is lexicographic by field order)."""
    structs = ", ".join(
        f"struct({_km_cos_sql_spark(cv)} AS cos, {-cid} AS negk)"
        for cid, cv in sorted(cents.items()))
    return f"-array_max(array({structs})).negk"


def _km_cent_scores(cents):
    """Array of (cos, cid) structs for probe ranking."""
    return "array(" + ", ".join(
        f"struct({_km_cos_sql_spark(cv)} AS cos, {cid} AS cid)"
        for cid, cv in sorted(cents.items())) + ")"


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF with K-MEANS-REFINED centroids (the recall upgrade over
    ann_ivf's raw seed vectors) + nprobe=2: _KM_ITERS Lloyd rounds where
    assignment is a pure column expression against driver-resident
    centroid literals (the standard Spark k-means shape: centroids are
    KB-sized and broadcast into the expression tree; each round is one
    corpus scan + one tiny partial-aggregated shuffle of (cid, dim)
    sums). Cluster state stays exact int64 (see block comment above), so
    the unrolled-CTE DuckDB oracle reproduces every assignment and the
    gate stays a full value-hash check. Empty clusters keep their
    previous centroid on both engines."""
    e = (_emb(spark, sf_dir)
         .select("vec_id", "embedding")
         .withColumn("qe", F.expr(
             "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))"))
         .withColumn("nq2", F.expr("aggregate(qe, 0L, (a, x) -> a + x * x)"))
         .persist())
    _register_persisted(e)
    cents = {int(r["vec_id"]): list(r["qe"])
             for r in e.where(F.col("vec_id") < _KM_K)
             .select("vec_id", "qe").collect()}
    dim = len(next(iter(cents.values())))
    assert dim == 64, "oracle SQL unrolls a fixed 64-dim range"
    for _ in range(_KM_ITERS):
        # the assignment expression must be BOUND once per row before the
        # dim explode: a plain `select(argmax_expr, posexplode(qe))` lets
        # CollapseProject inline the 8-cosine expression into the
        # post-Generate projection, re-evaluating it per exploded dim
        # (64x, interpreted — measured 6x the whole round's cost). The
        # _let binding keeps it inside ONE expression evaluated once.
        rows = (e.select(F.explode(F.expr(_let(
                    _km_argmax_expr(cents), "cc",
                    "transform(qe, (v, i) -> "
                    "struct(cc AS cid, i AS i, v AS v))"))).alias("r"))
                .select("r.cid", "r.i", "r.v")
                .groupBy("cid", "i").agg(F.sum("v").alias("s")).collect())
        sums: dict = {}
        for r in rows:
            sums.setdefault(int(r["cid"]), [0] * dim)[int(r["i"])] = int(r["s"])
        cents = {cid: sums.get(cid, cv) for cid, cv in cents.items()}

    assign = e.select("vec_id",
                      F.expr(_km_argmax_expr(cents)).alias("cid"))
    probes = (e.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 24))
              .select("vec_id", F.explode(F.expr(_km_cent_scores(cents)))
                      .alias("cs"))
              .select("vec_id", "cs.cos", "cs.cid"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cid"))
    probes = (probes.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= _KM_NPROBE)
              .select(F.col("vec_id").alias("qid"), F.col("cid").alias("qc")))
    q = (e.join(probes, e["vec_id"] == probes["qid"])
         .select("qid", F.col("embedding").alias("qev"), "qc",
                 F.expr(_NORM_SPARK.format(v="embedding")).alias("nq")))
    c = (e.join(assign, "vec_id")
         .select(F.col("vec_id").alias("cid_v"),
                 F.col("embedding").alias("cev"), F.col("cid").alias("cc"),
                 F.expr(_NORM_SPARK.format(v="embedding")).alias("nc"))
         .repartition(spark.sparkContext.defaultParallelism, "cid_v"))
    cand = F.broadcast(q).join(c, (F.col("qc") == F.col("cc"))
                               & (F.col("qid") != F.col("cid_v")))
    dot = F.expr("aggregate(zip_with(qev, cev, (x, y) -> "
                 "cast(x as double) * cast(y as double)), "
                 "cast(0.0 as double), (acc, v) -> acc + v)")
    scored = cand.withColumn("cos", F.round(dot / (F.col("nq") * F.col("nc")), 6))
    w2 = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("cid_v"))
    return (scored.withColumn("rank", F.row_number().over(w2).cast("long"))
            .where(F.col("rank") <= 3)
            .select("qid", "rank", F.col("cid_v").alias("neighbor_id"), "cos"))


def _km_cos_duck(qe, cv_expr, nq2_expr):
    return (f"round(list_sum(list_transform(range(1, len({qe}) + 1), "
            f"i -> {qe}[i] * ({cv_expr})[i])) / "
            f"((CASE WHEN {nq2_expr} = 0 THEN 1.0 ELSE sqrt({nq2_expr}) END) "
            f"* (CASE WHEN list_sum(list_transform({cv_expr}, x -> x * x)) = 0 "
            f"THEN 1.0 ELSE sqrt(list_sum(list_transform({cv_expr}, x -> x * x))) END)), 6)")


def sql_ann_ivf_kmeans(sf_dir):
    # Unrolled Lloyd iterations as CTEs. cN = centroid sum-vectors after
    # round N (empty clusters keep the previous vector via the LEFT JOIN
    # COALESCE); assignment aN ranks the exact same rounded cosine the
    # Spark expression computes.
    cos = _km_cos_duck("q.qe", "c.cv", "q.nq2")
    parts = [
        "WITH q AS (SELECT vec_id, embedding, "
        "list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) qe, "
        "list_sum(list_transform(list_transform(embedding, "
        "x -> round(x::DOUBLE * 1000)::BIGINT), x -> x * x)) nq2 "
        "FROM embeddings), "
        f"c0 AS (SELECT vec_id cid, qe cv FROM q WHERE vec_id < {_KM_K})",
    ]
    prev = "c0"
    for it in range(1, _KM_ITERS + 1):
        parts.append(
            f"r{it} AS (SELECT q.vec_id, c.cid, {cos} cos, row_number() OVER "
            f"(PARTITION BY q.vec_id ORDER BY {cos} DESC, c.cid ASC) rn "
            f"FROM q, {prev} c), "
            f"a{it} AS (SELECT vec_id, cid FROM r{it} WHERE rn = 1), "
            # FROM-clause range() cannot be laterally correlated in DuckDB;
            # the embeddings table is fixed 64-dim (asserted Spark-side)
            f"s{it} AS (SELECT a.cid, i, sum(q.qe[i]) s FROM a{it} a "
            f"JOIN q USING (vec_id), range(1, 65) t(i) "
            f"GROUP BY a.cid, i), "
            f"n{it} AS (SELECT cid, list(s ORDER BY i) cv FROM s{it} GROUP BY cid), "
            f"c{it} AS (SELECT p.cid, COALESCE(n.cv, p.cv) cv "
            f"FROM {prev} p LEFT JOIN n{it} n USING (cid))")
        prev = f"c{it}"
    parts.append(
        f"fa AS (SELECT vec_id, cid FROM (SELECT q.vec_id, c.cid, "
        f"row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos} DESC, "
        f"c.cid ASC) rn FROM q, {prev} c) WHERE rn = 1), "
        f"pr AS (SELECT vec_id qid, cid qc FROM (SELECT q.vec_id, c.cid, "
        f"row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos} DESC, "
        f"c.cid ASC) rn FROM q, {prev} c WHERE q.vec_id >= 8 AND q.vec_id < 24) "
        f"WHERE rn <= {_KM_NPROBE}), "
        "p AS (SELECT pr.qid, c.vec_id cid, " + _COS_DUCK + " cos "
        "FROM pr JOIN embeddings q ON q.vec_id = pr.qid "
        "JOIN fa ON fa.cid = pr.qc JOIN embeddings c ON c.vec_id = fa.vec_id "
        "WHERE pr.qid != c.vec_id), "
        "rr AS (SELECT qid, cid, cos, row_number() OVER "
        "(PARTITION BY qid ORDER BY cos DESC, cid ASC) rank FROM p) "
        "SELECT qid, rank, cid neighbor_id, cos FROM rr WHERE rank <= 3")
    return ", ".join(parts[:1]) + ", " + ", ".join(parts[1:])


_PQ_M = 8         # subspaces (64 dims -> 8 x 8)
_PQ_D = 8         # dims per subspace
_PQ_K = 4         # centroids per subspace codebook
_PQ_ITERS = 2     # Lloyd rounds per subspace


def _pq_cos_spark(j, cv):
    """Rounded cosine of subvector j of the int64-quantized vector
    against a literal centroid — the per-subspace twin of
    _km_cos_sql_spark (columns qe + ns2 in scope)."""
    arr = ", ".join(f"{int(v)}L" for v in cv)
    nc2 = sum(int(v) * int(v) for v in cv)
    nc = "1.0" if nc2 == 0 else f"sqrt({nc2})"
    ns = f"element_at(ns2, {j + 1})"
    return (f"round(aggregate(zip_with(slice(qe, {j * _PQ_D + 1}, {_PQ_D}), "
            f"array({arr}), (x, y) -> x * y), 0L, (a, v) -> a + v) / "
            f"((CASE WHEN {ns} = 0 THEN 1.0 ELSE sqrt({ns}) END) * {nc})"
            ", 6)")


def _pq_codes_expr(cents):
    """array of 8 per-subspace argmax codes (ties -> smaller k, via the
    (cos, -k) struct max) from driver-resident centroid literals."""
    subs = []
    for j in range(_PQ_M):
        structs = ", ".join(
            f"struct({_pq_cos_spark(j, cents[(j, k)])} AS cos, "
            f"{-k} AS negk)" for k in range(_PQ_K))
        subs.append(f"-array_max(array({structs})).negk")
    return "array(" + ", ".join(subs) + ")"


def _pq_recon_expr(cents):
    """Sum over subspaces of the chosen (max) per-subspace cosine —
    the reconstruction-similarity score of the encoded vector."""
    subs = []
    for j in range(_PQ_M):
        structs = ", ".join(
            f"struct({_pq_cos_spark(j, cents[(j, k)])} AS cos, "
            f"{-k} AS negk)" for k in range(_PQ_K))
        subs.append(f"array_max(array({structs})).cos")
    return "round(" + " + ".join(subs) + ", 6)"


def _pq_train(spark, sf_dir):
    """Shared PQ trainer: quantized embedding frame (persisted, with
    per-subspace norms) + the trained per-(subspace, code) int64
    sum-vector codebooks after _PQ_ITERS Lloyd rounds. See q_ann_pq
    for the full mechanics story."""
    e = (_emb(spark, sf_dir)
         .select("vec_id", "embedding")
         .withColumn("qe", F.expr(
             "transform(embedding, x -> "
             "cast(round(cast(x as double) * 1000) as bigint))"))
         .withColumn("ns2", F.expr(
             f"transform(sequence(0, {_PQ_M - 1}), j -> "
             f"aggregate(slice(qe, j * {_PQ_D} + 1, {_PQ_D}), 0L, "
             "(a, x) -> a + x * x))"))
         .persist())
    _register_persisted(e)
    seeds = {int(r["vec_id"]): list(r["qe"])
             for r in e.where(F.col("vec_id") < _PQ_K)
             .select("vec_id", "qe").collect()}
    dim = len(next(iter(seeds.values())))
    assert dim == _PQ_M * _PQ_D, "codebook layout assumes 64 dims"
    cents = {(j, k): seeds[k][j * _PQ_D:(j + 1) * _PQ_D]
             for j in range(_PQ_M) for k in range(_PQ_K)}
    for _ in range(_PQ_ITERS):
        # bind the 32-cosine codes expression ONCE per row before the dim
        # explode (same CollapseProject-through-Generate hazard as the
        # k-means round above: unbound, it re-evaluates per exploded dim)
        rows = (e.select(F.explode(F.expr(_let(
                    _pq_codes_expr(cents), "cds",
                    "transform(qe, (v, i) -> struct("
                    "i div 8 AS j, i % 8 AS d, "
                    "element_at(cds, cast(i div 8 as int) + 1) AS k, "
                    "v AS v))"))).alias("r"))
                .select("r.j", "r.k", "r.d", "r.v")
                .groupBy("j", "k", "d").agg(F.sum("v").alias("s"))
                .collect())
        sums: dict = {}
        for r in rows:
            sums.setdefault((int(r["j"]), int(r["k"])),
                            [0] * _PQ_D)[int(r["d"])] = int(r["s"])
        cents = {jk: sums.get(jk, cv) for jk, cv in cents.items()}
    return e, cents


def q_ann_pq(spark, sf_dir):
    """PRODUCT QUANTIZATION codebook training + encoding (Jégou et al.
    2011) — the memory-side ANN lever emb_quantize's int8 report is the
    warm-up for: the 64-dim space splits into 8 subspaces of 8 dims,
    each learns a K=4 spherical k-means codebook (cosine assignment —
    the angular-metric PQ variant matching this repo's cosine ANN
    stack), and every vector compresses to 8 code ids (3 orders of
    magnitude smaller than float32; ann_pq_adc runs the matching
    query-time search). Mechanics are ann_ivf_kmeans's exactly,
    once per subspace in the SAME pass: int64-quantized subvectors,
    sum-vector centroids (scale-invariant cosine => exact integer
    state, no float accumulation), driver-literal codebooks in the
    expression tree, one corpus scan + one tiny (j, k, dim) sum shuffle
    per Lloyd round, empty clusters keep their centroid. Emits
    (vec_id, pq_code, recon_sim); the unrolled-CTE DuckDB oracle
    reproduces every assignment, so the gate is a full value-hash."""
    e, cents = _pq_train(spark, sf_dir)
    return e.select(
        "vec_id",
        F.expr("concat_ws(',', transform("
               + _pq_codes_expr(cents)
               + ", x -> cast(x as string)))").alias("pq_code"),
        F.expr(_pq_recon_expr(cents)).alias("recon_sim"))


def _sql_pq_chain():
    # relational unroll, ann_ivf_kmeans's oracle shape with a subspace
    # axis: sv = (vec, subspace) subvector rows, cN = codebook table
    # keyed (j, k) after round N, assignments by the identical rounded
    # cosine with ties -> smaller k; returns (CTE parts incl. final
    # assignment fa, name of the final codebook CTE)
    D, K, M = _PQ_D, _PQ_K, _PQ_M
    cos = (f"round(list_sum(list_transform(range(1, {D} + 1), "
           "i -> s.x[i] * c.cv[i])) / "
           "((CASE WHEN s.nx = 0 THEN 1.0 ELSE sqrt(s.nx) END) * "
           "(CASE WHEN list_sum(list_transform(c.cv, v -> v * v)) = 0 "
           "THEN 1.0 ELSE "
           "sqrt(list_sum(list_transform(c.cv, v -> v * v))) END)), 6)")
    parts = [
        "WITH q AS (SELECT vec_id, "
        "list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) "
        "qe FROM embeddings), "
        f"sv AS (SELECT vec_id, j, "
        f"list_slice(qe, j * {D} + 1, j * {D} + {D}) x, "
        f"list_sum(list_transform(list_slice(qe, j * {D} + 1, "
        f"j * {D} + {D}), v -> v * v)) nx FROM q, range({M}) r(j)), "
        f"c0 AS (SELECT j, vec_id k, list_slice(qe, j * {D} + 1, "
        f"j * {D} + {D}) cv FROM q, range({M}) r(j) WHERE vec_id < {K})",
    ]
    prev = "c0"
    for it in range(1, _PQ_ITERS + 1):
        parts.append(
            f"r{it} AS (SELECT s.vec_id, s.j, c.k, {cos} cos, "
            f"row_number() OVER (PARTITION BY s.vec_id, s.j "
            f"ORDER BY {cos} DESC, c.k ASC) rn "
            f"FROM sv s JOIN {prev} c ON c.j = s.j), "
            f"a{it} AS (SELECT vec_id, j, k FROM r{it} WHERE rn = 1), "
            f"s{it} AS (SELECT a.j, a.k, i, sum(s.x[i]) sm "
            f"FROM a{it} a JOIN sv s ON s.vec_id = a.vec_id "
            f"AND s.j = a.j, range(1, {D} + 1) t(i) GROUP BY a.j, a.k, i), "
            f"n{it} AS (SELECT j, k, list(sm ORDER BY i) cv FROM s{it} "
            "GROUP BY j, k), "
            f"c{it} AS (SELECT p.j, p.k, COALESCE(n.cv, p.cv) cv "
            f"FROM {prev} p LEFT JOIN n{it} n ON n.j = p.j AND n.k = p.k)")
        prev = f"c{it}"
    parts.append(
        f"fa AS (SELECT vec_id, j, k, cos FROM (SELECT s.vec_id, s.j, "
        f"c.k, {cos} cos, row_number() OVER (PARTITION BY s.vec_id, s.j "
        f"ORDER BY {cos} DESC, c.k ASC) rn FROM sv s "
        f"JOIN {prev} c ON c.j = s.j) WHERE rn = 1)")
    return parts, prev


def sql_ann_pq(sf_dir):
    parts, _prev = _sql_pq_chain()
    return (", ".join(parts) + " "
            "SELECT vec_id, string_agg(k::VARCHAR, ',' ORDER BY j) "
            "pq_code, round(sum(cos), 6) recon_sim FROM fa "
            "GROUP BY vec_id")


def q_ann_pq_adc(spark, sf_dir):
    """ASYMMETRIC DISTANCE COMPUTATION search over the PQ codes — the
    query-time payoff of ann_pq and the last stage of the ANN stack
    (quantize → IVF → k-means → PQ codes → ADC): each query keeps its
    EXACT vector, each candidate is represented only by its 8 code ids,
    and the match score is the sum over subspaces of the query-
    subvector · chosen-centroid dot product — a per-query lookup table
    of M×K=32 precomputed dots, so scoring a candidate is 8 table
    lookups instead of a 64-dim float scan. All integer arithmetic
    (int64 quantized query × int64 sum-vector centroids), so the rank
    key adc_num is bit-exact in both engines with a full (score desc,
    id asc) tiebreak. At 100 TB the codes frame is ~1% of the float
    corpus and the lookup tables are KB-sized broadcast literals — the
    scan-the-codes shape is the point. Top-5 per query (vec_id < 8).
    Measured recall@5 vs exact cosine on the sf0.001 fixture: 0.175
    (pinned >= 0.15 in test) — the K=4/2-bit demo codebook is
    deliberately coarse; production PQ uses K=256 per subspace and the
    plan shape is identical."""
    e, cents = _pq_train(spark, sf_dir)
    codes = e.select("vec_id",
                     F.expr(_pq_codes_expr(cents)).alias("codes"))
    q = (e.where(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("qid"), F.col("qe").alias("qqe")))
    terms = []
    for j in range(_PQ_M):
        whens = []
        for k in range(_PQ_K):
            arr = ", ".join(f"{int(v)}L" for v in cents[(j, k)])
            whens.append(
                f"WHEN {k} THEN aggregate(zip_with("
                f"slice(qqe, {j * _PQ_D + 1}, {_PQ_D}), array({arr}), "
                "(x, y) -> x * y), 0L, (a, v) -> a + v)")
        terms.append(f"(CASE element_at(codes, {j + 1}) "
                     + " ".join(whens) + " END)")
    adc = " + ".join(terms)
    cand = (F.broadcast(q)
            .join(codes, F.col("qid") != F.col("vec_id"))
            .select("qid", F.col("vec_id").alias("cid"),
                    F.expr(adc).alias("adc_num")))
    w = Window.partitionBy("qid").orderBy(F.desc("adc_num"), F.asc("cid"))
    return (cand.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 5)
            .select("qid", "rank", F.col("cid").alias("neighbor_id"),
                    "adc_num"))


def sql_ann_pq_adc(sf_dir):
    parts, prev = _sql_pq_chain()
    D = _PQ_D
    parts.append(
        "qs AS (SELECT vec_id qid, j, x FROM sv WHERE vec_id < 8), "
        f"dt AS (SELECT q.qid, c.j, c.k, "
        f"list_sum(list_transform(range(1, {D} + 1), "
        f"i -> q.x[i] * c.cv[i])) d FROM qs q JOIN {prev} c ON c.j = q.j), "
        "sc AS (SELECT dt.qid, fa.vec_id cid, sum(dt.d) adc_num "
        "FROM fa JOIN dt ON dt.j = fa.j AND dt.k = fa.k "
        "WHERE dt.qid != fa.vec_id GROUP BY 1, 2), "
        "rr AS (SELECT qid, cid, adc_num, row_number() OVER ("
        "PARTITION BY qid ORDER BY adc_num DESC, cid ASC) rank FROM sc)")
    return (", ".join(parts) + " "
            "SELECT qid, rank::BIGINT rank, cid neighbor_id, "
            "adc_num::BIGINT adc_num FROM rr WHERE rank <= 5")


def q_emb_quantize(spark, sf_dir):
    """Symmetric int8 quantization report per vector (the 4x memory /
    bandwidth lever for ANN at scale: a 100 TB float32 embedding store is
    25 TB as int8 + one scale per vector): scale = max|x|/127, q =
    floor(x/scale + 0.5), and the reconstruction error stats a pipeline
    gates codebook rollout on. Entirely row-wise — zero shuffle, the scan
    emits the report directly. floor(v+0.5) is used instead of round():
    identical IEEE ops on both engines, immune to HALF_UP-vs-banker
    differences at the .5 boundary; mse is scaled by 1e6 so 6-dp rounding
    keeps real precision at int8 error magnitudes (~1e-8 raw)."""
    e = (_emb(spark, sf_dir)
         .withColumn("xd", F.expr("transform(embedding, x -> cast(x as double))"))
         .withColumn("amax", F.expr(
             "aggregate(xd, cast(0.0 as double), (a, v) -> greatest(a, abs(v)))"))
         .withColumn("scale", F.expr(
             "CASE WHEN amax = 0 THEN cast(1.0 as double) ELSE amax / 127 END"))
         .withColumn("err", F.expr(
             "transform(xd, v -> v - cast(floor(v / scale + 0.5) as double) * scale)")))
    return e.select(
        "vec_id",
        F.expr("size(xd)").cast("long").alias("n_dims"),
        F.round("scale", 9).alias("scale"),
        F.round(F.expr(
            "aggregate(err, cast(0.0 as double), (a, v) -> a + v * v) "
            "/ size(xd) * 1000000"), 6).alias("mse_x1e6"),
        F.round(F.expr(
            "aggregate(err, cast(0.0 as double), (a, v) -> greatest(a, abs(v)))"),
            9).alias("max_abs_err"),
    )


def sql_emb_quantize(sf_dir):
    return (
        "WITH x AS (SELECT vec_id, "
        "list_transform(embedding, x -> x::DOUBLE) xd FROM embeddings), "
        "s AS (SELECT vec_id, xd, "
        "list_max(list_transform(xd, v -> abs(v))) amax FROM x), "
        "sc AS (SELECT vec_id, xd, CASE WHEN amax = 0 THEN 1.0 "
        "ELSE amax / 127 END scale FROM s), "
        "e AS (SELECT vec_id, xd, scale, "
        "list_transform(xd, v -> v - floor(v / scale + 0.5) * scale) err "
        "FROM sc) "
        "SELECT vec_id, len(xd)::BIGINT n_dims, round(scale, 9) scale, "
        "round(list_sum(list_transform(err, v -> v * v)) / len(xd) * 1000000, 6) "
        "mse_x1e6, "
        "round(list_max(list_transform(err, v -> abs(v))), 9) max_abs_err "
        "FROM e")


