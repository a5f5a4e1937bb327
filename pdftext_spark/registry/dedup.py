"""Deduplication family: exact, MinHash-LSH, SimHash, Jaccard
(+PPJoin prefix), embedding cosine (+SRP-LSH), SemDeDup, connected
components (+large/small-star), CDC chunking, winnowing."""
from __future__ import annotations

from pdftext_spark.registry._shared import (  # noqa: F401
    DataFrame,
    F,
    Window,
    _H_SQL,
    _SHINGLES_DUCK,
    _SHINGLES_SPARK,
    _TOKS_DUCK,
    _TOKS_SPARK,
    _cos6,
    _docs,
    _emb,
    _let,
    _register_persisted,
)
from pdftext_spark.registry.ann import (  # noqa: F401
    _COS_DUCK,
    _cosine_pairs,
)

# --------------------------------------------------------------------------
# 2b. deduplication (documents)
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


def sql_dedup_exact(sf_dir):
    return ("SELECT md5(text) text_hash, min(doc_id) keeper_doc_id, "
            "count(*) n_copies FROM documents GROUP BY md5(text)")


def _shingle_df(spark, sf_dir):
    # persisted (and REGISTERED, so unpersist_registered() frees it like
    # every other side table): the jaccard pipeline consumes it three
    # times (self-join both sides + per-doc counts); at 100 TB this is a
    # materialized intermediate table instead.
    # set semantics via per-doc array_distinct BEFORE the explode: the
    # dedup happens inside the row (JVM, no shuffle) instead of a global
    # distinct() over the exploded table.
    df = (_docs(spark, sf_dir)
          .withColumn("toks", F.expr(_TOKS_SPARK))
          .withColumn("sh", F.expr(_SHINGLES_SPARK))
          .select("doc_id", F.explode(F.array_distinct("sh")).alias("shingle"))
          .persist())
    return _register_persisted(df)


_SHINGLE_CTE = (
    "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
    "sx AS (SELECT doc_id, " + _SHINGLES_DUCK + " sh FROM t), "
    "ds AS (SELECT DISTINCT doc_id, unnest(sh) shingle FROM sx)"
)


def q_dedup_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (threshold 0.8)."""
    ds = _shingle_df(spark, sf_dir)
    n = ds.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = ds.alias("a")
    b = ds.alias("b")
    common = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count("*").alias("common")))
    na = n.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = n.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (common.join(na, "doc_a").join(nb, "doc_b")
            .withColumn("jaccard", F.round(F.col("common")
                                           / (F.col("na") + F.col("nb") - F.col("common")), 6))
            .where(F.col("jaccard") >= 0.8)
            .select("doc_a", "doc_b", "jaccard"))


def sql_dedup_jaccard(sf_dir):
    return (
        _SHINGLE_CTE + ", "
        "c AS (SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) common FROM ds a "
        "JOIN ds b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "n AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1) "
        "SELECT doc_a, doc_b, round(common * 1.0 / (na.n + nb.n - common), 6) jaccard "
        "FROM c JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b "
        "WHERE round(common * 1.0 / (na.n + nb.n - common), 6) >= 0.8")


def q_dedup_jaccard_prefix(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs (threshold 0.8) via PREFIX
    FILTERING — the SSJoin/PPJoin family (Chaudhuri et al. ICDE'06,
    Xiao et al. WWW'08), the principled scale path that makes the exact
    threshold join tractable where dedup_jaccard's full shingle
    equi-join is quadratic in duplicate density. Shingles get a global
    canonical order by ascending document frequency (rarest first);
    each doc keeps only its first |x| - ceil(0.8·|x|) + 1 shingles in
    that order. For any pair with J >= t the smallest common shingle in
    the canonical order provably lands in BOTH prefixes (the suffix of
    either doc holds at most ceil(t|x|)-1 < |x∩y| common shingles, and
    a prefix is downward-closed in the order), so joining prefixes
    only loses nothing. Because prefixes hold the RAREST shingles, the
    candidate join is skew-light by construction — the hot head
    shingles that blow up the naive join never enter it. Candidates
    then verify with one array_intersect against the persisted per-doc
    shingle arrays (two slim joins sized by candidate density). Output
    and oracle are identical to dedup_jaccard: the filter must be
    invisible."""
    docs = (_docs(spark, sf_dir)
            .withColumn("toks", F.expr(_TOKS_SPARK))
            .withColumn("sh", F.array_distinct(F.expr(_SHINGLES_SPARK)))
            .select("doc_id", "sh", F.size("sh").alias("n"))
            .persist())
    docs = _register_persisted(docs)
    ex = docs.select("doc_id", "n", F.explode("sh").alias("shingle"))
    freq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    pref = (ex.join(freq, "shingle")
            .withColumn("pos", F.row_number().over(w))
            .where(F.col("pos") <= F.col("n") - F.ceil(F.col("n") * 0.8) + 1)
            .select("shingle", "doc_id"))
    cand = (pref.alias("a")
            .join(pref.alias("b"),
                  (F.col("a.shingle") == F.col("b.shingle"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    da = docs.select(F.col("doc_id").alias("doc_a"),
                     F.col("sh").alias("sha"), F.col("n").alias("na"))
    db = docs.select(F.col("doc_id").alias("doc_b"),
                     F.col("sh").alias("shb"), F.col("n").alias("nb"))
    return (cand.join(da, "doc_a").join(db, "doc_b")
            .withColumn("common", F.size(F.array_intersect("sha", "shb")))
            .withColumn("jaccard",
                        F.round(F.col("common")
                                / (F.col("na") + F.col("nb") - F.col("common")),
                                6))
            .where(F.col("jaccard") >= 0.8)
            .select("doc_a", "doc_b", "jaccard"))


_N_PERM = 16
_BAND = 4  # 4 bands of 4
_M31 = 2147483647  # Mersenne prime; (a*h+b) % _M31 stays exact in int64


def _mh_coef(p):
    """Deterministic affine-permutation coefficients shared verbatim by
    both engines (md5-derived constants, not runtime randomness)."""
    import hashlib
    d = hashlib.md5(f"mh:{p}".encode()).hexdigest()
    return int(d[:8], 16) % (_M31 - 1) + 1, int(d[8:16], 16) % _M31


def _shc(k):
    """Shingle-combination coefficients (md5-derived job constants)."""
    import hashlib
    return int(hashlib.md5(f"shc:{k}".encode()).hexdigest()[:8], 16) \
        % (_M31 - 1) + 1


# Hashed 3-token shingles: ONE md5 per token (not per shingle string),
# trigram hash = positional linear combination of the three token hashes
# mod M31. Cheaper than hashing concatenated shingle strings (1/3 of the
# bytes through md5, no concat allocations, and the carried shingle sets
# become bigint arrays instead of strings). Every product stays < 2^62
# (both factors < 2^31), so int64/BIGINT arithmetic is exact in both
# engines and the values are bit-identical across Spark and DuckDB.
_TOKH_SPARK = (f"CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) "
               f"% {_M31}")
_TOKH_DUCK = f"('0x'||substr(md5(t),1,8))::BIGINT % {_M31}"

_HSHINGLES_SPARK = (
    f"CASE WHEN size(hs) = 0 THEN array(0L) "
    f"WHEN size(hs) < 3 THEN array(aggregate(hs, 0L, "
    f"(a, h) -> (a * {_shc(0)}L + h) % {_M31}L)) "
    f"ELSE transform(sequence(1, size(hs)-2), i -> "
    f"((({_shc(1)}L * element_at(hs, i)) % {_M31}L) "
    f"+ (({_shc(2)}L * element_at(hs, i+1)) % {_M31}L) "
    f"+ (({_shc(3)}L * element_at(hs, i+2)) % {_M31}L)) % {_M31}L) END")
_HSHINGLES_DUCK = (
    f"CASE WHEN len(hs) = 0 THEN [0::BIGINT] "
    f"WHEN len(hs) < 3 THEN [list_reduce(hs, "
    f"(a, h) -> (a * {_shc(0)} + h) % {_M31})] "
    f"ELSE list_transform(range(1, len(hs)-1), i -> "
    f"((({_shc(1)} * hs[i]) % {_M31}) + (({_shc(2)} * hs[i+1]) % {_M31}) "
    f"+ (({_shc(3)} * hs[i+2]) % {_M31})) % {_M31}) END")

# hashed-shingle CTE for the minhash oracle (dedup_jaccard keeps the
# string CTE — it is the exact baseline and must stay literal n-grams)
_HSHINGLE_CTE = (
    "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
    "th AS (SELECT doc_id, list_transform(toks, t -> " + _TOKH_DUCK
    + ") hs FROM t), "
    "sx AS (SELECT doc_id, " + _HSHINGLES_DUCK + " sh FROM th), "
    "ds AS (SELECT DISTINCT doc_id, unnest(sh) shingle FROM sx)"
)


def minhash_signature(d: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, shset, mh0..mh{N-1}). Entirely row-wise
    (per-doc shingle-hash array → N array_min folds): the scan emits
    signatures with ZERO shuffle and no explode. Shared by the batch LSH
    query and the streaming near-dup ingest."""
    mins = [
        "array_min(transform(shs, h -> ({a}L * h + {b}L) % {m}L)) AS mh{p}"
        .format(a=_mh_coef(p)[0], b=_mh_coef(p)[1], m=_M31, p=p)
        for p in range(_N_PERM)]
    return (d
            .withColumn("toks", F.expr(_TOKS_SPARK))
            .withColumn("hs", F.expr(f"transform(toks, t -> {_TOKH_SPARK})"))
            .withColumn("shs", F.expr(
                f"array_distinct({_HSHINGLES_SPARK})"))
            .selectExpr("doc_id", "shs AS shset", *mins))


def minhash_bands(sig: DataFrame) -> DataFrame:
    """Signature frame → exploded (doc_id, band_idx, band_hash) rows."""
    return sig.select("doc_id", F.explode(F.array(*[
        F.struct(F.lit(bnd).alias("band_idx"),
                 F.md5(F.concat_ws("|", *[
                     F.col(f"mh{bnd * _BAND + k}").cast("string")
                     for k in range(_BAND)])).alias("band_hash"))
        for bnd in range(_N_PERM // _BAND)])).alias("bs")) \
        .select("doc_id", "bs.band_idx", "bs.band_hash")


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash signatures + LSH banding: candidate pairs sharing a band,
    verified by exact Jaccard ≥ 0.7 over the hashed shingle sets. Scale
    path: signatures are computed ROW-WISE — per-doc shingle-hash array →
    16 array_min(transform(...)) — so the corpus scan produces (doc_id,
    16 longs) with ZERO shuffle and no explode; the only shuffles left are
    the band equi-join on (band_idx, band_hash) and the candidate-doc set
    verify, both sized by near-dup density, not corpus size. Shingles are
    hashed from PER-TOKEN md5 via _HSHINGLES (1/3 the md5 bytes of
    hashing shingle strings; measured A/B in BENCH.md round 3)."""
    sig = (minhash_signature(_docs(spark, sf_dir))
           # tiny: doc_id + shingle set + 16 longs, reused by the two sides
           # of the band join and the verify step; at 100 TB a materialized
           # signature table. Registered for unpersist_registered() —
           # long-lived sessions release it between invocations.
           .persist())
    _register_persisted(sig)
    bands = minhash_bands(sig)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_hash") == F.col("b.band_hash"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b")).distinct())
    # verify ONLY the candidate pairs with exact jaccard on the per-doc
    # shingle sets already carried on sig. (The all-pairs shingle self-join
    # lives in dedup_jaccard, which is by definition the exact baseline;
    # reintroducing it here would defeat the point of LSH at 100 TB.)
    sets = sig.select("doc_id", F.col("shset").alias("sh"))
    verified = (cand
                .join(sets.select(F.col("doc_id").alias("doc_a"),
                                  F.col("sh").alias("sha")), "doc_a")
                .join(sets.select(F.col("doc_id").alias("doc_b"),
                                  F.col("sh").alias("shb")), "doc_b")
                .withColumn("common", F.size(F.array_intersect("sha", "shb")))
                .withColumn("jaccard", F.round(
                    F.col("common")
                    / (F.size("sha") + F.size("shb") - F.col("common")), 6))
                .where(F.col("jaccard") >= 0.7)
                .select("doc_a", "doc_b", "jaccard"))
    return verified


def sql_dedup_minhash_lsh(sf_dir):
    mins = ", ".join(
        f"min(({_mh_coef(p)[0]} * shingle + {_mh_coef(p)[1]}) % {_M31}) mh{p}"
        for p in range(_N_PERM))
    band_sel = " UNION ALL ".join(
        f"SELECT doc_id, {bnd} band_idx, md5("
        + " || '|' || ".join(f"mh{bnd * _BAND + k}::VARCHAR" for k in range(_BAND))
        + ") band_hash FROM sig" for bnd in range(_N_PERM // _BAND))
    return (
        _HSHINGLE_CTE + ", "
        f"sig AS (SELECT doc_id, {mins} FROM ds GROUP BY doc_id), "
        f"bands AS ({band_sel}), "
        "cand AS (SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b FROM bands a "
        "JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash "
        "AND a.doc_id < b.doc_id), "
        "c AS (SELECT x.doc_id doc_a, y.doc_id doc_b, count(*) common FROM ds x "
        "JOIN ds y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), "
        "n AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1) "
        "SELECT cand.doc_a, cand.doc_b, "
        "round(common * 1.0 / (na.n + nb.n - common), 6) jaccard "
        "FROM cand JOIN c ON c.doc_a = cand.doc_a AND c.doc_b = cand.doc_b "
        "JOIN n na ON na.doc_id = cand.doc_a JOIN n nb ON nb.doc_id = cand.doc_b "
        "WHERE round(common * 1.0 / (na.n + nb.n - common), 6) >= 0.7")


def min_label_components(pairs: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Connected components of an undirected pair graph (doc_a, doc_b) by
    min-label propagation with pointer doubling: (doc_id, lbl) where lbl
    is the smallest node id in the component. Raises on non-convergence
    rather than returning wrong clusters."""
    sym = pairs.union(pairs.select(F.col("doc_b").alias("doc_a"),
                                   F.col("doc_a").alias("doc_b"))).persist()
    labels = (sym.select(F.col("doc_a").alias("doc_id")).distinct()
              .withColumn("lbl", F.col("doc_id")).persist())
    # Each superstep does (a) one-hop min propagation over the edges, then
    # (b) label SHORTCUTTING — every node re-points to its label's label
    # (valid because labels are always node ids and only decrease, so
    # lbl(lbl) <= lbl). The shortcut is what gives pointer-doubling
    # O(log n) convergence; one-hop propagation alone moves labels a
    # single edge per round and a path graph of eccentricity > rounds
    # would finish UNCONVERGED — hence the hard error below rather than a
    # silent wrong answer. 64 doubling rounds covers components beyond
    # 2^32 nodes. localCheckpoint() truncates lineage each round; without
    # it the plan doubles per superstep and dies in the optimizer long
    # before the data becomes the problem.
    converged = False
    for _ in range(max_rounds):
        nbr = (sym.join(labels, sym["doc_b"] == labels["doc_id"])
               .groupBy("doc_a").agg(F.min("lbl").alias("nbr_lbl")))
        prop = (labels.join(nbr, labels["doc_id"] == nbr["doc_a"], "left")
                .select("doc_id",
                        F.least("lbl", F.coalesce("nbr_lbl", "lbl")).alias("lbl"))
                # materialize before the self-join below, else Spark
                # recomputes the propagation join for each reference
                .localCheckpoint())
        short = prop.select(F.col("doc_id").alias("lbl"),
                            F.col("lbl").alias("lbl2"))
        new = (prop.join(short, "lbl", "left")
               .select("doc_id",
                       F.least("lbl", F.coalesce("lbl2", "lbl")).alias("lbl"))
               .localCheckpoint())
        changed = (new.alias("n").join(labels.alias("o"), "doc_id")
                   .where(F.col("n.lbl") != F.col("o.lbl")).limit(1).count())
        labels.unpersist()
        labels = new
        if changed == 0:
            converged = True
            break
    sym.unpersist()  # labels is an eager localCheckpoint; sym is done
    if not converged:
        raise RuntimeError(
            f"min_label_components: label propagation did not converge in "
            f"{max_rounds} doubling rounds — refusing to return "
            "possibly-wrong clusters")
    return labels


def star_components(pairs: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Connected components by the alternating LARGE-STAR / SMALL-STAR
    edge-rewriting algorithm (Kiveris et al., 'Connected Components in
    MapReduce and Beyond', SoCC 2014): same (doc_id, lbl=component min)
    contract as min_label_components, different scale mechanics. Where
    label propagation keeps the edge set fixed and moves labels across
    it, each star round REWRITES the edges themselves toward stars —
    large-star points every greater neighbor at the group min, small-star
    collapses every lesser neighbor onto it — so the working set shrinks
    monotonically toward one (node, root) edge per non-root node, rounds
    are O(log n), and per-round cost is bounded by the CURRENT edge
    count rather than the original graph. Each phase is one groupBy-min
    + re-emit (two key shuffles per round on a shrinking frame); the
    group min is computed with an aggregate, never a collect, so a
    celebrity node with 10^9 neighbors partial-aggregates map-side
    instead of serializing one task. Convergence = small-star fixed
    point (guaranteed terminal star form); raises rather than returning
    wrong clusters, mirroring min_label_components."""
    # canonical larger-first orientation; self-loops drop
    e = (pairs.select(F.greatest("doc_a", "doc_b").alias("u"),
                      F.least("doc_a", "doc_b").alias("v"))
         .where(F.col("u") != F.col("v")).distinct().localCheckpoint())
    for _ in range(max_rounds):
        before = e
        # LARGE-STAR on the symmetric view: for each center u, point
        # every strictly greater neighbor at min(N(u) ∪ {u}); since
        # m <= u < v the larger-first orientation is preserved
        sym = e.unionAll(e.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min(F.least("u", "v")).alias("m"))
        e = (sym.join(m, "u")
             .where(F.col("v") > F.col("u"))
             .select(F.col("v").alias("u"), F.col("m").alias("v"))
             .distinct().localCheckpoint())
        # SMALL-STAR on the larger-first orientation: collapse each
        # center's (all lesser) neighbors onto their min, keep (u, min)
        m2 = e.groupBy("u").agg(F.min("v").alias("m"))
        e = (e.join(m2, "u")
             .select(F.explode(F.array(
                 F.struct(F.col("u").alias("u"), F.col("m").alias("v")),
                 F.struct(F.col("v").alias("u"), F.col("m").alias("v"))
             )).alias("s"))
             .select("s.u", "s.v")
             .where(F.col("u") != F.col("v")).distinct().localCheckpoint())
        # fixed point over the FULL round: the round potential strictly
        # decreases until the terminal star form, so start == end only
        # there (checking one phase alone could alias a mid-state)
        if (e.exceptAll(before).limit(1).count() == 0
                and before.exceptAll(e).limit(1).count() == 0):
            break
    else:
        raise RuntimeError(
            f"star_components: no fixed point in {max_rounds} rounds — "
            "refusing to return possibly-wrong clusters")
    # terminal star form: every edge is (node, component root)
    return (e.select(F.col("u").alias("doc_id"), F.col("v").alias("lbl"))
            .unionAll(e.select(F.col("v").alias("doc_id"),
                               F.col("v").alias("lbl")))
            .distinct())


def q_dedup_clusters(spark, sf_dir, star: bool = False):
    """Near-dup CLUSTERS from the verified minhash-LSH pairs: connected
    components by min-label propagation with pointer doubling
    (min_label_components), canonical doc = smallest doc_id in the
    component. This is the step that turns pairwise near-dups into a
    keep/drop decision at corpus scale; every superstep runs on the
    (small) pair graph — the 100 TB corpus itself is never touched
    again. ``star=True`` runs the same contract through the alternating
    large-star/small-star edge-rewriting algorithm (star_components) —
    the variant to reach for when the pair graph itself is huge, since
    its per-round cost tracks the shrinking edge set (label-identical
    by test on path/star/real graphs)."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels = (star_components if star else min_label_components)(pairs)
    return (labels.select("doc_id", F.col("lbl").alias("cluster_id"))
            .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id")))


def q_dedup_clusters_star(spark, sf_dir):
    """dedup_clusters through the large-star/small-star edge-rewriting
    scale path (see star_components)."""
    return q_dedup_clusters(spark, sf_dir, star=True)


def sql_dedup_clusters(sf_dir):
    return (
        "WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ("
        + sql_dedup_minhash_lsh(sf_dir) + ") q), "
        "e AS (SELECT doc_a, doc_b FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs), "
        "r AS ("
        "SELECT DISTINCT doc_a AS doc_id, doc_a AS reach FROM e "
        "UNION "
        "SELECT r.doc_id, e.doc_b FROM r JOIN e ON e.doc_a = r.reach) "
        "SELECT doc_id, min(reach) cluster_id, "
        "doc_id = min(reach) is_keeper FROM r GROUP BY doc_id")


def q_dedup_simhash(spark, sf_dir):
    """32-bit SimHash per document from token hashes — fully ROW-WISE:
    per-bit ±1 sums and the final bit assembly are nested higher-order
    array expressions over the token-hash array, so the corpus scan emits
    (doc_id, simhash) directly with no explode and no shuffle. Integer
    sums of ±1 are order-independent, so values are bit-identical to the
    grouped formulation the DuckDB oracle uses."""
    h31 = "CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)"
    # hs and sums are _let-bound: left as withColumn aliases, each lambda
    # reference re-inlined the producing array per element (32x32 token
    # re-hashes per doc — 44 s for 500 docs; 0.4 s bound)
    sim = _let(f"transform({_TOKS_SPARK}, t -> {h31})", "hs",
          _let("transform(sequence(0, 31), j -> aggregate(hs, 0L, "
               "(acc, h) -> acc + IF((shiftright(h, j) & 1) = 1, 1, -1)))",
               "sums",
               "aggregate(sequence(0, 31), 0L, (acc, j) -> "
               "acc + IF(element_at(sums, j + 1) > 0, "
               "shiftleft(1L, j), 0L))"))
    return (_docs(spark, sf_dir)
            # grouped form drops token-less docs
            .where(F.expr(f"size({_TOKS_SPARK}) > 0"))
            .selectExpr("doc_id", f"{sim} AS simhash"))


def sql_dedup_simhash(sf_dir):
    h = _H_SQL.format(c="t")
    return (
        "WITH tk AS (SELECT doc_id, unnest(" + _TOKS_DUCK + ") t FROM documents), "
        f"hh AS (SELECT doc_id, {h} h FROM tk), "
        "bits AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) s "
        "FROM hh, range(32) r(j) GROUP BY doc_id, j) "
        "SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT simhash "
        "FROM bits GROUP BY doc_id")




def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (cos ≥ 0.45, double precision,
    index-ordered dot product so both engines sum in the same order)."""
    # Two fixes to the (by-design quadratic) baseline's constant factor:
    # the stream side is hash-spread over the parallelism (the source
    # parquet is one split, which serialized ALL pairs onto one task),
    # and each vector's norm is folded once in the pre-join projection
    # instead of twice per pair inside _cos6 — bit-identical fold,
    # materialized by the exchange/broadcast.
    norm = F.expr("sqrt(aggregate(embedding, cast(0.0 as double), "
                  "(acc, v) -> acc + cast(v as double) * cast(v as double)))")
    e = (_emb(spark, sf_dir).select("vec_id", "embedding")
         .withColumn("nrm", norm))
    a = (e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
                  F.col("nrm").alias("na"))
         .repartition(spark.sparkContext.defaultParallelism, "va"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
                 F.col("nrm").alias("nb"))
    pairs = a.join(b, F.col("va") < F.col("vb"))
    dot = F.expr("aggregate(zip_with(ea, eb, (x, y) -> "
                 "cast(x as double) * cast(y as double)), "
                 "cast(0.0 as double), (acc, v) -> acc + v)")
    return (pairs.withColumn("cos", F.round(dot / (F.col("na") * F.col("nb")), 6))
            .where(F.col("cos") >= 0.45)
            .select(F.col("va").alias("vec_a"), F.col("vb").alias("vec_b"), "cos"))


_DOT_DUCK = ("list_sum(list_transform(range(1, len(a.embedding) + 1), "
             "i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))")
_NORM_DUCK = ("sqrt(list_sum(list_transform({v}.embedding, "
              "x -> x::DOUBLE * x::DOUBLE)))")


def sql_dedup_embedding(sf_dir):
    return (
        "SELECT a.vec_id vec_a, b.vec_id vec_b, "
        f"round({_DOT_DUCK} / ({_NORM_DUCK.format(v='a')} * {_NORM_DUCK.format(v='b')}), 6) cos "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        f"WHERE round({_DOT_DUCK} / ({_NORM_DUCK.format(v='a')} * {_NORM_DUCK.format(v='b')}), 6) >= 0.45")


# --- signed-random-projection LSH (the scale path for dedup_embedding):
# 8 bands x 4 hyperplanes; hyperplane signs are md5-derived job constants
# embedded as literals in BOTH engines, and the projection is computed on
# integer-quantized components (round(x*1000) as bigint) so the bucket
# assignment is bit-identical across engines regardless of float summation
# order. Candidates = pairs sharing any band; verify = exact cosine >= 0.45.
# 8 bands x 4 bits: P(candidate) ≈ 1-(1-(1-θ/π)^4)^8 ≈ 0.8 at cos 0.45,
# >0.99 for true near-dups — recall stays high while the join key space
# (16 buckets/band) still spreads uniformly at scale.
_SRP_BANDS, _SRP_BITS, _SRP_DIM = 8, 4, 64


def _srp_signs(p):
    import hashlib
    return [1 if int(hashlib.md5(f"srp:{p}:{d}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1 for d in range(_SRP_DIM)]


def _srp_band_expr_spark(bnd):
    terms = []
    for k in range(_SRP_BITS):
        signs = ", ".join(str(s) for s in _srp_signs(bnd * _SRP_BITS + k))
        dot = (f"aggregate(zip_with(embedding, array({signs}), "
               "(x, y) -> cast(round(cast(x as double) * 1000) as bigint) * y), "
               "cast(0 as bigint), (a, v) -> a + v)")
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << k} ELSE 0 END)")
    return " + ".join(terms)


def _srp_band_expr_duck(bnd):
    terms = []
    for k in range(_SRP_BITS):
        signs = ", ".join(str(s) for s in _srp_signs(bnd * _SRP_BITS + k))
        dot = (f"list_sum(list_transform(range(1, len(embedding) + 1), "
               f"i -> round(embedding[i]::DOUBLE * 1000)::BIGINT * ([{signs}])[i]))")
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << k} ELSE 0 END)")
    return " + ".join(terms)


def q_dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup via SRP-LSH banding: only bucket-co-located
    pairs are cosine-verified — the O(n) shuffle-on-signature plan that
    replaces dedup_embedding's all-pairs baseline at 100 TB. (Approximate
    by design: recall is governed by the band structure; both engines
    compute the identical candidate set.) Band width is a function of
    corpus size — bits ≈ log2(n / target_bucket_size) — so a production
    run at 10^9 vectors would use ~20-24 bits/band; 4 bits is sized to the
    fixture's 500 vectors (~31/bucket)."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    # persisted: the band self-join would otherwise evaluate all 32
    # quantized hyperplane dot products on BOTH sides (the minhash twin
    # persists its signature table for the same reason)
    sig = e.select("vec_id", *[
        F.expr(_srp_band_expr_spark(bnd)).alias(f"bh{bnd}")
        for bnd in range(_SRP_BANDS)]).persist()
    _register_persisted(sig)
    bands = sig.select("vec_id", F.explode(F.array(*[
        F.struct(F.lit(bnd).alias("band_idx"),
                 F.col(f"bh{bnd}").cast("long").alias("band_hash"))
        for bnd in range(_SRP_BANDS)])).alias("b")) \
        .select("vec_id", "b.band_idx", "b.band_hash")
    cand = (bands.alias("x").join(
                bands.alias("y"),
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_hash") == F.col("y.band_hash"))
                & (F.col("x.vec_id") < F.col("y.vec_id")))
            .select(F.col("x.vec_id").alias("vec_a"),
                    F.col("y.vec_id").alias("vec_b")).distinct())
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (cand.join(ea, "vec_a").join(eb, "vec_b")
            .withColumn("cos", _cos6("ea", "eb"))
            .where(F.col("cos") >= 0.45)
            .select("vec_a", "vec_b", "cos"))


def sql_dedup_embedding_lsh(sf_dir):
    band_sel = " UNION ALL ".join(
        f"SELECT vec_id, {bnd} band_idx, ({_srp_band_expr_duck(bnd)}) band_hash "
        "FROM embeddings" for bnd in range(_SRP_BANDS))
    return (
        f"WITH bands AS ({band_sel}), "
        "cand AS (SELECT DISTINCT x.vec_id vec_a, y.vec_id vec_b "
        "FROM bands x JOIN bands y ON x.band_idx = y.band_idx "
        "AND x.band_hash = y.band_hash AND x.vec_id < y.vec_id) "
        "SELECT vec_a, vec_b, "
        f"round({_DOT_DUCK} / ({_NORM_DUCK.format(v='a')} * {_NORM_DUCK.format(v='b')}), 6) cos "
        "FROM cand JOIN embeddings a ON a.vec_id = vec_a "
        "JOIN embeddings b ON b.vec_id = vec_b "
        f"WHERE round({_DOT_DUCK} / ({_NORM_DUCK.format(v='a')} * {_NORM_DUCK.format(v='b')}), 6) >= 0.45")


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space first, then search for near-duplicates
    ONLY within each cluster — the published trick that turns
    dedup_embedding's O(n^2) all-pairs product into per-cluster products
    bounded by cluster size. At 100 TB: K grows with the corpus so
    clusters stay ~constant-sized, and the pair join is ONE
    hash-partitioned shuffle keyed on the cluster id (plan-asserted in
    tests). Clustering reuses ann_ivf's seed-centroid assignment
    (centroids = vec_id < 8, rounded-cosine argmax, centroid-id
    tie-break, self-pairs excluded — identical quirk set in both
    engines). Keep rule: a vector is DROPPED iff a lower-id vector in
    the SAME cluster has cosine >= dedup_embedding's 0.45 threshold —
    deterministic and order-free. The within-cluster restriction is the
    documented recall trade (the companion test measures recall vs the
    exact all-pairs pass). Skew note: one pathological giant cluster
    re-introduces the quadratic blow-up; production splits clusters
    above a size cap by re-seeding (the sub-cluster step SemDeDup also
    prescribes)."""
    pairs = _cosine_pairs(spark, sf_dir, F.col("vec_id") < 8) \
        .select(F.col("cid").alias("vec_id"), F.col("qid").alias("centroid"),
                "cos")
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("centroid"))
    assign = (pairs.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") == 1).select("vec_id", "centroid"))
    # norm precomputed per VECTOR, not per pair: _cos6 inline would
    # re-fold both norms for every within-cluster pair (the dominant
    # interpreted-lambda cost, ~2/3 of the pair work); computing it in
    # the pre-shuffle projection is bit-identical — same fold, same
    # input — and the exchange materializes it into the pair stream.
    # The tiny assigned frame is persisted: three consumers (both join
    # sides + the final report) otherwise re-run the centroid
    # assignment window each.
    norm = F.expr("sqrt(aggregate(embedding, cast(0.0 as double), "
                  "(acc, v) -> acc + cast(v as double) * cast(v as double)))")
    e = (_emb(spark, sf_dir).select("vec_id", "embedding")
         .join(assign, "vec_id")
         .withColumn("nrm", norm)
         .persist())
    _register_persisted(e)
    a = e.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"),
                 F.col("centroid").alias("ca"), F.col("nrm").alias("na"))
    b = e.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"),
                 F.col("centroid").alias("cb"), F.col("nrm").alias("nb"))
    dot = F.expr("aggregate(zip_with(ea, eb, (x, y) -> "
                 "cast(x as double) * cast(y as double)), "
                 "cast(0.0 as double), (acc, v) -> acc + v)")
    dup = (a.join(b, (F.col("ca") == F.col("cb")) & (F.col("va") < F.col("vb")))
           .where(F.round(dot / (F.col("na") * F.col("nb")), 6) >= 0.45)
           .select(F.col("vb").alias("vec_id")).distinct()
           .withColumn("dropped", F.lit(True)))
    return (e.select("vec_id", "centroid").join(dup, "vec_id", "left")
            .select("vec_id", "centroid",
                    F.coalesce("dropped", F.lit(False)).alias("dropped")))


def sql_dedup_semantic(sf_dir):
    cos_ab = (f"round({_DOT_DUCK} / ({_NORM_DUCK.format(v='a')} "
              f"* {_NORM_DUCK.format(v='b')}), 6)")
    return (
        "WITH ap AS (SELECT c.vec_id vec_id, q.vec_id centroid, "
        + _COS_DUCK + " cos "
        "FROM embeddings q JOIN embeddings c "
        "ON q.vec_id < 8 AND q.vec_id != c.vec_id), "
        "ar AS (SELECT vec_id, centroid, row_number() OVER "
        "(PARTITION BY vec_id ORDER BY cos DESC, centroid ASC) rn FROM ap), "
        "assign AS (SELECT vec_id, centroid FROM ar WHERE rn = 1), "
        "dup AS (SELECT DISTINCT ab.vec_id FROM assign aa "
        "JOIN assign ab ON aa.centroid = ab.centroid "
        "AND aa.vec_id < ab.vec_id "
        "JOIN embeddings a ON a.vec_id = aa.vec_id "
        "JOIN embeddings b ON b.vec_id = ab.vec_id "
        f"WHERE {cos_ab} >= 0.45) "
        "SELECT s.vec_id, s.centroid, (d.vec_id IS NOT NULL) dropped "
        "FROM assign s LEFT JOIN dup d ON d.vec_id = s.vec_id")


