"""Pipeline-composition family: dedup materialization/scrub,
exact substring dedup, sampling/mixing/packing, contamination, SCD2,
CDC snapshot merge, quantiles/histograms/outliers/skew, Z-order."""
from __future__ import annotations

from pdftext_spark.registry._shared import (  # noqa: F401
    F,
    Window,
    _H_SQL,
    _STOPWORDS,
    _TOKS_DUCK,
    _TOKS_SPARK,
    _docs,
    _h,
    _register_persisted,
    _sw_list,
    os,
)
from pdftext_spark.registry.dedup import (  # noqa: F401
    _BAND,
    _HSHINGLE_CTE,
    _M31,
    _N_PERM,
    _mh_coef,
    minhash_bands,
    minhash_signature,
    q_dedup_clusters,
    sql_dedup_clusters,
)
from pdftext_spark.registry.textqual import (  # noqa: F401
    q_text_perplexity,
)
from pdftext_spark.registry.relational import (  # noqa: F401
    _with_us,
)

# --------------------------------------------------------------------------
# pipeline-composition queries (dedup materialization, sampling,
# heavy hitters, benchmark contamination)
# --------------------------------------------------------------------------

def q_dedup_apply(spark, sf_dir):
    """END-TO-END dedup materialization: the corpus with non-keeper
    near-dup cluster members removed — the keep/drop decision the cluster
    query produces, actually applied. The drop list is O(near-dups), so
    it broadcasts; the corpus takes one anti-join scan, no shuffle of the
    heavy text column."""
    drop = (q_dedup_clusters(spark, sf_dir)
            .where(~F.col("is_keeper")).select("doc_id"))
    return (_docs(spark, sf_dir)
            .join(F.broadcast(drop), "doc_id", "left_anti")
            .select("doc_id", "n_chars"))


def sql_dedup_apply(sf_dir):
    return ("SELECT doc_id, n_chars FROM documents WHERE doc_id NOT IN ("
            "SELECT doc_id FROM (" + sql_dedup_clusters(sf_dir) + ") c "
            "WHERE NOT is_keeper)")


_PASSAGE_N = 8  # tokens per passage window


def q_dedup_passages(spark, sf_dir):
    """Repeated-passage detection (the passage-level complement to
    document-level dedup, after Lee et al. 2022's substring dedup):
    8-token windows occurring in MORE THAN ONE document, with how many
    docs and total occurrences. Passages are hashed per doc row-wise
    (md5, carried as the hash — the literal text never leaves the row);
    occurrence counts ride the explode, doc counts a per-doc distinct
    inside the row, so the single shuffle carries pre-aggregated
    (passage, counts) rows and the aggregate is sized by the repeated
    vocabulary, not the corpus. At 100 TB the >1-doc filter makes the
    output the (small) boilerplate table a scrub pass would broadcast
    right back — the exact suffix-array structure in the paper is the
    single-machine tool; this windowed-hash form is its shuffle-friendly
    corpus-scale approximation."""
    w = _PASSAGE_N
    d = (_docs(spark, sf_dir)
         .withColumn("toks", F.expr(_TOKS_SPARK))
         .where(F.expr(f"size(toks) >= {w}"))
         .withColumn("ph", F.expr(
             f"transform(sequence(1, size(toks)-{w-1}), i -> "
             f"md5(concat_ws(' ', slice(toks, i, {w}))))")))
    e = d.select("doc_id", F.explode("ph").alias("passage_md5"))
    agg = e.groupBy("passage_md5").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_occurrences"),
    )
    return agg.where(F.col("n_docs") >= 2)


def sql_dedup_passages(sf_dir):
    w = _PASSAGE_N
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        f"p AS (SELECT doc_id, unnest(list_transform("
        f"range(1, len(toks)-{w-2}), i -> "
        f"md5(array_to_string(list_slice(toks, i, i+{w-1}), ' ')))) passage_md5 "
        f"FROM t WHERE len(toks) >= {w}) "
        "SELECT passage_md5, count(DISTINCT doc_id) n_docs, "
        "count(*) n_occurrences FROM p GROUP BY passage_md5 "
        "HAVING count(DISTINCT doc_id) >= 2")


def _scrub_apply(d_all: "DataFrame", cov: "DataFrame") -> "DataFrame":
    """Shared mask-apply tail of the scrub family: given the corpus
    (doc_id, toks) and one int-array coverage mask per dirty doc,
    remove covered tokens and re-join — one doc_id-keyed join, the
    filter/rejoin in the expression tree. Used by dedup_scrub (md5
    windowed-hash coverage) and dedup_substr_scrub (exact coverage)."""
    kept = F.expr(
        "filter(transform(toks, (t, i) -> struct(t AS t, i + 1 AS j)), "
        "s -> NOT array_contains(cov, s.j))")
    return (d_all.join(cov, "doc_id", "left")
            .withColumn("cov", F.coalesce(
                F.col("cov"), F.expr("CAST(array() AS array<int>)")))
            .withColumn("kept", kept)
            .select("doc_id",
                    F.size("toks").cast("long").alias("n_tokens"),
                    F.size("kept").cast("long").alias("n_tokens_kept"),
                    F.expr("concat_ws(' ', transform(kept, s -> s.t))")
                    .alias("text_scrubbed")))


# SQL twin of _scrub_apply: expects CTEs `t` (doc_id, toks) and `cov`
# (doc_id, j) to be defined by the caller's prefix
_SQL_SCRUB_TAIL = (
    "tok AS (SELECT doc_id, j, toks[j] tok "
    "FROM t, unnest(range(1, len(toks)+1)) u(j)), "
    "kept AS (SELECT tok.doc_id, tok.j, tok.tok FROM tok "
    "LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.j = cov.j "
    "WHERE cov.j IS NULL), "
    "k AS (SELECT doc_id, count(*) n_kept, "
    "string_agg(tok, ' ' ORDER BY j) txt FROM kept GROUP BY doc_id) "
    "SELECT t.doc_id, len(t.toks)::BIGINT n_tokens, "
    "COALESCE(k.n_kept, 0)::BIGINT n_tokens_kept, "
    "COALESCE(k.txt, '') text_scrubbed "
    "FROM t LEFT JOIN k USING (doc_id)")


def q_dedup_scrub(spark, sf_dir):
    """Repeated-passage SCRUB materialization — dedup_passages' findings
    actually applied to the text (the removal step of Lee et al. 2022):
    every 8-token window repeated across >=2 docs keeps its occurrences
    only in the canonical owner (min doc_id); in every other doc the
    tokens covered by any such window are removed and the text is
    re-joined from the survivors. Shape: window hashes are computed
    row-wise exactly as in dedup_passages; the repeated-passage table
    (ph, owner) is the small boilerplate vocabulary and BROADCASTS back
    onto the hash stream; covered positions collapse to one int-array
    mask per dirty doc (O(dirty docs), token positions never shuffle
    per-token); the corpus then meets its masks in a single doc_id-keyed
    join and the filter/rejoin runs in the expression tree. At 100 TB
    the corpus takes exactly one shuffle (that join) and everything
    upstream of it is sized by the repeated vocabulary, not the corpus."""
    w = _PASSAGE_N
    d = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
    ph = (d.where(F.expr(f"size(toks) >= {w}"))
          .withColumn("pp", F.explode(F.expr(
              f"transform(sequence(1, size(toks)-{w-1}), i -> "
              f"struct(i AS pos, md5(concat_ws(' ', slice(toks, i, {w}))) "
              f"AS ph))")))
          .select("doc_id", "pp.pos", "pp.ph"))
    rep = (ph.groupBy("ph")
           .agg(F.countDistinct("doc_id").alias("n_docs"),
                F.min("doc_id").alias("owner"))
           .where(F.col("n_docs") >= 2)
           .select("ph", "owner"))
    cov = (ph.join(F.broadcast(rep), "ph")
           .where(F.col("doc_id") != F.col("owner"))
           .select("doc_id",
                   F.explode(F.expr(f"sequence(pos, pos + {w - 1})"))
                   .alias("j"))
           .groupBy("doc_id").agg(F.collect_set("j").alias("cov")))
    return _scrub_apply(d, cov)


def sql_dedup_scrub(sf_dir):
    w = _PASSAGE_N
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        f"p AS (SELECT doc_id, i, md5(array_to_string("
        f"list_slice(toks, i, i+{w-1}), ' ')) ph "
        f"FROM t, unnest(range(1, len(toks)-{w-2})) u(i)), "
        "rep AS (SELECT ph, min(doc_id) owner_id FROM p GROUP BY ph "
        "HAVING count(DISTINCT doc_id) >= 2), "
        f"cov AS (SELECT DISTINCT p.doc_id, u.j "
        f"FROM p JOIN rep USING (ph), unnest(range(p.i, p.i+{w})) u(j) "
        "WHERE p.doc_id <> rep.owner_id), "
        + _SQL_SCRUB_TAIL)


def _substr_ver(spark, sf_dir, w):
    """Shared candidate pipeline for the exact substring family:
    (all docs with toks, window-bearing docs, exact-verified candidate
    (doc_id, pos, win) stream). The only corpus-wide shuffle carries
    8-byte window hashes; candidates re-derive the TRUE window text, so
    hash collisions prune badly but never fabricate duplicates."""
    d_all = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
    d = d_all.where(F.expr(f"size(toks) >= {w}"))
    wins = (d.withColumn("pw", F.explode(F.expr(
                f"transform(sequence(1, size(toks)-{w-1}), i -> "
                f"struct(i AS pos, xxhash64(concat_ws(' ', "
                f"slice(toks, i, {w}))) AS h))")))
            .select("doc_id", "pw.pos", "pw.h"))
    cand_h = (wins.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
              .where("n >= 2").select("h"))
    cand = wins.join(F.broadcast(cand_h), "h").select("doc_id", "pos")
    # pre-aggregate candidate positions to ONE row per dirty doc before
    # meeting the corpus: the verify join then carries #dirty-docs rows
    # (broadcastable under AQE at boilerplate densities) instead of one
    # row per candidate position, and the heavy toks column joins once
    cand_doc = cand.groupBy("doc_id").agg(F.collect_list("pos").alias("poss"))
    ver = (d.select("doc_id", "toks").join(cand_doc, "doc_id")
           .select("doc_id", "toks", F.explode("poss").alias("pos"))
           .withColumn("win",
                       F.expr(f"concat_ws(' ', slice(toks, pos, {w}))"))
           .select("doc_id", "pos", "win"))
    return d_all, d, ver


def q_dedup_substr_exact(spark, sf_dir):
    """EXACT substring dedup, corpus-level (Lee et al. 2022 semantics:
    every maximal token interval all of whose 8-token windows occur MORE
    THAN ONCE in the corpus — same doc or not; the cross-doc-only
    windowed-hash form stays dedup_passages). Output: merged (doc_id,
    start_tok, end_tok, n_windows) intervals, 1-based inclusive.

    The distributed exact shape (operators/substring.py holds the
    per-partition suffix-array twin): (1) the ONLY corpus-wide shuffle
    carries (doc_id, pos, xxhash64(window)) — 8-byte hashes, never the
    ~8x-blowup window text; (2) repeated-hash groups are a
    boilerplate-sized set that BROADCASTS back onto the position stream;
    (3) candidates re-derive the TRUE window text via one doc_id join
    against the corpus and re-group on the text itself, so a hash
    collision can only waste a candidate, never fabricate a duplicate —
    the final answer is exact; (4) surviving positions merge to maximal
    intervals with a per-doc ordered window (islands break at gap > w).
    At 100 TB stages 2-4 are sized by duplicate density, not the corpus."""
    w = _PASSAGE_N
    _d_all, d, ver = _substr_ver(spark, sf_dir, w)
    rep = (ver.groupBy("win").agg(F.count(F.lit(1)).alias("n"))
           .where("n >= 2").select("win"))
    dup = ver.join(F.broadcast(rep), "win").select("doc_id", "pos")
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    isl = (dup.withColumn(
               "br", F.when(F.col("pos") > F.lag("pos").over(wnd) + w, 1)
                      .otherwise(0))
           .withColumn("island", F.sum("br").over(wnd)))
    return (isl.groupBy("doc_id", "island")
            .agg(F.min("pos").cast("long").alias("start_tok"),
                 (F.max("pos") + w - 1).cast("long").alias("end_tok"),
                 F.count(F.lit(1)).cast("long").alias("n_windows"))
            .select("doc_id", "start_tok", "end_tok", "n_windows"))


def sql_dedup_substr_exact(sf_dir):
    w = _PASSAGE_N
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        f"p AS (SELECT doc_id, i pos, array_to_string("
        f"list_slice(toks, i, i+{w-1}), ' ') win "
        f"FROM t, unnest(range(1, len(toks)-{w-2})) u(i) "
        f"WHERE len(toks) >= {w}), "
        "rep AS (SELECT win FROM p GROUP BY win HAVING count(*) >= 2), "
        "d AS (SELECT p.doc_id, p.pos FROM p JOIN rep USING (win)), "
        "isl AS (SELECT doc_id, pos, CASE WHEN pos > lag(pos) OVER "
        f"(PARTITION BY doc_id ORDER BY pos) + {w} THEN 1 ELSE 0 END br "
        "FROM d), "
        "g AS (SELECT doc_id, pos, sum(br) OVER (PARTITION BY doc_id "
        "ORDER BY pos) island FROM isl) "
        f"SELECT doc_id, min(pos)::BIGINT start_tok, "
        f"(max(pos)+{w - 1})::BIGINT end_tok, count(*)::BIGINT n_windows "
        "FROM g GROUP BY doc_id, island")


def q_dedup_substr_scrub(spark, sf_dir):
    """EXACT substring scrub materialization — dedup_substr_exact's
    findings applied the way Lee et al. 2022 apply them: for every
    8-token window occurring MORE THAN ONCE in the corpus, the globally
    first occurrence (min (doc_id, pos)) survives; the tokens covered by
    every other occurrence are removed and the text re-joined. (A
    surviving occurrence's tokens can still fall to a DIFFERENT window's
    non-owner occurrence overlapping it — greedy per-window ownership,
    deterministic.) Output mirrors dedup_scrub: (doc_id, n_tokens,
    n_tokens_kept, text_scrubbed) over the whole corpus.

    Scale shape: the candidate stream is the hash-pruned exact-verified
    (doc_id, pos, win) table (duplicate-density sized); ownership is one
    row_number window over it (partitioned by the window text — a hot
    boilerplate window has many rows, but they pre-aggregate to one
    int-array mask per dirty doc before touching the corpus); the corpus
    then meets its masks in a single doc_id-keyed join, exactly the
    dedup_scrub plan with exactness instead of md5-trust."""
    w = _PASSAGE_N
    d_all, _d, ver = _substr_ver(spark, sf_dir, w)
    wv = Window.partitionBy("win").orderBy("doc_id", "pos")
    nonown = (ver.withColumn("rn", F.row_number().over(wv))
              .where(F.col("rn") >= 2))
    cov = (nonown.select(
               "doc_id",
               F.explode(F.expr(f"sequence(pos, pos + {w - 1})")).alias("j"))
           .groupBy("doc_id").agg(F.collect_set("j").alias("cov")))
    return _scrub_apply(d_all, cov)


def sql_dedup_substr_scrub(sf_dir):
    w = _PASSAGE_N
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        f"p AS (SELECT doc_id, i pos, array_to_string("
        f"list_slice(toks, i, i+{w-1}), ' ') win "
        f"FROM t, unnest(range(1, len(toks)-{w-2})) u(i) "
        f"WHERE len(toks) >= {w}), "
        "r AS (SELECT doc_id, pos, row_number() OVER (PARTITION BY win "
        "ORDER BY doc_id, pos) rn FROM p), "
        f"cov AS (SELECT DISTINCT r.doc_id, u.j "
        f"FROM r, unnest(range(pos, pos+{w})) u(j) WHERE rn >= 2), "
        + _SQL_SCRUB_TAIL)


def q_sample_hash(spark, sf_dir):
    """Deterministic 20% corpus sample: md5(doc_id) mod 100 < 20. The
    idiomatic reproducible sample for a 10^12-row corpus — pure scan +
    filter (predicate pushes to the source), no RNG state, stable across
    reruns/engines, and stratification-friendly (the hash is uniform
    within every lang/source slice)."""
    return (_docs(spark, sf_dir)
            .where((_h(F.col("doc_id").cast("string")) % 100) < 20)
            .select("doc_id", "lang", "source"))


def sql_sample_hash(sf_dir):
    h = _H_SQL.format(c="doc_id::VARCHAR")
    return f"SELECT doc_id, lang, source FROM documents WHERE {h} % 100 < 20"


# Per-language sampling rates (percent): the language-balancing move
# every multilingual pretraining mix makes — downsample the dominant
# language, keep the tails. Rates live in the expression tree (a literal
# CASE — the same driver-resident-side-input pattern as the blocklist
# and k-means centroids).
_STRATA_RATES = {"en": 25, "de": 60, "fr": 60, "es": 60, "zh": 100}


def q_sample_stratified(spark, sf_dir):
    """Stratified deterministic sampling: per-language rates applied via
    the same md5-mod filter as sample_hash — reproducible, RNG-free, and
    a pure scan (zero shuffle, plan-asserted): the rate lookup is a
    literal CASE on the lang column and the hash predicate pushes into
    the scan pipeline. Within every stratum the hash is uniform, so
    realized rates converge to the targets at corpus scale."""
    cases = " ".join(f"WHEN '{lang}' THEN {r}"
                     for lang, r in sorted(_STRATA_RATES.items()))
    rate = F.expr(f"CASE lang {cases} ELSE 0 END")
    return (_docs(spark, sf_dir)
            .where((_h(F.col("doc_id").cast("string")) % 100) < rate)
            .select("doc_id", "lang", "source"))


def sql_sample_stratified(sf_dir):
    cases = " ".join(f"WHEN '{lang}' THEN {r}"
                     for lang, r in sorted(_STRATA_RATES.items()))
    h = _H_SQL.format(c="doc_id::VARCHAR")
    return (f"SELECT doc_id, lang, source FROM documents "
            f"WHERE {h} % 100 < CASE lang {cases} ELSE 0 END")


# Corpus mixing: target mix 'web':'curated' = 3:7 by character volume.
# Two groups keep the binding-group choice an exact integer
# cross-comparison (no float ratios anywhere in either engine).
_MIX_WEB = tuple(f"src{i}" for i in range(10))
_MIX_W_WEB, _MIX_W_CUR = 3, 7
_MIX_DENOM = 10_000


def _mix_thresholds(cw: int, cc: int):
    """Exact per-group acceptance thresholds (out of _MIX_DENOM) that
    downsample toward the 3:7 target without upsampling anything: the
    binding group (smallest chars/weight ratio among non-empty groups)
    keeps rate 1, the other gets w_g*chars_b*DENOM // (w_b*chars_g).
    Pure int arithmetic, mirrored branch-for-branch in the SQL oracle."""
    ww, wc, D = _MIX_W_WEB, _MIX_W_CUR, _MIX_DENOM
    tw = (0 if cw == 0 else
          D if cc == 0 or cw * wc < cc * ww else
          min(D, (ww * cc * D) // (wc * cw)))
    tc = (0 if cc == 0 else
          min(D, (wc * cw * D) // (ww * cc)) if cw > 0 and cw * wc < cc * ww
          else D)
    return tw, tc


def q_sample_mix(spark, sf_dir):
    """Corpus mixing to a target source composition (the pretraining
    data-mixture step): hit a 3:7 web:curated split by character volume
    by downsampling the over-represented group, never upsampling. Two
    jobs: (1) a tiny conditional aggregate — two longs — fixes the exact
    acceptance thresholds driver-side (the k-means-centroid
    side-input pattern: the corpus itself sizes the rates, the rates
    ride the expression tree as literals); (2) the corpus passes ONE
    scan+filter with the same md5-mod predicate as sample_hash — zero
    shuffle, pushdown-friendly, reproducible across reruns and engines.
    All threshold arithmetic is exact int64 (no float ratios), so the
    DuckDB oracle reproduces it branch-for-branch; at 100 TB the count
    job reads only (source, n_chars) — column-pruned to a few GB."""
    docs = _docs(spark, sf_dir)
    web = ", ".join(f"'{s}'" for s in _MIX_WEB)
    grp = F.expr(f"CASE WHEN source IN ({web}) THEN 'web' "
                 f"ELSE 'curated' END")
    d = docs.withColumn("grp", grp)
    row = d.agg(
        F.coalesce(F.sum(F.when(F.col("grp") == "web", F.col("n_chars"))),
                   F.lit(0)).cast("long").alias("cw"),
        F.coalesce(F.sum(F.when(F.col("grp") == "curated",
                                F.col("n_chars"))),
                   F.lit(0)).cast("long").alias("cc")).collect()[0]
    tw, tc = _mix_thresholds(row["cw"], row["cc"])
    thr = F.when(F.col("grp") == "web", F.lit(tw)).otherwise(F.lit(tc))
    return (d.where((_h(F.col("doc_id").cast("string")) % _MIX_DENOM) < thr)
            .select("doc_id", "source", "grp", "n_chars"))


def sql_sample_mix(sf_dir):
    web = ", ".join(f"'{s}'" for s in _MIX_WEB)
    h = _H_SQL.format(c="doc_id::VARCHAR")
    ww, wc, D = _MIX_W_WEB, _MIX_W_CUR, _MIX_DENOM
    return (
        f"WITH d AS (SELECT doc_id, source, n_chars, "
        f"CASE WHEN source IN ({web}) THEN 'web' ELSE 'curated' END grp "
        "FROM documents), "
        "c AS (SELECT "
        "COALESCE(sum(CASE WHEN grp='web' THEN n_chars END),0)::BIGINT cw, "
        "COALESCE(sum(CASE WHEN grp='curated' THEN n_chars END),0)::BIGINT cc "
        "FROM d), "
        "t AS (SELECT "
        f"CASE WHEN cw=0 THEN 0 WHEN cc=0 OR cw*{wc} < cc*{ww} THEN {D} "
        f"ELSE LEAST({D}, ({ww}*cc*{D})//({wc}*cw)) END tw, "
        f"CASE WHEN cc=0 THEN 0 WHEN cw>0 AND cw*{wc} < cc*{ww} "
        f"THEN LEAST({D}, ({wc}*cw*{D})//({ww}*cc)) ELSE {D} END tc "
        "FROM c) "
        "SELECT d.doc_id, d.source, d.grp, d.n_chars FROM d, t "
        f"WHERE {h} % {D} < CASE d.grp WHEN 'web' THEN t.tw ELSE t.tc END")


_PACK_BUDGET = 2048  # tokens per packed training sequence


_PACK_SHARDS = 8  # packing parallelism per source; corpus/K bounds any task


def q_text_pack(spark, sf_dir):
    """Deterministic sequence packing: docs are laid out per
    (source, shard) in doc_id order and cut into ~2048-token bins by
    running token count — the sample-packing step that turns a curated
    corpus into fixed-budget training sequences. shard = md5(doc_id) % K
    salts the window so NO source ever serializes onto one task: each of
    the K shards packs independently and deterministically, bounding any
    partition at corpus/K (at 100 TB, raise K to executor-count scale —
    packing quality is unaffected because training sequences only need
    each BIN full, not a globally contiguous layout). One shuffle on
    (source, shard) + an ordered window cumsum; bin_idx =
    tokens-before-this-doc / budget, so a doc starts a new bin exactly
    when the previous docs in its shard filled it. The md5-derived shard
    is reproduced verbatim in the DuckDB oracle, so the full value hash
    still gates the output."""
    return _pack_frame(_docs(spark, sf_dir))


def _pack_frame(docs):
    d = (docs
         .withColumn("n_tokens", F.expr(f"size({_TOKS_SPARK})").cast("long"))
         .withColumn("shard",
                     (_h(F.col("doc_id").cast("string"))
                      % _PACK_SHARDS).cast("long")))
    w = (Window.partitionBy("source", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # `div`, not `/`: Spark's `/` yields double and casting truncates,
    # while DuckDB's CAST(double AS BIGINT) rounds — explicit integer
    # division on both engines sidesteps the divergence entirely
    return (d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .select(
                "doc_id", "source", "shard", "n_tokens",
                F.expr(f"(cum_tokens - n_tokens) div {_PACK_BUDGET}")
                .cast("long").alias("bin_idx"),
                "cum_tokens"))


def sql_text_pack(sf_dir, source_sql: str = "documents"):
    b = _PACK_BUDGET
    h = _H_SQL.format(c="doc_id::VARCHAR")
    return (
        "WITH t AS (SELECT doc_id, source, "
        "len(" + _TOKS_DUCK + ")::BIGINT n_tokens, "
        f"({h} % {_PACK_SHARDS})::BIGINT shard FROM {source_sql}), "
        "c AS (SELECT doc_id, source, shard, n_tokens, "
        "sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id "
        "ROWS UNBOUNDED PRECEDING)::BIGINT cum_tokens FROM t) "
        f"SELECT doc_id, source, shard, n_tokens, "
        f"((cum_tokens - n_tokens) // {b})::BIGINT bin_idx, cum_tokens FROM c")


def q_text_pack_split(spark, sf_dir):
    """Sequence packing with SPLITTING — the form trainers actually
    consume: a document whose tokens straddle a bin boundary is cut into
    per-bin segments (doc_id, bin_idx, tok_start, tok_end), so every bin
    holds exactly _PACK_BUDGET tokens (except each shard's last). Same
    deterministic (source, shard) layout as text_pack; the segment
    explode multiplies rows by ~(1 + n_tokens/budget) but moves nothing
    — it runs inside the windowed partition. All integer arithmetic,
    exactly mirrored in the oracle."""
    b = _PACK_BUDGET
    d = (_docs(spark, sf_dir)
         .withColumn("n_tokens", F.expr(f"size({_TOKS_SPARK})").cast("long"))
         .where(F.col("n_tokens") > 0)
         .withColumn("shard",
                     (_h(F.col("doc_id").cast("string"))
                      % _PACK_SHARDS).cast("long")))
    w = (Window.partitionBy("source", "shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (d.withColumn("cum", F.sum("n_tokens").over(w))
         .withColumn("toff", F.expr("cum - n_tokens")))
    return (c.select(
        "doc_id", "source", "shard", "n_tokens", "toff",
        F.explode(F.expr(f"sequence(toff div {b}, (cum - 1) div {b})"))
        .alias("bin_idx"))
        .select(
            "doc_id", "source", "shard", "bin_idx",
            F.expr(f"greatest(bin_idx * {b} - toff, 0L)").cast("long")
            .alias("tok_start"),
            F.expr(f"least((bin_idx + 1) * {b} - toff, n_tokens)")
            .cast("long").alias("tok_end")))


def sql_text_pack_split(sf_dir):
    b = _PACK_BUDGET
    h = _H_SQL.format(c="doc_id::VARCHAR")
    return (
        "WITH t AS (SELECT doc_id, source, "
        "len(" + _TOKS_DUCK + ")::BIGINT n_tokens, "
        f"({h} % {_PACK_SHARDS})::BIGINT shard FROM documents), "
        "t2 AS (SELECT * FROM t WHERE n_tokens > 0), "
        "c AS (SELECT doc_id, source, shard, n_tokens, "
        # 'toff' not 'off': OFF is a DuckDB keyword
        "(sum(n_tokens) OVER (PARTITION BY source, shard ORDER BY doc_id "
        "ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT toff FROM t2), "
        f"s AS (SELECT *, unnest(range(toff // {b}, "
        f"(toff + n_tokens - 1) // {b} + 1)) bin_idx FROM c) "
        f"SELECT doc_id, source, shard, bin_idx::BIGINT bin_idx, "
        f"greatest(bin_idx * {b} - toff, 0)::BIGINT tok_start, "
        f"least((bin_idx + 1) * {b} - toff, n_tokens)::BIGINT tok_end FROM s")


def q_source_stats(spark, sf_dir):
    """Per-source corpus mix report with EXACT percentiles: doc count,
    token totals, and the exact p50/p90 token counts — the source-mix
    table every corpus card publishes. Percentiles are computed by rank
    position (value at 1-based rank floor((n-1)*q)+1 under a total
    (n_tokens, doc_id) order), NOT by interpolation — approx_percentile
    and interpolating quantile functions differ across engines, rank
    selection is bit-exact on both. One shuffle partitioned by source
    (window + aggregation share it); source cardinality is tiny, so at
    100 TB the same plan runs after a two-phase salt if one source
    dominates — or simply over a 1% hash sample, since rank-selected
    percentiles degrade gracefully under uniform sampling."""
    d = (_docs(spark, sf_dir)
         .select("doc_id", "source",
                 F.expr(f"size({_TOKS_SPARK})").cast("long")
                 .alias("n_tokens")))
    # ONE source-keyed shuffle total: both window functions share the
    # partition key, and the groupBy reuses the window's partitioning
    # (Catalyst skips its exchange). The first cut joined the percentile
    # rows back per quantile — 5 corpus-sized shuffles and a triple
    # re-scan; rank selection inside the same frame needs neither.
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    wc = Window.partitionBy("source")
    r = (d.withColumn("rk", F.row_number().over(w))
         .withColumn("nd", F.count("*").over(wc)))
    sel = ("max(CASE WHEN rk = CAST(floor((nd - 1) * {q}) AS INT) + 1 "
           "THEN n_tokens END)")
    return r.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.expr(sel.format(q="0.5")).cast("long").alias("p50_tokens"),
        F.expr(sel.format(q="0.9")).cast("long").alias("p90_tokens"))


def sql_source_stats(sf_dir):
    sel = ("max(CASE WHEN rk = floor((nd - 1) * {q})::INT + 1 "
           "THEN n_tokens END)::BIGINT")
    return (
        "WITH d AS (SELECT doc_id, source, len(" + _TOKS_DUCK + ")::BIGINT "
        "n_tokens FROM documents), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY source "
        "ORDER BY n_tokens, doc_id) rk, "
        "count(*) OVER (PARTITION BY source) nd FROM d) "
        "SELECT source, count(*) n_docs, sum(n_tokens)::BIGINT total_tokens, "
        f"{sel.format(q='0.5')} p50_tokens, "
        f"{sel.format(q='0.9')} p90_tokens "
        "FROM r GROUP BY source")


def q_text_topterms(spark, sf_dir):
    """Top-20 terms by document frequency — the heavy-hitter profile a
    corpus audit starts with. Per-doc array_distinct happens inside the
    row (no global distinct shuffle); the explode feeds a map-side
    combining count; the top-k is TakeOrderedAndProject (per-partition
    partial top-k, never a full sort)."""
    d = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
    return (d.select(F.explode(F.array_distinct("toks")).alias("term"))
            .groupBy("term").agg(F.count("*").alias("doc_freq"))
            .orderBy(F.desc("doc_freq"), F.asc("term")).limit(20))


def sql_text_topterms(sf_dir):
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        "g AS (SELECT DISTINCT doc_id, unnest(toks) term FROM t) "
        "SELECT term, count(*) doc_freq FROM g GROUP BY term "
        "ORDER BY doc_freq DESC, term ASC LIMIT 20")


def _kgram_spark(k: int) -> str:
    return (f"CASE WHEN size(toks) < {k} THEN array() ELSE "
            f"transform(sequence(1, size(toks) - {k} + 1), "
            f"i -> concat_ws(' ', slice(toks, i, {k}))) END")


def _kgram_duck(k: int) -> str:
    return (f"CASE WHEN len(toks) < {k} THEN [] ELSE "
            f"list_transform(range(1, len(toks) - {k} + 2), "
            f"i -> array_to_string(toks[i:i+{k}-1], ' ')) END")


def q_contamination(spark, sf_dir):
    """Benchmark-contamination check: which corpus docs share a 4-gram
    with the benchmark set (here: doc_id < 10 stands in for an eval
    suite). The benchmark n-gram set is tiny by definition — broadcast
    it; the corpus is scanned once and only overlapping grams survive the
    join, so the aggregate is sized by contamination, not corpus."""
    d = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
    grams = d.select("doc_id",
                     F.explode(F.array_distinct(F.expr(_kgram_spark(4))))
                     .alias("g"))
    bench = (grams.where(F.col("doc_id") < 10)
             .select(F.col("g").alias("bg")).distinct())
    return (grams.where(F.col("doc_id") >= 10)
            .join(F.broadcast(bench), grams["g"] == F.col("bg"))
            .groupBy("doc_id").agg(F.count("*").alias("n_overlap")))


def sql_contamination(sf_dir):
    toks = _kgram_duck(4)
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        f"k AS (SELECT doc_id, {toks} grams FROM t), "
        "g AS (SELECT DISTINCT doc_id, unnest(grams) g FROM k), "
        "b AS (SELECT DISTINCT g FROM g WHERE doc_id < 10) "
        "SELECT doc_id, count(*) n_overlap FROM g JOIN b USING (g) "
        "WHERE doc_id >= 10 GROUP BY doc_id")


def q_contamination_lsh(spark, sf_dir):
    """Contamination at SCALE: the exact-gram check above broadcasts the
    benchmark's gram set, which stops fitting when the eval suite is
    itself large (full benchmark collections run to billions of grams).
    This is the LSH path: corpus and benchmark docs get MinHash-LSH
    bands (the dedup machinery, reused verbatim); corpus docs sharing a
    band with a benchmark doc are CANDIDATES, then exact Jaccard over
    the hashed shingle sets confirms >= 0.5 — document-level
    contamination, band-join-sized instead of gram-broadcast-sized.
    Composition of q_dedup_minhash_lsh's gated construction with
    q_contamination's semantics (benchmark = doc_id < 10)."""
    sig = minhash_signature(_docs(spark, sf_dir)).persist()
    _register_persisted(sig)
    bands = minhash_bands(sig)
    bench_bands = (bands.where(F.col("doc_id") < 10)
                   .withColumnRenamed("doc_id", "bench_id"))
    cand = (bands.where(F.col("doc_id") >= 10)
            .join(F.broadcast(bench_bands), ["band_idx", "band_hash"])
            .select("doc_id", "bench_id").distinct())
    sets = sig.select("doc_id", "shset")
    return (cand
            .join(sets.withColumnRenamed("shset", "sha"), "doc_id")
            .join(F.broadcast(sets.select(F.col("doc_id").alias("bench_id"),
                                          F.col("shset").alias("shb"))),
                  "bench_id")
            .withColumn("common", F.size(F.array_intersect("sha", "shb")))
            .withColumn("jaccard", F.round(
                F.col("common")
                / (F.size("sha") + F.size("shb") - F.col("common")), 6))
            .where(F.col("jaccard") >= 0.5)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_bench_matches"),
                 F.max("jaccard").alias("max_jaccard")))


def sql_contamination_lsh(sf_dir):
    # same CTE skeleton as sql_dedup_minhash_lsh, directional corpus->bench
    mins = ", ".join(
        f"min(({_mh_coef(p)[0]} * shingle + {_mh_coef(p)[1]}) % {_M31}) mh{p}"
        for p in range(_N_PERM))
    band_sel = " UNION ALL ".join(
        f"SELECT doc_id, {bnd} band_idx, md5("
        + " || '|' || ".join(f"mh{bnd * _BAND + k}::VARCHAR" for k in range(_BAND))
        + ") band_hash FROM sig" for bnd in range(_N_PERM // _BAND))
    j = "round(common * 1.0 / (na.n + nb.n - common), 6)"
    return (
        _HSHINGLE_CTE + ", "
        f"sig AS (SELECT doc_id, {mins} FROM ds GROUP BY doc_id), "
        f"bands AS ({band_sel}), "
        "cand AS (SELECT DISTINCT c.doc_id, b.doc_id bench_id FROM bands c "
        "JOIN bands b ON c.band_idx = b.band_idx "
        "AND c.band_hash = b.band_hash "
        "WHERE c.doc_id >= 10 AND b.doc_id < 10), "
        "c AS (SELECT x.doc_id, y.doc_id bench_id, count(*) common FROM ds x "
        "JOIN ds y ON x.shingle = y.shingle "
        "WHERE x.doc_id >= 10 AND y.doc_id < 10 GROUP BY 1, 2), "
        "n AS (SELECT doc_id, count(*) n FROM ds GROUP BY 1) "
        f"SELECT cand.doc_id, count(*) n_bench_matches, max({j}) max_jaccard "
        "FROM cand JOIN c ON c.doc_id = cand.doc_id "
        "AND c.bench_id = cand.bench_id "
        "JOIN n na ON na.doc_id = cand.doc_id "
        "JOIN n nb ON nb.doc_id = cand.bench_id "
        f"WHERE {j} >= 0.5 GROUP BY cand.doc_id")


def q_curate_corpus(spark, sf_dir, perplexity_cap: "int | None" = None):
    """The END-TO-END curation pipeline in one plan — what a training-data
    job actually ships: language gate (stopword-vote lang-id == 'en'),
    quality gate (stopword ratio ≥ 0.05), near-dup removal (broadcast
    anti-join against the non-keeper list), and benchmark-contamination
    removal (broadcast anti-join against contaminated doc ids). One corpus
    scan; every side input is O(flagged docs) and broadcasts.

    perplexity_cap (optional) adds the bigram-LM gate: docs whose
    text_perplexity score exceeds the cap — improbable token transitions,
    the gibberish/OCR-noise signature — are dropped via one more
    broadcast anti-join (the over-cap list is O(flagged docs) like every
    other side input)."""
    d = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
    votes = {lang: F.expr(f"size(filter(toks, t -> t IN ({_sw_list(lang)})))")
             for lang in _STOPWORDS}
    is_en = (votes["en"] >= votes["de"]) & (votes["en"] >= votes["fr"])
    sw_ratio = votes["en"] / F.expr("size(toks)")
    filt = d.where(is_en & (sw_ratio >= 0.05)).select("doc_id", "n_chars")
    drop = (q_dedup_clusters(spark, sf_dir)
            .where(~F.col("is_keeper")).select("doc_id"))
    contam = q_contamination(spark, sf_dir).select("doc_id")
    out = (filt.join(F.broadcast(drop), "doc_id", "left_anti")
           .join(F.broadcast(contam), "doc_id", "left_anti"))
    if perplexity_cap is not None:
        noisy = (q_text_perplexity(spark, sf_dir)
                 .where(F.col("perplexity_x1e6") > perplexity_cap)
                 .select("doc_id"))
        out = out.join(F.broadcast(noisy), "doc_id", "left_anti")
    return out


def sql_curate_corpus(sf_dir):
    v = {lang: f"len(list_filter(toks, t -> t IN ({_sw_list(lang)})))"
         for lang in _STOPWORDS}
    return (
        "WITH t AS (SELECT doc_id, n_chars, " + _TOKS_DUCK + " toks FROM documents), "
        f"f AS (SELECT doc_id, n_chars FROM t WHERE {v['en']} >= {v['de']} "
        f"AND {v['en']} >= {v['fr']} AND {v['en']} * 1.0 / len(toks) >= 0.05) "
        "SELECT doc_id, n_chars FROM f WHERE doc_id NOT IN ("
        "SELECT doc_id FROM (" + sql_dedup_clusters(sf_dir) + ") c "
        "WHERE NOT is_keeper) AND doc_id NOT IN ("
        "SELECT doc_id FROM (" + sql_contamination(sf_dir) + ") x)")


def q_pipeline_pack(spark, sf_dir):
    """The WHOLE training-data prep as ONE Spark plan: curate (lang +
    quality gates, near-dup and contamination anti-joins) then pack the
    survivors into fixed-budget training sequences — curate_corpus
    composed with text_pack, end to end. The curated id set rides the
    semi-join; the corpus is scanned once for the gates and once for
    the pack (the pack needs text token counts the curate projection
    dropped); all side inputs stay broadcast-sized. This is the query a
    production run submits via scripts/run_query.py pipeline_pack."""
    curated = q_curate_corpus(spark, sf_dir).select("doc_id")
    return _pack_frame(_docs(spark, sf_dir).join(curated, "doc_id",
                                                 "left_semi"))


def sql_pipeline_pack(sf_dir):
    return sql_text_pack(
        sf_dir,
        source_sql=("(SELECT * FROM documents WHERE doc_id IN "
                    "(SELECT doc_id FROM (" + sql_curate_corpus(sf_dir)
                    + ") cur))"))


def q_events_scd2(spark, sf_dir):
    """SCD Type-2 history build (gaps-and-islands): collapse each user's
    event stream into runs of consecutive identical event_type and emit
    one validity-interval row per run — (user_id, version_idx, state,
    valid_from_us, valid_to_us, n_events), valid_to NULL for the open
    current version. This is the slowly-changing-dimension table every
    warehouse derives from a changelog. Shape: the lag-compare flag and
    running sum assign run ids in ONE user-keyed window pass; the
    per-run aggregate groups on (user_id, run_id), which hashpartitioning
    (user_id) already co-locates, and the closing lead() rides the same
    partitioning — so the whole history build costs ONE shuffle
    (plan-asserted), the same user_id exchange sessionize/as-of key on.
    A bot user serializing one task is bounded by the same (user, chunk)
    segmentation events_asof(chunked=True) demonstrates; this form keys
    plain user_id like the reference-shape sessionize."""
    ev = _with_us(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = (ev.select("user_id", "event_type", "us", "event_id")
           .withColumn("prev", F.lag("event_type").over(wo))
           .withColumn("chg", F.when(
               F.col("prev").isNull()
               | (F.col("prev") != F.col("event_type")), 1).otherwise(0))
           .withColumn("run_id", F.sum("chg").over(
               wo.rowsBetween(Window.unboundedPreceding, 0))))
    runs = (run.groupBy("user_id", "run_id")
            .agg(F.min("event_type").alias("state"),
                 F.min("us").alias("valid_from_us"),
                 F.count(F.lit(1)).alias("n_events")))
    wr = Window.partitionBy("user_id").orderBy("run_id")
    return runs.select(
        "user_id",
        (F.col("run_id") - 1).cast("long").alias("version_idx"),
        "state", "valid_from_us",
        F.lead("valid_from_us").over(wr).alias("valid_to_us"),
        F.col("n_events").cast("long").alias("n_events"))


def sql_events_scd2(sf_dir):
    return (
        "WITH e AS (SELECT user_id, event_type, epoch_us(ts) us, event_id "
        "FROM events), "
        "c AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL "
        "OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END chg "
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), "
        "r AS (SELECT *, sum(chg) OVER (PARTITION BY user_id "
        "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) run_id FROM c), "
        "g AS (SELECT user_id, run_id, min(event_type) state, "
        "min(us) valid_from_us, count(*) n_events "
        "FROM r GROUP BY user_id, run_id) "
        "SELECT user_id, (run_id - 1)::BIGINT version_idx, state, "
        "valid_from_us, lead(valid_from_us) OVER (PARTITION BY user_id "
        "ORDER BY run_id) valid_to_us, n_events::BIGINT n_events FROM g")


_QUANTILES = ((50, "p50"), (90, "p90"), (99, "p99"))


def q_events_quantiles(spark, sf_dir):
    """EXACT per-group quantiles of the event value by distributed rank
    selection — no percentile_approx, no per-group sort of raw rows: the
    corpus partial-aggregates to (event_type, value) COUNT rows map-side
    first, the cumulative rank then runs over that pre-aggregated frame
    (bounded by value cardinality, not event count), and quantile q is
    the smallest value whose cumulative count reaches the integer rank
    k_q = (n-1)*q div 100 + 1 (lower-value discrete quantile; rank
    arithmetic is all-integer so both engines pick the identical row
    even where float q*n would straddle a ulp). Shape: one groupBy
    shuffle + windows riding the same event_type partitioning over
    pre-aggregated rows — a hot group costs its distinct VALUES on one
    task, never its events, which is the piece a naive
    sort-each-group-and-index quantile gets wrong at scale."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    vals = (ev.groupBy("event_type", "value")
            .agg(F.count(F.lit(1)).alias("cnt")))
    wc = (Window.partitionBy("event_type").orderBy("value")
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy("event_type")
    c = (vals.withColumn("cum", F.sum("cnt").over(wc))
         .withColumn("n", F.sum("cnt").over(wt)))
    aggs = [F.min(F.when(
        F.col("cum") >= F.expr(f"(n - 1) * {p} div 100 + 1"),
        F.col("value"))).alias(name) for p, name in _QUANTILES]
    return (c.groupBy("event_type")
            .agg(F.max("n").cast("long").alias("n_events"), *aggs))


_SK_QUANTILES = ((50, "p50"), (95, "p95"), (99, "p99"))


def q_events_quantiles_sketch(spark, sf_dir):
    """MERGEABLE QUANTILE SKETCH per event type — the 10^12-value
    companion to events_quantiles' exact ranks: each value folds into a
    power-of-two cents bucket (bucket k covers [2^(k-1), 2^k-1] cents;
    <= 0 cents is bucket 0), so a group's sketch is <= ~48 ints
    REGARDLESS of value cardinality, partial-aggregates map-side, and
    sketches merge by plain counter addition (1000 executors sketch
    independently; the reduce is elementwise + — pinned in pytest).
    Quantile q reports its bucket and [lo, hi] cents bounds via the same
    integer rank rule as the exact form (k_q = (n-1)*q div 100 + 1), a
    <= 2x relative-error envelope by construction. Bucketing is
    INTEGER-exact cross-engine: bit-length of the cents value
    (length(bin(v)) / length(to_base(v, 2))), never float log2, which
    straddles a ulp at exact powers of two."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    vc = "cast(round(value * 100) as long)"
    b = ev.select("event_type", F.expr(
        f"CASE WHEN {vc} <= 0 THEN 0 "
        f"ELSE length(bin({vc})) END").cast("long").alias("bucket"))
    sk = b.groupBy("event_type", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    wc = (Window.partitionBy("event_type").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy("event_type")
    c = (sk.withColumn("cum", F.sum("cnt").over(wc))
         .withColumn("n", F.sum("cnt").over(wt)))
    aggs = [F.min(F.when(
        F.col("cum") >= F.expr(f"(n - 1) * {p} div 100 + 1"),
        F.col("bucket"))).alias(f"{name}_bucket")
        for p, name in _SK_QUANTILES]
    g = c.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_events"), *aggs)
    outs = [F.col("event_type"), F.col("n_events")]
    for _p, name in _SK_QUANTILES:
        bk = f"{name}_bucket"
        outs += [
            F.col(bk).cast("long").alias(bk),
            F.expr(f"CASE WHEN {bk} = 0 THEN 0L ELSE "
                   f"shiftleft(1L, cast({bk} as int) - 1) END")
            .alias(f"{name}_lo_cents"),
            F.expr(f"CASE WHEN {bk} = 0 THEN 0L ELSE "
                   f"shiftleft(1L, cast({bk} as int)) - 1L END")
            .alias(f"{name}_hi_cents")]
    return g.select(*outs)


def sql_events_quantiles_sketch(sf_dir):
    vc = "round(value * 100)::BIGINT"
    picks = ", ".join(
        f"min(CASE WHEN cum >= (n - 1) * {p} // 100 + 1 THEN bucket END) "
        f"{name}_bucket" for p, name in _SK_QUANTILES)
    outs = ", ".join(
        f"{name}_bucket::BIGINT {name}_bucket, "
        f"(CASE WHEN {name}_bucket = 0 THEN 0 ELSE "
        f"1::BIGINT << ({name}_bucket::INT - 1) END)::BIGINT "
        f"{name}_lo_cents, "
        f"(CASE WHEN {name}_bucket = 0 THEN 0 ELSE "
        f"(1::BIGINT << {name}_bucket::INT) - 1 END)::BIGINT "
        f"{name}_hi_cents" for _p, name in _SK_QUANTILES)
    return (
        f"WITH b AS (SELECT event_type, CASE WHEN {vc} <= 0 THEN 0 "
        f"ELSE length(to_base({vc}, 2)) END bucket FROM events), "
        "sk AS (SELECT event_type, bucket, count(*) cnt FROM b "
        "GROUP BY 1, 2), "
        "c AS (SELECT event_type, bucket, cnt, "
        "sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket "
        "ROWS UNBOUNDED PRECEDING) cum, "
        "sum(cnt) OVER (PARTITION BY event_type) n FROM sk), "
        f"g AS (SELECT event_type, max(n)::BIGINT n_events, {picks} "
        "FROM c GROUP BY event_type) "
        f"SELECT event_type, n_events, {outs} FROM g")


def sql_events_quantiles(sf_dir):
    picks = ", ".join(
        f"min(CASE WHEN cum >= (n - 1) * {p} // 100 + 1 "
        f"THEN value END) {name}" for p, name in _QUANTILES)
    return (
        "WITH v AS (SELECT event_type, value, count(*) cnt FROM events "
        "GROUP BY 1, 2), "
        "c AS (SELECT event_type, value, "
        "sum(cnt) OVER (PARTITION BY event_type ORDER BY value "
        "ROWS UNBOUNDED PRECEDING) cum, "
        "sum(cnt) OVER (PARTITION BY event_type) n FROM v) "
        "SELECT event_type, max(n)::BIGINT n_events, "
        + picks + " FROM c GROUP BY event_type")


_HIST_B = 4              # equi-depth buckets per group


def q_events_histogram(spark, sf_dir):
    """EQUI-DEPTH HISTOGRAM of the value column per event type — the
    statistic every cost-based optimizer stores (and the selectivity
    model behind range-filter estimates): B=4 buckets each covering the
    rank range (n·b div B, n·(b+1) div B], with exact lo/hi boundary
    values by the same integer rank-selection events_quantiles uses —
    lo = smallest value whose cumulative count reaches the bucket's
    first rank, hi = the one reaching its last. Same scale shape: the
    corpus partial-aggregates to (type, value) counts map-side, the
    cumulative rank runs over the pre-aggregated distinct-value frame,
    ONE key shuffle; bucket populations are pure rank arithmetic, so
    they are exact even when a heavy value spans buckets (the boundary
    value repeats — exactly how warehouse histograms represent skew)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    vals = (ev.groupBy("event_type", "value")
            .agg(F.count(F.lit(1)).alias("cnt")))
    wc = (Window.partitionBy("event_type").orderBy("value")
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = Window.partitionBy("event_type")
    c = (vals.withColumn("cum", F.sum("cnt").over(wc))
         .withColumn("n", F.sum("cnt").over(wt)))
    aggs = []
    for b in range(_HIST_B):
        aggs += [
            F.min(F.when(
                F.col("cum") >= F.expr(f"n * {b} div {_HIST_B} + 1"),
                F.col("value"))).alias(f"lo{b}"),
            F.min(F.when(
                F.col("cum") >= F.expr(f"n * {b + 1} div {_HIST_B}"),
                F.col("value"))).alias(f"hi{b}"),
        ]
    wide = c.groupBy("event_type").agg(F.max("n").alias("n"), *aggs)
    rows = F.explode(F.array(*[
        F.struct(F.lit(b).cast("long").alias("bucket"),
                 F.col(f"lo{b}").alias("lo"),
                 F.col(f"hi{b}").alias("hi"),
                 F.expr(f"n * {b + 1} div {_HIST_B} "
                        f"- n * {b} div {_HIST_B}")
                 .cast("long").alias("n_rows"))
        for b in range(_HIST_B)])).alias("h")
    return (wide.select("event_type", rows)
            .select("event_type", "h.bucket", "h.lo", "h.hi", "h.n_rows"))


def sql_events_histogram(sf_dir):
    picks = []
    for b in range(_HIST_B):
        picks += [
            f"min(CASE WHEN cum >= n * {b} // {_HIST_B} + 1 "
            f"THEN value END) lo{b}",
            f"min(CASE WHEN cum >= n * {b + 1} // {_HIST_B} "
            f"THEN value END) hi{b}"]
    buckets = ", ".join(
        f"{{'bucket': {b}, 'lo': lo{b}, 'hi': hi{b}, "
        f"'n_rows': n * {b + 1} // {_HIST_B} - n * {b} // {_HIST_B}}}"
        for b in range(_HIST_B))
    return (
        "WITH v AS (SELECT event_type, value, count(*) cnt FROM events "
        "GROUP BY 1, 2), "
        "c AS (SELECT event_type, value, "
        "sum(cnt) OVER (PARTITION BY event_type ORDER BY value "
        "ROWS UNBOUNDED PRECEDING) cum, "
        "sum(cnt) OVER (PARTITION BY event_type) n FROM v), "
        "w AS (SELECT event_type, max(n) n, " + ", ".join(picks)
        + " FROM c GROUP BY event_type) "
        f"SELECT event_type, u.bucket::BIGINT bucket, u.lo, u.hi, "
        "u.n_rows::BIGINT n_rows FROM ("
        f"SELECT event_type, unnest([{buckets}]) u FROM w)")


_SKEW_TOPN = 10
_SKEW_PAR = 32           # reference parallelism for the salt hint


def q_events_skew_report(spark, sf_dir):
    """KEY-SKEW DIAGNOSTICS for the user_id shuffle key — the planner
    utility run before any big keyed job (sessionize, as-of, funnel):
    the top-{n} hottest keys with their exact corpus share (ppm, integer
    cross-multiplied) and the salt factor that would level each one,
    salt_k = ceil(share × parallelism) — exactly the K a (user, chunk)
    segmentation (events_sessionize_chunked) or salted repartition
    needs. Shape: one partial-aggregated count shuffle + a partial
    top-k (TakeOrderedAndProject — never a global sort), so diagnosing
    a 10^12-row shuffle costs one pre-aggregated pass; the report is
    rows, not a driver decision, so it feeds both humans and automated
    salting (operators/skew.py: recommended_salt -> salted_repartition
    is the probe->apply pattern this report drives; since round 5 this
    gate row delegates to that shared implementation, so the numbers
    feeding production salt decisions are themselves two-engine
    verified)."""
    from pdftext_spark.operators.skew import skew_report
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return (skew_report(ev, ["user_id"], _SKEW_PAR, _SKEW_TOPN)
            .withColumnRenamed("n_rows", "n_events"))


def sql_events_skew_report(sf_dir):
    return (
        "WITH t AS (SELECT count(*) total FROM events), "
        "p AS (SELECT user_id, count(*) n_events FROM events GROUP BY 1) "
        "SELECT user_id, n_events::BIGINT n_events, "
        "(n_events * 1000000) // total share_ppm, "
        f"(n_events * {_SKEW_PAR} + total - 1) // total salt_k "
        "FROM p, t ORDER BY n_events DESC, user_id "
        f"LIMIT {_SKEW_TOPN}")


_Z_CUT = 3.0             # |z| threshold for outlier emission


def q_events_outliers(spark, sf_dir):
    """Z-score anomaly detection per event type — the monitoring
    primitive: per-type mean/std from one tiny aggregate (moment sums),
    broadcast back onto a second corpus scan that emits only the
    |z| >= 3 rows. The broadcast-back shape is the point at 100 TB: the
    5-row stats table rides a BroadcastExchange, the event stream is
    scanned without any key shuffle, and no per-type window ever
    materializes (a window formulation would shuffle every event by
    type — the skew trap). std uses the population moment identity with
    a max(...,0) guard. The moments are accumulated in EXACT integer
    cents (sum of round(value*100) and its square) so the group sums
    are order-independent — double-sum accumulation order varies across
    engines and task splits, and rounding z to 6 dp cannot make |z|>=3
    membership deterministic when the sums themselves drift. Spark
    widens the square-sum to decimal(38,0) (sum(BIGINT) stays BIGINT
    and could overflow at corpus scale); DuckDB's sum(BIGINT) widens to
    HUGEINT natively. Both exact sums then convert once to float64
    (nearest-even, identical in both engines) and z follows the same
    IEEE op order everywhere — bit-identical, membership included."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    st = (ev.groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
               F.sum(F.expr(
                   "cast(cast(round(value * 100) as bigint) as decimal(38,0))"
                   " * cast(round(value * 100) as bigint)")).alias("sq")))
    j = ev.join(F.broadcast(st), "event_type")
    z = F.expr(
        "(cast(round(value * 100) as double) "
        " - cast(s as double) / cast(n as double)) / "
        "sqrt(greatest(cast(sq as double) / cast(n as double) "
        " - (cast(s as double) / cast(n as double)) "
        " * (cast(s as double) / cast(n as double)), 1e-12))")
    return (j.select("event_type", "event_id", "value",
                     F.round(z, 6).alias("z"))
            .where(F.abs(F.round(z, 6)) >= _Z_CUT))


def sql_events_outliers(sf_dir):
    zd = ("(round(e.value * 100)::BIGINT::DOUBLE "
          " - s::DOUBLE / n::DOUBLE) / "
          "sqrt(greatest(sq::DOUBLE / n::DOUBLE "
          " - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE), 1e-12))")
    return (
        "WITH st AS (SELECT event_type, count(*) n, "
        "sum(round(value * 100)::BIGINT) s, "
        "sum(round(value * 100)::BIGINT * round(value * 100)::BIGINT) sq "
        "FROM events GROUP BY 1) "
        "SELECT e.event_type, e.event_id, e.value, "
        f"round({zd}, 6) z "
        "FROM events e JOIN st ON st.event_type = e.event_type "
        f"WHERE abs(round({zd}, 6)) >= {_Z_CUT}")


# deterministic changelog derivation over the snapshot key space: disjoint
# update/delete residues mod 7, a seq-2 override on the mod-21 subset of
# the updates, inserts at keys offset past the snapshot id range
_MERGE_INS_OFFSET = 100_000_000


def q_snapshot_merge(spark, sf_dir):
    """CDC MERGE (the lakehouse upsert/compaction primitive): apply a
    keyed changelog of upserts/deletes/inserts to a snapshot with
    latest-wins precedence — MERGE INTO re-expressed as latest-per-key
    argmax + ONE full-outer sort-merge join on the merge key, the exact
    shape Delta/Iceberg MERGE compiles to. The changelog here is derived
    deterministically from the documents snapshot itself (updates at
    doc_id%7=3 with a seq-2 override at doc_id%21=3, deletes at
    doc_id%7=5, inserts at offset keys for doc_id%31=0) so both engines
    construct bit-identical inputs; in production the changelog is its
    own stream/table and the plan below is unchanged. Scale: the
    latest-wins struct-max groups the changelog in one key shuffle
    (partial-aggregated map-side), then snapshot and compacted changelog
    meet in one doc_id-keyed full-outer SortMergeJoin (plan-asserted) —
    no broadcast assumption, so it survives a changelog proportional to
    the snapshot; deletes filter in the join projection, never a second
    pass. Output: surviving rows as (doc_id, action, text_md5)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    ch = (
        d.where(F.col("doc_id") % 7 == 3)
        .select("doc_id", F.lit(1).alias("seq"), F.lit("U").alias("op"),
                F.concat(F.lit("u:"), "text").alias("new_text"))
        .unionAll(
            d.where(F.col("doc_id") % 21 == 3)
            .select("doc_id", F.lit(2).alias("seq"), F.lit("U").alias("op"),
                    F.concat(F.lit("u2:"), "text").alias("new_text")))
        .unionAll(
            d.where(F.col("doc_id") % 7 == 5)
            .select("doc_id", F.lit(1).alias("seq"), F.lit("D").alias("op"),
                    F.lit(None).cast("string").alias("new_text")))
        .unionAll(
            d.where(F.col("doc_id") % 31 == 0)
            .select((F.col("doc_id") + _MERGE_INS_OFFSET).alias("doc_id"),
                    F.lit(1).alias("seq"), F.lit("I").alias("op"),
                    F.concat(F.lit("ins:"), "text").alias("new_text"))))
    latest = (ch.groupBy("doc_id")
              .agg(F.max(F.struct("seq", "op", "new_text")).alias("m"))
              .select("doc_id", F.col("m.op").alias("op"),
                      F.col("m.new_text").alias("new_text")))
    merged = d.join(latest, "doc_id", "full_outer")
    return (merged
            .where(~F.col("op").eqNullSafe("D"))
            .select(
                "doc_id",
                F.when(F.col("op").isNull(), F.lit("kept"))
                .when(F.col("op") == "I", F.lit("inserted"))
                .otherwise(F.lit("updated")).alias("merge_action"),
                F.md5(F.coalesce("new_text", "text")).alias("text_md5")))


def sql_snapshot_merge(sf_dir):
    return (
        "WITH d AS (SELECT doc_id, text FROM documents), "
        "ch AS ("
        "SELECT doc_id, 1 seq, 'U' op, 'u:' || text new_text FROM d "
        "WHERE doc_id % 7 = 3 "
        "UNION ALL SELECT doc_id, 2, 'U', 'u2:' || text FROM d "
        "WHERE doc_id % 21 = 3 "
        "UNION ALL SELECT doc_id, 1, 'D', NULL FROM d WHERE doc_id % 7 = 5 "
        f"UNION ALL SELECT doc_id + {_MERGE_INS_OFFSET}, 1, 'I', "
        "'ins:' || text FROM d WHERE doc_id % 31 = 0), "
        # no seq ties by construction (residue classes are disjoint;
        # only the mod-21 updates carry a second, higher seq)
        "latest AS (SELECT doc_id, op, new_text FROM ("
        "SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC"
        ") rn FROM ch) WHERE rn = 1) "
        "SELECT COALESCE(d.doc_id, l.doc_id) doc_id, "
        "CASE WHEN l.doc_id IS NULL THEN 'kept' "
        "WHEN d.doc_id IS NULL THEN 'inserted' "
        "ELSE 'updated' END merge_action, "
        "md5(COALESCE(l.new_text, d.text)) text_md5 "
        "FROM d FULL OUTER JOIN latest l ON d.doc_id = l.doc_id "
        "WHERE l.op IS NULL OR l.op <> 'D'")


_Z_BITS = 16             # bits interleaved per axis
_Z_FILE_SHIFT = 24       # z >> 24 => 256 target files
_Z_MUL_LIMIT = 1 << 46   # spans below this keep (span+1)*2^16 in int64


def _z_expr(u, t, shr, shl):
    """32-term bit-interleave of two 16-bit axes, rendered with the
    engine's shift syntax (Spark shiftright/shiftleft vs DuckDB >>/<<)."""
    terms = [shl.format(x=f"({shr.format(x=u, k=k)} & 1)", n=2 * k + 1)
             + " + "
             + shl.format(x=f"({shr.format(x=t, k=k)} & 1)", n=2 * k)
             for k in range(_Z_BITS)]
    return " + ".join(terms)


def q_layout_zorder(spark, sf_dir):
    """Z-ORDER data layout (the OPTIMIZE ZORDER BY primitive): interleave
    the bits of two query axes — user_id and event time — into one
    Morton code, assign rows to 256 target files by z-range, and report
    each file's min/max extents on BOTH axes. The point at 100 TB: a
    z-clustered layout bounds every file's (user, time) box (top-8-bits-
    of-z fixed => top 4 bits of each 16-bit axis fixed), so min/max
    file statistics prune scans for filters on EITHER axis — the
    multi-dimensional generalization of sort-by-one-key layout, and the
    extents this query emits are exactly the stats a writer would store.
    Axes are quantized onto 16 bits by exact integer range-scaling from
    a one-row global min/max stats pass collected driver-side (the
    k-means/sample_mix side-input pattern; a lakehouse writer already
    holds these stats in table metadata) — rank-free, exact in both
    engines, and never degenerate however the axis domains sit. Shape:
    the Morton code is a pure 32-term integer expression in the
    projection (zero-shuffle row-wise compute), and the per-file extent
    report partial-aggregates map-side into ONE tiny shuffle of ≤256
    pre-aggregated rows per task (plan-asserted)."""
    ev = _with_us(spark.read.parquet(os.path.join(sf_dir, "events.parquet")))
    st = ev.agg(F.min("user_id").alias("ul"), F.max("user_id").alias("uh"),
                F.min("us").alias("tl"), F.max("us").alias("th")).first()
    if st["ul"] is None:
        # empty input: the stats row is all-NULL and the quantizer
        # expressions below would interpolate Python None into SQL text
        # (review finding); the oracle returns an empty frame — match it
        return spark.createDataFrame(
            [], "file_id long, n_rows long, u_min long, u_max long, "
                "t_min_us long, t_max_us long")

    # exact 16-bit range quantization, overflow-branched: multiply-first
    # ((x-lo)*2^16 div (span+1), fills all 16 bits even on narrow
    # domains) while (span+1)*2^16 fits int64; divide-first granules
    # ((x-lo) div (span div 2^16 + 1)) past that — same branch rule in
    # the SQL twin, so both engines compute identical axis values
    def axis(col, lo, hi):
        span = hi - lo
        if span < _Z_MUL_LIMIT:
            return f"(({col} - {lo}) * 65536) div {span + 1}"
        return f"({col} - {lo}) div {span // 65536 + 1}"

    z = _z_expr("u16", "t16", "shiftright({x}, {k})", "shiftleft({x}, {n})")
    d = (ev.select("user_id", "us")
         .withColumn("u16", F.expr(axis("user_id", st["ul"], st["uh"])))
         .withColumn("t16", F.expr(axis("us", st["tl"], st["th"])))
         .withColumn("z", F.expr(z))
         .withColumn("file_id", F.expr(f"shiftright(z, {_Z_FILE_SHIFT})")))
    return (d.groupBy("file_id")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("user_id").alias("u_min"),
                 F.max("user_id").alias("u_max"),
                 F.min("us").alias("t_min_us"),
                 F.max("us").alias("t_max_us"))
            .select(F.col("file_id").cast("long").alias("file_id"),
                    F.col("n_rows").cast("long").alias("n_rows"),
                    "u_min", "u_max", "t_min_us", "t_max_us"))


def sql_layout_zorder(sf_dir):
    z = _z_expr("u16", "t16", "({x} >> {k})", "({x} << {n})")
    return (
        "WITH e AS (SELECT user_id, epoch_us(ts) us FROM events), "
        "s AS (SELECT min(user_id) ul, max(user_id) uh, min(us) tl, "
        "max(us) th FROM e), "
        "q AS (SELECT user_id, us, "
        f"CASE WHEN s.uh - s.ul < {_Z_MUL_LIMIT} THEN "
        "((user_id - s.ul) * 65536) // (s.uh - s.ul + 1) "
        "ELSE (user_id - s.ul) // ((s.uh - s.ul) // 65536 + 1) END u16, "
        f"CASE WHEN s.th - s.tl < {_Z_MUL_LIMIT} THEN "
        "((us - s.tl) * 65536) // (s.th - s.tl + 1) "
        "ELSE (us - s.tl) // ((s.th - s.tl) // 65536 + 1) END t16 "
        "FROM e, s), "
        f"z AS (SELECT user_id, us, ({z}) z FROM q) "
        f"SELECT (z >> {_Z_FILE_SHIFT})::BIGINT file_id, "
        "count(*)::BIGINT n_rows, min(user_id) u_min, max(user_id) u_max, "
        "min(us) t_min_us, max(us) t_max_us FROM z GROUP BY 1")


