"""Text-analysis family: tokens/quality/langid/fingerprints,
TF-IDF/BM25/perplexity/CCNet, sketches (HLL/Bloom/CMS), BPE, PMI,
postings, graph triangles, dataset split, doc profiles."""
from __future__ import annotations

from pdftext_spark.registry._shared import (  # noqa: F401
    F,
    Window,
    _H_SQL,
    _SHINGLES_DUCK,
    _SHINGLES_SPARK,
    _STOPWORDS,
    _TOKS_DUCK,
    _TOKS_SPARK,
    _docs,
    _extracted_df,
    _fixture_path,
    _h,
    _let,
    _register_persisted,
    _sw_list,
)
from pdftext_spark.registry.dedup import (  # noqa: F401
    q_dedup_minhash_lsh,
    sql_dedup_minhash_lsh,
)

# --------------------------------------------------------------------------
# 2a. text analysis (documents)
# --------------------------------------------------------------------------

# GPT-2-style pretokenizer, restricted to constructs RE2 (DuckDB) and
# java.util.regex (Spark) treat identically: leftmost-first alternation
# over letter runs / digit runs / punctuation runs (each with an optional
# leading space) / space runs. No lookahead (RE2 has none).
_BPE_RE = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"


def q_text_tokens(spark, sf_dir):
    """Token counting, both ways the pipeline needs it: whitespace tokens
    (the cheap budget estimate) and BPE-ish pretokenizer pieces (the
    LLM-cost proxy)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.expr(f"size({_TOKS_SPARK})").cast("long").alias("n_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)"))
        .cast("long").alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def sql_text_tokens(sf_dir):
    return (f"SELECT doc_id, len({_TOKS_DUCK})::BIGINT n_tokens, "
            f"len(regexp_extract_all(text, '{_BPE_RE}'))::BIGINT n_bpe_tokens, "
            f"length(text)::BIGINT n_chars FROM documents")


def q_text_quality(spark, sf_dir):
    d = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
    sw = _sw_list("en")
    return d.select(
        "doc_id",
        F.round(F.length(F.regexp_replace("text", "[^a-zA-Z]", "")) / F.length("text"), 6)
        .alias("alpha_ratio"),
        F.round(F.expr(f"size(filter(toks, t -> t IN ({sw})))") / F.expr("size(toks)"), 6)
        .alias("stopword_ratio"),
        F.round(F.expr("aggregate(toks, 0L, (a, t) -> a + length(t))") / F.expr("size(toks)"), 6)
        .alias("avg_token_len"),
    )


def sql_text_quality(sf_dir):
    sw = _sw_list("en")
    return (
        "WITH t AS (SELECT doc_id, text, " + _TOKS_DUCK + " toks FROM documents) "
        "SELECT doc_id, "
        "round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text), 6) alpha_ratio, "
        f"round(len(list_filter(toks, t -> t IN ({sw}))) * 1.0 / len(toks), 6) stopword_ratio, "
        "round(list_sum(list_transform(toks, t -> length(t))) * 1.0 / len(toks), 6) avg_token_len "
        "FROM t")


def q_text_langid(spark, sf_dir):
    d = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
    votes = {lang: F.expr(f"size(filter(toks, t -> t IN ({_sw_list(lang)})))")
             for lang in _STOPWORDS}
    return d.select(
        "doc_id",
        votes["en"].cast("long").alias("votes_en"),
        votes["de"].cast("long").alias("votes_de"),
        votes["fr"].cast("long").alias("votes_fr"),
        F.when((votes["en"] >= votes["de"]) & (votes["en"] >= votes["fr"]), "en")
        .when(votes["de"] >= votes["fr"], "de").otherwise("fr").alias("lang_pred"),
    )


def sql_text_langid(sf_dir):
    v = {lang: f"len(list_filter(toks, t -> t IN ({_sw_list(lang)})))"
         for lang in _STOPWORDS}
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents) "
        f"SELECT doc_id, {v['en']}::BIGINT votes_en, {v['de']}::BIGINT votes_de, "
        f"{v['fr']}::BIGINT votes_fr, "
        f"CASE WHEN {v['en']} >= {v['de']} AND {v['en']} >= {v['fr']} THEN 'en' "
        f"WHEN {v['de']} >= {v['fr']} THEN 'de' ELSE 'fr' END lang_pred FROM t")


def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting: full-text md5 + min-hash over 3-gram
    shingles (single-perm minhash — the rolling-hash analog)."""
    d = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK)) \
        .withColumn("sh", F.expr(_SHINGLES_SPARK))
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.expr("array_min(transform(sh, s -> cast(conv(substring(md5(s),1,8),16,10) as bigint)))")
        .alias("min_shingle_hash"),
    )


def sql_text_fingerprint(sf_dir):
    h = _H_SQL.format(c="s")
    return (
        "WITH t AS (SELECT doc_id, text, " + _TOKS_DUCK + " toks FROM documents), "
        "s AS (SELECT doc_id, text, " + _SHINGLES_DUCK + " sh FROM t) "
        f"SELECT doc_id, md5(text) text_md5, "
        f"list_min(list_transform(sh, s -> {h})) min_shingle_hash FROM s")


def q_text_repetition(spark, sf_dir):
    """Self-repetition ratio per document (Gopher-style quality rule):
    1 - distinct/total over 3-token shingles. Pure row-wise higher-order
    array expressions — the corpus scan emits the ratios directly with
    zero shuffle."""
    d = (_docs(spark, sf_dir)
         .withColumn("toks", F.expr(_TOKS_SPARK))
         .withColumn("sh", F.expr(_SHINGLES_SPARK)))
    return d.select(
        "doc_id",
        F.expr("size(sh)").cast("long").alias("n_shingles"),
        F.expr("size(array_distinct(sh))").cast("long").alias("n_distinct"),
        F.round(F.lit(1.0) - F.expr("size(array_distinct(sh))")
                / F.expr("size(sh)"), 6).alias("rep_ratio"),
    )


def sql_text_repetition(sf_dir):
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        "s AS (SELECT doc_id, " + _SHINGLES_DUCK + " sh FROM t) "
        "SELECT doc_id, len(sh)::BIGINT n_shingles, "
        "len(list_distinct(sh))::BIGINT n_distinct, "
        "round(1.0 - len(list_distinct(sh)) * 1.0 / len(sh), 6) rep_ratio "
        "FROM s")


def q_text_features(spark, sf_dir):
    """Classifier-prep feature export: EVERY row-wise quality signal in
    ONE corpus scan — the fused form a 100 TB pipeline ships instead of
    N separate jobs (token counts, alpha/stopword/digit ratios, mean
    token length, Gopher repetition ratio, stopword-vote language).
    Each constituent is individually gated (text_tokens / text_quality /
    text_repetition / text_langid); this is their single-pass fusion:
    zero shuffle, zero joins, one projection wide enough to feed a
    downstream quality classifier directly (plan-asserted)."""
    d = (_docs(spark, sf_dir)
         .withColumn("toks", F.expr(_TOKS_SPARK))
         .withColumn("sh", F.expr(_SHINGLES_SPARK)))
    sw = _sw_list("en")
    votes = {lang: F.expr(f"size(filter(toks, t -> t IN ({_sw_list(lang)})))")
             for lang in _STOPWORDS}
    return d.select(
        "doc_id",
        F.expr("size(toks)").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
                / F.length("text"), 6).alias("alpha_ratio"),
        F.round(F.length(F.regexp_replace("text", "[^0-9]", ""))
                / F.length("text"), 6).alias("digit_ratio"),
        F.round(F.expr(f"size(filter(toks, t -> t IN ({sw})))")
                / F.expr("size(toks)"), 6).alias("stopword_ratio"),
        F.round(F.expr("aggregate(toks, 0L, (a, t) -> a + length(t))")
                / F.expr("size(toks)"), 6).alias("avg_token_len"),
        F.round(F.lit(1.0) - F.expr("size(array_distinct(sh))")
                / F.expr("size(sh)"), 6).alias("rep_ratio"),
        F.when((votes["en"] >= votes["de"]) & (votes["en"] >= votes["fr"]), "en")
        .when(votes["de"] >= votes["fr"], "de").otherwise("fr")
        .alias("lang_pred"),
    )


def sql_text_features(sf_dir):
    sw = _sw_list("en")
    v = {lang: f"len(list_filter(toks, t -> t IN ({_sw_list(lang)})))"
         for lang in _STOPWORDS}
    return (
        "WITH t AS (SELECT doc_id, text, " + _TOKS_DUCK + " toks FROM documents), "
        "s AS (SELECT doc_id, text, toks, " + _SHINGLES_DUCK + " sh FROM t) "
        "SELECT doc_id, len(toks)::BIGINT n_tokens, "
        "length(text)::BIGINT n_chars, "
        "round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 "
        "/ length(text), 6) alpha_ratio, "
        "round(length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0 "
        "/ length(text), 6) digit_ratio, "
        f"round(len(list_filter(toks, t -> t IN ({sw}))) * 1.0 "
        "/ len(toks), 6) stopword_ratio, "
        "round(list_sum(list_transform(toks, t -> length(t))) * 1.0 "
        "/ len(toks), 6) avg_token_len, "
        "round(1.0 - len(list_distinct(sh)) * 1.0 / len(sh), 6) rep_ratio, "
        f"CASE WHEN {v['en']} >= {v['de']} AND {v['en']} >= {v['fr']} THEN 'en' "
        f"WHEN {v['de']} >= {v['fr']} THEN 'de' ELSE 'fr' END lang_pred "
        "FROM s")


_CHUNK_TOKENS = 50


def q_text_chunks(spark, sf_dir):
    """Fixed-size token chunking (training-sample / RAG prep): each doc
    split into consecutive 50-token chunks; emits per-chunk token count
    and content hash. Chunk construction is row-wise (sequence +
    transform + slice); the explode multiplies rows but never shuffles —
    a downstream writer would stream chunks straight to parquet. Docs
    with zero tokens are dropped (both engines)."""
    d = (_docs(spark, sf_dir)
         .withColumn("toks", F.expr(_TOKS_SPARK))
         .where(F.expr("size(toks) > 0"))
         .withColumn("chunks", F.expr(
             f"transform(sequence(0, cast(ceil(size(toks) / {_CHUNK_TOKENS}.0) as int) - 1), "
             f"i -> slice(toks, i * {_CHUNK_TOKENS} + 1, {_CHUNK_TOKENS}))")))
    c = d.select("doc_id", F.posexplode("chunks").alias("chunk_idx", "chunk"))
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_md5"),
    )


def sql_text_chunks(sf_dir):
    n = _CHUNK_TOKENS
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        f"c AS (SELECT doc_id, unnest(list_transform("
        f"range(0, CAST(ceil(len(toks) / {n}.0) AS INT)), "
        f"i -> {{'chunk_idx': i, 'chunk': list_slice(toks, i * {n} + 1, "
        f"i * {n} + {n})}})) u FROM t WHERE len(toks) > 0) "
        "SELECT doc_id, u.chunk_idx::BIGINT chunk_idx, "
        "len(u.chunk)::BIGINT n_tokens, "
        "md5(array_to_string(u.chunk, ' ')) chunk_md5 FROM c")


_WINNOW_W = 4          # winnowing window (shingle hashes per window)
_CDC_DIV = 16          # CDC divisor: ~1/16 boundary rate => ~16-token chunks


def q_text_winnow(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS scheme): hash every 3-token shingle, slide a
    W=4 window over the hash sequence, keep each window's minimum; the
    distinct selected minima are the document's fingerprint set. The
    guarantee winnowing adds over plain minhash (text_fingerprint) is
    positional density: every W consecutive shingles contribute at
    least one fingerprint, so any sufficiently long shared substring is
    detected regardless of where it sits. Entirely row-wise
    higher-order array expressions — one corpus scan, zero shuffle
    (plan-asserted); the fingerprint set is emitted as (count, min,
    order-canonical md5 digest) so the gate hashes the full set without
    a per-fingerprint explode. Each intermediate array is _let-bound so
    it evaluates once per row; the final struct materializes through an
    inline() Generate (still no Exchange)."""
    # one window when there are fewer than W hashes (the paper's
    # short-document degenerate case: fingerprint = global min).
    # Zero-token docs are gated out entirely (same policy as
    # text_chunks_cdc): the engines disagree on the degenerate shingle
    # of an empty token list (Spark concat_ws = '' vs DuckDB
    # array_to_string = NULL, whose NULL min Spark's array_distinct
    # keeps but DuckDB's list_distinct strips), and "fingerprints of an
    # empty document" is semantically none anyway. The NOT NULL filter
    # before distinct is belt-and-braces for the same class.
    fps = _let(_TOKS_SPARK, "toks",
          _let(_SHINGLES_SPARK, "sh",
          _let("transform(sh, s -> "
               "cast(conv(substring(md5(s),1,8),16,10) as bigint))", "hs",
               "array_sort(array_distinct(filter(transform("
               f"sequence(1, greatest(size(hs) - {_WINNOW_W - 1}, 1)), "
               f"i -> array_min(slice(hs, i, {_WINNOW_W}))), "
               "x -> x IS NOT NULL)))")))
    out = _let(fps, "fps",
               "named_struct("
               "'n_fingerprints', cast(size(fps) as bigint), "
               "'fp_min', element_at(fps, 1), "
               "'fp_digest', md5(concat_ws(',', "
               "transform(fps, x -> cast(x as string)))))")
    return (_docs(spark, sf_dir)
            .where(F.expr(f"size({_TOKS_SPARK}) > 0"))
            .select("doc_id", F.inline(F.array(F.expr(out)))))


def sql_text_winnow(sf_dir):
    h = _H_SQL.format(c="s")
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents "
        "WHERE len(" + _TOKS_DUCK + ") > 0), "
        "s AS (SELECT doc_id, " + _SHINGLES_DUCK + " sh FROM t), "
        f"hh AS (SELECT doc_id, list_transform(sh, s -> {h}) hs FROM s), "
        "m AS (SELECT doc_id, list_filter(list_transform("
        f"range(1, greatest(len(hs) - {_WINNOW_W - 2}, 2)), "
        f"i -> list_min(list_slice(hs, i, i + {_WINNOW_W - 1}))), "
        "x -> x IS NOT NULL) mins FROM hh), "
        "f AS (SELECT doc_id, list_sort(list_distinct(mins)) fps FROM m) "
        "SELECT doc_id, len(fps)::BIGINT n_fingerprints, fps[1] fp_min, "
        "md5(array_to_string(list_transform(fps, x -> x::VARCHAR), ',')) fp_digest "
        "FROM f")


def q_text_chunks_cdc(spark, sf_dir):
    """Content-defined chunking (the LBFS/rsync boundary rule applied
    to token streams): a chunk boundary falls after token i whenever
    the hash of the 3-token shingle ending at i is ≡ 0 mod 16, giving
    ~16-token average chunks whose boundaries depend only on local
    content. The property fixed-size chunking (text_chunks) lacks:
    inserting one token near the head shifts every downstream
    fixed-size chunk, but CDC boundaries resynchronize after one
    shingle width, so chunk-level dedup across near-identical docs
    still hits (pinned in test). Boundary detection, cut positions and
    slicing are all row-wise array expressions (_let-bound so each
    stage evaluates once per row); the posexplode multiplies rows
    without shuffling (plan-asserted)."""
    # guard: sequence(3, n-1) DESCENDS when n < 4 (and would probe hs
    # out of bounds under ANSI) — short docs are one chunk by
    # construction
    chunks = _let(_TOKS_SPARK, "toks",
             _let("CASE WHEN size(toks) < 4 THEN "
                  "cast(array() as array<bigint>) ELSE "
                  "transform(sequence(3, size(toks) - 1), i -> "
                  "cast(conv(substring(md5(concat(element_at(toks, i-2), "
                  "' ', element_at(toks, i-1), ' ', element_at(toks, i)))"
                  ",1,8),16,10) as bigint)) END", "hs",
             _let(f"CASE WHEN size(toks) < 4 THEN array(0, size(toks)) "
                  f"ELSE concat(array(0), filter(sequence(3, size(toks) - 1), "
                  f"i -> element_at(hs, i - 2) % {_CDC_DIV} = 0), "
                  "array(size(toks))) END", "cuts",
                  "transform(sequence(1, size(cuts) - 1), j -> "
                  "slice(toks, element_at(cuts, j) + 1, "
                  "element_at(cuts, j + 1) - element_at(cuts, j)))")))
    d = (_docs(spark, sf_dir)
         .where(F.expr(f"size({_TOKS_SPARK}) > 0")))
    c = d.select("doc_id",
                 F.posexplode(F.expr(chunks)).alias("chunk_idx", "chunk"))
    return c.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_md5"),
    )


def sql_text_chunks_cdc(sf_dir):
    g = _H_SQL.format(c="toks[i-2] || ' ' || toks[i-1] || ' ' || toks[i]")
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        "b AS (SELECT doc_id, toks, [0] || "
        f"list_filter(range(3, len(toks)), i -> ({g}) % {_CDC_DIV} = 0) "
        "|| [len(toks)] cuts FROM t WHERE len(toks) > 0), "
        "c AS (SELECT doc_id, unnest(list_transform(range(1, len(cuts)), "
        "j -> {'chunk_idx': j - 1, "
        "'chunk': list_slice(toks, cuts[j] + 1, cuts[j + 1])})) u FROM b) "
        "SELECT doc_id, u.chunk_idx::BIGINT chunk_idx, "
        "len(u.chunk)::BIGINT n_tokens, "
        "md5(array_to_string(u.chunk, ' ')) chunk_md5 FROM c")


_HLL_BUCKETS = 64        # p=6: 64 registers
_HLL_RMAX = 27           # 26-bit remainder => rho in [1, 27]


def q_text_hll(spark, sf_dir):
    """HyperLogLog register state for distinct-token cardinality per
    source (Flajolet et al. 2007) — the mergeable sketch every
    planet-scale distinct-count runs on, built EXACTLY the same in both
    engines: 32-bit md5 token hash, bucket = h mod 64, rho = leading-
    zero rank of the 26-bit remainder computed via binary-string length
    (integer-exact; no engine-specific HLL implementations involved).
    Registers are max-merged, so duplicate tokens need no distinct pass.
    Emitted per source: the harmonic-sum NUMERATOR sum(2^(27-reg))
    (exact integer — the float estimate alpha*m^2*2^27/harm_num is one
    driver-side division away), nonzero register count, and the
    order-canonical register digest. Scale shape: tokens partial-
    aggregate map-side to <=64 (source, bucket) rows per task, ONE key
    shuffle of pre-aggregated rows, then a per-source assembly — the
    standard distributed HLL merge; register arrays are _let-bound and
    materialized through inline()."""
    d = _docs(spark, sf_dir)
    pairs = d.select(
        "source",
        F.explode(F.expr(
            f"transform(transform({_TOKS_SPARK}, t -> "
            "CAST(conv(substring(md5(t),1,8),16,10) AS BIGINT)), h -> "
            f"named_struct('bucket', h % {_HLL_BUCKETS}, "
            f"'rho', IF(h div {_HLL_BUCKETS} = 0, {_HLL_RMAX}, "
            f"{_HLL_RMAX} - length(conv(h div {_HLL_BUCKETS}, 10, 2)))))"
        )).alias("br"))
    mx = (pairs.groupBy("source", F.col("br.bucket").alias("bucket"))
          .agg(F.max("br.rho").alias("mr")))
    m = (mx.groupBy("source")
         .agg(F.map_from_entries(
             F.collect_list(F.struct("bucket", "mr"))).alias("m")))
    out = _let(
        f"transform(sequence(0, {_HLL_BUCKETS - 1}), "
        "b -> coalesce(element_at(m, cast(b as bigint)), 0))", "regs",
        "named_struct("
        "'harm_num', aggregate(regs, 0L, (acc, g) -> "
        f"acc + shiftleft(1L, {_HLL_RMAX} - g)), "
        "'nonzero_regs', cast(size(filter(regs, g -> g > 0)) as bigint), "
        "'reg_digest', md5(concat_ws(',', "
        "transform(regs, x -> cast(x as string)))))")
    return m.select("source", F.inline(F.array(F.expr(out))))


def sql_text_hll(sf_dir):
    B, R = _HLL_BUCKETS, _HLL_RMAX
    return (
        "WITH tk AS (SELECT source, unnest(" + _TOKS_DUCK
        + ") t FROM documents), "
        "hh AS (SELECT source, ('0x'||substr(md5(t),1,8))::BIGINT h FROM tk), "
        f"br AS (SELECT source, h % {B} bucket, "
        f"CASE WHEN h // {B} = 0 THEN {R} "
        f"ELSE {R} - length(bin(h // {B})) END rho FROM hh), "
        "mx AS (SELECT source, bucket, max(rho) mr FROM br GROUP BY 1, 2), "
        "srcs AS (SELECT DISTINCT source FROM tk), "
        f"grid AS (SELECT s.source, r.b FROM srcs s, range({B}) r(b)), "
        "rg AS (SELECT g.source, g.b, coalesce(mx.mr, 0) reg FROM grid g "
        "LEFT JOIN mx ON mx.source = g.source AND mx.bucket = g.b), "
        "ag AS (SELECT source, list(reg ORDER BY b) regs FROM rg "
        "GROUP BY source) "
        "SELECT source, "
        f"list_sum(list_transform(regs, g -> 1::BIGINT << ({R} - g)))"
        "::BIGINT harm_num, "
        "len(list_filter(regs, g -> g > 0))::BIGINT nonzero_regs, "
        "md5(array_to_string(list_transform(regs, x -> x::VARCHAR), ',')) "
        "reg_digest FROM ag")


_BLOOM_BITS = 256        # 4 int64 words, k=2 md5-derived positions
_BLOOM_PROBES = ("hash", "join", "merge", "quantum", "zebra")


def _bloom_positions(term: str) -> tuple:
    """The two bit positions of a term — same 32-bit md5 hash as both
    engines, h1 = h mod 256, h2 = (h div 256) mod 256 (python replica of
    the in-engine expressions; used to bake probe-term constants into
    the SQL so membership tests are static expressions)."""
    import hashlib
    h = int(hashlib.md5(term.encode()).hexdigest()[:8], 16)
    return h % _BLOOM_BITS, (h // _BLOOM_BITS) % _BLOOM_BITS


def _bloom_hit_term(words: tuple) -> str:
    """SQL fragment counting probe terms whose both bits are set in the
    4-word bloom (words = the four column names); identical text works
    in Spark SQL and DuckDB except the shift operator, handled by the
    caller via .format-style substitution already applied here."""
    terms = []
    for t in _BLOOM_PROBES:
        checks = []
        for pos in _bloom_positions(t):
            w, b = divmod(pos, 64)
            checks.append(
                f"(({words[w]} & shiftleft(1L, {b})) != 0)")
        terms.append(f"IF({' AND '.join(checks)}, 1L, 0L)")
    return " + ".join(terms)


def q_text_bloom(spark, sf_dir):
    """Per-source BLOOM FILTER over the token vocabulary — 256 bits as
    four int64 words, k=2 positions from one md5 hash, built with exact
    integer ops so both engines emit identical words. The scan-pruning
    primitive: a reader holding these 4 words skips any source whose
    bloom misses every probe term (no false negatives; false-positive
    rate (1-e^(-2n/256))^2, reported via n_set_bits). Per doc the word
    quad is a row-wise fold over the _let-bound token-hash array; per
    source the quads merge with bit_or — partial-aggregated map-side,
    ONE shuffle of 4-word rows, the same mergeable-sketch shape as
    text_hll. probe_hits evaluates a static membership expression for
    five fixed probe terms (constants baked from the python md5 replica
    — three present in every corpus, two absent)."""
    contrib = []
    for k in range(2):
        pos = f"(h div {_BLOOM_BITS ** k}) % {_BLOOM_BITS}"
        contrib.append(f"IF(({pos}) div 64 = w, "
                       f"shiftleft(1L, ({pos}) % 64), 0L)")
    words = _let(
        f"transform({_TOKS_SPARK}, t -> "
        "CAST(conv(substring(md5(t),1,8),16,10) AS BIGINT))", "hs",
        "transform(sequence(0, 3), w -> aggregate(hs, 0L, "
        f"(acc, h) -> acc | {' | '.join(contrib)}))")
    q = _let(words, "ws",
             "named_struct('w0', element_at(ws, 1), "
             "'w1', element_at(ws, 2), 'w2', element_at(ws, 3), "
             "'w3', element_at(ws, 4))")
    per_doc = _docs(spark, sf_dir).select(
        "source", F.inline(F.array(F.expr(q))))
    merged = per_doc.groupBy("source").agg(
        F.expr("bit_or(w0)").alias("w0"), F.expr("bit_or(w1)").alias("w1"),
        F.expr("bit_or(w2)").alias("w2"), F.expr("bit_or(w3)").alias("w3"))
    hits = _bloom_hit_term(("w0", "w1", "w2", "w3"))
    return merged.select(
        "source", "w0", "w1", "w2", "w3",
        F.expr("cast(bit_count(w0) + bit_count(w1) + bit_count(w2) "
               "+ bit_count(w3) as bigint)").alias("n_set_bits"),
        F.expr(f"cast({hits} as bigint)").alias("probe_hits"))


def sql_text_bloom(sf_dir):
    # bit 63 is int64's sign bit: DuckDB raises on 1::BIGINT << 63
    # (Spark's shiftleft wraps to long-min), so branch to the literal
    lmin = "-9223372036854775808"
    contrib = []
    for k in range(2):
        pos = f"(h // {_BLOOM_BITS ** k}) % {_BLOOM_BITS}"
        contrib.append(
            f"CASE WHEN ({pos}) // 64 = w THEN "
            f"(CASE WHEN ({pos}) % 64 = 63 THEN {lmin} "
            f"ELSE 1::BIGINT << (({pos}) % 64) END) ELSE 0 END")
    terms = []
    for t in _BLOOM_PROBES:
        checks = []
        for pos in _bloom_positions(t):
            w, b = divmod(pos, 64)
            mask = lmin if b == 63 else f"(1::BIGINT << {b})"
            checks.append(f"((w{w} & {mask}) != 0)")
        terms.append(
            f"CASE WHEN {' AND '.join(checks)} THEN 1 ELSE 0 END")
    hits = " + ".join(terms)
    return (
        "WITH tk AS (SELECT source, unnest(" + _TOKS_DUCK
        + ") t FROM documents), "
        "hh AS (SELECT source, ('0x'||substr(md5(t),1,8))::BIGINT h FROM tk), "
        # OR the two per-position contributions, never add: a token
        # whose two bloom positions coincide (~1/256 of vocabulary)
        # must set its bit once — '+' doubles it into the wrong bit
        # (or overflows at bit 63), as Spark's 'acc | c0 | c1' does not
        "pw AS (SELECT source, w, bit_or("
        + " | ".join(f"({c})" for c in contrib)
        + ") wv FROM hh, range(4) r(w) GROUP BY source, w), "
        "m AS (SELECT source, "
        "max(CASE WHEN w = 0 THEN wv END) w0, "
        "max(CASE WHEN w = 1 THEN wv END) w1, "
        "max(CASE WHEN w = 2 THEN wv END) w2, "
        "max(CASE WHEN w = 3 THEN wv END) w3 FROM pw GROUP BY source) "
        "SELECT source, w0, w1, w2, w3, "
        "(bit_count(w0) + bit_count(w1) + bit_count(w2) + bit_count(w3))"
        "::BIGINT n_set_bits, "
        f"({hits})::BIGINT probe_hits FROM m")


_PMI_MIN_COUNT = 3       # bigram support floor
_PMI_SCALE = 1_000_000   # integer PMI-ratio scale
_PMI_TOPK = 10


def q_text_pmi(spark, sf_dir):
    """Top collocations by pointwise mutual information — the word-
    association statistic (Church & Hanks 1990) ranked in EXACT integer
    arithmetic: PMI = log(c_xy*T/(c_x*c_y)) is monotone in its ratio
    argument, so the rank key is that ratio in fixed point, computed
    division-first as ((c_xy*10^6 div c_x) * T) div c_y — c_xy <= c_x
    bounds the first quotient by 10^6, so the largest intermediate is
    T*10^6, safe in int64 to T ~ 9*10^12 tokens (the naive
    c_xy*T*10^6 product overflows at corpus sizes the support floor
    does nothing to prevent — review finding). The 10^-6 quantization
    of p(y|x) is part of the rank-key definition; both engines evaluate
    the identical division sequence, so scores are bit-equal. Shape:
    adjacent-pair explode partial-aggregates to bigram counts, unigram
    counts join back on each side (vocabulary-keyed equi-joins AQE is
    free to broadcast), the corpus total rides a one-row broadcast
    cross join, and top-k is a global orderBy-limit with a full
    (score, tok_a, tok_b) tiebreak."""
    d = (_docs(spark, sf_dir)
         .select(F.explode(F.expr(_let(
             _TOKS_SPARK, "toks",
             "CASE WHEN size(toks) < 2 THEN "
             "cast(array() as array<struct<x:string, y:string>>) "
             "ELSE transform(sequence(1, size(toks) - 1), i -> "
             "named_struct('x', element_at(toks, i), "
             "'y', element_at(toks, i + 1))) END"))).alias("bg")))
    big = (d.groupBy(F.col("bg.x").alias("x"), F.col("bg.y").alias("y"))
           .agg(F.count(F.lit(1)).alias("c_xy"))
           .where(F.col("c_xy") >= _PMI_MIN_COUNT))
    uni = (_docs(spark, sf_dir)
           .select(F.explode(F.expr(_TOKS_SPARK)).alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    tot = uni.agg(F.sum("c").alias("T"))
    j = (big.join(uni.select(F.col("t").alias("x"),
                             F.col("c").alias("c_x")), "x")
         .join(uni.select(F.col("t").alias("y"),
                          F.col("c").alias("c_y")), "y")
         .crossJoin(F.broadcast(tot)))
    scored = j.select(
        F.col("x").alias("tok_a"), F.col("y").alias("tok_b"),
        F.col("c_xy").cast("long").alias("c_ab"),
        F.expr(f"((c_xy * {_PMI_SCALE} div c_x) * T) div c_y")
        .alias("score_q"))
    return (scored.orderBy(F.desc("score_q"), "tok_a", "tok_b")
            .limit(_PMI_TOPK))


def sql_text_pmi(sf_dir):
    return (
        "WITH t AS (SELECT " + _TOKS_DUCK + " toks FROM documents), "
        "bg AS (SELECT unnest(list_transform(range(1, len(toks)), i -> "
        "{'x': toks[i], 'y': toks[i+1]})) u FROM t WHERE len(toks) >= 2), "
        "big AS (SELECT u.x x, u.y y, count(*) c_xy FROM bg GROUP BY 1, 2 "
        f"HAVING count(*) >= {_PMI_MIN_COUNT}), "
        "tk AS (SELECT unnest(toks) tok FROM t), "
        "uni AS (SELECT tok, count(*) c FROM tk GROUP BY tok), "
        "tt AS (SELECT sum(c)::BIGINT T FROM uni) "
        "SELECT big.x tok_a, big.y tok_b, c_xy::BIGINT c_ab, "
        f"(((c_xy * {_PMI_SCALE}) // ux.c) * T) // uy.c score_q "
        "FROM big JOIN uni ux ON ux.tok = big.x "
        "JOIN uni uy ON uy.tok = big.y, tt "
        f"ORDER BY score_q DESC, tok_a, tok_b LIMIT {_PMI_TOPK}")


_POSTINGS_MIN_DF = 10


def q_text_postings(spark, sf_dir):
    """Inverted-index POSTINGS build — the search-infra primitive: per
    term above a document-frequency floor emit df, total term frequency,
    doc-id extent, and the md5 digest of the doc_id-ordered 'doc:tf'
    posting list. Shape: token explode partial-aggregates to (term,
    doc) tf rows, then one term-keyed shuffle assembles postings. The
    per-term collect_list is bounded by df — a production writer shards
    stopword-grade terms by (term, doc-range) before the digest, the
    same segmentation events_sessionize_chunked demonstrates; the df
    floor here keeps the gate output vocabulary-sized."""
    tf = (_docs(spark, sf_dir)
          .select("doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("term"))
          .groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf")))
    return (tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.sum("tf").alias("tf_total"),
                 F.min("doc_id").alias("doc_min"),
                 F.max("doc_id").alias("doc_max"),
                 F.md5(F.concat_ws(",", F.expr(
                     "transform(array_sort(collect_list("
                     "named_struct('d', doc_id, 'tf', tf))), "
                     "e -> concat(cast(e.d as string), ':', "
                     "cast(e.tf as string)))"))).alias("postings_md5"))
            .where(F.col("df") >= _POSTINGS_MIN_DF)
            .select("term", F.col("df").cast("long").alias("df"),
                    F.col("tf_total").cast("long").alias("tf_total"),
                    "doc_min", "doc_max", "postings_md5"))


def sql_text_postings(sf_dir):
    return (
        "WITH tk AS (SELECT doc_id, unnest(" + _TOKS_DUCK
        + ") term FROM documents), "
        "tf AS (SELECT term, doc_id, count(*) tf FROM tk GROUP BY 1, 2) "
        "SELECT term, count(*)::BIGINT df, sum(tf)::BIGINT tf_total, "
        "min(doc_id) doc_min, max(doc_id) doc_max, "
        "md5(string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ',' "
        "ORDER BY doc_id)) postings_md5 "
        f"FROM tf GROUP BY term HAVING count(*) >= {_POSTINGS_MIN_DF}")


_CMS_D = 4               # count-min sketch hash rows
_CMS_W = 64              # counters per row


def _cms_slot(i: int, term: str) -> int:
    """Python replica of the in-engine CMS slot hash (row-major index);
    used to bake the probe-term counter positions into both SQL texts."""
    import hashlib
    h = int(hashlib.md5(f"{i}:{term}".encode()).hexdigest()[:8], 16)
    return i * _CMS_W + h % _CMS_W


def q_text_cms(spark, sf_dir):
    """COUNT-MIN SKETCH of per-source token frequencies (Cormode &
    Muthukrishnan 2005) — the third mergeable sketch alongside text_hll
    and text_bloom: 4 hash rows x 64 counters, slot hashes derived from
    md5('row:token') so both engines build bit-identical state, counters
    merge by plain addition (what lets every executor sketch its split
    and a reducer sum them). Emits the row-major counter digest, the
    exact token total (row 0's sum — every token lands once per row),
    and the CMS frequency ESTIMATE for the five fixed probe terms
    (min over rows of the term's counter — ALWAYS >= the true count,
    the sketch's one-sided error contract, pinned in test). Scale
    shape: token explode partial-aggregates to <=256 (source, slot)
    rows per task, ONE key shuffle, per-source assembly."""
    # the 4 slot md5s run on the DISTINCT (source, token) table, not per
    # occurrence (VERDICT r5 item 2): the pre-count groupBy partial-
    # aggregates map-side, so the shuffle carries distinct tokens and
    # the hash work drops by the corpus repetition factor; summing the
    # occurrence counts into slots yields the identical counter grid
    tc = (_docs(spark, sf_dir)
          .select("source", F.explode(F.expr(_TOKS_SPARK)).alias("t"))
          .groupBy("source", "t").agg(F.count(F.lit(1)).alias("n")))
    slots = tc.select("source", "n", F.explode(F.expr(
        f"transform(sequence(0, {_CMS_D - 1}), i -> "
        f"i * {_CMS_W} + CAST(conv(substring(md5(concat("
        "cast(i as string), ':', t)),1,8),16,10) AS BIGINT) "
        f"% {_CMS_W})")).alias("slot"))
    cnt = (slots.groupBy("source", "slot")
           .agg(F.sum("n").alias("c")))
    m = (cnt.groupBy("source")
         .agg(F.map_from_entries(
             F.collect_list(F.struct("slot", "c"))).alias("m")))
    ests = ", ".join(
        f"'est_{t}', least(" + ", ".join(
            f"element_at(cnts, {_cms_slot(i, t) + 1})"
            for i in range(_CMS_D)) + ")"
        for t in _BLOOM_PROBES)
    out = _let(
        f"transform(sequence(0, {_CMS_D * _CMS_W - 1}), "
        "s -> coalesce(element_at(m, cast(s as bigint)), 0L))", "cnts",
        "named_struct("
        f"'n_tokens', aggregate(slice(cnts, 1, {_CMS_W}), 0L, "
        "(acc, c) -> acc + c), "
        "'cms_digest', md5(concat_ws(',', "
        f"transform(cnts, x -> cast(x as string)))), {ests})")
    return m.select("source", F.inline(F.array(F.expr(out))))


def sql_text_cms(sf_dir):
    D, W = _CMS_D, _CMS_W
    ests = ", ".join(
        "least(" + ", ".join(
            f"cnts[{_cms_slot(i, t) + 1}]" for i in range(D))
        + f") est_{t}" for t in _BLOOM_PROBES)
    return (
        "WITH tk AS (SELECT source, unnest(" + _TOKS_DUCK
        + ") t FROM documents), "
        f"sl AS (SELECT source, i * {W} + "
        "('0x'||substr(md5(i::VARCHAR || ':' || t),1,8))::BIGINT "
        f"% {W} slot FROM tk, range({D}) r(i)), "
        "ct AS (SELECT source, slot, count(*) c FROM sl GROUP BY 1, 2), "
        "srcs AS (SELECT DISTINCT source FROM tk), "
        f"grid AS (SELECT s.source, g.s FROM srcs s, range({D * W}) g(s)), "
        "rg AS (SELECT g.source, g.s, coalesce(ct.c, 0)::BIGINT c "
        "FROM grid g LEFT JOIN ct ON ct.source = g.source "
        "AND ct.slot = g.s), "
        "ag AS (SELECT source, list(c ORDER BY s) cnts FROM rg "
        "GROUP BY source) "
        "SELECT source, "
        f"list_sum(list_slice(cnts, 1, {W}))::BIGINT n_tokens, "
        "md5(array_to_string(list_transform(cnts, x -> x::VARCHAR), ',')) "
        f"cms_digest, {ests} FROM ag")


def q_graph_triangles(spark, sf_dir):
    """TRIANGLE enumeration over the verified near-dup pair graph — the
    densest-cluster signal (a triangle means three mutually-near-dup
    docs, i.e. a clique seed the pairwise view understates). Implemented
    as the compact-forward algorithm's join form: edges oriented
    low->high (the LSH pairs already are), wedge join on the middle
    node, closing-edge semi-check — each triangle (a<b<c) is emitted
    exactly once, and the wedge fan-out is bounded by the oriented
    out-degree, the property that keeps compact-forward subquadratic on
    power-law graphs where a naive 3-way symmetric join explodes on the
    hub. Runs on the (tiny) pair graph only; the corpus is never
    re-read — the dedup_clusters scale contract. The edge frame is
    localCheckpoint'd before the triple self-join: without it each of
    the three branches re-derives the whole LSH pipeline from the raw
    parquet (12 FileScans measured — review finding), tripling the
    job's most expensive stage."""
    e = (q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
         .localCheckpoint())
    ab = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    bc = e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    ac = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    return tri.select(F.col("a").alias("doc_a"),
                      F.col("b").alias("doc_b"),
                      F.col("c").alias("doc_c"))


def sql_graph_triangles(sf_dir):
    return (
        "WITH p AS (SELECT doc_a, doc_b FROM ("
        + sql_dedup_minhash_lsh(sf_dir) + ") q) "
        "SELECT e1.doc_a doc_a, e1.doc_b doc_b, e2.doc_b doc_c "
        "FROM p e1 JOIN p e2 ON e2.doc_a = e1.doc_b "
        "JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b")


_SPLIT_BOUNDS = (("train", 0, 80), ("val", 80, 90), ("test", 90, 100))


def q_dataset_split(spark, sf_dir):
    """Deterministic TRAIN/VAL/TEST split report — the release step of
    every corpus build: md5(doc_id) mod 100 buckets 80/10/10 (the same
    hash-mod family as sample_hash, so splits are stable across reruns,
    engines and corpus growth — a doc's split never changes when
    neighbors are added), with per-split doc count, token mass, and the
    order-canonical md5 digest of member doc_ids as the manifest a
    release would pin. One scan, one tiny key shuffle of pre-aggregated
    rows; the digest's collect_list is per-split — the production
    manifest writes ids to files instead, same plan."""
    b = F.when(
        (_h(F.col("doc_id").cast("string")) % 100) < 80, "train").when(
        (_h(F.col("doc_id").cast("string")) % 100) < 90, "val").otherwise(
        "test")
    d = (_docs(spark, sf_dir)
         .select(b.alias("split"), "doc_id",
                 F.expr(f"size({_TOKS_SPARK})").alias("ntok")))
    return (d.groupBy("split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("ntok").cast("long").alias("n_tokens"),
                 F.md5(F.concat_ws(",", F.expr(
                     "transform(array_sort(collect_list(doc_id)), "
                     "x -> cast(x as string))"))).alias("ids_md5")))


def sql_dataset_split(sf_dir):
    h = _H_SQL.format(c="doc_id::VARCHAR")
    return (
        f"WITH d AS (SELECT CASE WHEN {h} % 100 < 80 THEN 'train' "
        f"WHEN {h} % 100 < 90 THEN 'val' ELSE 'test' END split, doc_id, "
        "len(" + _TOKS_DUCK + ") ntok FROM documents) "
        "SELECT split, count(*)::BIGINT n_docs, sum(ntok)::BIGINT n_tokens, "
        "md5(string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)) ids_md5 "
        "FROM d GROUP BY split")


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def q_doc_profile(spark, sf_dir):
    """ANALYZE-TABLE-style data profile of the documents table: per
    column, row count, null count, EXACT distinct count, and min/max
    (computed in the column's own type, then rendered as strings so the
    report is one homogeneous frame — int64/string columns only here,
    so the rendering is drift-free). Shape: one branch per column,
    UNIONed — each branch's scan prunes to a single parquet column
    (the columnar win: profiling 5 of 500 columns reads 1% of the
    bytes), each is a full-column aggregate with map-side partials.
    Production profilers swap the exact distinct for text_hll's sketch
    once cardinality outgrows the agg hash table; the exact form IS the
    oracle here."""
    d = _docs(spark, sf_dir)
    parts = []
    for c in _PROFILE_COLS:
        parts.append(d.agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long").alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("string").alias("min_val"),
            F.max(c).cast("string").alias("max_val")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def sql_doc_profile(sf_dir):
    parts = [
        f"SELECT '{c}' \"column\", count(*)::BIGINT n_rows, "
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT n_nulls, "
        f"count(DISTINCT {c})::BIGINT n_distinct, "
        f"min({c})::VARCHAR min_val, max({c})::VARCHAR max_val "
        "FROM documents" for c in _PROFILE_COLS]
    return " UNION ALL ".join(parts)


_BPE_ROUNDS = 3


def _bpe_train(spark, sf_dir):
    """Shared BPE training loop → (final weighted vocab frame with the
    fully-merged chr(1)-separated `sym` column, merge list). See
    q_text_bpe for the design rationale; q_text_bpe emits the merge
    table, q_text_bpe_encode applies the final vocab to the corpus."""
    toks = (_docs(spark, sf_dir)
            .select(F.explode(F.expr(_TOKS_SPARK)).alias("t"))
            .groupBy("t").agg(F.count(F.lit(1)).alias("wc")))
    df = toks.withColumn("sym", F.expr(
        "array_join(transform(sequence(1, length(t)), "
        "i -> substring(t, i, 1)), chr(1))")).persist()
    _register_persisted(df)
    merges = []
    for rank in range(1, _BPE_ROUNDS + 1):
        top = (df.select("wc", F.expr("split(sym, chr(1))").alias("s"))
               .where(F.expr("size(s) >= 2"))
               .select("wc", F.explode(F.expr(
                   "transform(sequence(1, size(s) - 1), i -> "
                   "named_struct('lhs', element_at(s, i), "
                   "'rhs', element_at(s, i + 1)))")).alias("p"))
               .groupBy(F.col("p.lhs").alias("lhs"),
                        F.col("p.rhs").alias("rhs"))
               .agg(F.sum("wc").alias("cnt"))
               .orderBy(F.desc("cnt"), "lhs", "rhs").limit(1).collect())
        if not top:  # degenerate corpus of single-char words
            break
        lhs, rhs, cnt = top[0]["lhs"], top[0]["rhs"], int(top[0]["cnt"])
        merges.append((rank, lhs, rhs, cnt))
        # Apply the merge as a fold over the SYMBOL LIST, not a string
        # replace on the joined form: replace(sym, lhs||chr(1)||rhs, ..)
        # matches across symbol boundaries (symbols ['aa','b'] contain
        # the substring 'a'||chr(1)||'b', so a learned (a,b) merge would
        # wrongly fuse (aa,b)). The fold checks the LAST WHOLE SYMBOL:
        # fuse x onto acc iff x = rhs and acc's trailing symbol = lhs
        # (acc is exactly lhs, or acc ends with separator||lhs — the
        # separator anchor makes partial-symbol suffixes like 'aa' vs
        # 'a' non-matches). Leftmost-greedy non-overlap falls out: a
        # just-fused tail is lhs||rhs, never lhs again. lhs/rhs travel
        # as F.lit so no SQL-literal escaping of corpus bytes is needed.
        syms = F.expr("split(sym, chr(1))")
        sep = F.lit("\x01")
        df = df.withColumn("sym", F.aggregate(
            F.slice(syms, F.lit(2), F.greatest(F.size(syms) - 1, F.lit(0))),
            F.element_at(syms, 1),
            lambda acc, x: F.when(
                (x == F.lit(rhs))
                & ((acc == F.lit(lhs)) | acc.endswith(F.concat(sep, F.lit(lhs)))),
                F.concat(acc, x)
            ).otherwise(F.concat(acc, sep, x))))
    return df, merges


def q_text_bpe(spark, sf_dir):
    """BPE MERGE-TABLE TRAINING (Sennrich et al. 2016) — the tokenizer-
    construction step of every LLM data pipeline: start from character
    symbols, repeatedly count adjacent symbol pairs across the corpus
    and merge the most frequent one; emit the learned merge table
    (rank, lhs, rhs, pair_count). Three design moves make this exact,
    distributed, and cross-engine: (1) training runs on the DISTINCT
    word table weighted by occurrence counts (vocabulary-sized, the
    standard BPE trick — the corpus explodes once, ever); (2) the
    symbol state is a chr(1)-separated string and a merge applies as a
    LEFT FOLD over the split symbol list, fusing x onto the accumulator
    iff x = rhs and the accumulator's trailing WHOLE symbol = lhs —
    never a string replace, which matches lhs across symbol boundaries
    (['aa','b'] contains 'a'||chr(1)||'b', so a learned (a,b) merge
    would wrongly fuse (aa,b); pinned by the round-5 boundary test);
    greedy leftmost non-overlap falls out because a just-fused tail is
    lhs||rhs, never lhs again (assumes chr(1) never appears in corpus
    tokens); (3) the winning pair per round is a total order (count
    desc, lhs, rhs), collected driver-side like the k-means centroids,
    so the next round's fold literals live in the expression tree.
    Each round costs one
    vocabulary scan + one partial-aggregated pair-count shuffle +
    a driver top-1; the oracle unrolls the rounds as CTEs."""
    _vocab, merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "rank long, lhs string, rhs string, pair_count long")


def q_text_bpe_encode(spark, sf_dir):
    """BPE ENCODE — the trained merge table APPLIED to the corpus: per
    document, the word count and the total BPE symbol count under the
    learned tokenizer (the number every token-budget packer actually
    needs; text_pack's whitespace counting is its pre-tokenizer proxy).
    Shape: encoding happens on the DISTINCT weighted vocabulary (each
    unique word's merged symbol string is already the training state's
    final round — zero extra merge work), so the corpus pays exactly one
    explode + one word-keyed join against the vocabulary-sized symbol
    table + a per-doc sum; docs with no tokens survive via left join."""
    vocab, _merges = _bpe_train(spark, sf_dir)
    wsym = vocab.select(
        "t", F.size(F.expr("split(sym, chr(1))")).cast("long").alias("ns"))
    dt = (_docs(spark, sf_dir)
          .select("doc_id", F.explode(F.expr(_TOKS_SPARK)).alias("t")))
    enc = (dt.join(wsym, "t")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                F.sum("ns").cast("long").alias("n_symbols")))
    return (_docs(spark, sf_dir).select("doc_id").join(enc, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_words", F.lit(0)).alias("n_words"),
                    F.coalesce("n_symbols", F.lit(0)).alias("n_symbols")))


def _sql_bpe_ctes():
    """Shared CTE chain for the BPE family: training unrolled round by
    round. Returns (parts, per-round merge SELECTs, final vocab CTE)."""
    parts = [
        "WITH w AS (SELECT t, count(*) wc FROM (SELECT unnest("
        + _TOKS_DUCK + ") t FROM documents) GROUP BY t), "
        "s0 AS (SELECT t, wc, array_to_string(list_transform("
        "range(1, length(t) + 1), i -> t[i]), chr(1)) sym FROM w)"]
    prev = "s0"
    outs = []
    for rank in range(1, _BPE_ROUNDS + 1):
        # DuckDB range() is end-exclusive: single-symbol words yield an
        # empty pair list with no guard needed
        parts.append(
            f"p{rank} AS (SELECT u.lhs, u.rhs, sum(wc) cnt FROM ("
            f"SELECT wc, unnest(list_transform(range(1, len(s)), i -> "
            "{'lhs': s[i], 'rhs': s[i+1]})) u FROM ("
            f"SELECT wc, string_split(sym, chr(1)) s FROM {prev})) "
            "GROUP BY 1, 2), "
            f"m{rank} AS (SELECT lhs, rhs, cnt FROM p{rank} "
            "ORDER BY cnt DESC, lhs, rhs LIMIT 1), "
            # symbol-list fold, mirroring the Spark side: fuse x onto
            # acc iff x = rhs and acc's trailing WHOLE symbol = lhs —
            # a plain string replace would match lhs across symbol
            # boundaries (['aa','b'] contains 'a'||chr(1)||'b').
            # LEFT JOIN ON true, not a cross join: on a degenerate
            # corpus a round can find no pair (m{rank} empty), and the
            # cross join would erase the vocabulary where the Spark
            # loop just stops merging — NULL merge keeps sym unchanged
            f"s{rank} AS (SELECT t, wc, "
            "CASE WHEN m.lhs IS NULL THEN sym ELSE "
            "list_reduce(string_split(sym, chr(1)), (acc, x) -> "
            "CASE WHEN x = m.rhs AND (acc = m.lhs OR "
            "ends_with(acc, chr(1) || m.lhs)) THEN acc || x "
            f"ELSE acc || chr(1) || x END) END sym "
            f"FROM {prev} LEFT JOIN m{rank} m ON true)")
        outs.append(f"SELECT {rank}::BIGINT rank, lhs, rhs, "
                    f"cnt::BIGINT pair_count FROM m{rank}")
        prev = f"s{rank}"
    return parts, outs, prev


def sql_text_bpe(sf_dir):
    parts, outs, _prev = _sql_bpe_ctes()
    return ", ".join(parts) + " " + " UNION ALL ".join(outs)


def sql_text_bpe_encode(sf_dir):
    parts, _outs, prev = _sql_bpe_ctes()
    return (
        ", ".join(parts)
        + f", v AS (SELECT t, len(string_split(sym, chr(1))) ns "
        f"FROM {prev}), "
        "dt AS (SELECT doc_id, unnest(" + _TOKS_DUCK + ") t "
        "FROM documents), "
        "e AS (SELECT doc_id, count(*) nw, sum(ns) nsym FROM dt "
        "JOIN v USING (t) GROUP BY doc_id) "
        "SELECT d.doc_id, COALESCE(e.nw, 0)::BIGINT n_words, "
        "COALESCE(e.nsym, 0)::BIGINT n_symbols "
        "FROM documents d LEFT JOIN e USING (doc_id)")


def q_text_tfidf(spark, sf_dir):
    """Per-document top-3 salient terms by tf·(N/df) — the corpus-stats-
    broadcast-back pattern: term document frequencies are aggregated once
    (vocabulary-sized), broadcast, and joined against per-doc term counts;
    ranking is a per-doc window. The idf factor is the RAW ratio N/df
    (not log): int64 inputs + one IEEE division are bit-identical across
    engines, where ln() could differ in the last ulp between libms."""
    d = (_docs(spark, sf_dir)
         .withColumn("toks", F.expr(_TOKS_SPARK))
         .select("doc_id", F.explode("toks").alias("term")))
    d = d.persist()
    _register_persisted(d)
    n_docs = _docs(spark, sf_dir).count()
    tf = d.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = (d.select("doc_id", "term").distinct()
          .groupBy("term").agg(F.count("*").alias("df")))
    scored = (tf.join(F.broadcast(df), "term")
              .withColumn("score", F.round(
                  (F.col("tf") * F.lit(n_docs)).cast("double") / F.col("df"),
                  6)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= 3)
            .select("doc_id", "rank", "term", "score"))


def sql_text_tfidf(sf_dir):
    return (
        "WITH tk AS (SELECT doc_id, unnest(" + _TOKS_DUCK + ") term "
        "FROM documents), "
        "tf AS (SELECT doc_id, term, count(*) tf FROM tk GROUP BY 1, 2), "
        "df AS (SELECT term, count(DISTINCT doc_id) df FROM tk GROUP BY 1), "
        "n AS (SELECT count(*) n FROM documents), "
        "s AS (SELECT tf.doc_id, tf.term, "
        "round((tf.tf * n.n)::DOUBLE / df.df, 6) score "
        "FROM tf JOIN df USING (term), n), "
        "r AS (SELECT doc_id, term, score, row_number() OVER "
        "(PARTITION BY doc_id ORDER BY score DESC, term ASC) rank FROM s) "
        "SELECT doc_id, rank, term, score FROM r WHERE rank <= 3")


# --- BM25 retrieval ---------------------------------------------------------
# Query term sets are driver literals (the k-means/sample_mix pattern:
# query-time constants live driver-side in any search engine). Constants
# k1=1.2, b=0.75 are the standard Robertson defaults. Cross-engine float
# discipline: idf uses the RAW Robertson ratio (2(N-df)+1)/(2df+1) — the
# ln() of classic BM25 is a per-term monotone the two libms could disagree
# on in the last ulp, while integer inputs + one IEEE division are
# bit-identical (same trick as text_tfidf); the per-term contributions are
# summed in FIXED WRITTEN ORDER (term-sorted) as an explicit a+b+c
# expression, never a group-aggregate, so the double additions happen in
# the same order on both engines.
_BM25_QUERIES = {0: ("hash", "join", "merge"),
                 1: ("scan", "sort", "window"),
                 2: ("batch", "stream")}
_BM25_VOCAB = sorted({t for ts in _BM25_QUERIES.values() for t in ts})
_BM25_TOPK = 10


def q_text_bm25(spark, sf_dir):
    """BM25 top-10 retrieval per literal query over the documents table —
    tf saturation (k1=1.2) + doc-length normalization (b=0.75), the
    ranking function behind every lexical retrieval / RAG-curation stage.
    Shape at 100 TB: one corpus scan builds per-doc tf for the tiny query
    vocabulary (filter BEFORE the tf aggregation, so the shuffle carries
    only query-term hits); df/N/total-token stats for the vocabulary are
    collected driver-side (search engines store exactly these in the
    term dictionary) and enter the score as literals; ranking is a
    per-query window top-k. Scoring math is log-free and
    fixed-evaluation-order for bit-identical cross-engine results (see
    block comment)."""
    d = (_docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
         .select("doc_id", F.size("toks").alias("dl"),
                 F.explode_outer(F.expr(
                     f"filter(toks, t -> t IN {_sql_strset(_BM25_VOCAB)})"))
                 .alias("term")))
    tf = (d.groupBy("doc_id", "dl", "term")
          .agg(F.count(F.col("term")).alias("tf")).persist())
    _register_persisted(tf)
    base = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
    n_docs = base.count()
    total_toks = base.agg(F.sum(F.size("toks"))).collect()[0][0]
    dfs = {r["term"]: r["df"] for r in
           tf.where(F.col("term").isNotNull())
           .groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
           .collect()}
    piv = (tf.groupBy("doc_id", "dl")
           .agg(*[F.max(F.when(F.col("term") == t, F.col("tf")))
                  .alias(f"tf_{i}") for i, t in enumerate(_BM25_VOCAB)]))
    out = []
    for qid, terms in sorted(_BM25_QUERIES.items()):
        contribs = []
        for t in sorted(terms):
            i = _BM25_VOCAB.index(t)
            df = dfs.get(t, 0)
            idf = f"(cast({2 * (n_docs - df) + 1} as double) / {2 * df + 1})"
            sat = (f"(tf_{i} * 2.2) / (tf_{i} + 1.2 * (0.25 + 0.75 * "
                   f"((cast(dl as bigint) * {n_docs}) / {total_toks})))")
            contribs.append(
                f"(CASE WHEN tf_{i} IS NOT NULL THEN {idf} * {sat} "
                f"ELSE cast(0.0 as double) END)")
        out.append(piv.select(
            F.lit(qid).cast("long").alias("qid"), "doc_id",
            F.round(F.expr(" + ".join(contribs)), 6).alias("score")))
    scored = out[0]
    for o in out[1:]:
        scored = scored.unionAll(o)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= _BM25_TOPK)
            .select("qid", "rank", "doc_id", "score"))


def _sql_strset(terms):
    return "(" + ", ".join(f"'{t}'" for t in terms) + ")"


def sql_text_bm25(sf_dir):
    vocab_in = _sql_strset(_BM25_VOCAB)
    pivots = ", ".join(
        f"max(CASE WHEN term = '{t}' THEN tf END) tf_{i}"
        for i, t in enumerate(_BM25_VOCAB))
    branches = []
    for qid, terms in sorted(_BM25_QUERIES.items()):
        contribs = []
        for t in sorted(terms):
            i = _BM25_VOCAB.index(t)
            idf = (f"((2 * ((SELECT n FROM nn) - (SELECT df FROM dfs "
                   f"WHERE term = '{t}')) + 1)::DOUBLE / "
                   f"(2 * (SELECT df FROM dfs WHERE term = '{t}') + 1))")
            sat = (f"(tf_{i} * 2.2) / (tf_{i} + 1.2 * (0.25 + 0.75 * "
                   f"((dl * (SELECT n FROM nn)) / (SELECT tt FROM tot))))")
            contribs.append(
                f"(CASE WHEN tf_{i} IS NOT NULL THEN {idf} * {sat} "
                f"ELSE 0.0::DOUBLE END)")
        branches.append(
            f"SELECT {qid}::BIGINT qid, doc_id, "
            f"round({' + '.join(contribs)}, 6) score FROM piv")
    return (
        "WITH base AS (SELECT doc_id, len(" + _TOKS_DUCK + ") dl, "
        + _TOKS_DUCK + " toks FROM documents), "
        "nn AS (SELECT count(*) n FROM base), "
        "tot AS (SELECT sum(dl) tt FROM base), "
        "tk AS (SELECT doc_id, dl, unnest(toks) term FROM base), "
        f"tf AS (SELECT doc_id, dl, term, count(*) tf FROM tk "
        f"WHERE term IN {vocab_in} GROUP BY 1, 2, 3), "
        "dfs AS (SELECT term, count(DISTINCT doc_id) df FROM tf GROUP BY 1), "
        f"piv AS (SELECT b.doc_id, b.dl, {pivots} FROM base b "
        "LEFT JOIN tf USING (doc_id) GROUP BY 1, 2), "
        "u AS (" + " UNION ALL ".join(branches) + "), "
        "r AS (SELECT qid, doc_id, score, row_number() OVER "
        "(PARTITION BY qid ORDER BY score DESC, doc_id ASC) rank FROM u) "
        f"SELECT qid, rank, doc_id, score FROM r WHERE rank <= {_BM25_TOPK}")


_SURPRISAL_SCALE = 1_000_000


def q_text_surprisal(spark, sf_dir):
    """Unigram surprisal proxy (the log-free perplexity stand-in for
    quality gating): per doc, the mean over its tokens of
    N_corpus_tokens / corpus_count(token), scaled by 1e6 and computed in
    EXACT int64 arithmetic — rare-token-heavy docs score high, a
    boilerplate doc of only common terms scores near 1e6. Integer `div`
    everywhere keeps the per-group sums ORDER-INDEPENDENT (a double sum
    over a shuffled group would hash-diverge between engines). Shape:
    corpus term counts aggregate once (vocabulary-sized), broadcast back
    onto the exploded tokens, one doc-keyed aggregation of longs."""
    tok = (_docs(spark, sf_dir)
           .withColumn("toks", F.expr(_TOKS_SPARK))
           .select("doc_id", F.explode("toks").alias("term"))
           .persist())
    _register_persisted(tok)
    n_total = tok.count()
    ctf = tok.groupBy("term").agg(F.count("*").alias("ctf"))
    return (tok.join(F.broadcast(ctf), "term")
            .withColumn("v", F.expr(
                f"({n_total}L * {_SURPRISAL_SCALE}L) div ctf"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.expr("sum(v) div count(*)").alias("surprisal_x1e6")))


def sql_text_surprisal(sf_dir):
    s = _SURPRISAL_SCALE
    return (
        "WITH tk AS (SELECT doc_id, unnest(" + _TOKS_DUCK + ") term "
        "FROM documents), "
        "ctf AS (SELECT term, count(*) ctf FROM tk GROUP BY 1), "
        "n AS (SELECT count(*) n FROM tk) "
        f"SELECT doc_id, count(*) n_tokens, "
        f"(sum((n.n * {s}) // ctf.ctf))::BIGINT // count(*) surprisal_x1e6 "
        "FROM tk JOIN ctf USING (term), n GROUP BY doc_id")


# PII patterns, the lookaround-free subset RE2 (DuckDB) and
# java.util.regex (Spark) read identically. Deliberately conservative:
# a production run swaps in jurisdiction-specific pattern packs the
# same way (they are broadcast literals in the expression tree).
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def q_text_pii(spark, sf_dir):
    """PII redaction over the EXTRACTED per-turn plain text (emails +
    international phone numbers): per turn, the match counts and the md5
    of the scrubbed text — the compliance scrub every distribution-bound
    corpus runs after extraction. Pure JVM regexp expressions over the
    shared cached kernel output: zero extra kernel work, zero shuffle,
    scrubbed text would flow straight to the sink."""
    d = _extracted_df(spark, sf_dir).select("conv_id", "turn_idx", "text")
    scrub = F.regexp_replace(
        F.regexp_replace("text", _PII_EMAIL, "[EMAIL]"),
        _PII_PHONE, "[PHONE]")
    # F.lit patterns, not F.expr-embedded SQL literals: the SQL parser
    # consumes one level of backslash escaping, silently turning \+
    # into a bare + (PatternSyntaxException at run time)
    return d.select(
        "conv_id", "turn_idx",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0)))
        .cast("long").alias("n_phones"),
        F.md5(scrub).alias("scrubbed_md5"))


def sql_text_pii(sf_dir):
    p = _fixture_path(sf_dir, "expected_plain.parquet")
    scrub = (f"regexp_replace(regexp_replace(text, '{_PII_EMAIL}', "
             f"'[EMAIL]', 'g'), '{_PII_PHONE}', '[PHONE]', 'g')")
    return (f"SELECT conv_id, turn_idx, "
            f"len(regexp_extract_all(text, '{_PII_EMAIL}'))::BIGINT n_emails, "
            f"len(regexp_extract_all(text, '{_PII_PHONE}'))::BIGINT n_phones, "
            f"md5({scrub}) scrubbed_md5 FROM read_parquet('{p}')")


def q_text_perplexity(spark, sf_dir, broadcast: bool = True):
    """Bigram-LM perplexity proxy for quality gating (the n-gram upgrade
    of text_surprisal): per doc, the mean over its bigrams of
    C(prev) / C(prev, cur) — the inverse conditional bigram probability
    under corpus counts — scaled by 1e6 in EXACT int64 arithmetic.
    Fluent text made of corpus-typical transitions scores low; improbable
    transitions (shuffled text, gibberish, OCR noise) score high. The
    linear-space mean stands in for the usual log-space perplexity so the
    whole statistic stays integer-exact and ORDER-INDEPENDENT (doubles
    would hash-diverge between engines under group reordering). Shape:
    one bigram explode (persisted, scanned three times: two
    vocabulary-bounded count aggregations + the scoring pass), counts
    broadcast back onto the stream, one doc-keyed aggregation of longs.
    At 100 TB distinct bigrams can reach 10^10 and outgrow any broadcast
    even after a frequency floor — pass broadcast=False for the
    shuffle-join form (sort-merge on (prev, cur)/(prev), the standard
    big-side count join); a pytest proves both forms value-identical."""
    s = _SURPRISAL_SCALE
    bg = (_docs(spark, sf_dir)
          .withColumn("toks", F.expr(_TOKS_SPARK))
          .where(F.expr("size(toks) >= 2"))
          # slice is 1-based; the lambda index i is 0-based over the
          # sliced tail, so toks[i] (0-based element_at) is the
          # predecessor of t
          .select("doc_id", F.explode(F.expr(
              "transform(slice(toks, 2, size(toks) - 1), "
              "(t, i) -> struct(toks[i] AS prev, t AS cur))")).alias("b"))
          .select("doc_id", "b.prev", "b.cur")
          .persist())
    _register_persisted(bg)
    cb = bg.groupBy("prev", "cur").agg(F.count("*").alias("cbg"))
    cp = bg.groupBy("prev").agg(F.count("*").alias("cpr"))
    if broadcast:
        cb, cp = F.broadcast(cb), F.broadcast(cp)
    return (bg.join(cb, ["prev", "cur"])
            .join(cp, "prev")
            .withColumn("v", F.expr(f"(cpr * {s}L) div cbg"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.expr("sum(v) div count(*)").alias("perplexity_x1e6")))


def sql_text_perplexity(sf_dir):
    s = _SURPRISAL_SCALE
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents), "
        "bg AS (SELECT doc_id, toks[i] prev, toks[i + 1] cur FROM t, "
        "LATERAL unnest(range(1, len(toks))) AS r(i)), "
        "cb AS (SELECT prev, cur, count(*) cbg FROM bg GROUP BY 1, 2), "
        "cp AS (SELECT prev, count(*) cpr FROM bg GROUP BY 1) "
        f"SELECT doc_id, count(*) n_bigrams, "
        f"(sum((cpr * {s}) // cbg))::BIGINT // count(*) perplexity_x1e6 "
        "FROM bg JOIN cb USING (prev, cur) JOIN cp USING (prev) "
        "GROUP BY doc_id")


def q_text_ccnet(spark, sf_dir):
    """CCNet-style perplexity bucketing: split the corpus into
    head/middle/tail tertiles of the bigram-perplexity score — the
    quality partition CCNet (Wenzek et al. 2020) trains on. Thresholds
    are DISCRETE order statistics (the ceil(n/3)-th and ceil(2n/3)-th
    smallest score in (score, doc_id) order — no interpolation, so no
    cross-engine float ulp risk) computed over the deterministic 20%
    md5 sample and applied as driver literals (the sample_mix pattern;
    CCNet itself fixes thresholds on a held-out corpus, so constants-
    by-construction IS the production form — at 10^12 docs the sample
    rank selection becomes approx_percentile or an offline job). The
    corpus pass is then a pure projection over the scored stream.
    Thresholds deliberately take three small jobs over the PERSISTED
    scored frame (count + two orderBy().limit(k).agg(max) passes): each
    compiles to TakeOrderedAndProject — distributed partial top-k —
    whereas the one-pass row_number() alternative would serialize the
    whole sample onto a single task."""
    scored = q_text_perplexity(spark, sf_dir).persist()
    _register_persisted(scored)
    smp = (scored
           .where((_h(F.col("doc_id").cast("string")) % 100) < 20)
           .select("perplexity_x1e6", "doc_id"))
    n = smp.count()
    if n:
        def kth(k):
            return (smp.orderBy("perplexity_x1e6", "doc_id").limit(k)
                    .agg(F.max("perplexity_x1e6")).collect()[0][0])
        t1, t2 = kth((n + 2) // 3), kth((2 * n + 2) // 3)
        t1c, t2c = F.lit(t1), F.lit(t2)
    else:
        t1c = t2c = F.lit(None).cast("long")
    return scored.select(
        "doc_id", "perplexity_x1e6",
        F.when(F.col("perplexity_x1e6") <= t1c, "head")
        .when(F.col("perplexity_x1e6") <= t2c, "middle")
        .otherwise("tail").alias("bucket"))


def sql_text_ccnet(sf_dir):
    h = _H_SQL.format(c="doc_id::VARCHAR")
    return (
        "WITH sc AS (" + sql_text_perplexity(sf_dir) + "), "
        f"smp AS (SELECT perplexity_x1e6 v, doc_id FROM sc "
        f"WHERE {h} % 100 < 20), "
        "r AS (SELECT v, row_number() OVER (ORDER BY v, doc_id) rn, "
        "count(*) OVER () n FROM smp), "
        "th AS (SELECT max(CASE WHEN rn <= (n + 2) // 3 THEN v END) t1, "
        "max(CASE WHEN rn <= (2 * n + 2) // 3 THEN v END) t2 FROM r) "
        "SELECT sc.doc_id, sc.perplexity_x1e6, "
        "CASE WHEN sc.perplexity_x1e6 <= th.t1 THEN 'head' "
        "WHEN sc.perplexity_x1e6 <= th.t2 THEN 'middle' "
        "ELSE 'tail' END bucket "
        "FROM sc, th")


# Blocklist terms, chosen from the corpus vocabulary so the scrub has
# real work to do. At 100 TB the list (LDNOOBW-style, a few thousand
# entries) is read from a side table and folded into the expression tree
# exactly like this literal — same plan, the list is driver-resident
# either way (the centroid-literal pattern, not a join: joining a
# token-level explode against the list would shuffle the corpus).
_BLOCKLIST = ("customer", "spark", "vector")


def q_text_blocklist(spark, sf_dir):
    """Blocklist redaction (C4/RefinedWeb-style term scrub): every
    blocklisted token replaced by [REDACTED] in the token stream; emits
    the hit count and the scrubbed content hash. Pure row-wise array
    transforms — zero shuffle, the corpus is scanned once and the scrubbed
    stream would go straight to the sink (plan-asserted)."""
    bl = ", ".join(f"'{w}'" for w in _BLOCKLIST)
    d = _docs(spark, sf_dir).withColumn("toks", F.expr(_TOKS_SPARK))
    return d.select(
        "doc_id",
        F.expr(f"size(filter(toks, t -> t IN ({bl})))").cast("long")
        .alias("n_hits"),
        F.md5(F.concat_ws(" ", F.expr(
            f"transform(toks, t -> CASE WHEN t IN ({bl}) "
            f"THEN '[REDACTED]' ELSE t END)"))).alias("scrubbed_md5"),
    )


def sql_text_blocklist(sf_dir):
    bl = ", ".join(f"'{w}'" for w in _BLOCKLIST)
    return (
        "WITH t AS (SELECT doc_id, " + _TOKS_DUCK + " toks FROM documents) "
        f"SELECT doc_id, len(list_filter(toks, t -> t IN ({bl})))::BIGINT n_hits, "
        f"md5(array_to_string(list_transform(toks, t -> CASE WHEN t IN ({bl}) "
        f"THEN '[REDACTED]' ELSE t END), ' ')) scrubbed_md5 FROM t")


