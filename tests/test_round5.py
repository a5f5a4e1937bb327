"""Round-5 pins for the ADVICE-flagged semantics:

- BPE merge application must respect symbol boundaries (a learned (a,b)
  merge must NOT fuse (aa,b) just because 'aa'||sep||'b' contains
  'a'||sep||'b') — pinned cross-engine on a corpus crafted so the buggy
  string-replace form and the correct symbol-fold form diverge at round 3.
- Winnowing must agree cross-engine on zero-token documents (Spark
  concat_ws('') vs DuckDB array_to_string(NULL) made them diverge; both
  engines now gate empty docs out).
- The funnel fold must reproduce the chained-conditional-min semantics
  (strictly-after ordering, ties, missing stages) — the rewrite changed
  the evaluation strategy, not the answer.
"""
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from pdftext_spark.registry.relational import q_events_funnel
from pdftext_spark.registry.textqual import (
    q_text_bpe, q_text_winnow, sql_text_bpe, sql_text_winnow)


def _write_docs(tmp_path, texts):
    pl = [{"doc_id": i + 1, "source": "s", "lang": "en", "text": t}
          for i, t in enumerate(texts)]
    schema = pa.schema([("doc_id", pa.int64()), ("source", pa.string()),
                        ("lang", pa.string()), ("text", pa.string())])
    pq.write_table(pa.Table.from_pylist(pl, schema=schema),
                   f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def _duck(sf, sql):
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    out = con.execute(sql).fetchall()
    con.close()
    return out


def test_text_bpe_merge_respects_symbol_boundaries(spark, tmp_path):
    """Corpus: 'aab' x5, 'ab' x6, 'aa' x8.
    Round 1 pairs: (a,a)=13 > (a,b)=11 -> merge (a,a); 'aab' becomes
    ['aa','b']. Round 2: (aa,b)=5 < (a,b)=6 -> merge (a,b). Applying
    (a,b) must leave ['aa','b'] UNTOUCHED (its pair is (aa,b)); the old
    string-replace form fused it to ['aab'], erasing round 3's only
    pair. Round 3 must therefore be (aa,b) with count 5."""
    sf = _write_docs(tmp_path, ["aab " * 5 + "ab " * 6 + "aa " * 8])
    got = [(r["rank"], r["lhs"], r["rhs"], r["pair_count"])
           for r in q_text_bpe(spark, sf).orderBy("rank").collect()]
    assert got == [(1, "a", "a", 13), (2, "a", "b", 6), (3, "aa", "b", 5)]
    oracle = sorted(_duck(sf, sql_text_bpe(sf)))
    assert oracle == got


def test_text_winnow_zero_token_docs_cross_engine(spark, tmp_path):
    """Docs with no tokens (empty / whitespace-only text) are excluded
    in BOTH engines; short docs (< window) keep the single global-min
    fingerprint; results match row-for-row."""
    sf = _write_docs(tmp_path, ["", "   ", "a", "a b", "a b c d e f g"])
    got = sorted((r["doc_id"], r["n_fingerprints"], r["fp_min"],
                  r["fp_digest"])
                 for r in q_text_winnow(spark, sf).collect())
    assert [g[0] for g in got] == [3, 4, 5]        # docs 1-2 gated out
    assert got[0][1] == 1 and got[1][1] == 1       # degenerate: one fp
    oracle = sorted(_duck(sf, sql_text_winnow(sf)))
    assert oracle == got


def _write_events(tmp_path, rows):
    pl = [{"event_id": i + 1, "ts": ts, "user_id": u, "event_type": et,
           "value": 1.0, "props": "{}"}
          for i, (u, ts, et) in enumerate(rows)]
    schema = pa.schema([("event_id", pa.int64()),
                        ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()),
                        ("event_type", pa.string()),
                        ("value", pa.float64()),
                        ("props", pa.string())])
    pq.write_table(pa.Table.from_pylist(pl, schema=schema),
                   f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_events_funnel_fold_matches_chained_min_semantics(spark, tmp_path):
    """The single-pass fold must equal the chained conditional minima:
    each stage time is the MIN ts of that stage strictly AFTER the
    previous stage's time. u1 regresses then completes; u2 has a view
    at exactly t0 (strict > excludes it) and a later one; u3 starts
    mid-funnel (view before any signup does not count)."""
    from datetime import datetime
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    sf = _write_events(tmp_path, [
        # u1: signup@1, view@5 (a view@0 precedes signup: ignored),
        # click@3 (before view: ignored), click@7, purchase@9
        (1, t(0), "view"), (1, t(1), "signup"), (1, t(5), "view"),
        (1, t(3), "click"), (1, t(7), "click"), (1, t(9), "purchase"),
        # u2: signup@2, view@2 (tie, strict > drops it), view@4
        (2, t(2), "signup"), (2, t(2), "view"), (2, t(4), "view"),
        # u3: view only, never signs up
        (3, t(1), "view"), (3, t(2), "click"),
    ])
    for chunked in (False, True):
        got = {r["user_id"]: r
               for r in q_events_funnel(spark, sf, chunked=chunked).collect()}
        assert got[1]["stage"] == 4, chunked
        assert [got[1][f"t{i}"] for i in range(4)] == [
            t(1), t(5), t(7), t(9)], chunked
        assert got[2]["stage"] == 2 and got[2]["t1"] == t(4), chunked
        assert got[3]["stage"] == 0 and got[3]["t0"] is None, chunked


def test_plain_text_variants_one_pass_matches_single_mode(spark):
    """The folded 3-column render must equal the three single-mode
    runs column-for-column (same kernel, flags applied per render), and
    its default column the struct extraction's text — all three callers
    of the kernel entry agree per turn."""
    from pdftext_spark.config import ExtractConfig
    from pdftext_spark.operators.extract import (extract, plain_text,
                                                 plain_text_variants)
    from pdftext_spark.sources.fixture_io import transcripts_path

    src = spark.read.parquet(transcripts_path("sf0.001"))
    got = {(r["conv_id"], r["turn_idx"]):
           (r["text"], r["text_sorted"], r["text_keephyphens"])
           for r in plain_text_variants(src).collect()}
    refs = [(0, extract(src, resolve_links=False))] + [
        (pos, plain_text(src, ExtractConfig(**kw)))
        for pos, kw in ((0, {}), (1, {"sort": True}), (2, {"hyphens": True}))]
    for pos, df in refs:
        ref = {(r["conv_id"], r["turn_idx"]): r["text"]
               for r in df.select("conv_id", "turn_idx", "text").collect()}
        assert set(ref) == set(got)
        for k, v in ref.items():
            assert got[k][pos] == v, (k, pos)
    # the caller's render flags must NOT leak into the folded columns:
    # the contract defines them as (default, sorted, keep-hyphens)
    got_flagged = {(r["conv_id"], r["turn_idx"]):
                   (r["text"], r["text_sorted"], r["text_keephyphens"])
                   for r in plain_text_variants(
                       src, ExtractConfig(sort=True, hyphens=True)).collect()}
    assert got_flagged == got


def test_skew_probe_recommends_salt_and_plan_shows_salted_exchange(spark):
    """Probe->apply integration (round-5 VERDICT item 6): a planted bot
    key holding half the corpus must yield salt_k = ceil(0.5 x 32) = 16
    from the probe, and applying it must (a) put the salt column in the
    hash-partitioning exchange and (b) actually spread the bot's rows
    over all 16 sub-keys deterministically."""
    from pyspark.sql import functions as F

    from pdftext_spark.operators.skew import (recommended_salt,
                                              salted_repartition)

    n = 4096
    df = spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("bot"))
         .otherwise(F.concat(F.lit("u"), F.col("id"))).alias("user_id"),
        F.col("id").alias("ts"))
    k = recommended_salt(df, ["user_id"], 32)
    assert k == 16
    out = salted_repartition(df, ["user_id"], k, 8, spread_cols=["ts"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(user_id" in plan and "__salt" in plan
    salts = [r["__salt"] for r in
             out.where("user_id = 'bot'").select("__salt").distinct().collect()]
    assert sorted(salts) == list(range(16))
    # re-run determinism: speculative retries must land rows identically
    again = salted_repartition(df, ["user_id"], k, 8, spread_cols=["ts"])
    assert (out.select("user_id", "ts", "__salt").exceptAll(
        again.select("user_id", "ts", "__salt")).count() == 0)
    # degenerate corpus (no hot key): salt_k=1 degrades to plain exchange
    flat = spark.range(64).select(
        F.concat(F.lit("u"), F.col("id")).alias("user_id"),
        F.col("id").alias("ts"))
    assert recommended_salt(flat, ["user_id"], 32) == 1
    p1 = salted_repartition(flat, ["user_id"], 1, 8)
    assert "__salt" not in p1.columns


def test_suffix_array_kernel_basics():
    """SA/LCP on a known string: banana's suffix array and Kasai LCP."""
    import numpy as np

    from pdftext_spark.operators.substring import lcp_array, suffix_array

    s = np.frombuffer(b"banana", dtype=np.uint8).astype(np.int64)
    sa = suffix_array(s)
    assert sa.tolist() == [5, 3, 1, 0, 4, 2]
    assert lcp_array(s, sa).tolist() == [0, 1, 3, 0, 0, 2]


def test_exact_substring_dedup_pins_planted_passages(spark, tmp_path):
    """A planted 10-token passage shared by docs 1 and 3 (and nothing
    else >= 8 tokens repeated) must come back as exactly the two merged
    intervals, identically from (a) the suffix-array kernel, (b) the
    mapInPandas per-partition tool on one partition, (c) the distributed
    exact query, and (d) the query's DuckDB oracle."""
    import duckdb

    from pdftext_spark.operators.substring import (partition_repeats,
                                                   repeated_intervals)
    from pdftext_spark.registry.pipeline import (
        q_dedup_substr_exact, sql_dedup_substr_exact)

    passage = ("alpha bravo charlie delta echo foxtrot golf hotel "
               "india juliett")
    texts = [
        "one two three " + passage + " tail1 tail2",
        "unrelated words only here nothing repeats among these many tokens",
        passage + " different ending tokens four five",
        "a short five token repeat q1 q2 q3 q4 q5 q6 q7",
        "again short five token repeat z1 z2 z3 z4 z5 z6",
    ]
    sf = _write_docs(tmp_path, texts)
    want = {(1, 4, 13, 3), (3, 1, 10, 3)}

    # (a) suffix-array kernel (n_windows not emitted there: 3 covered
    # window starts merge into one interval per doc)
    toks = [t.split(" ") for t in texts]
    assert set(repeated_intervals(toks, 8)) == {(0, 4, 13), (2, 1, 10)}

    # (b) distributed per-partition tool, all docs co-located
    docs = spark.read.parquet(f"{sf}/documents.parquet").coalesce(1)
    got_sa = {(r["doc_id"], r["start_tok"], r["end_tok"])
              for r in partition_repeats(docs, 8).collect()}
    assert got_sa == {(1, 4, 13), (3, 1, 10)}

    # (c) corpus-level exact query and (d) its oracle
    got_q = {(r["doc_id"], r["start_tok"], r["end_tok"], r["n_windows"])
             for r in q_dedup_substr_exact(spark, sf).collect()}
    assert got_q == want
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    got_o = {tuple(r) for r in
             con.execute(sql_dedup_substr_exact(sf)).fetchall()}
    assert got_o == want


def test_exact_substring_dedup_intra_doc_and_gap_merge(spark, tmp_path):
    """Lee-et-al semantics include repeats WITHIN one doc; overlapping
    planted repeats must merge into one maximal interval."""
    from pdftext_spark.operators.substring import repeated_intervals
    from pdftext_spark.registry.pipeline import q_dedup_substr_exact

    rep8 = "r1 r2 r3 r4 r5 r6 r7 r8"
    texts = [
        # the 8-token run appears twice inside doc 1, back to back:
        # every window of the 16-token span repeats => one interval 3..18
        "lead1 lead2 " + rep8 + " " + rep8 + " trail",
        "filler doc with no repeated windows at all here today ok",
    ]
    sf = _write_docs(tmp_path, texts)
    got = {(r["doc_id"], r["start_tok"], r["end_tok"])
           for r in q_dedup_substr_exact(spark, sf).collect()}
    assert got == {(1, 3, 18)}
    toks = [t.split(" ") for t in texts]
    assert set(repeated_intervals(toks, 8)) == {(0, 3, 18)}


def test_refs_pagerank_sweeps_scan_no_files(spark):
    """Regression bound for the round-5 tail-sweep finding (50.3 s at
    sf0.1): the Jacobi sweeps must run over the localCheckpoint'd graph
    tables — the final plan may contain NO FileScan (every one would be
    a re-derivation of the span flatten) and must read checkpointed
    RDDs instead."""
    from pdftext_spark.queries import QUERIES
    df = QUERIES["refs_pagerank"][0](spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in p and "ExistingRDD" in p
    assert df.count() > 0


def test_exact_substring_scrub_keeps_first_occurrence(spark, tmp_path):
    """The scrub must remove every duplicated-window occurrence EXCEPT
    the globally first (min doc_id, pos) — pinned on the planted corpus
    where doc 1 owns the passage and doc 3 loses it — and must agree
    with the DuckDB oracle row-for-row."""
    import duckdb

    from pdftext_spark.registry.pipeline import (
        q_dedup_substr_scrub, sql_dedup_substr_scrub)

    passage = ("alpha bravo charlie delta echo foxtrot golf hotel "
               "india juliett")
    texts = [
        "one two three " + passage + " tail1 tail2",
        "unrelated words only here nothing repeats among these many tokens",
        passage + " different ending tokens four five",
        "tiny",
    ]
    sf = _write_docs(tmp_path, texts)
    got = {r["doc_id"]: (r["n_tokens"], r["n_tokens_kept"],
                         r["text_scrubbed"])
           for r in q_dedup_substr_scrub(spark, sf).collect()}
    # doc 1 owns the passage (min doc_id): untouched
    assert got[1] == (15, 15, texts[0])
    # doc 3 loses tokens 1..10 (the passage), keeps the tail
    assert got[3] == (15, 5, "different ending tokens four five")
    # unaffected docs pass through, including the sub-window-length one
    assert got[2] == (10, 10, texts[1])
    assert got[4] == (1, 1, "tiny")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    oracle = {r[0]: (r[1], r[2], r[3]) for r in
              con.execute(sql_dedup_substr_scrub(sf)).fetchall()}
    assert oracle == got


def test_bpe_encode_matches_hand_derivation(spark, tmp_path):
    """Corpus: 'ab ab ab' / 'abab' x2 / 'b'. Hand derivation (3 rounds):
    merge1 = (a,b) cnt 3+2+2+2... -> weighted distinct words:
    'ab' wc3 (pairs (a,b)x1 each -> 3), 'abab' wc2 ((a,b)x2,(b,a)x1 ->
    (a,b):4, (b,a):2), 'b' wc1. Round1 top = (a,b) cnt 7.
    After: ab=[ab], abab=[ab,ab], b=[b]. Round2 top = (ab,ab) cnt 2 ->
    abab=[abab]. Round3: NO pairs left anywhere -> training stops early
    (the degenerate-round case: Spark breaks, the SQL's LEFT JOIN keeps
    the vocab). Encode: 'ab ab ab' -> 3 words 3 symbols; 'abab' -> 1
    word 1 symbol; 'b' -> 1 word 1 symbol."""
    import duckdb

    from pdftext_spark.registry.textqual import (
        q_text_bpe, q_text_bpe_encode, sql_text_bpe, sql_text_bpe_encode)

    texts = ["ab ab ab", "abab", "abab", "b"]
    sf = _write_docs(tmp_path, texts)
    merges = {(r["rank"], r["lhs"], r["rhs"], r["pair_count"])
              for r in q_text_bpe(spark, sf).collect()}
    assert merges == {(1, "a", "b", 7), (2, "ab", "ab", 2)}
    got = {r["doc_id"]: (r["n_words"], r["n_symbols"])
           for r in q_text_bpe_encode(spark, sf).collect()}
    assert got == {1: (3, 3), 2: (1, 1), 3: (1, 1), 4: (1, 1)}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    assert {tuple(r) for r in con.execute(sql_text_bpe(sf)).fetchall()} \
        == merges
    assert {r[0]: (r[1], r[2]) for r in
            con.execute(sql_text_bpe_encode(sf)).fetchall()} == got


def test_quantile_sketch_merges_and_bounds_exact_quantiles(spark):
    """Sketch properties on the sf0.001 events: (1) MERGEABILITY — the
    sketch of the union equals the elementwise sum of per-half sketches
    (the 1000-executors-sketch-independently property); (2) ENVELOPE —
    each reported [lo, hi] cents range contains the exact quantile from
    events_quantiles for positive-cents quantiles (bucket 0 collapses
    the non-positive tail by design)."""
    from pyspark.sql import functions as F

    from pdftext_spark.registry.pipeline import (
        q_events_quantiles, q_events_quantiles_sketch)

    sf = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf}/events.parquet")
    vc = "cast(round(value * 100) as long)"
    bexpr = (f"CASE WHEN {vc} <= 0 THEN 0 ELSE length(bin({vc})) END")

    def sketch(df):
        rows = (df.select("event_type", F.expr(bexpr).alias("b"))
                .groupBy("event_type", "b").count().collect())
        return {(r["event_type"], r["b"]): r["count"] for r in rows}

    whole = sketch(ev)
    h1 = sketch(ev.where("event_id % 2 = 0"))
    h2 = sketch(ev.where("event_id % 2 = 1"))
    merged = dict(h1)
    for k, v in h2.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == whole

    sk = {r["event_type"]: r for r in
          q_events_quantiles_sketch(spark, sf).collect()}
    exact = {r["event_type"]: r for r in
             q_events_quantiles(spark, sf).collect()}
    assert set(sk) == set(exact)
    checked = 0
    for et, srow in sk.items():
        erow = exact[et].asDict()
        assert srow["n_events"] == erow["n_events"]
        # exact form emits p50/p90/p99; the shared names are checked
        for name in ("p50", "p95", "p99"):
            ex = erow.get(name)
            if ex is None:
                continue
            ex_cents = round(ex * 100)
            if srow[f"{name}_bucket"] > 0 and ex_cents > 0:
                assert srow[f"{name}_lo_cents"] <= ex_cents \
                    <= srow[f"{name}_hi_cents"], (et, name)
                checked += 1
    assert checked > 0
