"""Seventh-wave pinned semantics: HLL registers, Bloom membership, PMI
ranking, postings digests, exact rank-selection quantiles — each checked
against an independent pure-Python replica or a hand-computed frame."""
import hashlib

import pyarrow as pa
import pyarrow.parquet as pq

from pdftext_spark.registry.pipeline import q_events_quantiles
from pdftext_spark.registry.textqual import (
    _BLOOM_PROBES, _bloom_positions, q_text_bloom, q_text_hll, q_text_pmi,
    q_text_postings)


def _h32(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _toks(text):
    return [t for t in text.split(" ") if t != ""]


def _write_docs(tmp_path, rows):
    pl = [{"doc_id": i + 1, "source": src, "lang": "en", "text": t}
          for i, (src, t) in enumerate(rows)]
    pq.write_table(pa.Table.from_pylist(pl, schema=pa.schema(
        [("doc_id", pa.int64()), ("source", pa.string()),
         ("lang", pa.string()), ("text", pa.string())])),
        f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def _hll_regs(texts):
    regs = [0] * 64
    for t in texts:
        for tok in _toks(t):
            h = _h32(tok)
            b, r = h % 64, h // 64
            rho = 27 if r == 0 else 27 - r.bit_length()
            regs[b] = max(regs[b], rho)
    return regs


def test_text_hll_replica_and_merge(spark, tmp_path):
    """Registers must equal the independent replica's per source;
    duplicate tokens must not move any register (max-idempotence — the
    property that makes HLL need no distinct pass); and the register
    state must be MERGEABLE: the union source's registers are the
    element-wise max of the parts' (what lets 1000 executors sketch
    independently and combine)."""
    a = ["alpha beta gamma delta", "beta gamma epsilon"]
    b = ["zeta eta theta", "iota kappa alpha"]
    rows = ([("sa", t) for t in a] + [("sb", t) for t in b]
            + [("sab", t) for t in a + b]
            + [("sdup", a[0]), ("sdup", a[0]), ("sdup", a[0])])
    sf = _write_docs(tmp_path, rows)
    got = {r["source"]: r for r in q_text_hll(spark, sf).collect()}

    def emit(regs):
        return (sum(1 << (27 - g) for g in regs),
                sum(1 for g in regs if g > 0),
                hashlib.md5(",".join(str(g) for g in regs).encode())
                .hexdigest())

    ra, rb = _hll_regs(a), _hll_regs(b)
    for src, regs in (("sa", ra), ("sb", rb), ("sab", _hll_regs(a + b)),
                      ("sdup", _hll_regs([a[0]]))):
        row = got[src]
        hn, nz, dg = emit(regs)
        assert (row["harm_num"], row["nonzero_regs"], row["reg_digest"]) \
            == (hn, nz, dg), src
    # mergeability: union register = element-wise max of parts
    assert _hll_regs(a + b) == [max(x, y) for x, y in zip(ra, rb)]


def test_text_bloom_membership_and_replica(spark, tmp_path):
    """Word quads must equal the replica's OR-fold; every probe term
    present in a source MUST hit its bloom (no false negatives — the
    bloom contract); a source containing none of the probes may only
    report (rare) false positives, never more hits than probes."""
    rows = [
        ("mixed", "hash join merge sort scan"),
        ("mixed", "hash probe build"),
        ("none", "completely unrelated words only"),
    ]
    sf = _write_docs(tmp_path, rows)
    got = {r["source"]: r for r in q_text_bloom(spark, sf).collect()}

    def replica(texts):
        words = [0, 0, 0, 0]
        for t in texts:
            for tok in _toks(t):
                for pos in _bloom_positions(tok):
                    words[pos // 64] |= 1 << (pos % 64)
        return [w - (1 << 64) if w >= (1 << 63) else w for w in words]

    def hits(words):
        uw = [w & ((1 << 64) - 1) for w in words]
        n = 0
        for t in _BLOOM_PROBES:
            if all(uw[p // 64] >> (p % 64) & 1 for p in _bloom_positions(t)):
                n += 1
        return n

    for src, texts in (("mixed", [r[1] for r in rows if r[0] == "mixed"]),
                       ("none", [rows[2][1]])):
        w = replica(texts)
        row = got[src]
        assert [row["w0"], row["w1"], row["w2"], row["w3"]] == w, src
        assert row["probe_hits"] == hits(w)
        assert row["n_set_bits"] == sum(
            bin(x & ((1 << 64) - 1)).count("1") for x in w)
    # the three present probes all hit; absent probes add at most FP noise
    assert got["mixed"]["probe_hits"] >= 3
    assert got["none"]["probe_hits"] <= len(_BLOOM_PROBES) - 3


def test_text_pmi_ranking(spark, tmp_path):
    """The exclusive bigram (always together, rare parts) must outrank
    the frequent-but-promiscuous pair; scores must equal the exact
    integer formula; support floor enforced."""
    # 'rare pair' appears 3x and its parts appear nowhere else;
    # 'the cat' appears 6x but 'the' is everywhere
    docs = (["rare pair"] * 3
            + ["the cat sat"] * 6
            + ["the dog ran", "the bird flew", "the fish swam"])
    sf = _write_docs(tmp_path, [("w", t) for t in docs])
    rows = q_text_pmi(spark, sf).collect()
    assert rows, "no bigrams above support floor"
    top = rows[0]
    assert (top["tok_a"], top["tok_b"]) == ("rare", "pair")
    toks = [t for d in docs for t in d.split()]
    T = len(toks)
    c = {t: toks.count(t) for t in set(toks)}
    # division-first fixed point — the overflow-safe rank key both
    # engines compute (largest intermediate bounded by T * 10^6)
    assert top["score_q"] == (3 * 1_000_000 // c["rare"]) * T // c["pair"]
    the_cat = [r for r in rows
               if (r["tok_a"], r["tok_b"]) == ("the", "cat")]
    assert the_cat and the_cat[0]["score_q"] < top["score_q"]
    assert all(r["c_ab"] >= 3 for r in rows)


def test_text_postings_digest(spark, tmp_path):
    """Posting digests must equal the doc_id-ordered replica string;
    df floor filters; extents exact."""
    rows = [("w", "apple banana apple"),  # doc 1: apple tf=2
            ("w", "banana apple"),
            ("w", "apple cherry")] + [("w", f"apple filler{i}")
                                      for i in range(9)]
    sf = _write_docs(tmp_path, rows)
    got = {r["term"]: r for r in q_text_postings(spark, sf).collect()}
    # apple: df=12 >= 10 kept; banana df=2, cherry df=1 filtered
    assert set(got) == {"apple"}
    a = got["apple"]
    post = [(1, 2), (2, 1), (3, 1)] + [(4 + i, 1) for i in range(9)]
    dig = hashlib.md5(
        ",".join(f"{d}:{tf}" for d, tf in post).encode()).hexdigest()
    assert (a["df"], a["tf_total"], a["doc_min"], a["doc_max"],
            a["postings_md5"]) == (12, 13, 1, 12, dig)


def _write_events(tmp_path, rows):
    import datetime as dt
    t0 = dt.datetime(2024, 3, 1)
    pl = [{"event_id": i + 1, "ts": t0 + dt.timedelta(minutes=i),
           "user_id": 1, "event_type": ty, "value": float(v), "props": "{}"}
          for i, (ty, v) in enumerate(rows)]
    pq.write_table(pa.Table.from_pylist(pl, schema=pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())])),
        f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_events_quantiles_exact_ranks(spark, tmp_path):
    """Quantiles must hit the exact rank-k element (k = (n-1)*q div 100
    + 1) including duplicated values, and the rank pass must run over
    pre-aggregated (type, value) counts — the window input is the
    distinct-value frame, not the event stream."""
    # type A: values 1..100 => n=100, k50=50, k90=90, k99=99
    # type B: 10 copies of 5 and one 7 => n=11, k50=6 -> 5, k99=10 -> 5
    rows = [("A", v) for v in range(1, 101)] + \
           [("B", 5)] * 10 + [("B", 7)]
    sf = _write_events(tmp_path, rows)
    got = {r["event_type"]: r
           for r in q_events_quantiles(spark, sf).collect()}
    assert got["A"]["n_events"] == 100
    assert (got["A"]["p50"], got["A"]["p90"], got["A"]["p99"]) \
        == (50.0, 90.0, 99.0)
    assert got["B"]["n_events"] == 11
    assert (got["B"]["p50"], got["B"]["p90"], got["B"]["p99"]) \
        == (5.0, 5.0, 5.0)
    df = q_events_quantiles(spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    # pre-aggregation before the window: a partial_count on (type, value)
    assert "partial_count" in p or "partial_" in p


def test_text_bloom_coincident_positions_cross_engine(spark, tmp_path):
    """Regression (review finding): tokens whose TWO bloom positions
    coincide — 'ur' (bit 43 of w3) and 'ctx' (bit 63 of w3, the int64
    sign bit) — must set their single bit identically in Spark, the
    python replica, AND the DuckDB oracle (whose old '+'-composed form
    doubled the bit into the wrong position, or overflowed at 63)."""
    import duckdb

    from pdftext_spark.registry.textqual import (
        _bloom_positions, q_text_bloom, sql_text_bloom)

    for t in ("ur", "ctx"):
        p1, p2 = _bloom_positions(t)
        assert p1 == p2, t  # the collision precondition still holds
    sf = _write_docs(tmp_path, [("w", "ur ctx plainword")])
    srow = q_text_bloom(spark, sf).collect()[0]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')")
    drow = con.sql(sql_text_bloom(sf)).fetchall()[0]
    dcols = [d[0] for d in con.sql(sql_text_bloom(sf)).description]
    d = dict(zip(dcols, drow))
    for c in ("w0", "w1", "w2", "w3", "n_set_bits", "probe_hits"):
        assert srow[c] == d[c], c
    # 'ctx' sets exactly the sign bit of w3 alongside 'ur''s bit 43
    assert srow["w3"] & (1 << 43)
    assert srow["w3"] < 0  # bit 63 set => negative int64


def test_graph_triangles_edge_frame_materialized_once(spark):
    """Regression (review finding): the triple self-join must run on the
    checkpointed edge frame — zero parquet scans in the executed plan
    (previously 12: each branch re-derived the LSH pipeline)."""
    from pdftext_spark.registry.textqual import q_graph_triangles
    df = q_graph_triangles(spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in p
    assert "Scan ExistingRDD" in p


def test_layout_zorder_empty_input(spark, tmp_path):
    """Regression (review finding): an empty events table must yield an
    empty frame with the full schema, not a driver-side TypeError from
    NULL stats interpolated into the quantizer SQL."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdftext_spark.registry.pipeline import q_layout_zorder
    pq.write_table(pa.Table.from_pylist([], schema=pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())])),
        f"{tmp_path}/events.parquet")
    df = q_layout_zorder(spark, str(tmp_path))
    assert df.columns == ["file_id", "n_rows", "u_min", "u_max",
                          "t_min_us", "t_max_us"]
    assert df.count() == 0
