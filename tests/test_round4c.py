"""Sixth-wave pinned semantics: winnowing fingerprints (MOSS window-min
selection) and content-defined chunking (LBFS boundary rule) — the
properties each scheme exists to provide, verified against independent
pure-Python replicas and on crafted shift/short-doc frames."""
import hashlib

import pyarrow as pa
import pyarrow.parquet as pq

from pdftext_spark.registry.textqual import q_text_chunks_cdc, q_text_winnow

_W = 4   # winnowing window (registry.textqual._WINNOW_W)
_DIV = 16  # CDC divisor (registry.textqual._CDC_DIV)


def _toks(text):
    return [t for t in text.split(" ") if t != ""]


def _shingles(toks):
    if len(toks) < 3:
        return [" ".join(toks)]
    return [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]


def _h32(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _winnow_fps(text):
    hs = [_h32(s) for s in _shingles(_toks(text))]
    wins = max(len(hs) - (_W - 1), 1)
    return sorted({min(hs[i:i + _W]) for i in range(wins)})


def _cdc_chunks(text):
    toks = _toks(text)
    n = len(toks)
    if n == 0:
        return []
    if n < 4:
        cuts = [0, n]
    else:
        # boundary after 1-based token i when the hash of the shingle
        # ending at i is 0 mod DIV; the last token never cuts
        cuts = [0] + [i for i in range(3, n)
                      if _h32(" ".join(toks[i - 3:i])) % _DIV == 0] + [n]
    return [toks[cuts[j]:cuts[j + 1]] for j in range(len(cuts) - 1)]


def _write_docs(tmp_path, texts):
    rows = [{"doc_id": i + 1, "source": "web", "lang": "en", "text": t}
            for i, t in enumerate(texts)]
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
        [("doc_id", pa.int64()), ("source", pa.string()),
         ("lang", pa.string()), ("text", pa.string())])),
        f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_text_winnow_replica_and_density(spark, tmp_path):
    """The query's fingerprint digest must equal an independent Python
    replica's on every doc; two docs sharing a 20-token run must share a
    fingerprint (the positional-density guarantee winnowing adds over
    plain minhash); a short doc degenerates to the global-min singleton."""
    shared = " ".join(f"s{i}" for i in range(20))
    texts = [
        "a b c d e f g h i j k l m n o p",
        "one two",                            # < W shingle hashes
        f"p0 p1 p2 p3 p4 {shared} q0 q1 q2",  # shares the 20-token run...
        f"r0 r1 {shared} r2 r3 r4 r5",        # ...with this doc
    ]
    sf = _write_docs(tmp_path, texts)
    got = {r["doc_id"]: r for r in q_text_winnow(spark, sf).collect()}
    assert len(got) == len(texts)
    for i, t in enumerate(texts):
        fps = _winnow_fps(t)
        digest = hashlib.md5(",".join(str(x) for x in fps).encode()).hexdigest()
        row = got[i + 1]
        assert row["n_fingerprints"] == len(fps)
        assert row["fp_min"] == fps[0]
        assert row["fp_digest"] == digest
    # density guarantee via the verified-equal replica sets
    assert set(_winnow_fps(texts[2])) & set(_winnow_fps(texts[3]))
    assert got[3]["n_fingerprints"] > 1
    assert got[3]["fp_min"] == min(
        _h32(s) for s in _shingles(_toks(texts[2])))
    # short doc (single shingle hash): one window -> global-min singleton
    assert got[2]["n_fingerprints"] == 1


def test_text_winnow_zero_shuffle(spark):
    df = q_text_winnow(spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") - p.count("BroadcastExchange") == 0


def test_text_chunks_cdc_tiling_and_shift_robustness(spark, tmp_path):
    """CDC chunks must tile each doc exactly (contiguous chunk_idx, token
    counts summing to the doc's token count), match the Python replica
    hash-for-hash, keep short docs whole — and, the property the scheme
    exists for, survive a head insertion: all but O(1) of the original
    chunks reappear unchanged in the shifted doc (fixed-size chunking
    shares zero)."""
    base = [f"w{i % 37}x{i % 11}" for i in range(240)]
    texts = [
        " ".join(base),
        " ".join(base[:5] + ["INSERTED"] + base[5:]),  # one-token head edit
        "tiny doc",                                    # < 4 tokens
    ]
    sf = _write_docs(tmp_path, texts)
    rows = q_text_chunks_cdc(spark, sf).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, t in enumerate(texts):
        got = sorted(by_doc[i + 1], key=lambda r: r["chunk_idx"])
        want = _cdc_chunks(t)
        assert [r["chunk_idx"] for r in got] == list(range(len(want)))
        assert [r["n_tokens"] for r in got] == [len(c) for c in want]
        assert [r["chunk_md5"] for r in got] == [
            hashlib.md5(" ".join(c).encode()).hexdigest() for c in want]
        assert sum(r["n_tokens"] for r in got) == len(_toks(t))
    a = [r["chunk_md5"] for r in by_doc[1]]
    b = set(r["chunk_md5"] for r in by_doc[2])
    assert len(a) >= 8  # the corpus actually exercises multiple boundaries
    # boundaries resynchronize one shingle width past the insertion:
    # at most the chunks touching the edit differ
    assert sum(h not in b for h in a) <= 2
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_tokens"] == 2


def test_text_chunks_cdc_zero_shuffle(spark):
    df = q_text_chunks_cdc(spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") - p.count("BroadcastExchange") == 0


def _write_events(tmp_path, rows):
    import datetime as dt
    t0 = dt.datetime(2024, 3, 1)
    pl = [{"event_id": i + 1, "ts": t0 + dt.timedelta(minutes=m),
           "user_id": u, "event_type": ty, "value": 1.0, "props": "{}"}
          for i, (u, m, ty) in enumerate(rows)]
    pq.write_table(pa.Table.from_pylist(pl, schema=pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())])),
        f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_events_scd2_runs_one_shuffle(spark, tmp_path):
    """Gaps-and-islands semantics pinned: consecutive same-type runs
    collapse to one version, a type revisited later opens a NEW version
    (not a merge), validity intervals chain exactly (valid_to = next
    valid_from, open current version NULL), and the whole history build
    costs ONE user-keyed shuffle."""
    from pdftext_spark.registry.pipeline import q_events_scd2

    sf = _write_events(tmp_path, [
        (1, 0, "view"), (1, 5, "view"), (1, 10, "click"), (1, 20, "view"),
        (2, 0, "purchase"),
    ])
    rows = {(r["user_id"], r["version_idx"]):
            (r["state"], r["valid_from_us"], r["valid_to_us"], r["n_events"])
            for r in q_events_scd2(spark, sf).collect()}
    m = 60 * 1_000_000
    t0 = 1709251200 * 1_000_000  # 2024-03-01 epoch micros
    assert rows == {
        (1, 0): ("view", t0, t0 + 10 * m, 2),
        (1, 1): ("click", t0 + 10 * m, t0 + 20 * m, 1),
        (1, 2): ("view", t0 + 20 * m, None, 1),
        (2, 0): ("purchase", t0, None, 1),
    }
    df = q_events_scd2(spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange") - p.count("BroadcastExchange") == 1
    assert "Exchange hashpartitioning(user_id" in p


def test_snapshot_merge_precedence_and_plan(spark, tmp_path):
    """MERGE semantics pinned key-for-key: deletes vanish, seq-2 updates
    override seq-1 on the same key, plain updates rewrite, inserts land
    at offset keys, untouched rows keep their text — and the merge is
    one full-outer SortMergeJoin (no broadcast assumption)."""
    from pdftext_spark.registry.pipeline import (
        _MERGE_INS_OFFSET, q_snapshot_merge)

    texts = {i: f"body of doc {i}" for i in range(1, 101)}
    sf = _write_docs(tmp_path, [texts[i] for i in range(1, 101)])
    got = {r["doc_id"]: (r["merge_action"], r["text_md5"])
           for r in q_snapshot_merge(spark, sf).collect()}

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert 5 not in got and 12 not in got          # doc_id % 7 == 5 deleted
    assert got[3] == ("updated", h("u2:" + texts[3]))    # seq-2 override
    assert got[10] == ("updated", h("u:" + texts[10]))   # plain update
    assert got[1] == ("kept", h(texts[1]))
    assert got[31 + _MERGE_INS_OFFSET] == ("inserted", h("ins:" + texts[31]))
    assert got[62 + _MERGE_INS_OFFSET] == ("inserted", h("ins:" + texts[62]))
    n_del = sum(1 for i in texts if i % 7 == 5)
    n_ins = sum(1 for i in texts if i % 31 == 0)
    assert len(got) == 100 - n_del + n_ins

    p = (q_snapshot_merge(spark, sf)
         ._jdf.queryExecution().executedPlan().toString())
    assert "SortMergeJoin" in p and "FullOuter" in p


def test_layout_zorder_bounds_both_axes(spark):
    """The property z-ordering exists for: every emitted file's extents
    stay inside one top-4-bit block on BOTH quantized axes (so min/max
    stats prune filters on either column), the files partition all rows,
    and the report costs one shuffle of pre-aggregated rows."""
    from pyspark.sql import functions as F

    from pdftext_spark.registry.pipeline import _Z_MUL_LIMIT, q_layout_zorder

    sf = "/root/testdata/sf0.001"
    df = q_layout_zorder(spark, sf)
    rows = df.collect()
    ev = q_layout_zorder.__globals__["_with_us"](
        spark.read.parquet(f"{sf}/events.parquet"))
    st = ev.agg(F.min("user_id"), F.max("user_id"),
                F.min("us"), F.max("us")).first()
    ul, uh, tl, th = st

    def q(x, lo, hi):
        span = hi - lo
        if span < _Z_MUL_LIMIT:
            return ((x - lo) * 65536) // (span + 1)
        return (x - lo) // (span // 65536 + 1)

    assert sum(r["n_rows"] for r in rows) == ev.count()
    assert len(rows) > 16  # both axes genuinely contribute to file ids
    for r in rows:
        assert q(r["u_min"], ul, uh) >> 12 == q(r["u_max"], ul, uh) >> 12
        assert q(r["t_min_us"], tl, th) >> 12 == q(r["t_max_us"], tl, th) >> 12
    # after collect() the AQE plan prints Final + Initial sections; count
    # exchanges in the executed (final) section only
    p = (df._jdf.queryExecution().executedPlan().toString()
         .split("== Initial Plan ==")[0])
    assert p.count("Exchange") - p.count("BroadcastExchange") == 1


def test_star_components_label_identical(spark):
    """The large-star/small-star edge-rewriting CC (the per-round-cost-
    tracks-shrinking-edges scale path) must produce labels IDENTICAL to
    min-label propagation on: a 60-node path (multi-round convergence —
    one-hop propagation would need 60 rounds), a hot-hub star (the
    celebrity-node case it exists for), two disjoint components, and the
    real minhash-LSH pair graph."""
    from pdftext_spark.registry.dedup import (
        min_label_components, q_dedup_clusters, star_components)

    def labels(df):
        return sorted((r["doc_id"], r[df.columns[1]]) for r in df.collect())

    def both(edges):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        return (labels(min_label_components(pairs)),
                labels(star_components(pairs)))

    # 60-node path 100-101-...-160, shuffled orientation
    path = [(100 + i + 1, 100 + i) if i % 3 else (100 + i, 100 + i + 1)
            for i in range(60)]
    a, b = both(path)
    assert a == b and all(l == 100 for _, l in a) and len(a) == 61
    # hot hub: 500 spokes on node 7 (+ a lower spoke 3 to take over min)
    hub = [(7, 1000 + i) for i in range(500)] + [(3, 7)]
    a, b = both(hub)
    assert a == b and all(l == 3 for _, l in a)
    # two disjoint components keep distinct mins
    a, b = both([(1, 2), (2, 4), (10, 11)])
    assert a == b == [(1, 1), (2, 1), (4, 1), (10, 10), (11, 10)]
    # the real pair graph end-to-end through the registry entry
    sf = "/root/testdata/sf0.001"
    plain = sorted((r["doc_id"], r["cluster_id"], r["is_keeper"])
                   for r in q_dedup_clusters(spark, sf).collect())
    star = sorted((r["doc_id"], r["cluster_id"], r["is_keeper"])
                  for r in q_dedup_clusters(spark, sf, star=True).collect())
    assert plain == star and len(plain) > 0


def _phash_replica(text):
    """Independent aHash replica: 64 contiguous byte cells over the
    utf-8 BODY bytes, bit k set iff cell k's mean exceeds the global
    mean — exact cross-multiplied integers, int64 two's-complement wrap
    on bit 63 to match both engines."""
    body = text.encode("utf-8")
    n = len(body)
    tot = sum(body)
    h = 0
    for k in range(64):
        lo, hi = n * k // 64, n * (k + 1) // 64
        if sum(body[lo:hi]) * n > tot * (hi - lo):
            h |= 1 << k
    return h - (1 << 64) if h >= (1 << 63) else h


def test_mm_phash_replica_and_banded_neardup(spark, tmp_path):
    """The Spark phash (parsed out of the binary media column for real)
    must equal the body-bytes replica doc-for-doc — including a
    multibyte-text doc, pinning the ASCII-header char==byte offset seam
    — and the banded Hamming join must return EXACTLY the brute-force
    <=6 pairs (pigeonhole completeness at 8x8 bands) without an
    all-pairs product in the plan."""
    from pdftext_spark.registry.multimodal import q_mm_neardup, q_mm_phash

    base = " ".join(f"tok{i} value{i * 7 % 13}" for i in range(40))
    texts = [base, base,                       # exact body dup: hamming 0
             base.replace("tok3", "tok9"),     # near body: small hamming
             "café déjà vu — ünïcödé bytes beyond ascii " * 4,
             "totally different content " * 9,
             " ".join(f"z{i}" for i in range(80))]
    sf = _write_docs(tmp_path, texts)
    ph = {r["doc_id"]: (r["n_body_bytes"], r["phash"])
          for r in q_mm_phash(spark, sf).collect()}
    for i, t in enumerate(texts):
        assert ph[i + 1] == (len(t.encode("utf-8")), _phash_replica(t))

    def pop(x):
        return bin(x & ((1 << 64) - 1)).count("1")

    want = sorted(
        (a, b, pop(ph[a][1] ^ ph[b][1]))
        for a in ph for b in ph if a < b and pop(ph[a][1] ^ ph[b][1]) <= 6)
    got = sorted((r["doc_a"], r["doc_b"], r["hamming"])
                 for r in q_mm_neardup(spark, sf).collect())
    assert got == want
    assert (1, 2, 0) in got            # the crafted exact-dup pair
    assert all(x[2] <= 6 for x in got)

    nd = q_mm_neardup(spark, "/root/testdata/sf0.001")
    p = nd._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    pp = (q_mm_phash(spark, "/root/testdata/sf0.001")
          ._jdf.queryExecution().executedPlan().toString())
    assert pp.count("Exchange") - pp.count("BroadcastExchange") == 0
