"""Round-4 regression tests: the four ADVICE fixes (null-role link turns,
shuffle-exchange salt probe, HTML unquoted-value self-close, font-key
docstring) plus new round-4 operators as they land."""

import json

import pytest
from pyspark.sql import functions as F

from pdftext_spark.config import ExtractConfig
from pdftext_spark.core.html_main import _build_tree, _self_close, extract_main_text
from pdftext_spark.operators.extract import _has_shuffle_exchange, extract


# ---------------------------------------------------------------- html

def test_self_close_unquoted_value_url():
    """HTML5: the '/' ending an unquoted attribute value is value data,
    not a self-closing solidus — <a href=http://x.com/> stays OPEN."""
    assert not _self_close(" href=http://x.com/")
    assert not _self_close(" href=a/b/")
    # standalone solidus forms still self-close
    assert _self_close("/")                      # <br/>
    assert _self_close(" /")                     # <br />
    assert _self_close(' href="x"/')             # quoted value then '/'
    assert _self_close(" href='x'/")
    assert _self_close(" foo/")                  # bare attr name + solidus
    assert not _self_close(" href=x")            # no trailing '/' at all
    # review round 4: whitespace-after-'=' unquoted values, quotes inside
    # unquoted values, quoted values containing spaces
    assert not _self_close(" href= http://x.com/")
    assert not _self_close("  href=  http://x.com/")
    assert not _self_close(' href=ab"/')
    assert _self_close(' href="x y"/')
    assert _self_close(" title= x y/")           # y is a new bare attr name
    assert not _self_close(' a="1" b=v/')


def test_unquoted_url_anchor_keeps_text():
    """The anchor's text must land under the <a> node so link-density
    scoring sees it (ADVICE r3: html_main.py self-close misparse)."""
    root = _build_tree("<body><p><a href=http://x.com/>click here</a></p></body>")
    body = root.children[0]
    p = body.children[0]
    a = p.children[0]
    assert a.tag == "a"
    assert a.children == ["click here"]


def test_unquoted_url_link_density_scoring():
    """End-to-end: a nav block of unquoted-URL anchors must score as
    link-heavy (boilerplate) now that its text is attributed to <a>."""
    content = "<p>" + "Real article body text with substance. " * 12 + "</p>"
    nav = "".join(
        f"<a href=http://site.com/{i}/>navigation link {i} text</a>"
        for i in range(10))
    html = f"<body><div>{nav}</div><div>{content}</div></body>"
    out = extract_main_text(html)
    assert "Real article body text" in out
    assert "navigation link 3 text" not in out


# ------------------------------------- cross-run incremental dedup

def test_cross_run_ingest_then_near_dup_apply(spark, tmp_path):
    """The production ingest shape, end to end: run 1 streams a corpus
    half through the stateful first-seen dedup; run 2 (a NEW query
    resuming the same checkpoint — a restart) ingests the rest plus
    copies of run-1 texts, which must be dropped against the PRIOR run's
    state without rescanning; then the batch near-dup pass (dedup_apply's
    broadcast anti-join) prunes cluster non-keepers from the admitted
    corpus."""
    import os

    from pdftext_spark.queries import unpersist_registered
    from pdftext_spark.registry.dedup import q_dedup_clusters
    from pdftext_spark.streaming.dedup import dedup_stream

    sf = "/root/testdata/sf0.001"
    src = (spark.read.parquet(os.path.join(sf, "documents.parquet"))
           .select("doc_id", "text"))
    n = src.count()
    mid = n // 2
    d = str(tmp_path / "in")
    out = str(tmp_path / "admitted")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = (spark.readStream.schema(spark.read.parquet(d).schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (dedup_stream(stream).writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(out)

    src.where(F.col("doc_id") < mid).coalesce(1).write.parquet(d)
    run()
    # run 2: remaining docs + exact copies of ten run-1 texts under new ids
    dup = (src.where(F.col("doc_id") < mid).orderBy("doc_id").limit(10)
           .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    (src.where(F.col("doc_id") >= mid).union(dup)
     .coalesce(1).write.mode("append").parquet(d))
    admitted = run()

    # cross-run exact dedup: every original admitted exactly once, no
    # synthetic copy survived the restart boundary
    admitted_ids = sorted(r["doc_id"] for r in admitted.collect())
    src_ids = sorted(r["doc_id"] for r in src.select("doc_id").collect())
    assert admitted_ids == src_ids

    # batch near-dup stage over the ADMITTED corpus (dedup_apply shape:
    # O(near-dup) drop list broadcast, one anti-join scan)
    drop = (q_dedup_clusters(spark, sf)
            .where(~F.col("is_keeper")).select("doc_id"))
    n_drop = drop.count()
    assert n_drop > 0  # the corpus ships genuine near-dups
    final = admitted.join(F.broadcast(drop), "doc_id", "left_anti")
    assert final.count() == len(admitted_ids) - n_drop
    unpersist_registered()


# --------------------------------------------- multi-format ingestion

def test_load_transcripts_formats(spark, tmp_path):
    """json-lines and csv transcript drops must extract byte-identically
    to the parquet path — the contract schema is pinned, never inferred."""
    from pdftext_spark.operators.extract import plain_text
    from pdftext_spark.sources.fixture_io import transcripts_path
    from pdftext_spark.sources.session import load_transcripts

    src = spark.read.parquet(transcripts_path("sf0.001"))
    jd = str(tmp_path / "t.jsonl")
    cd = str(tmp_path / "t.csv")
    src.coalesce(1).write.json(jd)
    src.coalesce(1).write.option("header", "true") \
        .option("escape", '"').csv(cd)

    def plain(df):
        return sorted(
            (r["conv_id"], r["turn_idx"], r["text"])
            for r in plain_text(df).collect())

    base = plain(load_transcripts(spark, transcripts_path("sf0.001")))
    assert plain(load_transcripts(spark, jd)) == base
    assert plain(load_transcripts(spark, cd)) == base
    assert load_transcripts(spark, jd).schema \
        == load_transcripts(spark, transcripts_path("sf0.001")).schema


# ------------------------------------------------- fixture warm path

def test_expected_outputs_read_materialized_corpus(monkeypatch):
    """A cold expected-output build must read the transcripts parquet
    back rather than regenerating the corpus in memory (one generator
    run per tier): with the corpus marker intact, rebuilding the
    expected tables must never call build_fixture_tables."""
    import os

    import pdftext_spark.sources.fixture_io as fio
    from pdftext_spark.sources.expected import ensure_expected_outputs

    out = ensure_expected_outputs("sf0.001")  # fully built

    def boom(**kw):
        raise AssertionError("corpus regenerated on warm path")

    monkeypatch.setattr(fio, "build_fixture_tables", boom)
    os.remove(os.path.join(out, "_EXPECTED_COMPLETE"))
    ensure_expected_outputs("sf0.001")
    assert os.path.exists(os.path.join(out, "_EXPECTED_COMPLETE"))


# ----------------------------------------------------- refs_canonical

def test_canonical_url_collapse(spark):
    """Every messy surface form of one target must collapse to the same
    canonical url; distinct targets must stay distinct."""
    from pdftext_spark.registry.extraction import canonical_url_col
    forms = [
        "https://example.com/7",
        "HTTPS://Example.COM/7/",
        "https://example.com:443/7?utm_source=feed",
        "https://example.com/7#section-2",
        "https://example.com/7?utm_a=1&utm_b=2",
        "https://example.com/7?gclid=abc",
        "https://example.com/7?fbclid=zz&utm_x=1",
        "http://example.com:80/8?a=1&utm_campaign=x&b=2",
        "http://example.com/8?a=1&b=2",
        "https://example.com/9?q=term&gclid=abc123",
        "https://example.com/9?q=term",
        # consecutive tracking runs in the middle + tail
        "https://example.com/10?utm_a=1&utm_b=2&keep=3&utm_c=4",
        # default-port strip with NO path (non-participating group 2),
        # case-mixed authority, and non-default ports left alone
        "https://example.com:443",
        "HTTP://EXAMPLE.COM:80",
        "https://example.com:8443/x",
        # review round 4: trailing '/' in a query VALUE is data; a bare
        # '?' after a trailing slash must converge with the slash form
        "https://example.com/x?next=/home/",
        "https://example.com/a/?",
        "https://example.com/a/",
    ]
    df = spark.createDataFrame([(u,) for u in forms], "url string")
    got = [r[0] for r in
           df.select(canonical_url_col("url")).collect()]
    assert got[:7] == ["https://example.com/7"] * 7
    assert got[7:9] == ["http://example.com/8?a=1&b=2"] * 2
    assert got[9:11] == ["https://example.com/9?q=term"] * 2
    assert got[11] == "https://example.com/10?keep=3"
    assert got[12] == "https://example.com"
    assert got[13] == "http://example.com"
    assert got[14] == "https://example.com:8443/x"
    assert got[15] == "https://example.com/x?next=/home/"
    assert got[16] == "https://example.com/a"
    assert got[17] == "https://example.com/a"
    # cross-engine: DuckDB twin must produce byte-identical results on
    # the same adversarial forms (middle runs aren't in the fixtures)
    import duckdb
    from pdftext_spark.registry.extraction import canonical_url_sql
    con = duckdb.connect()
    con.execute("CREATE TABLE u(url VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?)", [(u,) for u in forms])
    duck = [r[0] for r in
            con.execute(f"SELECT {canonical_url_sql('url')} FROM u").fetchall()]
    assert duck == got


def test_canonical_url_cross_engine_fuzz(spark):
    """300 seeded adversarial URLs through BOTH engines — every surface
    the normalization chain touches (schemes, case, ports, userinfo-ish
    tokens, tracking runs, fragments, slashes, empty queries) must
    canonicalize byte-identically."""
    import random

    import duckdb

    from pdftext_spark.registry.extraction import (
        canonical_url_col, canonical_url_sql)
    rng = random.Random(404)
    schemes = ["http", "https", "HTTP", "Https"]
    hosts = ["example.com", "Example.COM", "sub.EX-ample.org", "x.io"]
    ports = ["", ":80", ":443", ":8080", ":0443"]
    paths = ["", "/", "/a", "/a/", "/a/b//", "/%7Euser", "/a.b"]
    params = ["a=1", "utm_source=x", "utm_a=", "gclid=zz", "fbclid=1",
              "q=a/b/", "next=/home/", "b=2", "utm_b=3"]
    frags = ["", "#f", "#a/b?c=1", "#"]
    urls = []
    for _ in range(300):
        qs = "&".join(rng.sample(params, rng.randint(0, 4)))
        u = (rng.choice(schemes) + "://" + rng.choice(hosts)
             + rng.choice(ports) + rng.choice(paths)
             + (("?" + qs) if qs or rng.random() < 0.2 else "")
             + rng.choice(frags))
        urls.append(u)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(canonical_url_col("url")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE u(url VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?)", [(u,) for u in urls])
    duck = [r[0] for r in
            con.execute(f"SELECT {canonical_url_sql('url')} FROM u").fetchall()]
    mismatches = [(u, g, d) for u, g, d in zip(urls, got, duck) if g != d]
    assert not mismatches, mismatches[:5]


# -------------------------------------------------- perplexity gating

def test_curate_corpus_perplexity_gate(spark):
    """curate_corpus(perplexity_cap=...) must equal the ungated result
    minus the over-cap docs (verified against the DuckDB oracle), and the
    gate must actually drop something at a median cap."""
    import duckdb

    from pdftext_spark.queries import unpersist_registered
    from pdftext_spark.registry.pipeline import (
        q_curate_corpus, sql_curate_corpus)
    from pdftext_spark.registry.textqual import (
        q_text_perplexity, sql_text_perplexity)
    sf = "/root/testdata/sf0.001"
    scores = q_text_perplexity(spark, sf).collect()
    vals = sorted(r.perplexity_x1e6 for r in scores)
    cap = vals[len(vals) // 2]
    got = {r.doc_id for r in
           q_curate_corpus(spark, sf, perplexity_cap=cap).collect()}
    ungated = {r.doc_id for r in q_curate_corpus(spark, sf).collect()}
    unpersist_registered()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM read_parquet('{sf}/documents.parquet')")
    con.execute(f"CREATE VIEW embeddings AS "
                f"SELECT * FROM read_parquet('{sf}/embeddings.parquet')")
    exp = {r[0] for r in con.execute(
        f"SELECT doc_id FROM ({sql_curate_corpus(sf)}) "
        f"WHERE doc_id NOT IN (SELECT doc_id FROM "
        f"({sql_text_perplexity(sf)}) WHERE perplexity_x1e6 > {cap})"
    ).fetchall()}
    assert got == exp
    assert got < ungated  # the gate dropped at least one kept doc


# ----------------------------------------------------------- null role

def test_null_role_turn_registers_links(spark):
    """A NULL-role turn routes to the PDF path and registers its links
    (three-valued logic: NULL is not 'tool')."""
    payload = {
        "kind": "chars",
        "page_bbox": [0.0, 0.0, 612.0, 792.0],
        "rotation": 0,
        "text": "target words here",
        "bbox": [float(v) for i in range(17) for v in
                 (72 + 6 * i, 72, 78 + 6 * i, 83)],
        "charrot": 0.0,
        "fonts": [{"name": "Mono", "flags": 0, "size": 11.0, "weight": 400}],
        "font_id": 0,
        "links": [{"bbox": [72.0, 72.0, 120.0, 83.0], "dest_page": 0,
                   "dest_pos": [100.0, 200.0], "url": None}],
    }
    rows = [("c1", 0, None, json.dumps(payload), None, None)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    rows = extract(df, ExtractConfig(), resolve_links=False).collect()
    assert len(rows) == 1 and rows[0]["turn_idx"] == 0
    assert len(rows[0]["link_dests"]) == 1


# ---------------------------------------------------------- salt probe

def test_shuffle_exchange_matcher():
    """BroadcastExchange must NOT count as an upstream shuffle (it does
    not repartition the probe side), real shuffle exchanges must."""
    assert not _has_shuffle_exchange(
        "BroadcastExchange HashedRelationBroadcastMode(List(x))")
    assert _has_shuffle_exchange(
        "Exchange hashpartitioning(conv_id#1, 32), ENSURE_REQUIREMENTS")
    assert _has_shuffle_exchange("Exchange rangepartitioning(a#2 ASC, 32)")
    assert _has_shuffle_exchange("Exchange SinglePartition")
    assert _has_shuffle_exchange("Exchange RoundRobinPartitioning(32)")
    assert not _has_shuffle_exchange("Scan parquet [conv_id#1]")


def test_broadcast_join_input_still_salted(spark):
    """An input whose only exchange is a BroadcastExchange is a pure-scan
    pipeline for salting purposes: the probe side keeps its (possibly
    coarse) partitioning, so the salt must still engage."""
    from pdftext_spark.operators.extract import extract
    big = spark.createDataFrame(
        [("c%d" % i, 0, "user", "plain words", None, None) for i in range(64)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp").coalesce(1)
    dim = spark.createDataFrame([("user",)], "role string")
    joined = big.join(F.broadcast(dim), "role").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert not _has_shuffle_exchange(plan)
    out = extract(joined, ExtractConfig(partitions=8), resolve_links=False)
    phys = out._jdf.queryExecution().sparkPlan().toString()
    # the salt repartition must appear even though a BroadcastExchange does
    assert "Exchange hashpartitioning(conv_id" in phys


def test_shuffle_upstream_skips_salt(spark):
    """An input that already shuffled (join/agg upstream) is already
    shuffle-partition-wide: the salt must NOT add a second full-payload
    exchange. sparkPlan never contains EnsureRequirements exchanges, so
    this branch only works off executedPlan (r4 fix)."""
    from pdftext_spark.operators.extract import extract
    base = spark.createDataFrame(
        [("c%d" % i, i % 3, "user", "plain words", None, None)
         for i in range(32)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    # self-join on conv_id forces a real shuffle exchange upstream
    other = base.select("conv_id").distinct()
    joined = base.join(other, "conv_id").select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts")
    out = extract(joined, ExtractConfig(partitions=64), resolve_links=False)
    phys = out._jdf.queryExecution().executedPlan().toString()
    # the salt's (conv_id, turn_idx) repartition signature must be absent —
    # the only exchanges are the join's own conv_id ones
    import re
    assert "RoundRobinPartitioning" not in phys
    assert not re.search(r"Exchange hashpartitioning\([^)]*turn_idx", phys)


# ------------------------------------------- perplexity scale fallback

def test_perplexity_shuffle_join_form_matches_broadcast(spark):
    """The 100 TB form (shuffle join on the count tables, for when the
    bigram vocabulary outgrows any broadcast) must be value-identical to
    the broadcast form."""
    from pdftext_spark.queries import unpersist_registered
    from pdftext_spark.registry.textqual import q_text_perplexity
    sf = "/root/testdata/sf0.001"
    a = sorted(map(tuple, q_text_perplexity(spark, sf).collect()))
    b = sorted(map(tuple, q_text_perplexity(spark, sf, broadcast=False)
                   .collect()))
    unpersist_registered()
    assert a == b and len(a) > 0


# ---------------------------------------------------- empty corpus

def test_pipeline_queries_survive_empty_corpus(spark, tmp_path):
    """A 100 TB job's first production incident is an empty partition:
    every documents-table query must plan and run on a zero-row corpus
    (no div-by-zero, no empty-reduce crash), returning zero rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdftext_spark import queries as Q

    sf = str(tmp_path)
    pq.write_table(pa.Table.from_pylist([], schema=pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()),
         ("lang", pa.string()), ("source", pa.string()),
         ("n_chars", pa.int64())])), f"{sf}/documents.parquet")
    pq.write_table(pa.Table.from_pylist([], schema=pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())])), f"{sf}/embeddings.parquet")
    for name in ("text_tokens", "text_quality", "text_features",
                 "text_perplexity", "text_surprisal",
                 "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
                 "text_pack", "sample_hash", "source_stats",
                 "dedup_passages", "text_topterms", "emb_quantize",
                 "ann_ivf", "contamination", "contamination_lsh",
                 "sample_mix", "dedup_scrub", "text_ccnet"):
        fn, _sql = Q.QUERIES[name]
        assert fn(spark, sf).count() == 0, name
    Q.unpersist_registered()


# --------------------------------------------------- packing segments

def test_text_pack_split_segments(spark, tmp_path):
    """With documents longer than the bin budget, segments must tile
    each document exactly (lengths sum to n_tokens), every non-final bin
    of a shard must hold exactly the budget, and segment offsets must be
    contiguous per doc."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdftext_spark.registry.pipeline import _PACK_BUDGET, q_text_pack_split

    rows = [{"doc_id": i, "text": " ".join(f"w{j}" for j in range(n)),
             "lang": "en", "source": f"s{i % 2}", "n_chars": 0}
            for i, n in enumerate([3000, 500, 2048, 1, 4096, 2500, 700, 3500])]
    sf = str(tmp_path)
    pq.write_table(pa.Table.from_pylist(rows), f"{sf}/documents.parquet")
    segs = q_text_pack_split(spark, sf).collect()

    by_doc = {}
    for r in segs:
        by_doc.setdefault(r["doc_id"], []).append(r)
    n_tokens = {r["doc_id"]: len(r["text"].split()) for r in rows}
    assert set(by_doc) == set(n_tokens)
    for doc, ss in by_doc.items():
        ss.sort(key=lambda r: r["bin_idx"])
        # contiguous tiling of the doc's tokens
        assert ss[0]["tok_start"] == 0
        assert ss[-1]["tok_end"] == n_tokens[doc]
        for a, b in zip(ss, ss[1:]):
            assert a["tok_end"] == b["tok_start"]
            assert b["bin_idx"] == a["bin_idx"] + 1
    assert any(len(ss) > 1 for ss in by_doc.values())  # splitting happened
    # every bin except each shard's last carries exactly the budget
    bins = {}
    for r in segs:
        key = (r["source"], r["shard"], r["bin_idx"])
        bins[key] = bins.get(key, 0) + (r["tok_end"] - r["tok_start"])
    last_bin = {}
    for (src, sh, b), _ in bins.items():
        last_bin[(src, sh)] = max(last_bin.get((src, sh), -1), b)
    for (src, sh, b), total in bins.items():
        if b != last_bin[(src, sh)]:
            assert total == _PACK_BUDGET, (src, sh, b, total)


# ------------------------------------------------------ events funnel

def test_events_funnel_stage_semantics(spark, tmp_path):
    """Each stage must occur strictly AFTER the previous one: events in
    the wrong order do not count, and a missing middle stage stops the
    funnel even when later stages exist."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdftext_spark.registry.relational import q_events_funnel

    t0 = dt.datetime(2024, 1, 1)

    def e(eid, uid, typ, minutes):
        return {"event_id": eid, "ts": t0 + dt.timedelta(minutes=minutes),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    rows = [
        # u1: full ordered funnel -> stage 4
        e(1, 1, "signup", 0), e(2, 1, "view", 1), e(3, 1, "click", 2),
        e(4, 1, "purchase", 3),
        # u2: purchase BEFORE click -> stops at 3 (click reached)
        e(5, 2, "signup", 0), e(6, 2, "view", 1), e(7, 2, "purchase", 2),
        e(8, 2, "click", 4),
        # u3: no view at all -> stage 1 despite click+purchase existing
        e(9, 3, "signup", 0), e(10, 3, "click", 1), e(11, 3, "purchase", 2),
        # u4: never signed up -> stage 0
        e(12, 4, "view", 0), e(13, 4, "click", 1),
        # u5: view precedes signup, second view after -> stage 2
        e(14, 5, "view", 0), e(15, 5, "signup", 1), e(16, 5, "view", 2),
    ]
    sf = str(tmp_path)
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())])),
        f"{sf}/events.parquet")
    got = {r["user_id"]: r["stage"]
           for r in q_events_funnel(spark, sf).collect()}
    assert got == {1: 4, 2: 3, 3: 1, 4: 0, 5: 2}


def _write_events(tmp_path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())])),
        f"{tmp_path}/events.parquet")
    return str(tmp_path)


def test_events_asof_semantics(spark, tmp_path):
    """As-of = latest non-purchase event STRICTLY earlier in
    (ts, event_id) order for the same user: same-ts lower-event_id
    touches count, later touches never do, other users never leak, and
    a purchase with no prior touch keeps NULL touch columns."""
    import datetime as dt

    from pdftext_spark.registry.relational import q_events_asof

    t0 = dt.datetime(2024, 1, 1)

    def e(eid, uid, typ, seconds):
        return {"event_id": eid, "ts": t0 + dt.timedelta(seconds=seconds),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    rows = [
        # u1: click at t=10 is latest before the t=20 purchase (the view
        # at t=0 is older; the error at t=30 is later and must not match)
        e(1, 1, "view", 0), e(2, 1, "click", 10), e(3, 1, "purchase", 20),
        e(4, 1, "error", 30),
        # u2: touch shares the purchase's timestamp but has a LOWER
        # event_id -> strictly earlier in (ts, event_id) order -> counts
        e(5, 2, "view", 50), e(6, 2, "purchase", 50),
        # u3: purchase first -> no touch; the prior purchase is NOT a
        # touch for the second purchase either (non-purchase only), so
        # its touch is still the view
        e(7, 3, "purchase", 0), e(8, 3, "view", 5), e(9, 3, "purchase", 9),
        # u4 exists only to prove no cross-user leakage into u3
        e(10, 4, "click", 1),
    ]
    got = {r["event_id"]: r for r in
           q_events_asof(spark, _write_events(tmp_path, rows)).collect()}
    assert set(got) == {3, 6, 7, 9}
    assert got[3]["touch_event_id"] == 2 and got[3]["gap_us"] == 10_000_000
    assert got[6]["touch_event_id"] == 5 and got[6]["gap_us"] == 0
    assert got[7]["touch_event_id"] is None and got[7]["gap_us"] is None
    assert got[9]["touch_event_id"] == 8 and got[9]["touch_type"] == "view"


def test_events_range_join_boundaries(spark, tmp_path):
    """Interval containment is [start, start+10min): the opening error
    itself is excluded, an event exactly at start+10min is out, one at
    start+10min-1us is in, and an event matching two overlapping
    incident windows is counted once in EACH (but never twice in one —
    the bucket explode must not duplicate pairs)."""
    import datetime as dt

    from pdftext_spark.registry.relational import q_events_range_join

    t0 = dt.datetime(2024, 1, 1)

    def e(eid, typ, seconds, us=0, uid=1):
        return {"event_id": eid,
                "ts": t0 + dt.timedelta(seconds=seconds, microseconds=us),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    rows = [
        e(1, "error", 0),            # window [0, 600s)
        e(2, "error", 300),          # window [300s, 900s) — overlaps #1
        e(3, "view", 599, 999_999),  # last us of #1; also inside #2
        e(4, "view", 600),           # exactly 600s: outside #1, inside #2
        e(5, "view", 900),           # outside both
        # error #2 (t=300s) itself lands inside window #1 (errors are
        # events too); error #1 (t=0) predates window #2's [300s, 900s)
    ]
    got = {r["incident_id"]: r["n_events"] for r in
           q_events_range_join(spark, _write_events(tmp_path, rows)).collect()}
    # window 1 sees: event 2 (an error is still an event) + event 3;
    # window 2 sees: events 3 and 4 (900s is outside the half-open end)
    assert got == {1: 2, 2: 2}


def test_sample_mix_hits_target_and_never_upsamples(spark, tmp_path):
    """On a corpus where the web group dominates (9:1 by chars), the mix
    must keep ALL of the scarce curated group (binding group, rate 1)
    and downsample web so the realized char split lands near 3:7."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdftext_spark.registry.pipeline import q_sample_mix

    rows = []
    for i in range(1800):  # web: src0..src9, 100 chars each
        rows.append({"doc_id": i, "text": "x", "lang": "en",
                     "source": f"src{i % 10}", "n_chars": 100})
    for i in range(200):   # curated: src10..src19
        rows.append({"doc_id": 10_000 + i, "text": "x", "lang": "en",
                     "source": f"src{10 + i % 10}", "n_chars": 100})
    sf = str(tmp_path)
    pq.write_table(pa.Table.from_pylist(rows), f"{sf}/documents.parquet")
    got = q_sample_mix(spark, sf).collect()
    cur = [r for r in got if r["grp"] == "curated"]
    web = [r for r in got if r["grp"] == "web"]
    assert len(cur) == 200                       # binding group untouched
    # target web chars = (3/7) * curated chars = 8571; md5 sampling noise
    # on 1800 candidate docs stays well within 20%
    web_chars = 100 * len(web)
    assert 0.8 * 8571 < web_chars < 1.2 * 8571
    assert {r["doc_id"] for r in web} <= {r["doc_id"] for r in rows[:1800]}


def test_events_value_stats_approx_scale_path(spark):
    """events_value_stats documents its 100 TB form: swap the exact
    sort-based percentile for approx_percentile (mergeable GK sketch,
    no global sort). Pin that the swap is actually available and lands
    within the sketch's accuracy budget of the exact gated values."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rows = (ev.groupBy("event_type")
            .agg(F.expr("percentile(value, 0.9)").alias("exact"),
                 F.expr("approx_percentile(value, 0.9, 1000)")
                 .alias("approx"),
                 F.min("value").alias("lo"), F.max("value").alias("hi"))
            .collect())
    assert rows
    for r in rows:
        # accuracy=1000 => rank error <= n/1000; bound loosely in value
        # space via the group's range
        assert abs(r["approx"] - r["exact"]) <= 0.05 * (r["hi"] - r["lo"]), r


def test_dedup_scrub_semantics(spark, tmp_path):
    """The canonical owner (min doc_id) keeps the repeated passage; every
    other doc loses exactly the covered tokens (union of overlapping
    windows); docs without cross-doc repeats pass through verbatim."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdftext_spark.registry.pipeline import q_dedup_scrub

    boiler = " ".join(f"b{i}" for i in range(9))   # 9 tokens -> 2 windows
    rows = [
        {"doc_id": 1, "text": f"alpha {boiler} beta"},
        {"doc_id": 2, "text": f"start {boiler} end"},
        {"doc_id": 3, "text": "unique short doc"},
    ]
    for r in rows:
        r.update({"lang": "en", "source": "src0", "n_chars": len(r["text"])})
    sf = str(tmp_path)
    pq.write_table(pa.Table.from_pylist(rows), f"{sf}/documents.parquet")
    got = {r["doc_id"]: r for r in q_dedup_scrub(spark, sf).collect()}
    assert got[1]["text_scrubbed"] == f"alpha {boiler} beta"  # owner keeps
    assert got[2]["text_scrubbed"] == "start end"  # both windows' union gone
    assert got[2]["n_tokens_kept"] == 2 and got[2]["n_tokens"] == 11
    assert got[3]["text_scrubbed"] == "unique short doc"


def test_refs_pagerank_matches_python_reference(spark):
    """Third independent implementation: derive the same edge set from
    the expected-spans parquet in plain Python and run the integer
    fixed-point sweeps by hand; Spark must match EXACTLY (the DuckDB
    oracle is the second engine, this is the third)."""
    import re as _re
    from collections import defaultdict

    import pyarrow.parquet as pq

    from pdftext_spark.registry.extraction import (
        _PR_ITERS, _PR_SCALE, q_refs_pagerank)

    sf = "/root/testdata/sf0.001"
    from pdftext_spark.registry._shared import _fixture_path
    t = pq.read_table(_fixture_path(sf, "expected_spans.parquet"),
                      columns=["conv_id", "turn_idx", "block_idx",
                               "line_idx", "span_idx", "url"]).to_pylist()
    pat = _re.compile(r"^https?://([^/]+)")
    per_conv = defaultdict(list)
    for r in t:
        m = pat.match(r["url"] or "")
        if m:
            per_conv[r["conv_id"]].append(
                ((r["turn_idx"], r["block_idx"], r["line_idx"],
                  r["span_idx"]), m.group(1)))
    nodes, edges = set(), set()
    for seq in per_conv.values():
        seq.sort()
        doms = [d for _, d in seq]
        nodes.update(doms)
        edges.update((a, b) for a, b in zip(doms, doms[1:]) if a != b)
    outdeg = defaultdict(int)
    for a, _ in edges:
        outdeg[a] += 1
    pr = {n: _PR_SCALE for n in nodes}
    for _ in range(_PR_ITERS):
        cs = defaultdict(int)
        for a, b in edges:
            cs[b] += pr[a] // outdeg[a]
        pr = {n: (15 * _PR_SCALE + 85 * cs[n]) // 100 for n in nodes}
    got = {r["domain"]: r["rank_score"]
           for r in q_refs_pagerank(spark, sf).collect()}
    assert got == pr
    assert len(got) >= 2 and max(got.values()) > min(got.values())


def test_text_ccnet_buckets_monotone_and_balanced(spark):
    """Buckets must be monotone in score (every head <= every middle <=
    every tail) and, with sample thresholds from a representative 20%
    md5 sample, roughly tertile-sized on the full corpus."""
    from pdftext_spark.queries import unpersist_registered
    from pdftext_spark.registry.textqual import q_text_ccnet

    rows = q_text_ccnet(spark, "/root/testdata/sf0.001").collect()
    by = {}
    for r in rows:
        by.setdefault(r["bucket"], []).append(r["perplexity_x1e6"])
    assert set(by) == {"head", "middle", "tail"}
    assert max(by["head"]) <= min(by["middle"])
    assert max(by["middle"]) <= min(by["tail"])
    n = len(rows)
    for b in by.values():
        assert 0.2 * n < len(b) < 0.47 * n  # tertile-ish
    unpersist_registered()


def test_run_query_cli(spark, monkeypatch, tmp_path, capsys):
    """The pipeline-query entry point: --list prints the registry, a dry
    run reports rows+schema, --output writes parquet, and an unknown
    name exits 2 (getOrCreate reuses the test session in-process)."""
    import os
    import sys

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts"))
    try:
        import run_query
    finally:
        sys.path.pop(0)

    monkeypatch.setattr(sys, "argv", ["run_query.py", "--list"])
    assert run_query.main() == 0
    assert "sample_mix" in capsys.readouterr().out

    monkeypatch.setattr(sys, "argv", [
        "run_query.py", "sample_hash", "--sf", "/root/testdata/sf0.001"])
    assert run_query.main() == 0
    assert "rows; schema" in capsys.readouterr().out

    out = str(tmp_path / "q")
    monkeypatch.setattr(sys, "argv", [
        "run_query.py", "sample_hash", "--sf", "/root/testdata/sf0.001",
        "--output", out])
    assert run_query.main() == 0
    assert spark.read.parquet(out).count() > 0

    monkeypatch.setattr(sys, "argv", ["run_query.py", "nope"])
    assert run_query.main() == 2


def test_approx_count_distinct_scale_path(spark):
    """The distinct-user/conv counts (refs_domains, events_range_join,
    events_retention) become approx_count_distinct (HLL++, mergeable, no
    distinct expansion) at 10^12 rows. The default rsd is 5%; the bound
    asserted here is a deliberately looser 15%-or-2 envelope so tiny
    per-type groups (where one HLL bucket flip is a large relative
    error) cannot flake the suite — the pin is that the sketch tracks
    the exact counts at all, not its asymptotic rate."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    rows = (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("exact"),
                 F.approx_count_distinct("user_id").alias("approx"))
            .collect())
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(2, 0.15 * r["exact"]), r


def test_events_asof_chunked_form_identical(spark):
    """The segmented (user, day-chunk) as-of — the no-user-serializes
    scale form — must be ROW-IDENTICAL to the single-window form, and
    its heavy shuffle must key on (user_id, chunk)."""
    from pdftext_spark.registry.relational import q_events_asof

    sf = "/root/testdata/sf0.001"
    cols = ("event_id", "user_id", "purchase_us", "touch_event_id",
            "touch_type", "gap_us")

    def rows(df):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    plain = rows(q_events_asof(spark, sf))
    chunked_df = q_events_asof(spark, sf, chunked=True)
    assert rows(chunked_df) == plain and len(plain) > 50
    p = chunked_df._jdf.queryExecution().executedPlan().toString()
    import re
    keys = [m.group(1) for m in
            re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", p)]
    # the heavy event stream keys on (user_id, chunk) — the no-user-
    # serializes property; the tiny summary pipeline may add user_id-
    # keyed exchanges of per-user-day rows (strategy-dependent count)
    assert any("user_id" in k and "chunk" in k for k in keys)
    # every window in the chunked plan is chunk-scoped (partition or
    # order key); the unchunked form's user-alone running frame — the
    # thing that serializes a bot user — must not appear
    specs = re.findall(r"windowspecdefinition\([^)]*\)", p)
    assert specs and all("chunk" in w for w in specs)


def test_events_pattern_contiguity(spark, tmp_path):
    """The pattern is STRICT adjacency: an intervening event of any type
    breaks [error, error, purchase]; the span bound is inclusive of the
    limit and excludes beyond; other users' events never interleave."""
    import datetime as dt

    from pdftext_spark.registry.relational import (
        _PATTERN_SPAN_US, q_events_pattern)

    t0 = dt.datetime(2024, 1, 1)
    span_s = _PATTERN_SPAN_US // 1_000_000

    def e(eid, uid, typ, seconds):
        return {"event_id": eid, "ts": t0 + dt.timedelta(seconds=seconds),
                "user_id": uid, "event_type": typ, "value": 1.0,
                "props": "{}"}

    rows = [
        # u1: clean match, span exactly at the limit (inclusive)
        e(1, 1, "error", 0), e(2, 1, "error", 10),
        e(3, 1, "purchase", span_s),
        # u2: a view between the errors and the purchase breaks it
        e(4, 2, "error", 0), e(5, 2, "error", 10), e(6, 2, "view", 20),
        e(7, 2, "purchase", 30),
        # u3: right shape but one second past the span bound
        e(8, 3, "error", 0), e(9, 3, "error", 10),
        e(10, 3, "purchase", span_s + 1),
        # u4's events sit between u1's — must not interleave
        e(11, 4, "view", 5), e(12, 4, "view", 15),
    ]
    got = q_events_pattern(spark, _write_events(tmp_path, rows)).collect()
    assert [(r["user_id"], r["close_event_id"], r["span_us"])
            for r in got] == [(1, 3, _PATTERN_SPAN_US)]


def test_events_window_sliding_coverage(spark):
    """Every event lands in exactly width/slide = 4 overlapping windows
    (total sliding n_events = 4x the corpus), and a sliding window that
    starts on an hour boundary contains exactly the tumbling-hour
    window's events — the alignment property that catches any slide
    offset shift."""
    import os

    from pdftext_spark.queries import unpersist_registered
    from pdftext_spark.registry.relational import (
        _SLIDE_K, q_events_window, q_events_window_sliding)

    sf = "/root/testdata/sf0.001"
    rows = q_events_window_sliding(spark, sf).collect()
    n = spark.read.parquet(os.path.join(sf, "events.parquet")).count()
    assert sum(r["n_events"] for r in rows) == _SLIDE_K * n
    sliding = {(r["window_start_us"], r["event_type"]):
               (r["n_events"], r["value_cents"]) for r in rows}
    tumbling = q_events_window(spark, sf).collect()
    assert tumbling
    for t in tumbling:  # hour grid is a subset of the 15-min grid
        assert sliding[(t["window_start_us"], t["event_type"])] == \
            (t["n_events"], t["value_cents"])
    unpersist_registered()
