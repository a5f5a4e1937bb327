"""Spark-level end-to-end tests: full extract() vs the oracle, determinism,
filters, and plan-shape assertions."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from pdftext_spark.config import ExtractConfig
from pdftext_spark.operators.extract import extract, plain_text
from tests.oracle_naive import oracle_dictionary, oracle_plain
from tests.test_core_parity import deep_eq


def _spark_pages(rows):
    rows = list(rows)
    out = {}
    for r in rows:
        out[(r["conv_id"], r["turn_idx"])] = r
    return out


@pytest.fixture(scope="module")
def extracted_rows(spark, transcripts):
    df = extract(transcripts, ExtractConfig(keep_chars=True))
    return [r.asDict(recursive=True) for r in df.collect()]


def _oracle_for_conv(fixture_rows, cid, **kw):
    doc = [t for t in fixture_rows["convs"][cid] if t["role"] != "tool"]
    texts = [t["text"] for t in doc]
    ids = [t["turn_idx"] for t in doc]
    return {i: p for i, p in zip(ids, oracle_dictionary(texts, page_ids=ids, **kw))}


def _normalize_spark_page(page):
    """Spark page dicts → oracle shape: drop None chars arrays, drop the
    font-less char normalization mismatch (both sides drop char font)."""
    if page is None:
        return None
    for blk in page["blocks"]:
        for ln in blk["lines"]:
            for sp in ln["spans"]:
                if sp.get("chars") is None:
                    sp.pop("chars", None)
    return page


def _normalize_oracle_page(page):
    for blk in page["blocks"]:
        for ln in blk["lines"]:
            for sp in ln["spans"]:
                for c in sp.get("chars", []):
                    c.pop("font", None)
    return page


def test_row_count_preserved(spark, transcripts, extracted_rows):
    assert len(extracted_rows) == transcripts.count()


def test_spark_struct_parity(fixture_rows, extracted_rows):
    got = _spark_pages(extracted_rows)
    checked = 0
    for cid in fixture_rows["convs"]:
        exp = _oracle_for_conv(fixture_rows, cid, keep_chars=True)
        for tid, page in exp.items():
            g = got[(cid, tid)]
            assert g["error"] is None
            r = deep_eq(_normalize_spark_page(g["page"]), _normalize_oracle_page(page))
            assert r is None, f"{cid}/{tid}: {r}"
            checked += 1
    assert checked > 50


def test_spark_plain_parity(fixture_rows, extracted_rows):
    got = _spark_pages(extracted_rows)
    for cid, turns in fixture_rows["convs"].items():
        doc = [t for t in turns if t["role"] != "tool"]
        if not doc:
            continue
        exp = oracle_plain([t["text"] for t in doc],
                           page_ids=[t["turn_idx"] for t in doc])
        for t, e in zip(doc, exp):
            assert got[(cid, t["turn_idx"])]["text"] == e


def test_spark_html_turns(fixture_rows, extracted_rows):
    got = _spark_pages(extracted_rows)
    exp = {(h["conv_id"], h["turn_idx"]): h["main_text"] for h in fixture_rows["html"]}
    for key, main in exp.items():
        assert got[key]["is_html"] is True
        assert got[key]["text"] == main
        assert got[key]["page"] is None


def test_arrow_path_struct_parity(spark, transcripts, fixture_rows):
    """The mapInArrow fast path (keep_chars=False) must match the oracle
    exactly, including link urls, refs, sort-mode block order, and the
    chars column being null."""
    for sort in (False, True):
        df = extract(transcripts, ExtractConfig(sort=sort))
        got = _spark_pages(r.asDict(recursive=True) for r in df.collect())
        checked = 0
        for cid in fixture_rows["convs"]:
            exp = _oracle_for_conv(fixture_rows, cid, keep_chars=False, sort=sort)
            for tid, page in exp.items():
                g = got[(cid, tid)]
                assert g["error"] is None
                gp = g["page"]
                for blk in gp["blocks"]:
                    for ln in blk["lines"]:
                        for sp in ln["spans"]:
                            assert sp.pop("chars") is None
                r = deep_eq(gp, page)
                assert r is None, f"sort={sort} {cid}/{tid}: {r}"
                checked += 1
        assert checked > 50


def test_turn_range_filter(spark, transcripts):
    """P1 — turn_idx predicate must reach the parquet scan (pushdown) and
    subset exactly (analog tests/test_extraction.py:14-17)."""
    wanted = [0, 1, 3]
    df = transcripts.filter(F.col("turn_idx").isin(wanted))
    out = plain_text(df)
    got = out.select("turn_idx").distinct().collect()
    assert {r["turn_idx"] for r in got} <= set(wanted)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "turn_idx" in plan


def test_determinism(spark, transcripts):
    a = plain_text(transcripts).orderBy("conv_id", "turn_idx").collect()
    b = plain_text(transcripts).orderBy("conv_id", "turn_idx").collect()
    assert a == b


def test_error_isolation(spark):
    """A turn with an illegal payload must produce an error row, not kill
    the job."""
    rows = [("c", 0, "user", '{"kind":"chars","page_bbox":[0,0,10,10],'
             '"rotation":45,"text":"a","bbox":[1,1,2,2]}', None, None),
            ("c", 1, "user", "plain prose", None, None)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string,"
                               " text string, tool string, ts timestamp")
    out = extract(df, resolve_links=False).orderBy("turn_idx").collect()
    assert out[0]["error"] is not None and "Rotation" in out[0]["error"]
    assert out[1]["error"] is None and out[1]["text"] == "plain prose"


def _formatted_nodes(df) -> list[tuple[str, set]]:
    """(operator name, input column names) per node of
    `explain(mode="formatted")`, the cached kernel plan included."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    text = buf.getvalue()
    nodes = []
    for section in re.split(r"\n(?=\(\d+\) )", text)[1:]:
        name = section.split()[1]
        m = re.search(r"^Input \[\d+\]: \[(.*)\]$", section, re.M)
        cols = set(re.findall(r"(\w+)#\d+", m.group(1))) if m else set()
        nodes.append((name, cols))
    return nodes


def test_no_heavy_shuffle_after_kernel(spark, transcripts):
    """Plan shape on the hinted path: the refs side table meets the kernel
    output in ONE broadcast join, the registry adds ONE shuffle (the
    conv_id repartition of registrations), and no shuffle carries the
    nested page column — the only other shuffle is the salt before the
    kernel."""
    df = extract(transcripts, ExtractConfig())
    nodes = _formatted_nodes(df)
    assert [n for n, _ in nodes].count("BroadcastExchange") == 1
    shuffles = [cols for n, cols in nodes if n == "Exchange"]
    assert shuffles and not any("page" in cols for cols in shuffles)
    registry = [cols for cols in shuffles if "dest_page" in cols]
    assert len(registry) == 1
    salt = set(transcripts.columns)
    assert all(cols <= salt for cols in shuffles if cols not in registry)


def test_refs_broadcast_fallback_parity(spark, transcripts, monkeypatch):
    """A zero BROADCAST_THRESHOLD forces the no-hint (AQE / sort-merge)
    path of link-dense corpora; output must be byte-identical to the
    broadcast path, and the hint must actually be present/absent in the
    plan."""
    from pdftext_spark.operators import refs
    ext = extract(transcripts, ExtractConfig(), resolve_links=False).persist()
    try:
        df_b = refs.resolve_refs(ext, persist=False)
        monkeypatch.setattr(refs, "BROADCAST_THRESHOLD", 0)
        df_f = refs.resolve_refs(ext, persist=False)
        assert "strategy=broadcast" in df_b._jdf.queryExecution().analyzed().toString()
        assert "strategy=broadcast" not in df_f._jdf.queryExecution().analyzed().toString()
        a = df_b.orderBy("conv_id", "turn_idx").collect()
        b = df_f.orderBy("conv_id", "turn_idx").collect()
        assert len(a) == len(b) > 0
        for ra, rb in zip(a, b):
            assert ra.asDict(recursive=True) == rb.asDict(recursive=True)
    finally:
        ext.unpersist()


# Spark jobs of one cold extract(ExtractConfig()) pass over the test
# fixture into a noop sink, as measured; a registry that scans
# link_dests once per consumer behind three broadcast joins runs 14.
EXTRACT_JOBS = 7


def test_extract_job_count(spark, transcripts):
    """A refs change that reads the registry once per consumer again (or
    adds an exchange) costs jobs; this fails tier-1 on it instead of
    only moving a benchmark."""
    from pdftext_spark.operators.refs import release_persisted
    sc = spark.sparkContext
    group = "test-extract-job-count"
    spark.catalog.clearCache()  # a cached kernel output would save jobs
    sc.setJobGroup(group, "extract job count")
    try:
        df = extract(transcripts, ExtractConfig())
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    release_persisted(df)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= EXTRACT_JOBS, n_jobs
