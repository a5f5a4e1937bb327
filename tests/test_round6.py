"""Round-6 pins.

1. The corpus-level exact-substring query (registry/pipeline.py,
   windowed-hash + re-verify) and the per-partition suffix-array kernel
   (operators/substring.py) both claim Lee-et-al semantics; VERDICT r5
   item 7 asked for a direct cross-implementation equation on identical
   input (single corpus => identical repeated intervals).
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdftext_spark.operators.substring import repeated_intervals
from pdftext_spark.registry.pipeline import _PASSAGE_N, q_dedup_substr_exact


def _write_docs(tmp_path, token_docs):
    texts = [" ".join(toks) for toks in token_docs]
    tbl = pa.table({
        "doc_id": pa.array(range(len(texts)), type=pa.int64()),
        "source": pa.array(["t"] * len(texts)),
        "text": pa.array(texts),
    })
    pq.write_table(tbl, os.path.join(str(tmp_path), "documents.parquet"))
    return str(tmp_path)


def test_substr_exact_equals_sa_kernel(spark, tmp_path):
    """Randomized token corpora: the Spark corpus path and the SA kernel
    must produce the SAME maximal repeated intervals (doc, start, end),
    and the corpus path's n_windows must equal the island's covered
    window-position count, which the kernel derives independently."""
    rng = random.Random(20260821)
    w = _PASSAGE_N
    for case in range(5):
        n_docs = rng.randint(2, 6)
        # small vocabulary + planted duplicate runs force real repeats
        vocab = [f"tok{i}" for i in range(rng.randint(3, 10))]
        token_docs = []
        for _ in range(n_docs):
            toks = [rng.choice(vocab) for _ in range(rng.randint(0, 40))]
            token_docs.append(toks)
        if n_docs >= 2 and token_docs[0]:
            # plant one exact cross-doc duplicate run of >= w tokens
            run = [rng.choice(vocab) for _ in range(w + rng.randint(0, 4))]
            token_docs[0] = token_docs[0][:5] + run + token_docs[0][5:]
            token_docs[-1] = run + token_docs[-1]
        d = tmp_path / f"case{case}"
        d.mkdir()
        sf_dir = _write_docs(d, token_docs)
        got = {(int(r["doc_id"]), int(r["start_tok"]), int(r["end_tok"]))
               for r in q_dedup_substr_exact(spark, sf_dir).collect()}
        exp = {(di, s, e)
               for di, s, e in repeated_intervals(token_docs, w)}
        assert got == exp, (case, sorted(got), sorted(exp))


def test_route_batch_arrow_equals_list():
    """route_batch's zero-copy text view must be output-identical across
    string/large_string/sliced/chunked array layouts on every routing
    outcome: nulls, empties, invalid JSON, valid-JSON-non-payload,
    malformed payloads (the per-turn error channel), prose, HTML, and
    real payloads. Layouts whose bytes live elsewhere (string_view,
    dictionary) must fail loudly with the type named, not misparse."""
    import numpy as np
    import pytest

    from pdftext_spark.config import ExtractConfig
    from pdftext_spark.core.api import route_batch

    texts = [None, "", "not json", '{"bad"', '{"kind":"other"}',
             # charrot length mismatch -> per-turn ValueError channel
             '{"kind":"chars","page_bbox":[0,0,10,10],"text":"ab",'
             '"bbox":[1,2,3,4,5,6,7,8],"charrot":[0.0]}',
             '{"kind":"chars","page_bbox":[0,0,100,100],"text":"hi",'
             '"bbox":[1,2,3,4,5,6,7,8]}',
             # illegal rotation: every layout must emit rotate_boxes'
             # message from THIS turn's error channel (the deferred-
             # geometry fast path validates at decode time)
             '{"kind":"chars","page_bbox":[0,0,10,10],"rotation":45,'
             '"text":"a","bbox":[1,2,3,4]}',
             # rotated page + tight-box override: exercises the deferred
             # per-slice rotate after the flat normalize
             '{"kind":"chars","page_bbox":[0,0,100,50],"rotation":90,'
             '"text":"ab","bbox":[9,7,3,12,20,20,24,30],'
             '"charrot":[90.0,0.0],"tbox":{"0":[4,5,6,7]}}',
             "plain prose\nwith a wrapped line " * 8,
             "<html><body><p>x</p></body></html>", None]
    roles = ["user", "user", "user", "user", "user", "user", "user",
             "user", "user", "user", "tool", "tool"]
    tix = list(range(len(texts)))
    cfg = ExtractConfig()
    ref = route_batch(pa.array(texts, pa.string()), roles, tix, cfg)
    layouts = [
        pa.array(texts, type=pa.large_string()),
        pa.array([None] + texts, type=pa.string()).slice(1),
        pa.chunked_array([pa.array(texts[:4]), pa.array(texts[4:])]),
        pa.chunked_array([pa.array(texts[:9]), pa.array(texts[9:])]),
    ]
    for arr in layouts:
        got = route_batch(arr, roles, tix, cfg)
        assert got.n == ref.n and got.doc_pos == ref.doc_pos
        for oa, ob in zip(ref.outputs, got.outputs):
            assert (oa is None) == (ob is None)
            if oa is not None:
                assert (oa.text, oa.error, oa.is_html) == \
                       (ob.text, ob.error, ob.is_html)
        assert got.plains == ref.plains
        if ref.seg is not None:
            assert got.seg.chars.gtext == ref.seg.chars.gtext
            assert np.array_equal(got.seg.chars.boxes, ref.seg.chars.boxes)
    for arr, name in ((pa.array(texts, type=pa.string_view()), "string_view"),
                      (pa.array(texts).dictionary_encode(), "dictionary")):
        with pytest.raises(TypeError, match=name):
            route_batch(arr, roles, tix, cfg)


def test_lone_surrogate_turn_costs_one_turn():
    """A str turn that is not valid UTF-8 (a lone surrogate) must land in
    its own row's error channel; the other turns of the call — prose,
    payload and HTML alike — come out exactly as they do without it. So
    must a payload that spells the surrogate as a JSON escape: valid
    UTF-8 that orjson rejects and the stdlib fallback decodes."""
    from pdftext_spark.config import ExtractConfig
    from pdftext_spark.core.api import process_batch

    good = ["good prose",
            '{"kind":"chars","page_bbox":[0,0,100,100],"text":"hi",'
            '"bbox":[1,2,3,4,5,6,7,8]}',
            "<html><body><p>kept</p></body></html>"]
    roles = ["user", "user", "tool"]
    cfg = ExtractConfig()
    ref = process_batch(good, roles, [0, 1, 2], cfg)
    for bad, role, err in (
            ("bad \ud800 prose", "user", "UnicodeDecodeError("),
            ('{"kind":"chars","page_bbox":[0,0,100,100],'
             '"text":"h\udfff","bbox":[1,2,3,4,5,6,7,8]}', "user",
             "UnicodeDecodeError("),
            ('{"kind":"chars","page_bbox":[0,0,100,100],'
             '"text":"h\\ud800","bbox":[1,2,3,4,5,6,7,8]}', "user",
             "UnicodeEncodeError("),
            ("<p>\ud800</p>", "tool", "UnicodeDecodeError(")):
        outs = process_batch(good[:1] + [bad] + good[1:],
                             roles[:1] + [role] + roles[1:], [0, 9, 1, 2], cfg)
        assert outs[1].text == ""
        assert outs[1].error.startswith(err)
        assert [(o.text, o.error, o.page) for o in outs[:1] + outs[2:]] == \
            [(o.text, o.error, o.page) for o in ref]


def test_kernel_runs_from_foreign_cwd(tmp_path):
    """The Python workers must resolve pdftext_spark regardless of the
    driver's cwd (build_session ships the checkout root on the workers'
    PYTHONPATH). Before the fix, launching any kernel entry point from
    outside the repo killed every task with ModuleNotFoundError."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pdftext_spark.sources.session import build_session\n"
        "from pdftext_spark.operators.extract import plain_text\n"
        "from pdftext_spark.sources.fixture_io import ensure_fixture_dir\n"
        "import os\n"
        "spark = build_session(app='cwd-test', master='local[2]',\n"
        "                      shuffle_partitions=4)\n"
        "p = os.path.join(ensure_fixture_dir('sf0.001'), 'transcripts.parquet')\n"
        "n = plain_text(spark.read.parquet(p)).count()\n"
        "spark.stop()\n"
        "assert n > 0, n\n"
        "print('CWD-OK', n)\n" % repo)
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the driver may not set one either
    r = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                       capture_output=True, text=True, env=env, timeout=300)
    assert r.returncode == 0 and "CWD-OK" in r.stdout, (
        r.stdout[-500:], r.stderr[-2000:])


def test_build_session_local_only_settings(monkeypatch):
    """The workers' PYTHONPATH (driver-local paths) and the 4m scan-split
    default are set only when the master is local; an explicit split
    size, by argument or environment, applies on any master."""
    import types

    from pdftext_spark.sources import session

    class _Recorder:
        def __init__(self):
            self.conf = {}

        def appName(self, _name):
            return self

        def master(self, _master):
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return self.conf

    def confs(**kw):
        monkeypatch.setattr(session, "SparkSession",
                            types.SimpleNamespace(builder=_Recorder()))
        return session.build_session(**kw)

    pp = "spark.executorEnv.PYTHONPATH"
    mpb = "spark.sql.files.maxPartitionBytes"
    monkeypatch.delenv("PDFTEXT_SPARK_MAX_PARTITION_BYTES", raising=False)
    local = confs(master="local[2]")
    assert local[mpb] == "4m" and pp in local
    cluster = confs(master="spark://h:7077")
    assert mpb not in cluster and pp not in cluster
    assert confs(master="spark://h:7077", max_partition_bytes="64m")[mpb] \
        == "64m"
    monkeypatch.setenv("PDFTEXT_SPARK_MAX_PARTITION_BYTES", "32m")
    cluster = confs(master="spark://h:7077")
    assert cluster[mpb] == "32m" and pp not in cluster


def test_kernel_imports_leave_out_registry_and_pandas():
    """The Python workers import the kernel by reference (core.api,
    core.arrow_out, operators.extract); that closure must not load the
    operator registry or pandas, and neither may a plain-text batch or a
    struct batch (keep_chars, sort) holding a NULL text, a registered
    link, a table and an error turn: pa.array, pc.take with numpy
    indices and Array.to_numpy() each import pandas. The plain-text
    emit leaves out pyarrow.compute (~5.6 MB per worker) as well."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent("""
        import json
        import sys

        import numpy as np
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        from pdftext_spark.config import ExtractConfig
        from pdftext_spark.core.api import route_batch
        from pdftext_spark.core.arrow_buffers import from_numpy, string_array
        from pdftext_spark.operators.extract import _fill_text
        from pdftext_spark.operators.schema import EXTRACTED

        texts = [b'prose turn', b'<p>html</p>',
                 b'{"kind":"chars","page_bbox":[0,0,9,9],"text":"a",'
                 b'"bbox":[1,1,2,2]}']
        offs = np.cumsum([0] + [len(t) for t in texts]).astype(np.int32)
        arr = pa.StringArray.from_buffers(3, pa.py_buffer(offs),
                                          pa.py_buffer(b"".join(texts)))
        rb = route_batch(arr, ["user", "tool", "user"], [0, 1, 2],
                         ExtractConfig())
        out = string_array(_fill_text(rb, lambda rb: rb.plains))
        assert out.to_pylist() == ["prose turn", "html", "a"], out
        assert "pyarrow.compute" not in sys.modules

        from pdftext_spark.core.arrow_out import assemble_record_batch

        base = {"kind": "chars", "page_bbox": [0, 0, 612, 792],
                "text": "ab", "bbox": [1, 1, 2, 2, 2, 1, 3, 2],
                "fonts": [{"name": "A", "flags": 0, "size": 1.0,
                           "weight": 1}]}
        link = dict(base, links=[{"bbox": [0, 0, 4, 4], "dest_page": 3,
                                  "dest_pos": [5, 5], "url": None}])
        table = dict(base, tables=[[0, 0, 612, 792]], img_size=[612, 792])
        texts = [None, json.dumps(link), json.dumps(table),
                 json.dumps(dict(base, rotation=45))]
        n = len(texts)
        text_col = string_array(texts)
        assert text_col.null_count == 1
        target = to_arrow_schema(EXTRACTED)
        ids = from_numpy(np.arange(n, dtype=np.int32))
        batch = pa.RecordBatch.from_arrays(
            [string_array(["c"] * n), ids, string_array(["user"] * n),
             text_col, pa.nulls(n, target.field("ts").type)],
            names=["conv_id", "turn_idx", "role", "text", "ts"])
        cfg = ExtractConfig(keep_chars=True, sort=True)
        rb = route_batch(batch.column("text"), ["user"] * n,
                         list(range(n)), cfg)
        rows = assemble_record_batch(batch, rb, cfg, target).to_pylist()
        assert rows[0]["text"] == "" and rows[0]["error"] is None, rows[0]
        assert rows[1]["link_dests"] == [
            {"ord": 0, "gid": 0, "dest_page": 3, "x": 4.0, "y": 4.0}], rows[1]
        assert rows[2]["tables"][0][0]["text"] == "ab", rows[2]["tables"]
        assert rows[3]["error"] and rows[3]["page"] is None, rows[3]
        assert rows[1]["page"]["blocks"][0]["lines"][0]["spans"][0][
            "chars"][0]["char"] == "a"
        print(sorted(m for m in sys.modules if m == "pandas" or m.startswith(
            ("pdftext_spark.queries", "pdftext_spark.registry"))))
        """)
    r = subprocess.run([sys.executable, "-c", script], cwd=repo,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.strip() == "[]", r.stdout


def test_dup_masks_exact_under_hash_collisions():
    """segment._dup_masks picks candidate rows by a wrapping hash and
    decides by exact row equality: rows built to collide under the hash
    stay distinct, and both masks match a dict reference."""
    import collections

    import numpy as np

    from pdftext_spark.core.segment import _ROW_MIX, _dup_masks

    # x0*C0 + x1*C1 == (x0 + C1)*C0 + (x1 - C0)*C1  (mod 2**64)
    a = np.array([3, 5, 7], dtype=np.uint64)
    b = (a + np.array([_ROW_MIX[1], 0, 0], dtype=np.uint64)
         - np.array([0, _ROW_MIX[0], 0], dtype=np.uint64))
    rng = np.random.default_rng(8)
    for k in (3, 5, 8):
        rows = rng.integers(-2, 3, size=(400, k)).astype(np.int64)
        rows[[7, 90, 200], :3] = a.view(np.int64)
        rows[[7, 90, 200], 3:] = 0
        rows[[40, 300], :3] = b.view(np.int64)
        rows[[40, 300], 3:] = 0
        h = rows.view(np.uint64) @ _ROW_MIX[:k]
        assert h[7] == h[40] and (rows[7] != rows[40]).any()
        keys = [tuple(r) for r in rows.tolist()]
        count = collections.Counter(keys)
        seen: set = set()
        later = []
        for key in keys:
            later.append(key in seen)
            seen.add(key)
        dup_any, dup_later = _dup_masks(np.ascontiguousarray(rows))
        assert dup_any.tolist() == [count[key] > 1 for key in keys]
        assert dup_later.tolist() == later
    none = np.arange(12, dtype=np.int64).reshape(4, 3)
    assert not any(m.any() for m in _dup_masks(none))
