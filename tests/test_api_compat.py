"""Reference-shaped entry points + CLI (SURVEY.md §3 surface parity)."""

import json
import os
import subprocess
import sys

from pdftext_spark.api_compat import (
    dictionary_output,
    paginated_plain_text_output,
    parse_range_str,
    plain_text_output,
    table_output,
)
from tests.oracle_naive import oracle_dictionary, oracle_plain, oracle_tables


def _conv_payloads(fixture_rows):
    for cid, turns in fixture_rows["convs"].items():
        doc = [t for t in turns if t["role"] != "tool"]
        if len(doc) >= 3:
            return [t["text"] for t in doc]
    raise AssertionError("no conversation found")


def test_paginated_output(fixture_rows):
    payloads = _conv_payloads(fixture_rows)
    text = paginated_plain_text_output(payloads)
    assert len(text) == len(payloads)  # analog tests/test_extraction.py:5-7
    assert text == oracle_plain(payloads)


def test_plain_text_output(fixture_rows):
    payloads = _conv_payloads(fixture_rows)
    assert plain_text_output(payloads) == "\n".join(oracle_plain(payloads))


def test_page_range(fixture_rows):
    payloads = _conv_payloads(fixture_rows)
    pages = [0, 1]
    text = paginated_plain_text_output(payloads, page_range=pages)
    assert len(text) == len(pages)  # analog tests/test_extraction.py:14-17
    assert text == oracle_plain([payloads[i] for i in pages], page_ids=pages)


def test_dictionary_output_matches_oracle(fixture_rows):
    payloads = _conv_payloads(fixture_rows)
    pages = dictionary_output(payloads)
    exp = oracle_dictionary(payloads)
    assert len(pages) == len(exp)
    assert pages[0]["blocks"][0]["lines"][0]["spans"][0]["text"] == \
        exp[0]["blocks"][0]["lines"][0]["spans"][0]["text"]
    from tests.test_core_parity import deep_eq
    assert deep_eq(pages, exp) is None


def test_table_output(fixture_rows):
    for cid, turns in fixture_rows["convs"].items():
        doc = [t for t in turns if t["role"] != "tool"]
        payloads = [t["text"] for t in doc]
        if not any('"tables"' in p for p in payloads):
            continue
        got = table_output(payloads)
        exp = oracle_tables(payloads)
        from tests.test_core_parity import deep_eq
        assert deep_eq(got, exp) is None
        return
    raise AssertionError("no table conversation found")


def test_parse_range_str():
    assert parse_range_str("0,5-10,12") == [0, 5, 6, 7, 8, 9, 10, 12]
    assert parse_range_str("3,1,1") == [1, 3]


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_smoke(fixture_rows, tmp_path):
    payloads = _conv_payloads(fixture_rows)
    src = tmp_path / "conv.jsonl"
    src.write_text("\n".join(
        json.dumps({"turn_idx": i, "text": p}) for i, p in enumerate(payloads)))
    out = subprocess.run(
        [sys.executable, "scripts/extract_cli.py", str(src), "--pages", "0-1"],
        capture_output=True, text=True, cwd=_REPO_ROOT)
    assert out.returncode == 0, out.stderr[-500:]
    expected = "\n".join(oracle_plain(payloads[:2]))
    assert out.stdout.rstrip("\n") == expected.rstrip("\n")
    # JSON mode round-trips, keys in the reference's order
    out2 = subprocess.run(
        [sys.executable, "scripts/extract_cli.py", str(src), "--json"],
        capture_output=True, text=True, cwd=_REPO_ROOT)
    pages = json.loads(out2.stdout)
    assert len(pages) == len(payloads)
    span_keys = ["bbox", "text", "font", "char_start_idx", "char_end_idx",
                 "rotation", "url", "superscript", "subscript"]
    _assert_key_order(pages, span_keys)
    # the CLI has no keep_chars flag: char dicts through the same API
    pages = json.loads(json.dumps(dictionary_output(payloads, keep_chars=True)))
    _assert_key_order(pages, span_keys + ["chars"])
    chars = [c for p in pages for b in p["blocks"] for ln in b["lines"]
             for sp in ln["spans"] for c in sp["chars"]]
    assert chars
    for c in chars:
        assert list(c) == ["bbox", "char", "rotation", "font", "char_idx"]


def _assert_key_order(pages, span_keys):
    n_spans = 0
    for p in pages:
        assert list(p) == ["page", "bbox", "width", "height", "rotation",
                           "blocks", "refs"]
        for b in p["blocks"]:
            assert list(b) == ["lines", "bbox"]
            for ln in b["lines"]:
                assert list(ln) == ["spans", "bbox"]
                for sp in ln["spans"]:
                    assert list(sp) == span_keys
                    assert list(sp["font"]) == ["name", "flags", "size",
                                                "weight"]
                    n_spans += 1
    assert n_spans


def test_bbox_public_api():
    """Bbox object view matches the vectorized kernels and the reference
    semantics (schema.py:7-126)."""
    from pdftext_spark.core.geometry import Bbox

    b = Bbox([10, 20, 30, 60])
    assert (b.width, b.height, b.area) == (20, 40, 800)
    assert b.center == [20, 40]
    assert b.size == [20, 40]
    assert (b.x_start, b.y_start, b.x_end, b.y_end) == (10, 20, 30, 60)
    assert b[2] == 30

    # degenerate box padded on request (schema.py:8-12)
    d = Bbox([5, 5, 5, 5], ensure_nonzero_area=True)
    assert d.bbox == [5, 5, 6, 6]

    m = b.merge(Bbox([0, 30, 25, 70]))
    assert m.bbox == [0, 20, 30, 70]

    o = Bbox([20, 40, 50, 80])
    assert b.overlap_x(o) == 10 and b.overlap_y(o) == 20
    assert b.intersection_area(o) == 200
    assert b.intersection_pct(o) == 200 / 800
    assert Bbox([1, 1, 1, 9]).intersection_pct(b) == 0.0  # degenerate self

    # rotation matches the page-level kernel incl. corner normalization
    r = Bbox([10, 20, 30, 60]).rotate(100, 200, 90)
    assert r.bbox == [140, 10, 180, 30]
    try:
        Bbox([0, 0, 1, 1]).rotate(10, 10, 45)
        assert False, "expected ValueError"
    except ValueError:
        pass

    # reference call shape (schema.py:116): rescale(img_size, page_dict)
    s = Bbox([10, 20, 30, 60]).rescale([50, 100], {"width": 100, "height": 200})
    assert s.bbox == [5, 10, 15, 30]
    # legacy flat-scalar form still accepted, positionally and by keyword
    s2 = Bbox([10, 20, 30, 60]).rescale(50, 100, 100, 200)
    assert s2.bbox == s.bbox
    s3 = Bbox([10, 20, 30, 60]).rescale(img_w=50, img_h=100,
                                        page_w=100, page_h=200)
    assert s3.bbox == s.bbox
    try:
        Bbox([0, 0, 1, 1]).rescale([50, 100], {"width": 100, "height": 200}, 7)
        assert False, "expected TypeError"
    except TypeError:
        pass


def test_run_rejects_out_of_range_pages():
    """Reference CLI bounds assertion (scripts/extract_text.py:43) now
    raised by the library surface too — clean message, not IndexError."""
    import pytest
    from pdftext_spark.api_compat import paginated_plain_text_output
    payloads = ["hello", "world"]
    with pytest.raises(AssertionError, match="Invalid page number"):
        paginated_plain_text_output(payloads, page_range=[0, 3])
    with pytest.raises(AssertionError, match="Invalid page number"):
        paginated_plain_text_output(payloads, page_range=[-1])
    # the reference's inclusive-upper-bound quirk: p == doc_len passes the
    # assert and fails later on the index, exactly like the reference
    with pytest.raises(IndexError):
        paginated_plain_text_output(payloads, page_range=[2])
    assert paginated_plain_text_output(payloads, page_range=[1]) == ["world"]


def test_table_output_surrogate_page_costs_one_page():
    """With explicit table inputs, a payload that spells a lone surrogate
    as a JSON escape yields no cells for its own page; the other page
    keeps its cells and the call does not raise."""
    good = ('{"kind":"chars","page_bbox":[0,0,100,100],"text":"hi",'
            '"bbox":[1,2,3,4,5,6,7,8]}')
    bad = good.replace('"hi"', '"h\\ud800"')
    regions = [{"tables": [[0, 0, 50, 50]], "img_size": [100, 100]}] * 2
    ref = table_output([good], regions[:1])
    assert ref[0] and ref[0][0]
    assert table_output([good, bad], regions) == [ref[0], []]
