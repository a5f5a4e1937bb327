"""Property-based kernel-vs-oracle parity (hypothesis, derandomized).

The fixture generator covers realistic layouts; these tests throw
adversarial random char streams (degenerate boxes, stacked coordinates,
rotation mixes, hyphen/newline storms, random links) at both
implementations and require bit-exact agreement.
"""

import copy
import json
import os

import hypothesis.strategies as st
from hypothesis import HealthCheck, Phase, given, settings

from pdftext_spark.config import ExtractConfig
from pdftext_spark.core.api import process_batch
from pdftext_spark.core.links import (
    goto_placeholder,
    resolve_conversation_refs,
    rewrite_page_urls,
)
from pdftext_spark.core.textproc import handle_hyphens, postprocess_text
from tests.oracle_naive import hyphens_text, oracle_dictionary, oracle_plain, pp_text
from tests.test_core_parity import deep_eq

# HYP_EXAMPLES=2000 for a heavy pre-release shake-out run
SETTINGS = dict(max_examples=int(os.environ.get("HYP_EXAMPLES", "150")),
                deadline=None, derandomize=True,
                suppress_health_check=[HealthCheck.too_slow])

_CHAR_POOL = list("abcXY z12.'-∞ﬁﬀ") + ["\n", "\x02", " ", "\xa0", "\x7f", "\r", "\t"]
_GRID = [0.0, 3.5, 7.25, 11.0, 14.5, 21.0, 29.5, 36.0, 50.0, 72.0, 100.0]

_char_st = st.tuples(
    st.sampled_from(_CHAR_POOL),
    st.sampled_from(_GRID),                      # x1
    st.sampled_from(_GRID),                      # y1
    st.sampled_from([0.0, 0.5, 3.0, 6.5, 11.0]),  # width
    st.sampled_from([0.0, 4.0, 6.5, 8.0, 11.0, 14.0]),  # height
    st.sampled_from([0.0, 0.0, 0.0, 90.0]),      # char rotation
    st.integers(0, 2),                           # font id
)

_FONTS = [
    {"name": "A", "flags": 4, "size": 11.0, "weight": 400},
    {"name": "A", "flags": 4, "size": 6.5, "weight": 400},
    {"name": "B", "flags": 1, "size": 11.0, "weight": 700},
]

_link_st = st.tuples(
    st.sampled_from(_GRID), st.sampled_from(_GRID),
    st.sampled_from([5.0, 20.0, 60.0]), st.sampled_from([5.0, 12.0]),
    st.sampled_from([None, 0, 1, 2]),            # dest_page
    st.sampled_from([None, (0.0, 0.0), (72.0, 100.0), (3.5, 3.5)]),
    st.sampled_from([None, "https://x.example/a"]),
)

_payload_st = st.builds(
    lambda chars, rotation, links: _payload(chars, rotation, links),
    st.lists(_char_st, max_size=40),
    st.sampled_from([0, 0, 0, 90, 180, 270]),
    st.lists(_link_st, max_size=3),
)


def _payload(chars, rotation, links):
    text = "".join(c[0] for c in chars)
    bbox = []
    rots = []
    fids = []
    for _, x1, y1, w, h, rot, fid in chars:
        bbox.extend([x1, y1, x1 + w, y1 + h])
        rots.append(rot)
        fids.append(fid)
    obj = {
        "kind": "chars",
        "page_bbox": [0.0, 0.0, 200.0, 300.0],
        "rotation": rotation,
        "text": text,
        "bbox": bbox,
        "charrot": rots if any(rots) else 0.0,
        "fonts": _FONTS,
        "font_id": fids,
    }
    if links:
        obj["links"] = [
            {"bbox": [x, y, x + w, y + h], "dest_page": dp,
             "dest_pos": list(pos) if pos else None, "url": url}
            for x, y, w, h, dp, pos, url in links
        ]
    return json.dumps(obj, ensure_ascii=False)


@given(texts=st.lists(_payload_st, min_size=1, max_size=4))
@settings(**SETTINGS)
def test_plain_and_struct_parity(texts):
    ids = list(range(len(texts)))
    outs = process_batch(texts, ["user"] * len(texts), ids,
                         ExtractConfig(keep_chars=True))
    regs = [(ids[i], *r) for i, o in enumerate(outs) for r in o.registrations]
    url_map, refs_by_page = resolve_conversation_refs(regs)
    for o in outs:
        rewrite_page_urls(o.page, url_map, refs_by_page)
    exp_plain = oracle_plain(texts, page_ids=ids)
    exp_pages = oracle_dictionary(texts, keep_chars=True, page_ids=ids)
    for o, ep, eg in zip(outs, exp_plain, exp_pages):
        assert o.text == ep
        for page in (eg, o.page):
            for blk in page["blocks"]:
                for ln in blk["lines"]:
                    for sp in ln["spans"]:
                        for c in sp.get("chars", []):
                            c.pop("font", None)
        r = deep_eq(o.page, eg)
        assert r is None, r


_table_payload_st = st.builds(
    lambda chars, rotation: _table_payload(chars, rotation),
    st.lists(_char_st, min_size=1, max_size=30),
    st.sampled_from([0, 90, 180, 270]),
)


def _table_payload(chars, rotation):
    obj = json.loads(_payload(chars, rotation, []))
    # one table covering the whole (rotated) page in image coords at 1.5x —
    # every line passes the containment filter, so the rotation-specific
    # cell-adjacency branches (tables.py:28-56) all get exercised
    pw, ph = 200.0, 300.0
    if rotation in (90, 270):
        pw, ph = ph, pw
    obj["tables"] = [[-10.0 * 1.5, -10.0 * 1.5, (pw + 10) * 1.5, (ph + 10) * 1.5]]
    obj["img_size"] = [pw * 1.5, ph * 1.5]
    return json.dumps(obj, ensure_ascii=False)


@given(texts=st.lists(_table_payload_st, min_size=1, max_size=3))
@settings(**SETTINGS)
def test_table_clustering_parity(texts):
    from tests.oracle_naive import oracle_tables
    ids = list(range(len(texts)))
    outs = process_batch(texts, ["user"] * len(texts), ids,
                         ExtractConfig(keep_chars=True))
    exp = oracle_tables(texts, page_ids=ids)
    for o, e in zip(outs, exp):
        r = deep_eq(o.tables, e)
        assert r is None, r


_tbox_payload_st = st.builds(
    lambda chars, rotation, ql: (_tbox_payload(chars, rotation), ql),
    st.lists(_char_st, min_size=1, max_size=30),
    st.sampled_from([0, 0, 90, 180, 270]),
    st.booleans(),
)


def _tbox_payload(chars, rotation):
    obj = json.loads(_payload(chars, rotation, []))
    # tight boxes for every other char — exercised only where the loose-box
    # rule turns them on (rotated chars, bare quotes w/ quote_loosebox=False)
    tbox = {}
    for i in range(0, len(chars), 2):
        x1, y1 = chars[i][1], chars[i][2]
        tbox[str(i)] = [x1 + 0.5, y1 + 0.25, x1 + 2.0, y1 + 3.0]
    obj["tbox"] = tbox
    return json.dumps(obj, ensure_ascii=False)


@given(items=st.lists(_tbox_payload_st, min_size=1, max_size=3))
@settings(**SETTINGS)
def test_tbox_loosebox_parity(items):
    """S3 tight-box substitution (chars.py:21-23): rotated chars and — with
    quote_loosebox=False — bare quotes take the char's tight box."""
    for ql in (True, False):
        texts = [t for t, _ in items]
        ids = list(range(len(texts)))
        outs = process_batch(texts, ["user"] * len(texts), ids,
                             ExtractConfig(keep_chars=True, quote_loosebox=ql))
        exp_pages = oracle_dictionary(texts, keep_chars=True,
                                      quote_loosebox=ql, page_ids=ids)
        for o, eg in zip(outs, exp_pages):
            for page in (eg, o.page):
                for blk in page["blocks"]:
                    for ln in blk["lines"]:
                        for sp in ln["spans"]:
                            for c in sp.get("chars", []):
                                c.pop("font", None)
            r = deep_eq(o.page, eg)
            assert r is None, r


def test_table_dynamic_gap_thresh_parity():
    """>100 same-span char pairs flips the A5 statistic from the default
    0.01 to a data-driven p80 (tables.py:8-25); check against the oracle
    at every rotation."""
    from tests.oracle_naive import oracle_tables
    texts = []
    for rotation in (0, 90, 180, 270):
        bbox, fids = [], []
        x = 0.0
        for i in range(140):
            w = 1.0
            bbox.extend([x, 10.0, x + w, 18.0])
            fids.append(0)
            # mostly tight gaps, every 12th char a wide one -> p80 small,
            # wide gaps exceed it and split cells
            x += w + (14.0 if i % 12 == 11 else 0.2)
        obj = {
            "kind": "chars", "page_bbox": [0.0, 0.0, max(x, 200.0), 300.0],
            "rotation": rotation, "text": "ab" * 70, "bbox": bbox,
            "charrot": 0.0, "fonts": _FONTS, "font_id": fids,
        }
        pw, ph = max(x, 200.0), 300.0
        if rotation in (90, 270):
            pw, ph = ph, pw
        obj["tables"] = [[-10.0, -10.0, (pw + 10) * 1.5, (ph + 10) * 1.5]]
        obj["img_size"] = [pw * 1.5, ph * 1.5]
        texts.append(json.dumps(obj))
    ids = list(range(len(texts)))
    outs = process_batch(texts, ["user"] * len(texts), ids,
                         ExtractConfig(keep_chars=True))
    exp = oracle_tables(texts, page_ids=ids)
    n_cells = 0
    for o, e in zip(outs, exp):
        r = deep_eq(o.tables, e)
        assert r is None, r
        n_cells += sum(len(t) for t in o.tables)
    assert n_cells > 4  # the split actually happened somewhere


@given(s=st.text(max_size=200))
@settings(**SETTINGS)
def test_postprocess_property(s):
    assert postprocess_text(s) == pp_text(s)


@given(s=st.text(alphabet=st.sampled_from(list("ab \x02\n\r\xa0\t")), max_size=80),
       keep=st.booleans())
@settings(**SETTINGS)
def test_hyphens_property(s, keep):
    assert handle_hyphens(s, keep) == hyphens_text(s, keep)


def _arrow_rows(texts, cfg):
    """Run the Arrow fast path (route_batch + assemble_record_batch) on an
    in-process RecordBatch — the exact code Spark's mapInArrow executes —
    and return python rows."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdftext_spark.core.api import route_batch
    from pdftext_spark.core.arrow_out import assemble_record_batch
    from pdftext_spark.operators.schema import EXTRACTED

    target = to_arrow_schema(EXTRACTED)
    n = len(texts)
    ids = list(range(n))
    batch = pa.RecordBatch.from_arrays([
        pa.array([f"c{i}" for i in ids]),
        pa.array(ids, pa.int32()),
        pa.array(["user"] * n),
        pa.array(texts),
        pa.array([0] * n, target.field("ts").type),
    ], names=["conv_id", "turn_idx", "role", "text", "ts"])
    rb = route_batch(pa.array(texts), ["user"] * n, ids, cfg)
    return assemble_record_batch(batch, rb, cfg, target).to_pylist()


@given(texts=st.lists(_payload_st, min_size=1, max_size=4),
       keep_chars=st.booleans(), sort=st.booleans())
@settings(**SETTINGS)
def test_arrow_path_equals_oracle(texts, keep_chars, sort):
    """The Spark kernel's own code (route_batch + assemble_record_batch)
    must match the naive oracle for every flag combination, including
    link splits and keep_chars char gathers, on adversarial payloads.
    Links are resolved in-process from the link_dests column, and char
    fonts dropped, as test_core_parity does for process_batch."""
    cfg = ExtractConfig(keep_chars=keep_chars, sort=sort)
    rows = _arrow_rows(texts, cfg)
    ids = list(range(len(texts)))
    regs = [(ids[i], d["ord"], d["gid"], d["dest_page"], d["x"], d["y"])
            for i, row in enumerate(rows) for d in row["link_dests"]]
    url_map, refs_by_page = resolve_conversation_refs(regs)
    exp_plain = oracle_plain(texts, sort=sort, page_ids=ids)
    exp_pages = oracle_dictionary(texts, sort=sort, keep_chars=keep_chars,
                                  page_ids=ids)
    assert len(rows) == len(exp_pages)
    for row, ep, eg in zip(rows, exp_plain, exp_pages):
        assert row["error"] is None, row["error"]
        assert row["text"] == ep
        assert row["n_blocks"] == len(eg["blocks"])
        page = row["page"]
        rewrite_page_urls(page, url_map, refs_by_page)
        for blk in eg["blocks"]:
            for ln in blk["lines"]:
                for sp in ln["spans"]:
                    if keep_chars:
                        for c in sp["chars"]:
                            c.pop("font", None)
                    else:
                        sp["chars"] = None
        r = deep_eq(page, eg)
        assert r is None, r


@given(s=st.lists(st.sampled_from(
    list("<>/&;=\"' abcdiv!-[]CDATA\n\tspan") + ["<div", "<a href=", "</div>",
         "<script>", "</script>", "<!--", "-->", "<![CDATA[", "]]>", "&amp;",
         "<p>", "<body>", "<template>", "<br/>"]), max_size=120).map("".join))
@settings(**SETTINGS)
def test_html_tag_soup_never_crashes(s):
    """100 TB of scraped HTML contains every malformed construct there is;
    the scorer must always terminate and return a string, never raise."""
    from pdftext_spark.core.html_main import extract_main_text
    out = extract_main_text(s)
    assert isinstance(out, str)


@given(st.integers(0, 10**15), st.integers(0, 10**15))
@settings(**SETTINGS)
def test_mix_thresholds_properties(cw, cc):
    """sample_mix invariants for ANY group volumes: thresholds stay in
    [0, DENOM] (never upsample), a non-empty binding group keeps rate 1,
    an empty group rates 0, and the realized volume ratio honors the
    3:7 target direction (the web threshold satisfies
    tw*cw*7 <= tc*cc*3 + slack of one rounding unit scaled)."""
    from pdftext_spark.registry.pipeline import _MIX_DENOM, _mix_thresholds

    tw, tc = _mix_thresholds(cw, cc)
    D = _MIX_DENOM
    assert 0 <= tw <= D and 0 <= tc <= D
    # empty group -> rate 0; the converse does not hold (under extreme
    # imbalance the non-binding rate legitimately floors to 0)
    if cw == 0:
        assert tw == 0
    if cc == 0:
        assert tc == 0
    if cw and cc:
        assert tw == D or tc == D          # one group always binds
        # floor-rounding may only UNDERSHOOT the non-binding group:
        # realized web:curated volume <= 3:7 when web is downsampled
        # (and symmetrically), never overshoot
        if tc == D:
            assert tw * cw * 7 <= D * cc * 3
        if tw == D:
            assert tc * cc * 3 <= D * cw * 7


@given(st.integers(1, 4000), st.integers(1, 4000), st.integers(0, 40),
       st.binary(max_size=200), st.integers(1, 512))
@settings(**SETTINGS)
def test_resize_media_properties(w, h, fr, body, max_dim):
    """resize_media invariants for ANY synthetic container: result dims
    respect the budget, output stays a decodable IMG1 payload with the
    frame count preserved, within-budget inputs pass through
    byte-identical, and resize is idempotent."""
    from pdftext_spark.operators.multimodal import decode_media, resize_media

    payload = f"IMG1;W={w};H={h};F={fr};".encode() + body
    out, nw, nh = resize_media(payload, max_dim)
    assert max(nw, nh) <= max(max_dim, 1)
    w2, h2, fr2, _ = decode_media(out)
    assert (w2, h2, fr2) == (nw, nh, fr)
    if max(w, h) <= max_dim:
        assert out == payload
    out2, nw2, nh2 = resize_media(out, max_dim)
    assert (out2, nw2, nh2) == (out, nw, nh)


@settings(**SETTINGS)
@given(st.lists(
    st.lists(st.sampled_from("ab"), min_size=0, max_size=14)
      .map(lambda cs: " ".join(cs)),
    min_size=1, max_size=6))
def test_repeated_intervals_matches_naive_window_oracle(texts):
    """Suffix-array exact repeats == brute-force window counting: a
    position is covered iff its w-window (as a token tuple) occurs >= 2
    times across the corpus; intervals merge at gap > w. Tiny binary
    vocabulary forces dense repeat structure."""
    from collections import Counter

    from pdftext_spark.operators.substring import repeated_intervals

    w = 3
    toks = [t.split(" ") if t else [] for t in texts]
    toks = [[x for x in ts if x] for ts in toks]
    counts = Counter()
    for ts in toks:
        for i in range(len(ts) - w + 1):
            counts[tuple(ts[i:i + w])] += 1
    expected = []
    for di, ts in enumerate(toks):
        cov = [i + 1 for i in range(len(ts) - w + 1)
               if counts[tuple(ts[i:i + w])] >= 2]
        s = prev = None
        for p in cov:
            if s is None:
                s = prev = p
            elif p > prev + w:
                expected.append((di, s, prev + w - 1))
                s = prev = p
            else:
                prev = p
        if s is not None:
            expected.append((di, s, prev + w - 1))
    got = repeated_intervals(toks, w)
    assert sorted(got) == sorted(expected)


# X1 registry cases: a registration is (dest_page, coord); a conversation
# is up to 5 turns (turn_idx = position), each with or without a page. Page
# 5 never exists; the small coord pool repeats coords within and across
# turns and on different dest pages, and holds -0.0, which equals 0.0.
_reg_st = st.tuples(st.integers(0, 5),
                    st.sampled_from([(0.0, 0.0), (-0.0, 0.0), (72.0, 100.0),
                                     (3.5, 3.5)]))
_conv_st = st.lists(st.tuples(st.sampled_from([True, True, True, False]),
                              st.lists(_reg_st, max_size=4)),
                    min_size=1, max_size=5)
_FONT = {"name": "A", "flags": 4, "size": 11.0, "weight": 400}
_UNIT = [0.0, 0.0, 1.0, 1.0]


def _drawn_conversations(n: int) -> list:
    """n Hypothesis-generated conversations, drawn up front so that the
    Spark side resolves them all in one pass."""
    convs = []

    @settings(max_examples=n, derandomize=True, database=None,
              deadline=None, phases=[Phase.generate],
              suppress_health_check=list(HealthCheck))
    @given(_conv_st)
    def draw(conv):
        convs.append(conv)

    draw()
    return convs


def _registry_rows(cid: str, conv: list) -> tuple[list, dict, list]:
    """EXTRACTED-shaped rows of one conversation (minimal pages whose spans
    carry the turn's placeholder urls, a NULL url and an external url),
    the pages resolve_conversation_refs expects, and the registrations."""
    rows, regs, pages = [], [], {}
    for t, (has_page, dests) in enumerate(conv):
        gids: dict = {}
        links = []
        for k, (dest, (x, y)) in enumerate(dests if has_page else []):
            gid = gids.setdefault((dest, x, y), len(gids))
            links.append({"ord": 2 * k, "gid": gid, "dest_page": dest,
                          "x": x, "y": y})
            regs.append((t, 2 * k, gid, dest, x, y))
        urls = [goto_placeholder(t, g) for g in range(len(gids))]
        spans = [{"bbox": _UNIT, "text": "a", "font": _FONT,
                  "char_start_idx": 0, "char_end_idx": 0, "rotation": 0.0,
                  "url": u, "superscript": False, "subscript": False,
                  "chars": None}
                 for u in urls + [None, "https://x.example/a"]]
        page = None
        if has_page:
            page = pages[t] = {
                "page": t, "bbox": [0.0, 0.0, 100.0, 100.0], "width": 100,
                "height": 100, "rotation": 0,
                "blocks": [{"bbox": _UNIT,
                            "lines": [{"bbox": _UNIT, "spans": spans}]}],
                "refs": []}
        rows.append((cid, t, "user", None, "a", not has_page, page, [],
                     links, None, 1, len(spans), 1))
    url_map, refs_by_page = resolve_conversation_refs(regs)
    expected = {}
    for t, page in pages.items():
        expected[t] = copy.deepcopy(page)
        rewrite_page_urls(expected[t], url_map, refs_by_page)
    return rows, expected, regs


def test_registry_matches_python_reference(spark):
    """operators/refs.py resolves every conversation's span urls and page
    refs exactly as core/links.resolve_conversation_refs does in
    (turn_idx, ord) order: first arrival wins per (dest_page, coord), idx
    is the arrival rank on the dest page. All conversations share one
    DataFrame, so one resolve_refs pass checks them all."""
    from pdftext_spark.operators.refs import resolve_refs
    from pdftext_spark.operators.schema import EXTRACTED

    convs = _drawn_conversations(250)
    assert len(convs) >= 200
    rows, expected, seen = [], {}, set()
    for i, conv in enumerate(convs):
        cid = f"c{i}"
        conv_rows, pages, regs = _registry_rows(cid, conv)
        rows += conv_rows
        expected.update({(cid, t): p for t, p in pages.items()})
        coords = [(t, d, x, y) for t, _, _, d, x, y in regs]
        sources = {t for t, *_ in coords}
        targets = {d for _, d, *_ in coords}
        if len(coords) > len(set(coords)):
            seen.add("coord twice in a turn")
        if len({(d, x, y) for _, d, x, y in coords}) < len(set(coords)):
            seen.add("coord in two turns")
        if len({(x, y) for *_, x, y in coords}) < len(
                {(d, x, y) for _, d, x, y in coords}):
            seen.add("coord on two dest pages")
        if sources & targets:
            seen.add("turn is source and target")
        if (targets - sources) & set(pages):
            seen.add("target without links")
    assert len(seen) == 5, seen

    df = spark.createDataFrame(rows, EXTRACTED)
    got = {(r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)["page"]
           for r in resolve_refs(df, persist=False).collect()}
    assert len(got) == len(rows)
    for key, page in expected.items():
        assert got[key] == page, key
    assert sum(bool(p["refs"]) for p in expected.values()) > 100
