"""Drop-in, reference-shaped entry points (extraction.py:70-155 analogs).

A pdftext user calls three functions and a CLI (SURVEY.md §3); this module
exposes the same surface over a *conversation* (list of turn payloads
standing in for a PDF's pages), running the batch kernel locally — no
SparkSession needed. The Spark operators in operators/extract.py are the
cluster-scale form of the same pipeline.

Signature parity: `workers` is accepted and ignored (the reference's
ProcessPoolExecutor fan-out, extraction.py:44-67, is replaced by Spark
executors at scale and is pointless in-process).
"""

from __future__ import annotations

from typing import Optional

from pdftext_spark.config import ExtractConfig
from pdftext_spark.core.api import process_batch
from pdftext_spark.core.links import resolve_conversation_refs, rewrite_page_urls


def _run(payloads, page_range, cfg, roles=None):
    if page_range is None:
        page_range = range(len(payloads))
    page_range = list(page_range)
    # Reference CLI bounds check (scripts/extract_text.py:43), verbatim
    # including its inclusive upper bound quirk (`p == doc_len` passes the
    # assert there and only fails later inside pdfium; here it fails on
    # the list index below) — out-of-range pages get the reference's clean
    # assertion message, not a bare IndexError.
    assert all(0 <= p <= len(payloads) for p in page_range), \
        "Invalid page number(s) provided"
    texts = [payloads[i] for i in page_range]
    # roles route tool turns to the HTML main-content path like the Spark
    # operator does; PDF-shaped callers (the reference surface) omit them
    rr = (["user"] * len(texts) if roles is None
          else [roles[i] for i in page_range])
    outs = process_batch(texts, rr, page_range, cfg)
    if not cfg.disable_links and cfg.emit_struct:
        regs = [(page_range[i], *r) for i, o in enumerate(outs)
                for r in o.registrations]
        url_map, refs_by_page = resolve_conversation_refs(regs)
        for o in outs:
            if o.page is not None:
                rewrite_page_urls(o.page, url_map, refs_by_page)
    return outs


def paginated_plain_text_output(payloads: list, sort: bool = False,
                                hyphens: bool = False, page_range=None,
                                flatten_pdf: bool = False,
                                workers: Optional[int] = None,
                                roles: Optional[list] = None) -> list[str]:
    """extraction.py:75-80 — per-page plain text, stripped."""
    cfg = ExtractConfig(sort=sort, hyphens=hyphens, emit_struct=False,
                        emit_tables=False, disable_links=True)
    return [o.text for o in _run(payloads, page_range, cfg, roles=roles)]


def plain_text_output(payloads: list, sort: bool = False, hyphens: bool = False,
                      page_range=None, flatten_pdf: bool = False,
                      workers: Optional[int] = None,
                      roles: Optional[list] = None) -> str:
    """extraction.py:70-72 — pages joined with a newline."""
    return "\n".join(paginated_plain_text_output(
        payloads, sort=sort, hyphens=hyphens, page_range=page_range,
        roles=roles))


def dictionary_output(payloads: list, sort: bool = False, page_range=None,
                      keep_chars: bool = False, flatten_pdf: bool = False,
                      quote_loosebox: bool = True, disable_links: bool = False,
                      workers: Optional[int] = None,
                      roles: Optional[list] = None) -> list[dict]:
    """extraction.py:93-131 — nested page dicts with links/refs."""
    cfg = ExtractConfig(sort=sort, keep_chars=keep_chars,
                        quote_loosebox=quote_loosebox,
                        disable_links=disable_links, emit_tables=False)
    return [o.page for o in _run(payloads, page_range, cfg, roles=roles)]


def table_output(payloads: list, table_inputs: Optional[list] = None,
                 page_range=None, flatten_pdf: bool = False,
                 quote_loosebox: bool = True,
                 workers: Optional[int] = None) -> list[list]:
    """extraction.py:134-155 — table cells per page. Unlike the reference,
    table regions normally travel inside the payload (`tables`/`img_size`);
    an explicit `table_inputs` list (positional, one per page — J5) is
    honored when given."""
    cfg = ExtractConfig(quote_loosebox=quote_loosebox)
    if table_inputs is None:
        outs = _run(payloads, page_range, cfg)
        return [o.tables for o in outs]
    if page_range is None:
        page_range = range(len(payloads))
    page_range = list(page_range)
    assert len(page_range) == len(table_inputs), \
        "Number of pages and table inputs must match"
    import json

    from pdftext_spark.core.payload import maybe_parse_payload_raw
    patched = []
    for i, ti in zip(page_range, table_inputs):
        p = payloads[i]
        try:
            obj = maybe_parse_payload_raw(
                None if p is None else p.encode("utf-8", "surrogatepass")) or {}
        except UnicodeEncodeError:
            # a lone surrogate: pass the page through, and the kernel
            # makes it this page's error instead of failing the call
            patched.append(p)
            continue
        obj["tables"] = ti["tables"]
        obj["img_size"] = ti["img_size"]
        patched.append(json.dumps(obj, ensure_ascii=False))
    outs = _run(patched, list(range(len(patched))), cfg)
    return [o.tables for o in outs]


def parse_range_str(range_str: str) -> list[int]:
    """CLI page-range parser — '0,5-10,12' → sorted deduped list
    (scripts/extract_text.py:10-20, O2)."""
    parts = range_str.split(",")
    out: set[int] = set()
    for part in parts:
        if "-" in part:
            a, b = part.split("-")
            out.update(range(int(a), int(b) + 1))
        else:
            out.add(int(part))
    return sorted(out)
