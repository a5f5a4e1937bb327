"""String-function parity + the precomputed range table vs live unicodedata."""

import importlib.util
import os
import sys

import pytest

from pdftext_spark.core.textproc import (
    HYPHEN_SENTINEL,
    KEPT_WHITESPACE,
    handle_hyphens,
    postprocess_text,
)
from pdftext_spark.core._cc_ranges import CC_DELETE_RANGES
from tests.oracle_naive import hyphens_text, pp_text


def test_cc_ranges_match_unicodedata():
    """The build-time range table must equal what
    scripts/gen_cc_ranges.py computes from this interpreter's
    unicodedata over the whole plane (rerun the script if this ever
    fails after a Python/unicodedata upgrade)."""
    spec = importlib.util.spec_from_file_location(
        "gen_cc_ranges",
        os.path.join(os.path.dirname(__file__), "..", "scripts",
                     "gen_cc_ranges.py"))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert gen.KEPT == {HYPHEN_SENTINEL} | KEPT_WHITESPACE
    assert CC_DELETE_RANGES == gen.cc_delete_ranges()


@pytest.mark.parametrize("s", [
    "", "plain", "a\r\nb", "a\rb", "a\xa0b", "a﻿b￾c",
    "ﬁﬀﬃﬄﬂﬆﬅ", "a\x02b", "a\x00b\x7fc\x9dd", "tab\there",
    "\x02\n", "mixed ﬁ\xa0\x02\r\n\x07end", "\U0001d173supp\U000e0001",
    "surr\ud800ogate" if sys.maxunicode > 0xffff else "x",
])
def test_postprocess_matches_oracle(s):
    assert postprocess_text(s) == pp_text(s)


@pytest.mark.parametrize("s", [
    "", "word", "hy\x02\nphen next", "hy\x02phen", "a\x02  b", "a\x02",
    "tail\x02\n\nmore words here", "x\x02\r\ny z", "\x02", "end\x02\n",
])
@pytest.mark.parametrize("keep", [True, False])
def test_hyphens_matches_oracle(s, keep):
    assert handle_hyphens(s, keep) == hyphens_text(s, keep)


def test_hyphen_final_char_drop_quirk():
    # the reference drops the last input char in keep=False mode
    # (postprocessing.py:39)
    assert handle_hyphens("abc", False) == "ab"
    assert handle_hyphens("a", False) == ""
    assert handle_hyphens("", False) == ""
