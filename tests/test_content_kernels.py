"""Parity of the Arrow content kernels (functions/content.py) with the
per-row Python implementations they replaced, which are kept here as
the oracle. The kernels are called as Spark calls them: one
``pa.Array`` in, one out."""

from __future__ import annotations

import re

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from datax_spark.functions.content import (
    normalize_trailing_ws,
    rolling_fingerprint,
    token_count_bpeish,
)

_NORM_RE = re.compile(r"[ \t]+(?=\n)|[ \t]+$")
_TOKEN_RE = re.compile(r"\w+|[^\w\s]")


def normalize_oracle(v):
    return _NORM_RE.sub("", v) if v is not None else None


def token_count_oracle(v):
    return len(_TOKEN_RE.findall(v)) if v is not None else None


def fingerprint_oracle(v):
    if v is None:
        return None
    h = 1469598103934665603  # FNV-1a 64 offset
    for ch in v.encode("utf-8"):
        h = ((h ^ ch) * 1099511628211) & 0x7FFFFFFFFFFFFFFF
    return h


# whitespace Python and RE2 disagree on (RE2's \s is ASCII-only and
# excludes \x0b), separators, non-BMP letters and digits
_EDGE_CHARS = list(" \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0  　_!.,")
_EDGE_CHARS += ["\U0001d518", "\U00010400", "\U0001d7d9", "\U0001f600", "a", "Z", "9", "é"]
_CHARS = st.one_of(st.sampled_from(_EDGE_CHARS), st.characters(blacklist_categories=("Cs",)))
_TEXTS = st.lists(st.one_of(st.none(), st.text(alphabet=_CHARS)), max_size=20)


def _run(udf, texts):
    return udf.func(pa.array(texts, pa.string())).to_pylist()


@settings(max_examples=400, deadline=None)
@given(_TEXTS)
def test_normalize_and_token_count_match_re(texts):
    assert _run(normalize_trailing_ws, texts) == [normalize_oracle(v) for v in texts]
    assert _run(token_count_bpeish, texts) == [token_count_oracle(v) for v in texts]


@settings(max_examples=300, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text()), max_size=30), st.integers(0, 3))
def test_rolling_fingerprint_matches_loop(texts, skip):
    arr = pa.array(texts, pa.string())
    expect = [fingerprint_oracle(v) for v in texts]
    assert rolling_fingerprint.func(arr).to_pylist() == expect
    # a sliced array starts at a nonzero buffer offset
    assert rolling_fingerprint.func(arr.slice(skip)).to_pylist() == expect[skip:]


def test_token_classes_match_re_on_every_code_point():
    """Each code point, followed by a word character, a punctuation
    mark and a space, is counted as Python ``re`` counts it."""
    cps = [c for c in range(0x110000) if not 0xD800 <= c <= 0xDFFF]
    texts = [chr(c) + tail for tail in ("a", "!", " ") for c in cps]
    got = token_count_bpeish.func(pa.array(texts, pa.string())).to_numpy()
    expect = [len(_TOKEN_RE.findall(t)) for t in texts]
    bad = [texts[i] for i in (got != expect).nonzero()[0][:5]]
    assert not bad, [hex(ord(t[0])) for t in bad]
