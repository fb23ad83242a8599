"""Fuzz the in-repo wire decoders (hypothesis): a truncated or
bit-flipped BSON document raises only ``BsonError`` and a damaged raw
snappy block only ``ValueError``; intact input round-trips. Pure
Python, no Spark session."""

from __future__ import annotations

import datetime as dt

from hypothesis import given, settings
from hypothesis import strategies as st

from datax_spark.sources.kafka import snappy_decompress
from datax_spark.sources.mongo import BsonError, ObjectId, bson_decode, bson_encode

SETTINGS = dict(max_examples=200, deadline=2000)

_names = st.text(
    alphabet=st.characters(blacklist_characters="\x00", blacklist_categories=("Cs",)),
    max_size=6,
)
_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(2**63), 2**63 - 1),
    st.floats(allow_nan=False),
    st.text(max_size=12).filter(lambda s: "\x00" not in s),
    st.binary(max_size=12),
    st.binary(min_size=12, max_size=12).map(ObjectId),
    st.integers(-(2**40), 2**40).map(
        lambda ms: dt.datetime.fromtimestamp(ms / 1000.0, tz=dt.timezone.utc)
    ),
)
_values = st.recursive(
    _scalars,
    lambda inner: st.one_of(
        st.lists(inner, max_size=4), st.dictionaries(_names, inner, max_size=4)
    ),
    max_leaves=12,
)
_docs = st.dictionaries(_names, _values, max_size=6)


def _damage(data: bytes, cut: int | None, flips: list[int]) -> bytes:
    out = bytearray(data if cut is None else data[: cut % max(len(data), 1)])
    for bit in flips:
        if out:
            pos = bit % (len(out) * 8)
            out[pos // 8] ^= 1 << (pos % 8)
    return bytes(out)


_cut = st.one_of(st.none(), st.integers(0, 10**6))
_flips = st.lists(st.integers(0, 10**6), max_size=3)


@given(doc=_docs, cut=_cut, flips=_flips)
@settings(**SETTINGS)
def test_bson_decode_raises_only_bson_error(doc, cut, flips):
    enc = bson_encode(doc)
    assert bson_decode(enc)[1] == len(enc)
    try:
        got, end = bson_decode(_damage(enc, cut, flips))
    except BsonError:
        return
    assert isinstance(got, dict) and end <= len(enc)


def _snappy_block(pieces: list[tuple[bytes, int, int]]) -> tuple[bytes, bytes]:
    """A raw snappy block from (literal, copy offset, copy length)
    pieces, with every element form the decoder reads; returns the
    block and its decoded bytes."""
    out, body = bytearray(), bytearray()
    for lit, off, size in pieces:
        n = len(lit) - 1
        if n < 60:
            body.append(n << 2)
        else:
            body += bytes([60 << 2, n])
        body += lit
        out += lit
        off = 1 + off % len(out)
        if size <= 11 and off < 2048:
            body += bytes([((off >> 8) << 5) | ((size - 4) << 2) | 1, off & 0xFF])
        elif off < 65536:
            body += bytes([((size - 1) << 2) | 2]) + off.to_bytes(2, "little")
        else:
            body += bytes([((size - 1) << 2) | 3]) + off.to_bytes(4, "little")
        for _ in range(size):
            out.append(out[-off])
    n, head = len(out), bytearray()
    while True:
        head.append(n & 0x7F | (0x80 if n > 0x7F else 0))
        n >>= 7
        if not n:
            break
    return bytes(head + body), bytes(out)


_pieces = st.lists(
    st.tuples(st.binary(min_size=1, max_size=120), st.integers(0, 10**4), st.integers(4, 64)),
    min_size=1,
    max_size=5,
)


@given(pieces=_pieces, cut=_cut, flips=_flips)
@settings(**SETTINGS)
def test_snappy_decompress_raises_only_value_error(pieces, cut, flips):
    block, plain = _snappy_block(pieces)
    assert snappy_decompress(block) == plain
    try:
        snappy_decompress(_damage(block, cut, flips))
    except ValueError:
        pass
