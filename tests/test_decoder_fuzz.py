"""Fuzz the in-repo wire decoders (hypothesis): a truncated or
bit-flipped BSON document raises only ``BsonError``, a damaged raw
snappy or LZ4 block only ``ValueError``, a damaged Kafka record batch
(v2, plain or gzip) or magic-1 message set only ``KafkaError``, a
bit-flipped zstd frame only ``ZstdError``; every strict prefix of an
LZ4 frame raises ``ValueError``; intact input round-trips. Pure
Python, no Spark session; the larger zstd frames come from the `zstd`
CLI and are skipped without it."""

from __future__ import annotations

import datetime as dt
import functools
import random
import shutil
import struct
import subprocess

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datax_spark.sources.kafka import (
    KafkaError,
    decode_records,
    encode_message_set,
    encode_record_batch_v2,
    lz4_block_decompress,
    lz4_frame_decompress,
    snappy_decompress,
)
from datax_spark.sources.mongo import BsonError, ObjectId, bson_decode, bson_encode
from datax_spark.sources.zstd import ZstdError
from datax_spark.sources.zstd import decompress as zstd_decompress

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


def _lsic(n: int) -> bytes:
    """LZ4's length extension bytes for a length nibble of 15."""
    out = bytearray()
    while n >= 255:
        out.append(255)
        n -= 255
    return bytes(out + bytes([n]))


def _lz4_block(pieces: list[tuple[bytes, int, int]], tail: bytes) -> tuple[bytes, bytes]:
    """A raw LZ4 block from (literal, match offset, match length)
    sequences plus a literal-only last sequence, with both nibble and
    extended lengths; returns the block and its decoded bytes."""
    out, body = bytearray(), bytearray()
    for lit, off, mlen in [*pieces, (tail, None, None)]:
        ln = len(lit)
        ml = 0 if mlen is None else mlen - 4
        body.append((min(ln, 15) << 4) | min(ml, 15))
        if ln >= 15:
            body += _lsic(ln - 15)
        body += lit
        out += lit
        if mlen is None:
            break
        off = 1 + off % min(len(out), 65535)
        body += off.to_bytes(2, "little")
        if ml >= 15:
            body += _lsic(ml - 15)
        for _ in range(mlen):
            out.append(out[-off])
    return bytes(body), bytes(out)


def _lz4_frame(blocks: list[tuple[bool, bytes]], flags: int) -> bytes:
    """An LZ4 frame of (compressed, payload) blocks; ``flags`` sets the
    content-size, block-checksum and content-checksum FLG bits (the
    decoder skips checksums, so their bytes are arbitrary)."""
    flg = 0x40 | (flags & 0x1C)
    out = bytearray(b"\x04\x22\x4d\x18") + bytes([flg, 0x40])
    if flg & 0x08:
        out += struct.pack("<Q", sum(len(d) for _, d in blocks))
    out.append(0)  # header checksum byte
    for compressed, data in blocks:
        out += struct.pack("<I", len(data) | (0 if compressed else 0x80000000)) + data
        if flg & 0x10:
            out += b"bcks"
    out += struct.pack("<I", 0)  # end mark
    if flg & 0x04:
        out += b"ccks"
    return bytes(out)


_lz4_pieces = st.lists(
    st.tuples(st.binary(max_size=40), st.integers(0, 10**4), st.integers(4, 300)),
    max_size=4,
).filter(lambda ps: not ps or ps[0][0])  # the first match needs history
_tails = st.binary(max_size=30)


@given(pieces=_lz4_pieces, tail=_tails, cut=_cut, flips=_flips)
@settings(**SETTINGS)
def test_lz4_block_raises_only_value_error(pieces, tail, cut, flips):
    block, plain = _lz4_block(pieces, tail)
    assert bytes(lz4_block_decompress(block)) == plain
    try:
        lz4_block_decompress(_damage(block, cut, flips))
    except ValueError:
        pass


@given(
    blocks=st.lists(st.tuples(st.booleans(), _lz4_pieces, _tails), max_size=3),
    flags=st.integers(0, 0xFF),
)
@settings(**SETTINGS)
def test_lz4_frame_prefixes_raise_value_error(blocks, flags):
    parts, plain = [], b""
    for compressed, pieces, tail in blocks:
        block, out = _lz4_block(pieces, tail)
        parts.append((compressed, block if compressed else out))
        plain += out
    frame = _lz4_frame(parts, flags)
    assert lz4_frame_decompress(frame) == plain
    for n in range(len(frame)):
        try:
            lz4_frame_decompress(frame[:n])
        except ValueError:
            continue
        raise AssertionError(f"prefix of {n}/{len(frame)} bytes decoded")


_messages = st.lists(
    st.tuples(
        st.integers(0, 2**41),
        st.one_of(st.none(), st.binary(max_size=16)),
        st.binary(max_size=48),
    ),
    min_size=1,
    max_size=6,
)


@given(
    msgs=_messages,
    fmt=st.sampled_from(["v2", "v2-gzip", "magic1"]),
    cut=_cut,
    flips=_flips,
)
@settings(**SETTINGS)
def test_kafka_records_raise_only_kafka_error(msgs, fmt, cut, flips):
    if fmt == "magic1":
        data = encode_message_set(msgs, base_offset=5)
    else:
        data = encode_record_batch_v2(
            msgs, base_offset=5, compression="gzip" if fmt == "v2-gzip" else None
        )
    assert decode_records(data) == [
        (5 + i, ts, key, value) for i, (ts, key, value) in enumerate(msgs)
    ]
    try:
        got = decode_records(_damage(data, cut, flips))
    except KafkaError:
        return
    assert isinstance(got, list)


@pytest.mark.parametrize("size", [5, 6, 7, 8])
def test_v2_entry_shorter_than_header_raises_kafka_error(size):
    data = bytearray(encode_record_batch_v2([(1000, b"k", b"v")], base_offset=7))
    struct.pack_into(">i", data, 8, size)  # the entry's size field
    with pytest.raises(KafkaError, match="shorter than its"):
        decode_records(bytes(data))


# zstd 1.5.7 frames (as in tests/test_zstd.py): a compressed block with
# sequences and a content checksum, and one without a checksum
_ZSTD_PINNED = [
    (b"the quick brown fox jumps over the lazy dog. " * 40,
     "28b52ffd0468b50100d40274686520717569636b2062726f776e20"
     "666f78206a756d7073206f76657220746865206c617a7920646f67"
     "2e200100c516feaa0c34877d7f"),
    (b"abcabcabcabc" * 50, "28b52ffd005855000018616263010052acdc10"),
]


@pytest.mark.parametrize("plain,hexframe", _ZSTD_PINNED)
def test_zstd_single_bit_flips_raise_only_zstd_error(plain, hexframe):
    frame = bytes.fromhex(hexframe)
    assert zstd_decompress(frame) == plain
    for bit in range(len(frame) * 8):
        try:
            zstd_decompress(_damage(frame, None, [bit]))
        except ZstdError:
            pass


@functools.cache
def _zstd_cli_frames() -> list[tuple[bytes, bytes]]:
    """~20 kB of word soup, compressed by the `zstd` CLI at three
    levels, with and without a content checksum."""
    rnd = random.Random(3)
    words = [b"alpha", b"beta", b"gamma", b"delta", b"x", b"yz", b"0123"]
    plain = b" ".join(
        rnd.choice(words) + str(rnd.randrange(500)).encode() for _ in range(3000)
    )[:20_000]
    out = []
    for args in (["-19", "--no-check"], ["-3"], ["-1", "--no-check"]):
        p = subprocess.run(
            ["zstd", *args, "-c"], input=plain, capture_output=True, check=True
        )
        out.append((plain, p.stdout))
    return out


@pytest.mark.skipif(shutil.which("zstd") is None, reason="no zstd CLI on host")
@given(which=st.integers(0, 2), flips=st.lists(st.integers(0, 10**6), min_size=1, max_size=3))
@settings(**SETTINGS)
def test_zstd_bit_flips_raise_only_zstd_error(which, flips):
    plain, frame = _zstd_cli_frames()[which]
    assert zstd_decompress(frame) == plain
    try:
        zstd_decompress(_damage(frame, None, flips))
    except ZstdError:
        pass
