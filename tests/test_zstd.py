"""Zstandard decoder (sources/zstd.py, RFC 8878): reference vectors
produced by the real `zstd` CLI are pinned as hex (so the suite needs
no zstd binary), xxhash64 is checked against the published xxHash
vectors, broad round-trips + fuzz run against the CLI when available,
and the Kafka reader consumes zstd (codec 4) v2 record batches
end-to-end."""

from __future__ import annotations

import os
import random
import shutil
import struct
import subprocess

import pytest

from datax_spark.sources.zstd import ZstdError, decompress, xxhash64

HAVE_ZSTD_CLI = shutil.which("zstd") is not None


def z(data: bytes, *args: str) -> bytes:
    p = subprocess.run(["zstd", *args, "-c"], input=data,
                       capture_output=True)
    assert p.returncode == 0, p.stderr
    return p.stdout


def test_xxhash64_reference_vectors():
    # xxHash's published sanity values (seed 0)
    assert xxhash64(b"") == 0xEF46DB3751D8E999
    assert xxhash64(b"a") == 0xD24EC4F1A98C6E5B
    assert xxhash64(b"abc") == 0x44BC2CF5AD770999
    # >32-byte path (striped lanes)
    assert xxhash64(b"x" * 100) != xxhash64(b"x" * 101)


# (expected output, frame hex) — produced by zstd 1.5.7; content
# checksums included except the "nocheck" case.
_PINNED = {
    "empty": (b"", "28b52ffd240001000099e9d851"),
    "hello": (b"hello world, hello zstd!",
              "28b52ffd0458c1000068656c6c6f20776f726c642c2068656c6c6f"
              "207a7374642145876d45"),
    "rle": (b"a" * 5000, "28b52ffd04584d0000106161010083d3032cd63c80d4"),
    "text19": (b"the quick brown fox jumps over the lazy dog. " * 40,
               "28b52ffd0468b50100d40274686520717569636b2062726f776e20"
               "666f78206a756d7073206f76657220746865206c617a7920646f67"
               "2e200100c516feaa0c34877d7f"),
    "nocheck": (b"abcabcabcabc" * 50,
                "28b52ffd005855000018616263010052acdc10"),
}


@pytest.mark.parametrize("name", sorted(_PINNED))
def test_pinned_reference_frames(name):
    expect, hexframe = _PINNED[name]
    assert decompress(bytes.fromhex(hexframe)) == expect


def test_corrupt_checksum_and_magic_rejected():
    _, hexframe = _PINNED["hello"]
    frame = bytearray(bytes.fromhex(hexframe))
    frame[-1] ^= 0xFF  # checksum byte
    with pytest.raises(ZstdError, match="checksum"):
        decompress(bytes(frame))
    with pytest.raises(ZstdError, match="magic"):
        decompress(b"\x00\x01\x02\x03rest")


def test_concatenated_and_skippable_frames():
    a, ah = _PINNED["hello"]
    b, bh = _PINNED["rle"]
    skippable = bytes.fromhex("502a4d1804000000deadbeef")
    got = decompress(bytes.fromhex(ah) + skippable + bytes.fromhex(bh))
    assert got == a + b


def _block(btype: int, size: int, payload: bytes, last: bool) -> bytes:
    bh = (size << 3) | (btype << 1) | int(last)
    return bytes([bh & 0xFF, (bh >> 8) & 0xFF, bh >> 16]) + payload


def _multi_block_frame() -> tuple[bytes, bytes]:
    """(content, frame): a compressed block (lifted from the pinned
    "text19" frame), a raw block and an RLE block, then the checksum."""
    text, hexframe = _PINNED["text19"]
    src = bytes.fromhex(hexframe)
    compressed = src[9:-4]  # after magic, FHD, window byte, block header
    content = text + b"raw!" + b"z" * 300
    frame = (
        bytes.fromhex("28b52ffd0468")  # checksum flag, window descriptor
        + _block(2, len(compressed), compressed, last=False)
        + _block(0, 4, b"raw!", last=False)
        + _block(1, 300, b"z", last=True)
        + struct.pack("<I", xxhash64(content) & 0xFFFFFFFF)
    )
    return content, frame


def test_every_strict_prefix_raises():
    content, frame = _multi_block_frame()
    assert decompress(frame) == content
    skippable = bytes.fromhex("502a4d1804000000deadbeef")
    for data in (frame, skippable):
        for n in range(len(data)):
            with pytest.raises(ZstdError, match="truncated"):
                decompress(data[:n])


@pytest.mark.skipif(not HAVE_ZSTD_CLI, reason="no zstd CLI on host")
def test_short_four_stream_literals_rejected():
    data = bytes(random.Random(7).choices(b"abcdefgh", k=2000))
    frame = bytearray(z(data, "--no-check"))
    assert decompress(bytes(frame)) == data
    lit = 9  # magic, FHD, window byte, block header
    assert frame[lit] & 0x0F == 0x0A  # Huffman literals, 4 streams, 14-bit sizes
    # Regenerated_Size 5 leaves the fourth stream -1 bytes
    frame[lit] = (frame[lit] & 0x0F) | (5 << 4)
    frame[lit + 1] = 0
    frame[lit + 2] &= 0xFC
    with pytest.raises(ZstdError, match="4-stream"):
        decompress(bytes(frame))


def test_dictionary_frames_refused():
    # frame header with Dictionary_ID_flag set
    bad = bytes.fromhex("28b52ffd") + bytes([0x01, 0x42]) + b"\x00" * 8
    with pytest.raises(ZstdError, match="dictionary"):
        decompress(bad)


@pytest.mark.skipif(not HAVE_ZSTD_CLI, reason="no zstd CLI on host")
def test_roundtrip_against_real_zstd():
    cases = [
        (b"", []),
        (b"a" * 100000, []),          # long match chain (RLE-ish)
        (bytes(range(256)) * 1000, []),
        (b"ab" * 200000, ["-9"]),     # > 128 KiB: multi-block window
        (os.urandom(300000), []),     # incompressible: raw blocks
        (open(__file__, "rb").read(), ["-19"]),  # FSE-described tables
        (open(__file__, "rb").read(), ["--no-check"]),
    ]
    for i, (data, args) in enumerate(cases):
        assert decompress(z(data, *args)) == data, f"case {i}"


@pytest.mark.skipif(not HAVE_ZSTD_CLI, reason="no zstd CLI on host")
def test_fuzz_against_real_zstd():
    rng = random.Random(1234)
    words = [bytes(rng.choices(range(97, 123), k=rng.randint(2, 12)))
             for _ in range(300)]
    for trial in range(40):
        kind = trial % 4
        size = rng.choice([1, 7, 500, 17000, 131073])
        if kind == 0:
            data = os.urandom(size)
        elif kind == 1:
            data = bytes(rng.choices(range(97, 100), k=size))
        elif kind == 2:
            data = b" ".join(rng.choices(words, k=size // 6 + 1))
        else:
            data = (b"x" * rng.randint(1, 90)
                    + os.urandom(rng.randint(1, 40))) * (size // 80 + 1)
        lvl = rng.choice(["-1", "-5", "-12", "-19"])
        assert decompress(z(data, lvl)) == data, f"trial {trial}"


@pytest.mark.skipif(not HAVE_ZSTD_CLI, reason="no zstd CLI on host")
def test_kafka_v2_zstd_batch():
    """A v2 record batch with codec 4 (KIP-110): the reader's attrs
    dispatch reaches the zstd decoder and every record round-trips.
    Built by zstd-compressing the records area of a reference batch
    (splice + crc32c fix-up), exactly what a zstd producer emits."""
    import struct

    from datax_spark.sources.kafka import (
        _decode_record_batch_v2,
        crc32c,
        encode_record_batch_v2,
    )

    msgs = [(1000 + i, f"k{i}".encode(), f"value-{i}".encode() * 20)
            for i in range(50)]
    seg = encode_record_batch_v2(msgs, base_offset=7)
    got_plain = _decode_record_batch_v2(seg)
    assert len(got_plain) == 50
    payload = seg[21:]
    (attrs,) = struct.unpack_from(">h", payload, 0)
    recs = payload[40:]
    new_payload = struct.pack(">h", attrs | 4) + payload[2:40] + z(recs)
    batch = (seg[:8] + struct.pack(">i", 9 + len(new_payload))
             + seg[12:17] + struct.pack(">I", crc32c(new_payload))
             + new_payload)
    assert _decode_record_batch_v2(batch) == got_plain