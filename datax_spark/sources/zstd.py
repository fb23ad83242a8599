"""Zstandard frame decoder (RFC 8878), from scratch, decode-only.

The Kafka reader needs it for codec 4 record batches (KIP-98 —
reference gets it free from the Java client's zstd-jni); this
container has no zstd binding, so the published format is implemented
directly, the same way the reader's snappy and LZ4 decoders were.

Scope (everything a Kafka producer emits):

* frames: magic, frame header (single-segment or windowed, content
  size, dictionary-id rejected loudly), concatenated frames, optional
  XXH64 content checksum (verified — xxhash64 implemented below);
* blocks: Raw, RLE, Compressed;
* literals: Raw, RLE, Huffman-compressed (1- and 4-stream, direct
  and FSE-compressed weight descriptions, Treeless repeat);
* sequences: Predefined / RLE / FSE_Compressed / Repeat table modes
  for literal-length, offset and match-length codes, full repeat-
  offset history semantics, overlapping match copies.

Skippable frames (magic 0x184D2A5x) are skipped.  Dictionaries are
refused loudly (Kafka never uses them).

Layout follows the RFC's own decoding description: a forward LE
bitstream for table descriptions, backward bitstreams (top sentinel
bit) for FSE/Huffman payloads, FSE table construction with the
standard spread step (size/2 + size/8 + 3) and low-probability cells
at the table's high end.
"""

from __future__ import annotations

import struct

ZSTD_MAGIC = 0xFD2FB528
SKIPPABLE_LO = 0x184D2A50


class ZstdError(ValueError):
    pass


# ------------------------------------------------------------ xxhash64

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        p1, p2, m = _P1, _P2, _M64  # inlined _round: the hot loop
        for l1, l2, l3, l4 in struct.iter_unpack(
                "<QQQQ", data[: n - (n % 32)]):
            v1 = (v1 + l1 * p2) & m
            v1 = (((v1 << 31) | (v1 >> 33)) * p1) & m
            v2 = (v2 + l2 * p2) & m
            v2 = (((v2 << 31) | (v2 >> 33)) * p1) & m
            v3 = (v3 + l3 * p2) & m
            v3 = (((v3 << 31) | (v3 >> 33)) * p1) & m
            v4 = (v4 + l4 * p2) & m
            v4 = (((v4 << 31) | (v4 >> 33)) * p1) & m
        i = n - (n % 32)
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = ((_rotl(h ^ _round(0, k), 27) * _P1) + _P4) & _M64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = ((_rotl(h ^ (k * _P1 & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


# ------------------------------------------------- bitstream utilities

class _ForwardBits:
    """LE-first forward bit reader (table descriptions)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, nbits: int) -> int:
        v = 0
        for k in range(nbits):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ZstdError("table description overruns its area")
            v |= ((self.data[byte] >> (self.pos & 7)) & 1) << k
            self.pos += 1
        return v

    def peek(self, nbits: int) -> int:
        save = self.pos
        try:
            return self.read(nbits)
        finally:
            self.pos = save

    def bytes_consumed(self) -> int:
        return (self.pos + 7) >> 3


class _BackwardBits:
    """Backward bit reader: starts below the mandatory 1-sentinel in
    the stream's LAST byte and reads toward the start (RFC 8878
    bitstream convention for FSE/Huffman payloads)."""

    def __init__(self, data: bytes):
        if not data:
            raise ZstdError("empty backward bitstream")
        last = data[-1]
        if last == 0:
            raise ZstdError("backward bitstream missing sentinel bit")
        self.data = data
        # total readable bits: everything below the sentinel
        self.avail = (len(data) - 1) * 8 + last.bit_length() - 1

    def read(self, nbits: int) -> int:
        """Reads the next nbits (MSB-first across the stream); reads
        past the start return zero bits (the FSE/Huffman decoders are
        specified to tolerate final-state flushes).

        Bit p of the stream is bit ``p & 7`` of byte ``p >> 3``
        (little-endian bit numbering), so an n-bit read is one slice
        + shift, not n single-bit loops."""
        if nbits == 0:
            return 0
        take = min(nbits, self.avail)
        if take == 0:
            return 0
        lo = self.avail - take
        chunk = int.from_bytes(
            self.data[lo >> 3 : ((self.avail - 1) >> 3) + 1], "little")
        self.avail = lo
        return ((chunk >> (lo & 7)) & ((1 << take) - 1)) \
            << (nbits - take)


# ------------------------------------------------------------- FSE

class _FseTable:
    __slots__ = ("symbols", "nbits", "newstate", "accuracy_log")

    def __init__(self, accuracy_log: int, symbols, nbits, newstate):
        self.accuracy_log = accuracy_log
        self.symbols = symbols
        self.nbits = nbits
        self.newstate = newstate


def _highbit(v: int) -> int:
    return v.bit_length() - 1


def fse_build(counts: list[int], accuracy_log: int) -> _FseTable:
    """Decoding table from normalized counts (−1 = less-than-one)."""
    size = 1 << accuracy_log
    symbols = [0] * size
    # low-probability (−1) symbols get one cell each at the high end
    high = size - 1
    for s, c in enumerate(counts):
        if c == -1:
            symbols[high] = s
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    pos = 0
    for s, c in enumerate(counts):
        if c <= 0:
            continue
        for _ in range(c):
            symbols[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ZstdError("corrupt FSE distribution (spread did not close)")
    next_ = [1 if c == -1 else c for c in counts]
    nbits = [0] * size
    newstate = [0] * size
    for i in range(size):
        s = symbols[i]
        x = next_[s]
        next_[s] += 1
        nb = accuracy_log - _highbit(x)
        nbits[i] = nb
        newstate[i] = (x << nb) - size
    return _FseTable(accuracy_log, symbols, nbits, newstate)


def fse_read_distribution(data: bytes) -> tuple[list[int], int, int]:
    """Parse an FSE table description (forward bitstream) →
    (counts, accuracy_log, bytes_consumed)."""
    br = _ForwardBits(data)
    accuracy_log = br.read(4) + 5
    if accuracy_log > 9:
        raise ZstdError(f"FSE accuracy log {accuracy_log} too large")
    remaining = (1 << accuracy_log) + 1
    counts: list[int] = []
    while remaining > 1:
        bits = _highbit(remaining) + 1
        val = br.peek(min(bits, 32))
        low_mask = (1 << (bits - 1)) - 1
        threshold = (1 << bits) - 1 - remaining
        if (val & low_mask) < threshold:
            br.read(bits - 1)
            val = val & low_mask
        else:
            val = br.read(bits)
            if val > low_mask:
                val -= threshold
        prob = val - 1
        counts.append(prob)
        remaining -= 1 if prob == -1 else prob
        if prob == 0:
            while True:
                rep = br.read(2)
                counts.extend([0] * rep)
                if rep != 3:
                    break
        if len(counts) > 256:
            raise ZstdError("FSE distribution has too many symbols")
    if remaining != 1:
        raise ZstdError("corrupt FSE distribution (sum overshoot)")
    return counts, accuracy_log, br.bytes_consumed()


class _FseState:
    __slots__ = ("table", "state")

    def __init__(self, table: _FseTable, bits: _BackwardBits):
        self.table = table
        self.state = bits.read(table.accuracy_log)

    def symbol(self) -> int:
        return self.table.symbols[self.state]

    def update(self, bits: _BackwardBits) -> None:
        t = self.table
        self.state = t.newstate[self.state] + bits.read(t.nbits[self.state])

    def update_overflow(self, bits: _BackwardBits) -> bool:
        """Update; True if the read crossed the stream's start — the
        interleaved-weights termination condition (§4.1.1: the final
        state update overflows and the OTHER state emits last)."""
        t = self.table
        nb = t.nbits[self.state]
        over = nb > bits.avail
        self.state = t.newstate[self.state] + bits.read(nb)
        return over


# ---------------------------------------------------------- Huffman

class _HuffTable:
    """Canonical Huffman decoding table: max_bits-wide lookup."""

    __slots__ = ("max_bits", "symbols", "lengths")

    def __init__(self, weights: list[int]):
        total = sum((1 << (w - 1)) for w in weights if w > 0)
        max_bits = _highbit(total) + 1
        left = (1 << max_bits) - total
        if left <= 0 or left & (left - 1):
            raise ZstdError("corrupt Huffman weights")
        last_weight = _highbit(left) + 1
        weights = weights + [last_weight]
        if max_bits > 11:
            raise ZstdError(f"Huffman max bits {max_bits} exceeds 11")
        size = 1 << max_bits
        self.max_bits = max_bits
        self.symbols = bytearray(size)
        self.lengths = bytearray(size)
        # canonical order: ascending weight, then symbol index
        rank_start = [0] * (max_bits + 2)
        for w in weights:
            if w > 0:
                rank_start[w] += 1
        pos = 0
        starts = [0] * (max_bits + 2)
        for w in range(1, max_bits + 1):
            starts[w] = pos
            pos += rank_start[w] << (w - 1)
        cur = starts[:]
        for sym, w in enumerate(weights):
            if w == 0:
                continue
            nbits = max_bits + 1 - w
            span = 1 << (w - 1)
            base = cur[w]
            for k in range(span):
                self.symbols[base + k] = sym
                self.lengths[base + k] = nbits
            cur[w] = base + span

    def decode_stream(self, data: bytes, n_out: int) -> bytearray:
        # hot loop: inlined backward bit cursor, locals only
        if not data or data[-1] == 0:
            raise ZstdError("huffman stream missing sentinel bit")
        symbols, lengths, mb = self.symbols, self.lengths, self.max_bits
        mask = (1 << mb) - 1
        avail = (len(data) - 1) * 8 + data[-1].bit_length() - 1
        out = bytearray(n_out)

        def grab(n: int) -> int:
            nonlocal avail
            take = n if n <= avail else avail
            if take == 0:
                return 0
            lo = avail - take
            chunk = int.from_bytes(
                data[lo >> 3 : ((avail - 1) >> 3) + 1], "little")
            avail = lo
            return ((chunk >> (lo & 7)) & ((1 << take) - 1)) << (n - take)

        state = grab(mb)
        for i in range(n_out):
            out[i] = symbols[state]
            nb = lengths[state]
            state = ((state << nb) & mask) | grab(nb)
        return out


def _read_huffman_weights(data: bytes) -> tuple[list[int], int]:
    """Huffman tree description → (weights, bytes consumed)."""
    h = data[0]
    if h >= 128:  # direct: 4-bit weights
        n = h - 127
        nbytes = (n + 1) >> 1
        weights = []
        for i in range(n):
            b = data[1 + (i >> 1)]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return weights, 1 + nbytes
    # FSE-compressed weights: h = compressed size
    area = data[1 : 1 + h]
    counts, al, used = fse_read_distribution(area)
    if al > 6:
        raise ZstdError("Huffman weight FSE accuracy log > 6")
    table = fse_build(counts, al)
    bits = _BackwardBits(area[used:])
    even = _FseState(table, bits)
    odd = _FseState(table, bits)
    weights: list[int] = []
    while True:
        weights.append(even.symbol())
        if even.update_overflow(bits):
            weights.append(odd.symbol())
            break
        weights.append(odd.symbol())
        if odd.update_overflow(bits):
            weights.append(even.symbol())
            break
        if len(weights) >= 254:
            raise ZstdError("too many Huffman weights")
    return weights, 1 + h


# --------------------------------------------- sequence code tables

# RFC 8878 §3.1.1.3.2.1.1: code → (baseline, extra bits)
_LL_BASE = (
    [(i, 0) for i in range(16)]
    + [(16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3),
       (40, 3), (48, 4), (64, 6), (128, 7), (256, 8), (512, 9),
       (1024, 10), (2048, 11), (4096, 12), (8192, 13), (16384, 14),
       (32768, 15), (65536, 16)]
)
_ML_BASE = (
    [(i + 3, 0) for i in range(32)]
    + [(35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3),
       (59, 3), (67, 4), (83, 4), (99, 5), (131, 7), (259, 8),
       (515, 9), (1027, 10), (2051, 11), (4099, 12), (8195, 13),
       (16387, 14), (32771, 15), (65539, 16)]
)

# predefined distributions (§3.1.1.3.2.2)
_LL_DEFAULT = [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1,
               2, 2, 2, 2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1,
               -1, -1, -1, -1]
_ML_DEFAULT = [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, -1, -1,
               -1, -1, -1, -1, -1]
_OF_DEFAULT = [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1,
               1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1]

_LL_TABLE_DEFAULT = fse_build(_LL_DEFAULT, 6)
_ML_TABLE_DEFAULT = fse_build(_ML_DEFAULT, 6)
_OF_TABLE_DEFAULT = fse_build(_OF_DEFAULT, 5)

_MAX_SYMS = {"ll": 35, "ml": 52, "of": 31}
_MAX_AL = {"ll": 9, "ml": 9, "of": 8}


def _rle_table(symbol: int) -> _FseTable:
    return _FseTable(0, [symbol], [0], [0])


# ------------------------------------------------------ frame decode

class _Decoder:
    def __init__(self):
        # cross-block state within one frame
        self.hufftable: _HuffTable | None = None
        self.ll_table = None
        self.ml_table = None
        self.of_table = None
        self.rep = [1, 4, 8]

    # ---- literals section
    def _literals(self, blk: bytes) -> tuple[bytes, int]:
        h0 = blk[0]
        ltype = h0 & 3
        sf = (h0 >> 2) & 3
        if ltype in (0, 1):  # Raw / RLE
            if sf in (0, 2):
                regen = h0 >> 3
                hdr = 1
            elif sf == 1:
                regen = (h0 >> 4) | (blk[1] << 4)
                hdr = 2
            else:
                regen = (h0 >> 4) | (blk[1] << 4) | (blk[2] << 12)
                hdr = 3
            if ltype == 0:
                return bytes(blk[hdr : hdr + regen]), hdr + regen
            return bytes([blk[hdr]]) * regen, hdr + 1
        # Compressed (2) / Treeless (3)
        if sf == 0:
            regen = (h0 >> 4) | ((blk[1] & 0x3F) << 4)
            csize = (blk[1] >> 6) | (blk[2] << 2)
            hdr, streams = 3, 1
        elif sf == 1:
            regen = (h0 >> 4) | ((blk[1] & 0x3F) << 4)
            csize = (blk[1] >> 6) | (blk[2] << 2)
            hdr, streams = 3, 4
        elif sf == 2:
            regen = (h0 >> 4) | (blk[1] << 4) | ((blk[2] & 3) << 12)
            csize = (blk[2] >> 2) | (blk[3] << 6)
            hdr, streams = 4, 4
        else:
            regen = (h0 >> 4) | (blk[1] << 4) | ((blk[2] & 0x3F) << 12)
            csize = (blk[2] >> 6) | (blk[3] << 2) | (blk[4] << 10)
            hdr, streams = 5, 4
        area = blk[hdr : hdr + csize]
        if ltype == 2:
            weights, used = _read_huffman_weights(area)
            self.hufftable = _HuffTable(weights)
            area = area[used:]
        elif self.hufftable is None:
            raise ZstdError("treeless literals with no previous table")
        table = self.hufftable
        if streams == 1:
            lits = table.decode_stream(area, regen)
        else:
            per = (regen + 3) >> 2
            if len(area) < 6 or regen < 3 * per:
                raise ZstdError("corrupt 4-stream literals section")
            s1, s2, s3 = struct.unpack_from("<HHH", area, 0)
            body = area[6:]
            o1, o2, o3 = s1, s1 + s2, s1 + s2 + s3
            lits = bytearray()
            lits += table.decode_stream(body[:o1], per)
            lits += table.decode_stream(body[o1:o2], per)
            lits += table.decode_stream(body[o2:o3], per)
            lits += table.decode_stream(body[o3:], regen - 3 * per)
        if len(lits) != regen:
            raise ZstdError("literal count mismatch")
        return bytes(lits), hdr + csize

    # ---- sequences section
    def _seq_table(self, mode: int, data: bytes, which: str,
                   prev, default: _FseTable):
        """→ (table, bytes_consumed)."""
        if mode == 0:
            return default, 0
        if mode == 1:
            sym = data[0]
            if sym > _MAX_SYMS[which]:
                raise ZstdError(f"{which} RLE symbol {sym} out of range")
            return _rle_table(sym), 1
        if mode == 2:
            counts, al, used = fse_read_distribution(data)
            if al > _MAX_AL[which]:
                raise ZstdError(f"{which} accuracy log {al} too large")
            if len(counts) - 1 > _MAX_SYMS[which]:
                raise ZstdError(f"{which} has too many symbols")
            return fse_build(counts, al), used
        if prev is None:
            raise ZstdError(f"{which} Repeat mode with no previous table")
        return prev, 0

    def _block(self, blk: bytes, out: bytearray) -> None:
        lits, used = self._literals(blk)
        rest = blk[used:]
        b0 = rest[0]
        if b0 == 0:
            nseq = 0
            rest = rest[1:]
        elif b0 < 128:
            nseq = b0
            rest = rest[1:]
        elif b0 < 255:
            nseq = ((b0 - 128) << 8) | rest[1]
            rest = rest[2:]
        else:
            nseq = rest[1] | (rest[2] << 8) | 0x7F00
            rest = rest[3:]
        if nseq == 0:
            out += lits
            return
        modes = rest[0]
        rest = rest[1:]
        ll_mode, of_mode, ml_mode = (
            (modes >> 6) & 3, (modes >> 4) & 3, (modes >> 2) & 3)
        self.ll_table, used = self._seq_table(
            ll_mode, rest, "ll", self.ll_table, _LL_TABLE_DEFAULT)
        rest = rest[used:]
        self.of_table, used = self._seq_table(
            of_mode, rest, "of", self.of_table, _OF_TABLE_DEFAULT)
        rest = rest[used:]
        self.ml_table, used = self._seq_table(
            ml_mode, rest, "ml", self.ml_table, _ML_TABLE_DEFAULT)
        rest = rest[used:]

        bits = _BackwardBits(rest)
        ll_state = _FseState(self.ll_table, bits)
        of_state = _FseState(self.of_table, bits)
        ml_state = _FseState(self.ml_table, bits)
        lit_pos = 0
        for i in range(nseq):
            of_code = of_state.symbol()
            ml_code = ml_state.symbol()
            ll_code = ll_state.symbol()
            if of_code > 31:
                raise ZstdError("offset code out of range")
            of_value = (1 << of_code) + bits.read(of_code)
            ml_base, ml_bits = _ML_BASE[ml_code]
            ml = ml_base + bits.read(ml_bits)
            ll_base, ll_bits = _LL_BASE[ll_code]
            ll = ll_base + bits.read(ll_bits)
            # repeat-offset resolution (§3.1.1.5)
            rep = self.rep
            if of_value > 3:
                offset = of_value - 3
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:
                idx = of_value - 1 if ll != 0 else of_value
                if idx == 0:
                    offset = rep[0]
                elif idx == 1:
                    offset = rep[1]
                    rep[1] = rep[0]
                    rep[0] = offset
                elif idx == 2:
                    offset = rep[2]
                    rep[2] = rep[1]
                    rep[1] = rep[0]
                    rep[0] = offset
                else:  # of_value == 3 with ll == 0
                    offset = rep[0] - 1
                    if offset == 0:
                        raise ZstdError("invalid repeat offset 0")
                    rep[2] = rep[1]
                    rep[1] = rep[0]
                    rep[0] = offset
            out += lits[lit_pos : lit_pos + ll]
            lit_pos += ll
            if offset > len(out):
                raise ZstdError("match offset beyond window")
            start = len(out) - offset
            if offset >= ml:
                out += out[start : start + ml]
            else:
                # overlapping copy == repeat the offset-long pattern
                # (byte-at-a-time semantics, vectorized)
                pattern = bytes(out[start:])
                out += (pattern * (ml // offset + 1))[:ml]
            if i + 1 < nseq:
                ll_state.update(bits)
                ml_state.update(bits)
                of_state.update(bits)
        out += lits[lit_pos:]


def _need(data: bytes, i: int, n: int) -> None:
    """Raise unless ``data`` holds ``n`` more bytes at ``i``."""
    if i + n > len(data):
        raise ZstdError("truncated input")


def decompress(data: bytes) -> bytes:
    """Decode one-or-more concatenated zstd frames. Input that ends
    inside a frame (or holds no frame at all) raises ``ZstdError``."""
    if not data:
        raise ZstdError("truncated input: no frame")
    out = bytearray()
    i = 0
    while i < len(data):
        if len(data) - i < 4:
            raise ZstdError("truncated input: no room for a frame magic")
        (magic,) = struct.unpack_from("<I", data, i)
        if (magic & 0xFFFFFFF0) == SKIPPABLE_LO:
            _need(data, i, 8)
            (sz,) = struct.unpack_from("<I", data, i + 4)
            _need(data, i + 8, sz)
            i += 8 + sz
            continue
        if magic != ZSTD_MAGIC:
            raise ZstdError(f"bad zstd magic 0x{magic:08x}")
        i += 4
        _need(data, i, 1)
        fhd = data[i]
        i += 1
        fcs_flag = fhd >> 6
        single = (fhd >> 5) & 1
        checksum = (fhd >> 2) & 1
        did_flag = fhd & 3
        if fhd & 0x08:
            raise ZstdError("reserved frame header bit set")
        if not single:
            i += 1  # window descriptor (whole history kept in memory)
        if did_flag:
            raise ZstdError(
                "dictionary frames are not supported (Kafka producers "
                "never emit them)")
        fcs = None
        if fcs_flag == 0:
            if single:
                _need(data, i, 1)
                fcs = data[i]
                i += 1
        elif fcs_flag == 1:
            _need(data, i, 2)
            fcs = struct.unpack_from("<H", data, i)[0] + 256
            i += 2
        elif fcs_flag == 2:
            _need(data, i, 4)
            (fcs,) = struct.unpack_from("<I", data, i)
            i += 4
        else:
            _need(data, i, 8)
            (fcs,) = struct.unpack_from("<Q", data, i)
            i += 8
        dec = _Decoder()
        frame_out = bytearray()
        while True:
            _need(data, i, 3)
            bh = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16)
            i += 3
            last = bh & 1
            btype = (bh >> 1) & 3
            bsize = bh >> 3
            if btype == 0:  # raw
                _need(data, i, bsize)
                frame_out += data[i : i + bsize]
                i += bsize
            elif btype == 1:  # RLE
                _need(data, i, 1)
                frame_out += bytes([data[i]]) * bsize
                i += 1
            elif btype == 2:
                _need(data, i, bsize)
                try:
                    dec._block(data[i : i + bsize], frame_out)
                except IndexError as e:
                    # a section header or size that runs past the block
                    raise ZstdError("truncated compressed block") from e
                i += bsize
            else:
                raise ZstdError("reserved block type")
            if last:
                break
        if fcs is not None and len(frame_out) != fcs:
            raise ZstdError(
                f"frame content size mismatch: header says {fcs}, "
                f"decoded {len(frame_out)}")
        if checksum:
            _need(data, i, 4)
            (want,) = struct.unpack_from("<I", data, i)
            i += 4
            got = xxhash64(bytes(frame_out)) & 0xFFFFFFFF
            if got != want:
                raise ZstdError(
                    f"content checksum mismatch: 0x{got:08x} != "
                    f"0x{want:08x}")
        out += frame_out
    return bytes(out)
