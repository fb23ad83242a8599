"""Content transforms: Arrow UDFs over pyarrow.compute kernels, and JVM
builtins where Spark has one.

The north_star mandates that user content transforms run vectorized —
never per-row Python. These are the dx_groovy analogs
(``GroovyTransformer.java:25-91`` compiles user code per record; we
batch via Arrow instead). ``normalize_trailing_ws``,
``token_count_bpeish`` and ``rolling_fingerprint`` are ``arrow_udf``s:
each receives one ``pa.Array`` per Arrow batch and runs RE2 kernels
(pyarrow.compute) or numpy over the Arrow buffers, with no pandas round
trip and no Python loop over rows. ``sha256_hex`` is the JVM ``sha2``,
which needs no Python worker at all.

Each keeps the call form ``fn("content") -> Column``. The regex
transforms match Python ``re`` exactly (tests/test_content_kernels.py
holds the ``re`` versions as the oracle).
"""

from __future__ import annotations

import functools
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf


def sha256_hex(col: str | Column) -> Column:
    """sha256 hex digest of a string column (None-safe): the JVM sha2."""
    return F.sha2(F.col(col) if isinstance(col, str) else col, 256)


@arrow_udf(T.StringType())
def normalize_trailing_ws(s: pa.Array) -> pa.Array:
    """Strip trailing whitespace per line — a typical code-content
    normalization pass before hashing/dedup.

    Same result as Python ``re.sub(r"[ \\t]+(?=\\n)|[ \\t]+$", "", v)``.
    RE2 has no lookahead, so the newline is captured and put back; RE2's
    ``$`` is end of text, and the Python ``$`` that also matches before a
    final newline is covered by the newline branch."""
    return pc.replace_substring_regex(s, r"[ \t]+(\n|$)", r"\1")


@functools.cache
def _token_pattern() -> str:
    r"""RE2 form of Python's ``\w+|[^\w\s]``.

    RE2's ``\w`` and ``\s`` are ASCII-only and its ``\p{..}`` classes
    follow a different Unicode version than the interpreter's, so the
    two classes are spelled out as code point ranges read off Python
    ``re`` itself: each run of ``\w`` (or ``\s``) over all code points in
    order is one range. Built once per worker (~0.1 s)."""
    cps = np.arange(0x110000, dtype="<u4")
    cps[0xD800:0xE000] = 0  # surrogates cannot occur in UTF-8 text; NUL is in neither class
    every = cps.tobytes().decode("utf-32-le")

    def ranges(pat: str) -> str:
        out = []
        for m in re.finditer(pat, every):
            lo, hi = m.start(), m.end() - 1
            out.append(f"\\x{{{lo:X}}}" if lo == hi else f"\\x{{{lo:X}}}-\\x{{{hi:X}}}")
        return "".join(out)

    word, space = ranges(r"\w+"), ranges(r"\s+")
    return f"[{word}]+|[^{word}{space}]"


@arrow_udf(T.IntegerType())
def token_count_bpeish(s: pa.Array) -> pa.Array:
    """BPE-ish token count: word pieces + punctuation marks, i.e.
    ``len(re.findall(r"\\w+|[^\\w\\s]", v))``."""
    return pc.count_substring_regex(s, _token_pattern()).cast(pa.int32())


_FNV_OFFSET = np.uint64(1469598103934665603)
_FNV_PRIME = np.uint64(1099511628211)
_MASK63 = np.uint64(0x7FFF_FFFF_FFFF_FFFF)


@arrow_udf(T.LongType())
def rolling_fingerprint(s: pa.Array) -> pa.Array:
    """FNV-1a 64 document fingerprint over the UTF-8 bytes, masked to 63
    bits (deterministic, order-sensitive).

    Column-wise: rows are sorted by byte length, longest first, and step
    ``j`` folds byte ``j`` of every row still that long, so each step is
    one numpy operation over a prefix of the rows. uint64 arithmetic
    wraps modulo 2^64; masking once at the end equals masking after
    every step because 2^63 divides 2^64."""
    nulls = s.is_null().to_numpy(zero_copy_only=False)
    s = pc.fill_null(s, "").cast(pa.large_string())
    _, offsets_buf, data_buf = s.buffers()
    offsets = np.frombuffer(offsets_buf, dtype=np.int64)[s.offset : s.offset + len(s) + 1]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None else np.zeros(0, np.uint8)
    )
    lengths = np.diff(offsets)
    order = np.argsort(-lengths, kind="stable")
    starts = offsets[:-1][order]
    desc = lengths[order]
    # active[j] = number of rows longer than j bytes
    active = np.searchsorted(-desc, -np.arange(desc[0] if len(desc) else 0), side="left")
    h = np.full(len(s), _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j, k in enumerate(active):
            h[:k] = (h[:k] ^ data[starts[:k] + j]) * _FNV_PRIME
    out = np.empty_like(h)
    out[order] = h & _MASK63
    return pa.array(out.view(np.int64), mask=nulls)

