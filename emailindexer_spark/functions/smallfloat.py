"""Lucene SmallFloat 1-byte norm codec (public algorithm, Lucene 9.1).

Lucene stores a text field's per-document length (number of tokens) as a
single lossy byte via ``SmallFloat.intToByte4`` and decodes it back with a
256-entry table (``BM25Similarity.LENGTH_TABLE`` / ``SmallFloat.byte4ToInt``).
Exact BM25 score parity with the reference (which never overrides the
default similarity — SURVEY.md §1.2) requires replicating this
encode/decode exactly.

Lucene 9's codec is NOT a plain 4-bit tiny-float: it first reserves the
low ``NUM_FREE_VALUES`` bytes for exact small values, then shifts the
tiny-float range up:

  MAX_INT4        = longToInt4(Integer.MAX_VALUE) = 231
  NUM_FREE_VALUES = 255 - MAX_INT4                = 24

  intToByte4(i) = i                            if i < 24
                = 24 + longToInt4(i - 24)      otherwise
  byte4ToInt(b) = b                            if b < 24
                = 24 + int4ToLong(b - 24)      otherwise

where longToInt4 is the 4-significant-bit tiny float (3-bit mantissa,
one implicit bit):

  longToInt4(x) = x                                 if x < 8
                = ((x >> s) & 7) | (s+1)<<3         where s = bit_length(x) - 4
  int4ToLong(e) = e & 7                             if e < 8
                = ((e & 7) | 8) << ((e >> 3) - 1)   otherwise

Consequences the tests pin: doc lengths 0..39 round-trip EXACTLY
(0..23 via the free values, 24..39 because the tiny float is exact
below 16), and the first shared bucket is {40, 41} (both decode to 40).

The identity decode(encode(dl)) is SQL-expressible and mirrored in the
DuckDB oracles (``__spark_entry__.py``):

  dlq(dl) = dl                                       if dl < 32
          = 24 + (((dl-24) >> s) << s),  s = floor(log2(dl-24)) - 3
                                                     otherwise
(for 32 <= dl < 40, s = 0 so dlq = dl, consistent with exactness to 39).
"""

from __future__ import annotations

import numpy as np

#: 255 - longToInt4(Integer.MAX_VALUE); low bytes encode lengths exactly.
NUM_FREE_VALUES = 24


def long_to_int4(x: int) -> int:
    """Lucene ``SmallFloat.longToInt4`` — 4-significant-bit tiny float."""
    if x < 0:
        raise ValueError("long_to_int4 requires a non-negative value")
    nb = x.bit_length()
    if nb < 4:
        return x
    shift = nb - 4
    return ((x >> shift) & 0x07) | ((shift + 1) << 3)


def int4_to_long(e: int) -> int:
    """Lucene ``SmallFloat.int4ToLong`` — inverse of :func:`long_to_int4`."""
    bits = e & 0x07
    shift = (e >> 3) - 1
    return bits if shift == -1 else (bits | 0x08) << shift


def int_to_byte4(i: int) -> int:
    """Lucene ``SmallFloat.intToByte4``: lossy-encode an int to one byte."""
    if i < 0:
        raise ValueError("int_to_byte4 requires a non-negative value")
    if i < NUM_FREE_VALUES:
        return i
    return NUM_FREE_VALUES + long_to_int4(i - NUM_FREE_VALUES)


def byte4_to_int(b: int) -> int:
    """Lucene ``SmallFloat.byte4ToInt``: decode a byte to the bucket rep."""
    if b < NUM_FREE_VALUES:
        return b
    return NUM_FREE_VALUES + int4_to_long(b - NUM_FREE_VALUES)


#: 256-entry decode table, exactly Lucene's ``BM25Similarity.LENGTH_TABLE``.
LENGTH_TABLE: np.ndarray = np.array([byte4_to_int(b) for b in range(256)], dtype=np.int64)


def encode_lengths(dl: np.ndarray) -> np.ndarray:
    """Vectorized intToByte4 over an int array (doc lengths)."""
    dl = np.asarray(dl, dtype=np.int64)
    if (dl < 0).any():
        raise ValueError("negative doc length")
    x = dl - NUM_FREE_VALUES  # tiny-float operand where dl >= 24
    # bit_length(x) vectorized; np.log2 of an exact power of two is exact
    # in float64 for < 2^53, but guard the boundary off-by-one anyway.
    nb = np.zeros_like(dl)
    nz = x > 0
    nb[nz] = np.floor(np.log2(x[nz].astype(np.float64))).astype(np.int64) + 1
    too_hi = nz & (x < (1 << np.maximum(nb - 1, 0)))
    nb[too_hi] -= 1
    too_lo = nz & (x >= (1 << nb))
    nb[too_lo] += 1
    shift = np.maximum(nb - 4, 0)
    out = np.where(
        dl < NUM_FREE_VALUES,
        dl,
        np.where(
            nb < 4,
            dl,  # subnormal tiny float: 24 + x = dl
            NUM_FREE_VALUES + (((x >> shift) & 0x07) | ((shift + 1) << 3)),
        ),
    )
    return out.astype(np.int64)


def decode_lengths(norm: np.ndarray) -> np.ndarray:
    """Vectorized byte4ToInt via the table."""
    return LENGTH_TABLE[np.asarray(norm, dtype=np.int64)]
