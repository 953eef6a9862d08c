"""Posting-list compression: docID delta + variable-byte, block-max skip.

The reference's Lucene index stores postings as compressed blocks with
skip data (SURVEY.md §4 "Posting compression", "Skip lists / block
metadata"); we re-express that as an explicit, numpy-vectorized codec:

* doc IDs per (term, split) are sorted ascending and stored as
  first-delta-from-block-start + consecutive deltas, varbyte-encoded
  (7 payload bits per byte, MSB = continuation),
* term frequencies are varbyte-encoded,
* per-doc norm bytes (Lucene-style SmallFloat-encoded doc lengths,
  ``smallfloat.int_to_byte4``) ride along raw — this inlines the "norms"
  file into the postings so query-time scoring needs NO join against a
  per-doc stats table (critical at 10^12 docs, where doc_stats cannot be
  broadcast),
* every ``BLOCK_SIZE`` (128) docs form an independently-decodable block
  carrying (first_doc, last_doc, n, max_tf, min_norm) — the block-max
  metadata that drives WAND skipping; max-score upper bounds are derived
  at query time from (max_tf, min_norm) so the index does not bake in
  corpus statistics.

All encode/decode paths are pure numpy (no per-element Python in the hot
loop) and run inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

BLOCK_SIZE = 128


# ---------------------------------------------------------------- varbyte

def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # bytes per value: ceil(bit_length/7) min 1, computed by comparing
    # against powers of 2^7 (log2 is unsafe at exact boundaries).
    nbytes = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # positions: for each value, its first output byte
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # fill byte j of each value that has > j bytes
    maxb = int(nbytes.max())
    for j in range(maxb):
        sel = nbytes > j
        idx = starts[sel] + j
        chunk = (v[sel] >> np.uint64(7 * j)).astype(np.uint64) & np.uint64(0x7F)
        cont = (nbytes[sel] - 1) > j
        out[idx] = chunk.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode → uint64 array.

    Single-byte-only buffers (no continuation bits — the common case
    for small deltas) decode as one cast.  Mixed buffers OR each byte
    position in with a fancy-indexed scatter per position-within-value
    (indices are unique per pass, and there are at most 10 passes), which
    replaces the old ``np.add.at`` single pass — ufunc.at is an order of
    magnitude slower than a plain unique-index scatter."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    if bool(is_end.all()):
        return b.astype(np.uint64)
    value_id = np.zeros(b.size, dtype=np.int64)
    value_id[1:] = np.cumsum(is_end)[:-1]
    n_values = int(is_end.sum())
    # position j of byte i = i - start_of_value(value_id[i])
    value_starts = np.zeros(n_values, dtype=np.int64)
    value_starts[1:] = np.nonzero(is_end)[0][:-1] + 1
    pos = np.arange(b.size, dtype=np.int64) - value_starts[value_id]
    payload = (b & np.uint8(0x7F)).astype(np.uint64)
    out = np.zeros(n_values, dtype=np.uint64)
    for j in range(int(pos.max()) + 1):
        m = pos == j
        out[value_id[m]] |= payload[m] << np.uint64(7 * j)
    return out


# ---------------------------------------------------------------- blocks

@dataclass
class EncodedBlocks:
    """Column-parallel encoded blocks of one (term, split) posting list."""

    first_doc: np.ndarray  # int64 per block
    last_doc: np.ndarray  # int64 per block
    n: np.ndarray  # int32 per block
    max_tf: np.ndarray  # int32 per block
    min_norm: np.ndarray  # int32 per block (SmallFloat byte, 0..255)
    doc_bytes: list[bytes]
    tf_bytes: list[bytes]
    norm_bytes: list[bytes]


def encode_blocks(
    doc_ids: np.ndarray, tfs: np.ndarray, norms: np.ndarray, block_size: int = BLOCK_SIZE
) -> EncodedBlocks:
    """Encode one sorted posting run into independent blocks."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    if doc_ids.size and (np.diff(doc_ids) <= 0).any():
        raise ValueError("doc_ids must be strictly increasing within a posting run")
    nb = max(1, -(-doc_ids.size // block_size)) if doc_ids.size else 0
    first, last, n, mtf, mnorm = (
        np.empty(nb, dtype=np.int64),
        np.empty(nb, dtype=np.int64),
        np.empty(nb, dtype=np.int32),
        np.empty(nb, dtype=np.int32),
        np.empty(nb, dtype=np.int32),
    )
    dbs: list[bytes] = []
    tbs: list[bytes] = []
    nbs: list[bytes] = []
    for i in range(nb):
        sl = slice(i * block_size, min((i + 1) * block_size, doc_ids.size))
        d, t, m = doc_ids[sl], tfs[sl], norms[sl]
        first[i], last[i], n[i] = d[0], d[-1], d.size
        mtf[i] = int(t.max())
        mnorm[i] = int(m.min())
        deltas = np.diff(d, prepend=d[0]).astype(np.uint64)  # first delta = 0
        dbs.append(varbyte_encode(deltas))
        tbs.append(varbyte_encode(t.astype(np.uint64)))
        nbs.append(m.astype(np.uint8).tobytes())
    return EncodedBlocks(first, last, n, mtf, mnorm, dbs, tbs, nbs)


def encode_blocks_vec(
    doc_ids: np.ndarray, tfs: np.ndarray, norms: np.ndarray, block_size: int = BLOCK_SIZE
) -> EncodedBlocks:
    """Bit-identical to :func:`encode_blocks`, vectorized across blocks:
    ONE varbyte pass over the whole run (deltas reset to 0 at block
    starts, exactly the per-block layout) sliced at block boundaries,
    and reduceat for the per-block metadata — no per-block Python loop.
    Equality with encode_blocks is pytest-gated."""
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    norms = np.asarray(norms, dtype=np.int64)
    n = doc_ids.size
    if n == 0:
        return encode_blocks(doc_ids, tfs, norms, block_size)
    if (np.diff(doc_ids) <= 0).any():
        raise ValueError("doc_ids must be strictly increasing within a posting run")
    nb = -(-n // block_size)
    bstarts = np.arange(nb, dtype=np.int64) * block_size
    bends = np.minimum(bstarts + block_size, n)
    first = doc_ids[bstarts]
    last = doc_ids[bends - 1]
    cnt = (bends - bstarts).astype(np.int32)
    mtf = np.maximum.reduceat(tfs, bstarts).astype(np.int32)
    mnorm = np.minimum.reduceat(norms, bstarts).astype(np.int32)
    deltas = np.diff(doc_ids, prepend=0)
    deltas[bstarts] = 0  # per-block first delta is 0 (first_doc is stored)
    dbuf, doffs = varbyte_encode_offsets(deltas.astype(np.uint64))
    tbuf, toffs = varbyte_encode_offsets(tfs.astype(np.uint64))
    mv_d, mv_t = memoryview(dbuf), memoryview(tbuf)
    nbytes = norms.astype(np.uint8).tobytes()
    dbs = [bytes(mv_d[doffs[a]:doffs[b]]) for a, b in zip(bstarts, bends)]
    tbs = [bytes(mv_t[toffs[a]:toffs[b]]) for a, b in zip(bstarts, bends)]
    nbs = [nbytes[a:b] for a, b in zip(bstarts, bends)]
    return EncodedBlocks(first, last, cnt, mtf, mnorm, dbs, tbs, nbs)


def decode_block(
    first_doc: int, doc_bytes: bytes, tf_bytes: bytes, norm_bytes: bytes
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block → (doc_ids int64, tfs int64, norms int64)."""
    deltas = varbyte_decode(doc_bytes).astype(np.int64)
    docs = np.cumsum(deltas) + first_doc  # deltas[0] == 0
    tfs = varbyte_decode(tf_bytes).astype(np.int64)
    norms = np.frombuffer(norm_bytes, dtype=np.uint8).astype(np.int64)
    return docs, tfs, norms


def varbyte_encode_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte-encode ``values`` once, also returning the per-value byte
    offsets (length n+1, offsets[i] = first byte of value i) so callers
    can slice the buffer at arbitrary value boundaries without
    re-encoding.  Each value's encoding is self-contained, so
    ``buf[offsets[a]:offsets[b]]`` is bit-identical to
    ``varbyte_encode(values[a:b])``."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    buf = varbyte_encode(v)
    nbytes = np.ones(v.shape, dtype=np.int64)
    for k in range(1, 10):
        nbytes += (v >= (np.uint64(1) << np.uint64(7 * k))).astype(np.int64)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    return buf, offsets


# ---------------------------------------------------------------- positions

def encode_positions(pos_concat: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode per-doc term positions for one block.

    ``pos_concat`` is the concatenation of each doc's ascending token
    positions (block doc order); ``tfs`` gives the per-doc counts.
    Stored as SEGMENTED deltas (each doc's first position absolute, then
    gaps — exactly the docID-gap scheme applied within each doc),
    varbyte-encoded.  Mirrors Lucene's DOCS_AND_FREQS_AND_POSITIONS
    position payload (EmailIndexGenerator.java:85-88).
    """
    p = np.asarray(pos_concat, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    if p.size == 0:
        return b""
    starts = np.concatenate(([0], np.cumsum(t[:-1])))
    d = np.diff(p, prepend=0)
    d[starts] = p[starts]  # segment-first values are absolute
    return varbyte_encode(d.astype(np.uint64))


def decode_positions(buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of :func:`encode_positions` → flat positions array."""
    t = np.asarray(tfs, dtype=np.int64)
    # view, not astype: varbyte_decode returns a fresh uint64 array and
    # values are < 2^63, so the reinterpret is free and safe
    d = varbyte_decode(buf).view(np.int64)
    if d.size == 0:
        return d
    cs = np.cumsum(d)
    starts = np.concatenate(([0], np.cumsum(t[:-1])))
    # subtract the running prefix that leaked across segment boundaries
    offs = np.concatenate(([0], cs[starts[1:] - 1]))
    return cs - np.repeat(offs, t)
