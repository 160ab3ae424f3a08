"""Posting-list codecs: delta + variable-byte, numpy-vectorized.

Re-expresses the byte-oriented varint codec of the reference's inverted
index [G: lib/ii.c · GRN_B_ENC/GRN_B_DEC] and its skip-block ("chunk_info")
metadata [G: lib/ii.c · chunk_info, buffer_term] — as pure numpy kernels
that run inside Arrow batches (no per-row Python).

Encoding convention: little-endian 7-bit groups, continuation bit (0x80)
set on every byte except the last of a value. Doc ids are stored as deltas
(first value absolute, then strictly-positive gaps); positions per doc the
same way.

Block layout (one parquet row per block; see build.py):
  128 postings per block; per block three varbyte streams (doc deltas,
  tfs, doclens) plus an optional positions stream, and skip metadata
  (``min_doc_id``/``max_doc_id`` — the seek index) and block-max stats
  (``max_tf``, ``min_dl``) from which the query kernel derives
  block-max WAND pruning — strictly stronger than the reference's
  first-rid-only chunk info.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def vb_nbytes(values: np.ndarray) -> np.ndarray:
    """Varbyte-encoded size in bytes of each value (shared by the block
    slicer in postings.py and the PFor cost model — ONE copy)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = np.ones(len(v), np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        n += (tmp > 0).astype(np.int64)
        tmp >>= np.uint64(7)
    return n


def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a uint64-compatible array. Fully vectorized."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if len(v) == 0:
        return b""
    nbytes = vb_nbytes(v)
    total = int(nbytes.sum())
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    j = np.arange(total, dtype=np.int64) - np.repeat(starts, nbytes)
    rep = np.repeat(v, nbytes)
    out = ((rep >> (np.uint64(7) * j.astype(np.uint64))) & np.uint64(0x7F)).astype(np.uint8)
    cont = np.ones(total, bool)
    cont[ends - 1] = False
    out[cont] |= 0x80
    return out.tobytes()


def vb_decode(buf: bytes | bytearray | memoryview) -> np.ndarray:
    """Decode a varbyte stream to uint64. Fully vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) == 0:
        return np.empty(0, np.uint64)
    cont = b & 0x80
    if not cont.any():
        # all values < 128 (typical for tf/doclen/position-delta streams)
        # → bytes ARE the values; skip the group arithmetic entirely
        return b.astype(np.uint64)
    last = cont == 0
    ends = np.flatnonzero(last)
    starts = np.concatenate([np.array([0], np.int64), ends[:-1] + 1])
    group_len = ends - starts + 1
    j = np.arange(len(b), dtype=np.int64) - np.repeat(starts, group_len)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * j.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Strictly-increasing int64 ids → gaps (first absolute)."""
    ids = np.asarray(sorted_ids, dtype=np.int64)
    return np.diff(ids, prepend=np.int64(0)).astype(np.uint64)


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(deltas.astype(np.int64))


def encode_positions(counts: np.ndarray, flat_positions: np.ndarray) -> bytes:
    """Encode per-doc position lists as one varbyte stream.

    Stream = varbyte([counts..., deltas...]) where deltas are per-doc
    delta-encoded positions (first absolute per doc), concatenated.
    """
    counts = np.asarray(counts, dtype=np.int64)
    flat = np.asarray(flat_positions, dtype=np.int64)
    if len(flat):
        deltas = np.diff(flat, prepend=np.int64(0))
        # reset the delta at each doc's first position to its absolute value
        doc_starts = np.cumsum(counts) - counts
        nz = doc_starts[counts > 0]
        deltas[nz] = flat[nz]
        deltas = deltas.astype(np.uint64)
    else:
        deltas = np.empty(0, np.uint64)
    return vb_encode(np.concatenate([counts.astype(np.uint64), deltas]))


def decode_positions(buf: bytes, n_docs: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_positions → (counts, flat_positions)."""
    vals = vb_decode(buf)
    counts = vals[:n_docs].astype(np.int64)
    deltas = vals[n_docs:].astype(np.int64)
    if len(deltas) == 0:
        return counts, np.empty(0, np.int64)
    return counts, _segmented_cumsum(deltas, counts)


def _segmented_cumsum(deltas: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Per-segment cumulative sum (vectorized): cumsum reset at each
    segment start."""
    if len(deltas) == 0:
        return deltas
    g = np.cumsum(deltas)
    starts = (np.cumsum(counts) - counts)[counts > 0]
    # value of global cumsum just before each segment start
    carry = np.zeros(len(deltas), np.int64)
    carry[starts[1:]] = g[starts[1:] - 1]
    np.maximum.accumulate(carry, out=carry)
    return g - carry


def slice_blocks(n: int, block_size: int = BLOCK_SIZE) -> list[tuple[int, int]]:
    """[(start, end)] slices covering n postings in block_size chunks."""
    return [(i, min(i + block_size, n)) for i in range(0, n, block_size)]
