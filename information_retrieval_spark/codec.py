"""Varbyte (VLC) + gap codec, vectorized with numpy.

Byte-layout contract mirrors the reference codec (VLC.java:15-43):
big-endian 7-bit groups, the high bit set on the FINAL byte of each
value (terminator-style), non-negative integers only. The reference
caps values at int32 (<=5 bytes); this implementation generalizes to
uint64 (<=10 bytes) because docID gaps at 10^12-file scale exceed
int32 — a scale limit SURVEY.md §1.2 says we must not copy.

Gap coding (IndexService.java:337, 355-372 / QueryProcessor.java:36-42):
sorted ascending ints are stored as deltas, the first value absolute
(delta from 0); decode is a cumulative sum. Every kernel here is
whole-array numpy — no per-element Python in the hot path.
"""

from __future__ import annotations

import numpy as np

_MAX_BYTES = 10  # ceil(64 / 7)
# thresholds[k] = 128^(k+1); value v needs k+1 bytes iff v < 128^(k+1)
_THRESHOLDS = np.array([1 << (7 * (k + 1)) for k in range(9)], dtype=np.uint64)


def vb_encode(values) -> bytes:
    """Encode a 1-D array of non-negative ints to varbyte bytes."""
    arr = np.asarray(values)
    if arr.size == 0:
        return b""
    if arr.dtype.kind not in "ui":
        arr = arr.astype(np.int64)
    if arr.dtype.kind == "i" and (arr < 0).any():
        raise ValueError("varbyte domain is non-negative integers")
    arr = arr.astype(np.uint64)

    nbytes = (np.searchsorted(_THRESHOLDS, arr, side="right") + 1).astype(np.int64)
    ends = np.cumsum(nbytes)  # exclusive end offset of each value
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    for k in range(int(nbytes.max())):  # <=10 vectorized passes
        sel = nbytes > k
        pos = ends[sel] - 1 - k  # k bytes back from the value's last byte
        out[pos] = ((arr[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
    out[ends - 1] |= 0x80  # terminator bit on each value's final byte
    return out.tobytes()


def vb_encode_with_lengths(values) -> tuple:
    """vb_encode + the per-value encoded byte count.

    Varbyte is value-independent, so slicing the returned buffer at
    cumulative length boundaries yields each sub-range's standalone
    encoding — used to cut one flat encode pass into per-row blobs
    (the SPIMI kernels encode a whole batch of position lists at once
    and slice per (term, docID) row)."""
    arr = np.asarray(values)
    if arr.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    if arr.dtype.kind not in "ui":
        arr = arr.astype(np.int64)
    if arr.dtype.kind == "i" and (arr < 0).any():
        raise ValueError("varbyte domain is non-negative integers")
    arr = arr.astype(np.uint64)
    nbytes = (np.searchsorted(_THRESHOLDS, arr, side="right") + 1).astype(np.int64)
    ends = np.cumsum(nbytes)
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    for k in range(int(nbytes.max())):
        sel = nbytes > k
        pos = ends[sel] - 1 - k
        out[pos] = ((arr[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
    out[ends - 1] |= 0x80
    return out.tobytes(), nbytes


def vb_decode(buf) -> np.ndarray:
    """Decode varbyte bytes back to a uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    term_idx = np.flatnonzero(b & 0x80)
    if term_idx.size == 0 or term_idx[-1] != b.size - 1:
        raise ValueError("corrupt varbyte stream: missing terminator")
    group = np.zeros(b.size, dtype=np.int64)
    group[1:] = np.cumsum((b[:-1] & 0x80) != 0)
    shifts = ((term_idx[group] - np.arange(b.size)) * 7).astype(np.uint64)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << shifts
    starts = np.empty(term_idx.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = term_idx[:-1] + 1
    return np.add.reduceat(contrib, starts)


def gap_encode(sorted_values) -> np.ndarray:
    """Ascending ints -> deltas (first value absolute)."""
    arr = np.asarray(sorted_values, dtype=np.int64)
    if arr.size == 0:
        return arr
    return np.diff(arr, prepend=0)


def gap_decode(gaps) -> np.ndarray:
    """Deltas -> absolute values (inverse of gap_encode)."""
    arr = np.asarray(gaps, dtype=np.int64)
    return np.cumsum(arr)

def flat_decode(arr, n_rows) -> np.ndarray:
    """Decode a whole Arrow binary column's value stream in ONE
    vb_decode call — binary-array values are contiguous in offset
    order, so the per-row varbyte blobs concatenate into a single
    valid stream (varbyte is value-independent)."""
    voff = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset: arr.offset + n_rows + 1].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return vb_decode(data[voff[0]: voff[-1]].tobytes())


def segmented_cumsum(gaps, seg_lens) -> np.ndarray:
    """Absolute values from a flat gap stream with per-segment resets
    (the first value of every segment is ABSOLUTE): one global cumsum
    plus a per-segment correction — no Python loop over segments."""
    starts = np.zeros(len(seg_lens), dtype=np.int64)
    starts[1:] = np.cumsum(seg_lens[:-1])
    csum = np.cumsum(np.asarray(gaps, dtype=np.int64))
    corr = np.zeros(len(seg_lens), dtype=np.int64)
    corr[1:] = csum[starts[1:] - 1]
    return csum - np.repeat(corr, np.asarray(seg_lens, dtype=np.int64))


def member(sorted_values, x) -> np.ndarray:
    """Boolean mask: which entries of `x` occur in the ascending array
    `sorted_values` — one binary search per entry."""
    x = np.asarray(x)
    if not len(sorted_values):
        return np.zeros(len(x), dtype=bool)
    p = np.searchsorted(sorted_values, x)
    p[p == len(sorted_values)] = 0
    return sorted_values[p] == x
