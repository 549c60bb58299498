"""Codec contract tests, mirroring the reference test strategy
(TestVLC.java:28-51) plus property tests (FIXTURES.md §3)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from information_retrieval_spark.codec import gap_decode, gap_encode, vb_decode, vb_encode


def test_vlc_reference_vectors():
    # TestVLC.java:28-38 round-trips {0, 5, 25, 625, 390625}
    vals = [0, 5, 25, 625, 390625]
    assert vb_decode(vb_encode(vals)).tolist() == vals


def test_vlc_negative_rejected():
    # negatives are out of domain (TestVLC.java:41-51 documents the contract)
    with pytest.raises(ValueError):
        vb_encode([-1, 2, 3])


def test_vlc_layout_contract():
    # 7-bit big-endian groups, high bit on the FINAL byte (VLC.java:15-28)
    assert vb_encode([5]) == bytes([5 | 0x80])
    assert vb_encode([128]) == bytes([1, 0 | 0x80])
    assert vb_encode([300]) == bytes([2, 44 | 0x80])  # 300 = 2*128 + 44
    assert vb_encode([0]) == bytes([0x80])


def test_vlc_int64_domain():
    vals = [2**40, 2**62, 2**63 - 1, 0, 1]
    assert vb_decode(vb_encode(vals)).tolist() == vals


def test_vlc_empty():
    assert vb_encode([]) == b""
    assert vb_decode(b"").tolist() == []


def test_vlc_corrupt_stream():
    with pytest.raises(ValueError):
        vb_decode(bytes([5]))  # no terminator bit


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**31 - 1), max_size=300))
def test_vlc_roundtrip_property(vals):
    assert vb_decode(vb_encode(vals)).tolist() == vals


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200))
def test_gap_roundtrip_property(vals):
    s = sorted(vals)
    assert gap_decode(gap_encode(s)).tolist() == s


def test_gap_first_absolute():
    # first value stored absolute (gap from 0), IndexService.java:337
    assert gap_encode([7, 9, 15]).tolist() == [7, 2, 6]
    assert gap_decode([7, 2, 6]).tolist() == [7, 9, 15]


# --- phrase membership kernel (query._shift_member_batch) ---------------

def _ragged(rows):
    """Per-row int lists -> the kernels' (flat values, row lengths)."""
    import numpy as np
    rows = list(rows)
    return (np.asarray([x for r in rows for x in r], dtype=np.int64),
            np.asarray([len(r) for r in rows], dtype=np.int64))


@given(st.lists(st.tuples(
           st.lists(st.integers(0, 500), max_size=30).map(sorted),
           st.lists(st.integers(0, 500), max_size=30).map(sorted),
           st.integers(0, 8)),
       max_size=12))
@settings(max_examples=200, deadline=None)
def test_shift_member_batch_matches_set_oracle(rows):
    import numpy as np

    from information_retrieval_spark.query import _shift_member_batch
    k = np.asarray([kk for _a, _b, kk in rows], dtype=np.int64)
    vals, lens = _shift_member_batch(*_ragged(a for a, _b, _k in rows),
                                     *_ragged(b for _a, b, _k in rows), k)
    got = [x.tolist() for x in np.split(vals, np.cumsum(lens)[:-1])] \
        if len(rows) else []
    want = [[x for x in a if x + kk in set(b)] for a, b, kk in rows]
    assert got == want


@given(st.lists(st.tuples(
           st.lists(st.integers(0, 300), max_size=20).map(sorted),
           st.lists(st.integers(0, 300), max_size=20).map(sorted),
           st.integers(0, 10)),
       max_size=10))
@settings(max_examples=200, deadline=None)
def test_window_match_batch_matches_set_oracle(rows):
    # incl. empty-on-either-side rows (the reduceat empty-segment guard:
    # trailing empties must not read past the buffer or leak the next
    # segment's verdict)
    import numpy as np

    from information_retrieval_spark.query import _window_match_batch
    k = np.asarray([kk for _a, _b, kk in rows], dtype=np.int64)
    got = _window_match_batch(*_ragged(a for a, _b, _k in rows),
                              *_ragged(b for _a, b, _k in rows), k).tolist()
    want = [any(abs(x - y) <= kk for x in a for y in b)
            for a, b, kk in rows]
    assert got == want
