"""The rank kernel without Spark: synthetic varbyte posting blocks go
straight through `_make_rank_kernel` and are checked against a plain
dict-of-sums reference (per-doc score sums, finalize, allow / exclude,
then a per-(query, bucket) top-k that keeps every kth-score tie)."""

from functools import partial

import numpy as np
import pyarrow as pa
import pytest

from information_retrieval_spark.codec import gap_encode, vb_encode
from information_retrieval_spark.query import (
    _bm25_weight, _make_rank_kernel, _qlm_finalize, _qlm_weight)

DPB = 16  # docs per bucket
BM25 = partial(_bm25_weight, 1.2, 0.75, 5.0)


def _postings(seed=7, n_buckets=4):
    """term -> {docID: tf}, docID -> dl. Docs 0-3 of bucket 0 hold
    term "tie" once each and share one dl, so their scores tie."""
    rng = np.random.RandomState(seed)
    docs = np.arange(n_buckets * DPB)
    dl = {int(d): int(rng.randint(3, 12)) for d in docs}
    post = {}
    for t in ("a", "b", "c", "d"):
        hit = docs[rng.rand(len(docs)) < 0.5]
        post[t] = {int(d): int(rng.randint(1, 4)) for d in hit}
    post["tie"] = {d: 1 for d in range(4)}
    for d in range(4):
        dl[d] = 6
    return post, dl


def _batches(post, dl, queries, rows_per_batch, docs_per_block=3):
    """The queries' block rows sorted by bucket (the exchange's order),
    cut into Arrow batches of `rows_per_batch` rows so buckets straddle
    them."""
    rows = []
    for t, tfs in post.items():
        if not any(t in q for q in queries):
            continue
        ids = np.array(sorted(tfs), dtype=np.int64)
        for bkt in np.unique(ids // DPB):
            in_b = ids[ids // DPB == bkt]
            for i in range(0, len(in_b), docs_per_block):
                blk = in_b[i:i + docs_per_block]
                rows.append((int(bkt), t, len(blk),
                             vb_encode(gap_encode(blk)),
                             vb_encode([tfs[int(d)] for d in blk]),
                             vb_encode([dl[int(d)] for d in blk])))
    rows.sort(key=lambda r: r[0])
    cols = list(zip(*rows))
    tbl = pa.table({
        "term": pa.array(cols[1], pa.string()),
        "bucket": pa.array(cols[0], pa.int64()),
        "n_docs": pa.array(cols[2], pa.int32()),
        "doc_gaps": pa.array(cols[3], pa.binary()),
        "tfs": pa.array(cols[4], pa.binary()),
        "dls": pa.array(cols[5], pa.binary())})
    return [b for i in range(0, tbl.num_rows, rows_per_batch)
            for b in tbl.slice(i, rows_per_batch).to_batches()]


def _run(kernel, batches) -> dict:
    out = {}
    for rb in kernel(iter(batches)):
        d = rb.to_pydict()
        for q, doc, s in zip(d["qcode"], d["docID"], d["score"]):
            assert (q, doc) not in out
            out[(q, doc)] = s
    return out


def _reference(post, dl, queries, params, weight, k, allowed=None,
               excluded=(), finalize=None) -> dict:
    out = {}
    for q, terms in enumerate(queries):
        sums: dict = {}
        for t in terms:
            for d, tf in post[t].items():
                sums[d] = sums.get(d, 0.0) + float(
                    weight(params[t], float(tf), float(dl[d])))
        for bkt in {d // DPB for d in sums}:
            page = {d: (finalize(s, float(dl[d])) if finalize else s)
                    for d, s in sums.items() if d // DPB == bkt
                    and (allowed is None or d in allowed)
                    and d not in excluded}
            if k is not None and len(page) > k:
                kth = sorted(page.values(), reverse=True)[k - 1]
                page = {d: s for d, s in page.items() if s >= kth}
            out.update({(q, d): s for d, s in page.items()})
    return out


def _info(queries, params):
    codes: dict = {}
    for q, terms in enumerate(queries):
        for t in terms:
            codes.setdefault(t, []).append(q)
    return {t: (np.asarray(c), params[t]) for t, c in codes.items()}


def _check(got, want):
    assert got.keys() == want.keys()
    for key, s in want.items():
        assert got[key] == pytest.approx(s, rel=1e-12), key


QUERIES = [["a", "b", "tie"], ["b", "c"], ["c", "d", "a"]]  # b, c shared
IDF = {"a": 1.3, "b": 0.7, "c": 2.1, "d": 0.4, "tie": 1.0}


@pytest.mark.parametrize("rows_per_batch", [1, 3, 7, 1000])
def test_batched_bm25_matches_reference(rows_per_batch):
    post, dl = _postings()
    batches = _batches(post, dl, QUERIES, rows_per_batch)
    got = _run(_make_rank_kernel(_info(QUERIES, IDF), BM25, DPB, 2), batches)
    _check(got, _reference(post, dl, QUERIES, IDF, BM25, 2))
    assert {q for q, _ in got} == {0, 1, 2}


def test_ties_at_kth_score_are_kept():
    post, dl = _postings()
    lone = [["tie"]]
    got = _run(_make_rank_kernel(_info(lone, IDF), BM25, DPB, 1),
               _batches(post, dl, lone, 2))
    assert sorted(d for _, d in got) == [0, 1, 2, 3]  # 4 docs tie at k=1
    assert len(set(got.values())) == 1


def test_lone_query_is_its_slice_of_the_batch():
    post, dl = _postings()
    many = _run(_make_rank_kernel(_info(QUERIES, IDF), BM25, DPB, 3),
                _batches(post, dl, QUERIES, 3))
    for q, terms in enumerate(QUERIES):
        lone = _run(_make_rank_kernel(_info([terms], IDF), BM25, DPB, 3),
                    _batches(post, dl, [terms], 3))
        assert lone == {(0, d): s for (qc, d), s in many.items() if qc == q}


def test_wide_batch_matches_reference():
    # more queries than the 64 rows a 2^22-double (qcode, doc) block of
    # 65 536-doc buckets would hold, every term shared by many of them
    post, dl = _postings()
    rng = np.random.RandomState(3)
    terms = sorted(IDF)
    wide = [[t for t in terms if rng.rand() < 0.5] or ["a"]
            for _ in range(70)]
    got = _run(_make_rank_kernel(_info(wide, IDF), BM25, DPB, 2),
               _batches(post, dl, wide, 3))
    _check(got, _reference(post, dl, wide, IDF, BM25, 2))
    assert {q for q, _ in got} == set(range(70))


def test_allowed_and_excluded():
    post, dl = _postings()
    batches = _batches(post, dl, QUERIES, 3)
    info = _info(QUERIES, IDF)
    empty = np.empty(0, dtype=np.int64)
    assert _run(_make_rank_kernel(info, BM25, DPB, 2, allowed=empty),
                batches) == {}
    allowed = np.arange(0, 4 * DPB, 3, dtype=np.int64)
    bucket1 = np.arange(DPB, 2 * DPB, dtype=np.int64)
    got = _run(_make_rank_kernel(info, BM25, DPB, 2, allowed=allowed,
                                 excluded=bucket1), batches)
    assert got and not any(d // DPB == 1 for _, d in got)
    _check(got, _reference(post, dl, QUERIES, IDF, BM25, 2,
                           allowed=set(allowed.tolist()),
                           excluded=set(bucket1.tolist())))


def test_emit_all_and_qlm_finalize():
    post, dl = _postings()
    terms = [["a", "c", "tie"]]
    batches = _batches(post, dl, terms, 4)
    w = {"a": 0.9, "c": 2.5, "tie": 0.3}
    fin = partial(_qlm_finalize, 2000.0, 3)
    got = _run(_make_rank_kernel(_info(terms, w), _qlm_weight, DPB, None,
                                 finalize=fin), batches)
    want = _reference(post, dl, terms, w, _qlm_weight, None, finalize=fin)
    _check(got, want)
    cut = _run(_make_rank_kernel(_info(terms, w), _qlm_weight, DPB, 2,
                                 finalize=fin), batches)
    _check(cut, _reference(post, dl, terms, w, _qlm_weight, 2, finalize=fin))
