"""Unit tests for the fused fragment merge-encoder (build.
_make_fragment_encoder) and the SPIMI fragment pack — pure Arrow/numpy,
no SparkSession. These pin the kernel paths that small end-to-end runs
rarely force: a (term, bucket) group spanning record batches, fragment
docID runs that interleave (post-shuffle order), and positions-off mode.

The oracle is `cut_blocks`, a pure-Python block cutter over the same
postings (codec.vb_encode + the BM25 tf-norm formula, one posting at a
time) — the kernel must emit byte-identical block rows.
test_build.py::test_packed_build_equals_unpacked runs the same cutter
over OracleIndex postings to pin a whole build end-to-end."""

import numpy as np
import pyarrow as pa
import pytest

from information_retrieval_spark.build import IndexConfig, _make_fragment_encoder
from information_retrieval_spark.codec import vb_encode


def _gaps(values):
    """First value absolute, then deltas (the block/fragment gap coding)."""
    return [values[0]] + [b - a for a, b in zip(values, values[1:])]


def cut_blocks(postings, cfg, avgdl):
    """Pure-Python oracle: postings (term, bucket, doc, tf, dl, positions)
    -> POSTINGS_SCHEMA block rows, sorted by (term, block_id). Each
    (term, bucket) run is cut, docID-ascending, into docs_per_block
    blocks with per-block WAND metadata."""
    k1, b, B = cfg.k1, cfg.b, cfg.docs_per_block
    groups = {}
    for p in sorted(postings, key=lambda p: p[:3]):
        groups.setdefault((p[0], p[1]), []).append(p)
    rows = []
    for (term, bucket), run in groups.items():
        for i in range(0, len(run), B):
            blk = run[i:i + B]
            docs = [p[2] for p in blk]
            tfs = [p[3] for p in blk]
            dls = [p[4] for p in blk]
            pos = b"".join(vb_encode(_gaps([int(x) for x in p[5]]))
                           for p in blk) if cfg.store_positions else b""
            rows.append({
                "term": term, "bucket": bucket,
                "block_id": bucket * cfg.blocks_per_bucket + i // B,
                "n_docs": len(blk), "doc_gaps": vb_encode(_gaps(docs)),
                "tfs": vb_encode(tfs), "dls": vb_encode(dls),
                "pos_gaps": pos, "block_max_tf": max(tfs),
                "block_max_wand": max(
                    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))
                    for tf, dl in zip(tfs, dls)),
                "block_first_doc": docs[0], "block_last_doc": docs[-1],
                "cf": sum(tfs)})
    return sorted(rows, key=lambda r: (r["term"], r["block_id"]))


def _fragment_batch(frags):
    """frags: list of (term, bucket, docs, tfs, dls, positions-per-doc)."""
    terms, buckets, n_docs = [], [], []
    dg, tg, lg, pg = [], [], [], []
    for term, bucket, docs, tfs, dls, pos in frags:
        docs = np.asarray(docs, dtype=np.int64)
        gaps = np.diff(docs, prepend=0)
        gaps[0] = docs[0]
        terms.append(term)
        buckets.append(bucket)
        n_docs.append(len(docs))
        dg.append(vb_encode(gaps))
        tg.append(vb_encode(np.asarray(tfs, dtype=np.int64)))
        lg.append(vb_encode(np.asarray(dls, dtype=np.int64)))
        blob = b""
        for p in pos:
            p = np.asarray(p, dtype=np.int64)
            g = np.diff(p, prepend=0)
            if len(g):
                g[0] = p[0]
            blob += vb_encode(g)
        pg.append(blob)
    return pa.RecordBatch.from_arrays(
        [pa.array(terms, type=pa.string()),
         pa.array(buckets, type=pa.int64()),
         pa.array(n_docs, type=pa.int32()),
         pa.array(dg, type=pa.binary()),
         pa.array(tg, type=pa.binary()),
         pa.array(lg, type=pa.binary()),
         pa.array(pg, type=pa.binary())],
        names=["term", "bucket", "n_docs", "doc_gaps", "tfs", "dls",
               "pos_gaps"])


def _blocks(batches):
    rows = []
    for rb in batches:
        rows.extend(rb.to_pylist())
    return sorted(rows, key=lambda r: (r["term"], r["block_id"]))


CFG = IndexConfig(docs_per_block=4, blocks_per_bucket=8)
AVGDL = 10.0


def _postings_fixture(rng, n_terms=5, n_docs=40, frag_parts=3):
    """Random postings split into `frag_parts` interleaved fragments per
    (term, bucket) — models map partitions holding arbitrary docID
    subsets. Returns (fragment batches input, cut_blocks oracle input)."""
    per_group = {}
    for t in range(n_terms):
        term = f"t{t:02d}"
        docs = np.sort(rng.choice(n_docs * 3, size=rng.integers(3, n_docs),
                                  replace=False))
        for d in docs:
            bucket = int(d // CFG.docs_per_bucket)
            tf = int(rng.integers(1, 4))
            pos = np.sort(rng.choice(50, size=tf, replace=False))
            dl = int(rng.integers(5, 30))
            per_group.setdefault((term, bucket), []).append(
                (term, bucket, int(d), tf, dl, pos))
    frags = []
    rows = []
    for (term, bucket), posts in sorted(per_group.items()):
        rows.extend(posts)
        # deal postings round-robin into fragments (interleaved runs)
        parts = [posts[i::frag_parts] for i in range(frag_parts)]
        for part in parts:
            if not part:
                continue
            frags.append((term, bucket,
                          [p[2] for p in part], [p[3] for p in part],
                          [p[4] for p in part], [p[5] for p in part]))
    return frags, rows


def test_interleaved_fragments_match_row_encoder():
    rng = np.random.default_rng(7)
    frags, rows = _postings_fixture(rng)
    got = _blocks(_make_fragment_encoder(CFG, AVGDL)([_fragment_batch(frags)]))
    want = cut_blocks(rows, CFG, AVGDL)
    assert got == want
    assert len(got) > len({(r["term"], r["bucket"]) for r in got})  # multi-block


def test_group_spanning_batches_matches_single_batch():
    rng = np.random.default_rng(21)
    frags, rows = _postings_fixture(rng, n_terms=4, frag_parts=4)
    want = _blocks(_make_fragment_encoder(CFG, AVGDL)([_fragment_batch(frags)]))
    # every batch-boundary split point, incl. mid-(term,bucket)-group
    for cut in range(1, len(frags)):
        got = _blocks(_make_fragment_encoder(CFG, AVGDL)(
            [_fragment_batch(frags[:cut]), _fragment_batch(frags[cut:])]))
        assert got == want, f"split at fragment {cut} diverged"


def test_three_way_batch_split_matches():
    rng = np.random.default_rng(3)
    frags, _ = _postings_fixture(rng, n_terms=3, frag_parts=5)
    want = _blocks(_make_fragment_encoder(CFG, AVGDL)([_fragment_batch(frags)]))
    a, b = len(frags) // 3, 2 * len(frags) // 3
    got = _blocks(_make_fragment_encoder(CFG, AVGDL)(
        [_fragment_batch(frags[:a]), _fragment_batch(frags[a:b]),
         _fragment_batch(frags[b:])]))
    assert got == want


def test_positions_off_mode():
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=8,
                      store_positions=False)
    rng = np.random.default_rng(5)
    frags, rows = _postings_fixture(rng, n_terms=3)
    got = _blocks(_make_fragment_encoder(cfg, AVGDL)([_fragment_batch(frags)]))
    want = cut_blocks(rows, cfg, AVGDL)
    assert got == want
    assert all(r["pos_gaps"] == b"" for r in got)


def test_empty_and_degenerate_batches():
    enc = _make_fragment_encoder(CFG, AVGDL)
    assert list(enc(iter([]))) == []
    empty = _fragment_batch([("t", 0, [1], [1], [2], [[0]])]).slice(0, 0)
    assert list(enc(iter([empty]))) == []
    one = _fragment_batch([("t", 0, [1], [1], [2], [[0]])])
    out = _blocks(enc([one]))
    assert len(out) == 1 and out[0]["n_docs"] == 1


def test_block_metadata_consistency():
    rng = np.random.default_rng(11)
    frags, _ = _postings_fixture(rng)
    k1, b = CFG.k1, CFG.b
    for r in _blocks(_make_fragment_encoder(CFG, AVGDL)([_fragment_batch(frags)])):
        from information_retrieval_spark.codec import vb_decode
        tfs = vb_decode(r["tfs"])
        dls = vb_decode(r["dls"])
        gaps = vb_decode(r["doc_gaps"])
        docs = np.cumsum(gaps.astype(np.int64))
        assert int(tfs.max()) == r["block_max_tf"]
        assert int(tfs.sum()) == r["cf"]
        assert len(docs) == r["n_docs"]
        assert docs[0] == r["block_first_doc"]
        assert docs[-1] == r["block_last_doc"]
        assert (np.diff(docs) > 0).all()
        tfn = tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * dls / AVGDL))
        assert r["block_max_wand"] == pytest.approx(float(tfn.max()), abs=0)


def _drop_from_fixture(frags, drop):
    """The drop_ids oracle: remove dropped docs from the fragment input
    itself (an empty fragment disappears — drop_ids instead keeps the
    fragment row with zero postings; both must encode identically)."""
    out = []
    for term, bucket, docs, tfs, dls, pos in frags:
        kept = [i for i, d in enumerate(docs) if d not in drop]
        if kept:
            out.append((term, bucket, [docs[i] for i in kept],
                        [tfs[i] for i in kept], [dls[i] for i in kept],
                        [pos[i] for i in kept]))
    return out


def test_drop_ids_matches_prefiltered_input():
    rng = np.random.default_rng(13)
    frags, rows = _postings_fixture(rng)
    all_docs = sorted({d for _, _, docs, _, _, _ in frags for d in docs})
    drop = set(all_docs[::3])  # every third doc, incl. block boundaries
    drop_ids = np.asarray(sorted(drop), dtype=np.int64)
    got = _blocks(_make_fragment_encoder(CFG, AVGDL, drop_ids=drop_ids)(
        [_fragment_batch(frags)]))
    want = _blocks(_make_fragment_encoder(CFG, AVGDL)(
        [_fragment_batch(_drop_from_fixture(frags, drop))]))
    assert got == want
    assert len(got) > 0
    from information_retrieval_spark.codec import vb_decode
    surviving = {int(d) for r in got
                 for d in np.cumsum(vb_decode(r["doc_gaps"]).astype(np.int64))}
    assert surviving and surviving.isdisjoint(drop)


def test_drop_ids_across_batch_splits():
    rng = np.random.default_rng(17)
    frags, _ = _postings_fixture(rng, n_terms=4, frag_parts=4)
    all_docs = sorted({d for _, _, docs, _, _, _ in frags for d in docs})
    drop = set(all_docs[1::2])
    drop_ids = np.asarray(sorted(drop), dtype=np.int64)
    want = _blocks(_make_fragment_encoder(CFG, AVGDL)(
        [_fragment_batch(_drop_from_fixture(frags, drop))]))
    for cut in range(1, len(frags)):
        got = _blocks(_make_fragment_encoder(CFG, AVGDL, drop_ids=drop_ids)(
            [_fragment_batch(frags[:cut]), _fragment_batch(frags[cut:])]))
        assert got == want, f"split at fragment {cut} diverged"


def test_drop_ids_whole_group_and_everything():
    frags = [("ta", 0, [1, 2], [1, 1], [5, 5], [[0], [1]]),
             ("tb", 0, [3], [2], [7], [[0, 4]])]
    # drop all of ta: only tb's block survives
    got = _blocks(_make_fragment_encoder(CFG, AVGDL,
                                         drop_ids=np.array([1, 2]))(
        [_fragment_batch(frags)]))
    assert [r["term"] for r in got] == ["tb"]
    # drop everything: no output at all
    assert _blocks(_make_fragment_encoder(CFG, AVGDL,
                                          drop_ids=np.array([1, 2, 3]))(
        [_fragment_batch(frags)])) == []
