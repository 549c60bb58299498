"""Streaming document deletes (tombstones) + supersede upserts.

Semantics under test (streaming/incremental.py delete_batch /
append_batch(supersede=True) / compact; query.py tombstone exclusion):

- pre-compact: queries exclude deleted docs IMMEDIATELY — set-returning
  queries by anti-join, BM25 inside the kernel BEFORE the top-k cut
  (so a deleted doc can never shadow a live one out of the page) —
  while N/avgdl/df stay as-built (Lucene-style: deleted docs count in
  stats until merge);
- compact(): physical removal — postings drop tombstoned docIDs during
  the fragment merge, doc tables rewrite without them, stats heal to
  the surviving corpus, tombstones clear. Post-compact the index must
  answer EVERY query identically to a fresh build of the live docs.
"""

import math

import pytest

from information_retrieval_spark.build import IndexBuilder, IndexConfig
from information_retrieval_spark.corpus import DOCUMENTS_SCHEMA, fixture_docs
from information_retrieval_spark.oracle import OracleIndex
from information_retrieval_spark.query import QueryEngine
from information_retrieval_spark.streaming import IncrementalIndexer

NEW_DOCS = [
    ("ref/testing_files", "test6.txt", "c6", "txt",
     "fell already trigger pineapple fresh streaming document"),
    ("ref/testing_files", "test7.txt", "c7", "txt",
     "another streaming doc with engine and pen and already"),
]


def _grown_index(spark, work_dir, tag):
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/{tag}"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    inc.append_batch(spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA),
                     batch_id=1)
    return inc


def _keys(spark, pairs):
    return spark.createDataFrame(pairs, "repo string, path string")


def test_delete_excludes_everywhere_before_compact(spark, work_dir):
    inc = _grown_index(spark, work_dir, "del_idx")

    # the as-built reference page (big k = full ranking), captured
    # BEFORE the delete: pre-compact deleted-index semantics are
    # "same scores (as-built stats), deleted docs removed pre-cut"
    qe0 = QueryEngine(inc.index())
    full = qe0.bm25("fell already", k=10, wand=False).collect()
    assert "test6.txt" in [r["name"] for r in full]

    inc.delete_batch(_keys(spark, [("ref/testing_files", "test6.txt")]),
                     batch_id=2)
    qe = QueryEngine(inc.index())

    want = [(r["name"], r["score"]) for r in full if r["name"] != "test6.txt"]
    got = qe.bm25("fell already", k=10, wand=False).collect()
    assert [(r["name"], r["score"]) for r in got] == want
    # WAND path: θ0 seed must also exclude (a threshold seeded from a
    # deleted doc's score would over-prune live docs)
    wand = qe.bm25("fell already", k=10, wand=True,
                   wand_gate_blocks=0).collect()
    assert [(r["name"], round(r["score"], 9)) for r in wand] == \
        [(n, round(s, 9)) for n, s in want]

    # set-returning queries anti-join the tombstones
    assert [r["name"] for r in qe.boolean("already AND streaming").collect()] \
        == ["test7.txt"]
    assert qe.boolean("trigger AND pineapple").count() == 0
    # phrase queries too — including the single-term degenerate path,
    # which returns straight from the decoded membership set
    assert [r["name"] for r in qe.phrase("streaming").collect()] \
        == ["test7.txt"]
    assert qe.phrase_docs("fresh streaming").count() == 0
    # batched BM25 matches per-query bm25 on the deleted index
    many = qe.bm25_many({"q1": "fell already"}, k=5).collect()
    single = qe.bm25("fell already", k=5).collect()
    assert [(r["name"], round(r["score"], 9)) for r in many] == \
        [(r["name"], round(r["score"], 9)) for r in single]
    # stats stay as-built until compaction (documented Lucene semantics)
    assert qe.stats["n_docs"] == 7


def test_set_queries_exclude_deletes_on_both_tombstone_gates(
        spark, work_dir, monkeypatch):
    """Every set query drops a pending delete on both sides of
    TOMBSTONE_PUSHDOWN_DOCS: at the default the tombstones ship into
    the set kernel; at 0 (over the cap) the result anti-joins them."""
    inc = _grown_index(spark, work_dir, "del_gate_idx")
    inc.delete_batch(_keys(spark, [("ref/testing_files", "test6.txt")]),
                     batch_id=2)
    oracle = OracleIndex(
        [(r["repo"], r["path"], r["content"])
         for r in fixture_docs(spark).collect()]
        + [(r, p, c) for r, p, _, _, c in NEW_DOCS])
    kernel_side = QueryEngine(inc.index())
    monkeypatch.setattr(QueryEngine, "TOMBSTONE_PUSHDOWN_DOCS", 0)
    join_side = QueryEngine(inc.index())
    assert kernel_side._tomb_arr is not None
    assert join_side._tomb_arr is None and join_side._tombstones is not None
    for cls, q in [("boolean", "already AND streaming"),
                   ("boolean", "fell AND NOT engine OR pen"),
                   ("positional", "fell /2 trigger"),
                   ("phrase", "fell already"),
                   ("joker", "stream* al*")]:
        full = getattr(oracle, cls)(q)
        assert "test6.txt" in full, (cls, q)  # the delete must matter
        want = [n for n in full if n != "test6.txt"]
        for qe in (kernel_side, join_side):
            got = [r["name"] for r in getattr(qe, cls)(q).collect()]
            assert got == want, (cls, q, qe._tomb_arr)


RANKERS = {
    "bm25": lambda qe, q, k: qe.bm25(q, k=k, wand=False),
    "bm25_wand": lambda qe, q, k: qe.bm25(q, k=k, wand=True,
                                          wand_gate_blocks=0),
    "qlm": lambda qe, q, k: qe.qlm(q, k=k),
    "bm25_many": lambda qe, q, k: qe.bm25_many(
        {"q1": q, "q2": "streaming pen"}, k=k),
    # the allow list holds the deleted doc: the ranker must drop it
    "bm25_within": lambda qe, q, k: qe.bm25_within(
        q, qe._doc_map.select("docID"), k=k),
}


def _page(rows):
    return [(r.asDict().get("qid"), r["name"], round(r["score"], 9))
            for r in rows]


def test_rankers_exclude_deletes_on_both_tombstone_gates(
        spark, work_dir, monkeypatch):
    """Every ranker drops a pending delete BEFORE its top-k cut on both
    sides of TOMBSTONE_PUSHDOWN_DOCS: at the default the tombstones ship
    into the rank kernel; at 0 (over the cap) the kernel emits every
    score and the anti-join runs before the cut. Either way the page is
    the pre-delete ranking minus the deleted doc, still k rows long."""
    inc = _grown_index(spark, work_dir, "del_rank_idx")
    before = QueryEngine(inc.index())
    q, k = "fell already", 2
    # k=10 covers every doc of the index: the full pre-delete ranking
    full = {name: _page(run(before, q, 10).collect())
            for name, run in RANKERS.items()}
    inc.delete_batch(_keys(spark, [("ref/testing_files", "test6.txt")]),
                     batch_id=2)
    kernel_side = QueryEngine(inc.index())
    monkeypatch.setattr(QueryEngine, "TOMBSTONE_PUSHDOWN_DOCS", 0)
    join_side = QueryEngine(inc.index())
    assert kernel_side._tomb_arr is not None
    assert join_side._tomb_arr is None and join_side._tombstones is not None
    for name, run in RANKERS.items():
        page = full[name]
        # the deleted doc is inside the pre-delete cut, so it matters
        assert "test6.txt" in [n for _, n, _ in page[:k]], name
        want = []
        for qid in dict.fromkeys(qid for qid, _, _ in page):
            want += [r for r in page
                     if r[0] == qid and r[1] != "test6.txt"][:k]
        for qe in (kernel_side, join_side):
            assert _page(run(qe, q, k).collect()) == want, (name, qe._tomb_arr)


def test_delete_crash_retry_and_replay(spark, work_dir):
    inc = _grown_index(spark, work_dir, "del_retry_idx")
    keys = _keys(spark, [("ref/testing_files", "test6.txt")])
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.delete_batch(keys, batch_id=2, _fail_after="links")
    inc.delete_batch(keys, batch_id=2)  # retry converges
    tomb = inc.store.read("tombstones").collect()
    inc.delete_batch(keys, batch_id=2)  # committed replay: NO-OP
    assert inc.store.read("tombstones").collect() == tomb
    assert len({r["docID"] for r in tomb}) == 1
    qe = QueryEngine(inc.index())
    assert qe.boolean("trigger AND pineapple").count() == 0


def test_supersede_replaces_reingested_key(spark, work_dir):
    inc = _grown_index(spark, work_dir, "upsert_idx")
    v2 = [("ref/testing_files", "test6.txt", "c6b", "txt",
           "replacement content nectarine already streaming")]
    inc.append_batch(spark.createDataFrame(v2, DOCUMENTS_SCHEMA),
                     batch_id=2, supersede=True)
    qe = QueryEngine(inc.index())
    # old version's vocabulary is gone, new version's is live
    assert qe.boolean("trigger AND pineapple").count() == 0
    assert [r["name"] for r in qe.boolean("nectarine").collect()] \
        == ["test6.txt"]
    # exactly ONE live version in ranked results
    names = [r["name"] for r in qe.bm25("already streaming", k=10,
                                        wand=False).collect()]
    assert names.count("test6.txt") == 1


def test_compact_removes_deleted_docs_physically(spark, work_dir):
    inc = _grown_index(spark, work_dir, "del_compact_idx")
    inc.delete_batch(_keys(spark, [("ref/testing_files", "test6.txt"),
                                   ("ref/testing_files", "test2.txt")]),
                     batch_id=2)
    deleted_ids = {r["docID"] for r in inc.store.read("tombstones").collect()}
    assert len(deleted_ids) == 2
    inc.compact()

    idx = inc.index()
    # physically gone: doc tables, postings, stats, tombstones
    live_ids = {r["docID"] for r in idx.table("doc_map").collect()}
    assert live_ids.isdisjoint(deleted_ids)
    import numpy as np
    from information_retrieval_spark.codec import vb_decode
    for r in idx.table("postings").collect():
        docs = np.cumsum(vb_decode(r["doc_gaps"]).astype(np.int64))
        assert deleted_ids.isdisjoint(int(d) for d in docs)
    assert idx.table("stats").collect()[0]["n_docs"] == 5
    assert inc.store.read("tombstones").count() == 0

    # healed semantics == a fresh build of the live corpus: names AND
    # scores (N/avgdl/df all recomputed), across query families
    live = [(r["repo"], r["path"], r["content"])
            for r in fixture_docs(spark).collect()
            if r["path"] != "test2.txt"] + \
        [(r, p, c) for r, p, _, _, c in NEW_DOCS if p != "test6.txt"]
    oracle = OracleIndex(live)
    qe = QueryEngine(idx)
    got = qe.bm25("fell already", k=10, wand=False).collect()
    want = oracle.bm25("fell already", k=10)
    assert [r["name"] for r in got] == [n for _, _, n in want]
    for r, (_, s, _) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9)
    wand = qe.bm25("fell already", k=10, wand=True,
                   wand_gate_blocks=0).collect()
    assert [(r["name"], round(r["score"], 9)) for r in wand] == \
        [(r["name"], round(r["score"], 9)) for r in got]
    assert [r["name"] for r in qe.boolean("already AND streaming").collect()] \
        == ["test7.txt"]


def test_compact_refuses_uncommitted_delete_batch(spark, work_dir):
    inc = _grown_index(spark, work_dir, "del_refuse_idx")
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.delete_batch(_keys(spark, [("ref/testing_files", "test6.txt")]),
                         batch_id=2, _fail_after="links")
    with pytest.raises(RuntimeError, match="no commit marker"):
        inc.compact()


def test_minor_fold_then_compact_still_applies_deletes(spark, work_dir):
    # compact_minor folds tombstone batch segments into a seg* file;
    # a later compact() must still see and apply the pending deletes
    inc = _grown_index(spark, work_dir, "del_minor_idx")
    inc.delete_batch(_keys(spark, [("ref/testing_files", "test6.txt")]),
                     batch_id=2)
    inc.compact_minor()
    assert not inc.store.has_segments("tombstones")  # folded
    assert inc.store.read("tombstones").count() == 1
    inc.compact()
    assert inc.index().table("stats").collect()[0]["n_docs"] == 6
    assert inc.store.read("tombstones").count() == 0
    qe = QueryEngine(inc.index())
    assert qe.boolean("trigger AND pineapple").count() == 0


def test_delete_hides_doc_term_vector_both_paths(spark, work_dir):
    # a delete-only batch writes tombstones and NO postings segments, so
    # the doc_vec fast path stays eligible — it must still hide the doc
    # (regression: pre-fix it served the deleted doc's vector until the
    # next compaction, unlike every other query surface)
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/del_vec_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)

    qe0 = QueryEngine(inc.index())
    qe0.build_forward_index(n_partitions=2)
    dm = {r["path"]: r["docID"]
          for r in inc.index().table("doc_map").collect()}
    d = int(dm["test1.txt"])
    assert qe0.doc_term_vector(d).count() > 0

    inc.delete_batch(_keys(spark, [("ref/testing_files", "test1.txt")]),
                     batch_id=1)
    assert not inc.store.has_segments("postings")
    qe = QueryEngine(inc.index())
    # fast path (doc_vec present, no pending postings segments)
    assert qe.doc_term_vector(d).count() == 0
    # query-by-document over the deleted doc: empty page, not stale MLT
    assert qe.more_like_this(d, k=5).count() == 0
    # inverted fallback agrees once doc_vec is gone
    inc.store.drop("doc_vec")
    qe2 = QueryEngine(inc.index())
    assert qe2.doc_term_vector(d).count() == 0
    # live docs still serve their vectors through the tombstone filter
    d2 = int(dm["test2.txt"])
    assert qe2.doc_term_vector(d2).count() > 0
