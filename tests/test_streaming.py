"""Structured-Streaming incremental index maintenance: initial batch
build + streamed document appends must answer queries identically to a
full rebuild over the union corpus (scores exact; WAND exact-safe via
the avgdl inflation correction)."""

import math

from pyspark.sql import functions as F

from information_retrieval_spark.build import Index, IndexBuilder, IndexConfig
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


def test_incremental_append_matches_full_rebuild(spark, work_dir):
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    base = fixture_docs(spark)
    idx_dir = f"{work_dir}/stream_idx"
    IndexBuilder(spark, idx_dir, cfg).build(base, resume=False)

    inc = IncrementalIndexer(spark, idx_dir, cfg)
    delta = spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA)
    inc.append_batch(delta)

    qe = QueryEngine(inc.index())
    assert qe.stats["n_docs"] == 7

    # oracle over the UNION corpus; docIDs differ (append order vs global
    # rank) so compare names + scores
    rows = base.collect()
    oracle = OracleIndex(
        [(r["repo"], r["path"], r["content"]) for r in rows]
        + [(r, p, c) for r, p, _, _, c in NEW_DOCS])

    got = qe.bm25("fell already", k=10, wand=False).collect()
    want = oracle.bm25("fell already", k=10)
    assert [r["name"] for r in got] == [n for _, _, n in want]
    for r, (_, s, _) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9)

    # WAND path (forced) still exact on the grown index
    wand = qe.bm25("fell already", k=10, wand=True, wand_gate_blocks=0).collect()
    assert [(r["name"], round(r["score"], 9)) for r in wand] == \
           [(r["name"], round(r["score"], 9)) for r in got]

    # boolean sees the streamed docs
    names = [r["name"] for r in qe.boolean("already AND streaming").collect()]
    assert names == ["test6.txt", "test7.txt"]
    assert [r["name"] for r in qe.boolean("engine AND streaming").collect()] \
        == ["test7.txt"]


def test_append_doc_sha_matches_full_rebuild_with_null_content(spark, work_dir):
    # the append runs the build's SPIMI kernel, so a NULL-content doc
    # gets no doc_sha row — exactly what a full build stores for it
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    base = fixture_docs(spark)
    delta = spark.createDataFrame(
        NEW_DOCS + [("ref/testing_files", "test8.txt", "c8", "txt", None)],
        DOCUMENTS_SCHEMA)
    idx_dir = f"{work_dir}/null_sha_idx"
    IndexBuilder(spark, idx_dir, cfg).build(base, resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    inc.append_batch(delta)
    full = IndexBuilder(spark, f"{work_dir}/null_sha_full", cfg).build(
        base.unionByName(delta), resume=False)

    def sha_by_key(idx):
        return {(r["repo"], r["path"]): r["sha256"] for r in
                idx.table("doc_sha").join(idx.table("doc_map"), "docID")
                .collect()}

    got = sha_by_key(inc.index())
    assert got == sha_by_key(full)
    assert len(got) == 7 and ("ref/testing_files", "test8.txt") not in got


def test_engine_opened_after_append_sees_new_docs(spark, work_dir):
    # a QueryEngine caches dictionary / doc_map, and Spark's cache
    # manager matches cached relations by path: an engine opened after
    # an append must not serve the earlier engine's pre-append tables
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    base = fixture_docs(spark)
    idx_dir = f"{work_dir}/stale_engine_idx"
    IndexBuilder(spark, idx_dir, cfg).build(base, resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    first = QueryEngine(inc.index())
    before = [r["name"] for r in first.bm25("fell already", k=10,
                                             wand=False).collect()]
    assert first.boolean("already AND streaming").collect() == []

    inc.append_batch(spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA))
    qe = QueryEngine(inc.index())
    rows = base.collect()
    oracle = OracleIndex(
        [(r["repo"], r["path"], r["content"]) for r in rows]
        + [(r, p, c) for r, p, _, _, c in NEW_DOCS])
    got = qe.bm25("fell already", k=10, wand=False).collect()
    want = oracle.bm25("fell already", k=10)
    assert [r["name"] for r in got] == [n for _, _, n in want]
    for r, (_, sc, _) in zip(got, want):
        assert math.isclose(r["score"], sc, rel_tol=1e-9)
    assert [r["name"] for r in qe.boolean("already AND streaming").collect()] \
        == oracle.boolean("already AND streaming") == ["test6.txt", "test7.txt"]
    assert before != [r["name"] for r in got]


def _index_signature(idx):
    post = sorted(
        (r["term"], r["block_id"], r["n_docs"], r["doc_gaps"], r["tfs"])
        for r in idx.table("postings").collect())
    dicts = sorted((r["term"], r["df"], r["cf"], r["n_blocks"])
                   for r in idx.table("dictionary").collect())
    n = idx.table("doc_map").count()
    stats = idx.table("stats").collect()[0].asDict()
    return post, dicts, n, stats


def test_append_batch_replay_is_noop(spark, work_dir):
    # foreachBatch retries replay a COMMITTED batch_id: must be a no-op
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/replay_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    delta = spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA)
    inc.append_batch(delta, batch_id=7)
    sig1 = _index_signature(inc.index())
    inc.append_batch(delta, batch_id=7)  # replay
    assert _index_signature(inc.index()) == sig1


import pytest


@pytest.mark.parametrize("crash_after", ["links", "merges", "stats"])
def test_append_batch_retry_after_partial_failure(spark, work_dir, crash_after):
    # crash AFTER the live tables were touched but BEFORE the commit
    # marker: re-running the batch must converge to the same index as a
    # clean single apply (deterministic staged deltas pinned by meta.json,
    # per-batch file names, dictionary/bucket_max snapshots)
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/retry_idx_{crash_after}"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    # the reference result: a clean apply on an identical twin index
    ref_dir = f"{work_dir}/retry_ref_{crash_after}"
    IndexBuilder(spark, ref_dir, cfg).build(fixture_docs(spark), resume=False)
    delta = spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA)
    ref = IncrementalIndexer(spark, ref_dir, cfg)
    ref.append_batch(delta, batch_id=3)
    want_sig = _index_signature(ref.index())

    inc = IncrementalIndexer(spark, idx_dir, cfg)
    with pytest.raises(RuntimeError, match="injected crash"):
        inc.append_batch(delta, batch_id=3, _fail_after=crash_after)
    inc.append_batch(delta, batch_id=3)  # the retry
    assert _index_signature(inc.index()) == want_sig
    # and queries still exact vs the oracle
    qe = QueryEngine(inc.index())
    rows = fixture_docs(spark).collect()
    oracle = OracleIndex(
        [(r["repo"], r["path"], r["content"]) for r in rows]
        + [(r, p, c) for r, p, _, _, c in NEW_DOCS])
    got = qe.bm25("fell already", k=10, wand=False).collect()
    want = oracle.bm25("fell already", k=10)
    assert [r["name"] for r in got] == [n for _, _, n in want]


def test_stream_from_directory(spark, work_dir):
    import os
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/stream_dir_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)

    in_dir = f"{work_dir}/stream_in"
    os.makedirs(in_dir, exist_ok=True)
    spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA) \
        .coalesce(1).write.mode("append").parquet(in_dir)

    inc = IncrementalIndexer(spark, idx_dir, cfg)
    q = inc.stream_from_directory(in_dir, f"{work_dir}/stream_ckpt")
    q.awaitTermination(120)

    qe = QueryEngine(inc.index())
    assert qe.stats["n_docs"] == 7
    names = [r["name"] for r in qe.boolean("streaming").collect()]
    assert sorted(names) == ["test6.txt", "test7.txt"]


def _dict_segment_rows(idx_dir, spark, batch_id=0):
    import glob as g
    files = sorted(g.glob(f"{idx_dir}/dictionary/batch{batch_id}_*.parquet"))
    assert files, "expected dictionary segment files"
    return spark.read.parquet(*files)


def test_batch_dictionary_write_is_o_delta(spark, work_dir):
    # the bytes a micro-batch writes into the dictionary depend ONLY on
    # the batch's own vocabulary — never on the live vocabulary size
    # (round 2 rewrote the full merged dictionary every batch)
    import glob as g
    import os
    from information_retrieval_spark.corpus import synthetic_corpus
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    delta = spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA)

    # big-vocabulary base
    big_dir = f"{work_dir}/odelta_big"
    IndexBuilder(spark, big_dir, cfg).build(
        synthetic_corpus(spark, n_docs=300, seed=42), resume=False)
    base_files = {
        p: os.path.getsize(p)
        for p in g.glob(f"{big_dir}/dictionary/*") if "batch" not in p}
    IncrementalIndexer(spark, big_dir, cfg).append_batch(delta)
    # base files untouched (append-only) ...
    for p, sz in base_files.items():
        assert os.path.exists(p) and os.path.getsize(p) == sz
    # ... and the segment holds exactly the batch's vocabulary
    batch_vocab = set()
    for _, _, _, _, content in NEW_DOCS:
        from information_retrieval_spark.normalize import tokenize
        batch_vocab |= set(tokenize(content))
    seg_big = _dict_segment_rows(big_dir, spark)
    assert seg_big.count() == len(batch_vocab)

    # small-vocabulary base: identical segment row count
    small_dir = f"{work_dir}/odelta_small"
    IndexBuilder(spark, small_dir, cfg).build(fixture_docs(spark), resume=False)
    IncrementalIndexer(spark, small_dir, cfg).append_batch(delta)
    assert _dict_segment_rows(small_dir, spark).count() == len(batch_vocab)


def _logical_signature(idx):
    """Decoded-content signature: invariant under compaction (which
    deliberately REWRITES the block structure — fragments merge into
    full blocks — while preserving every posting, position and stat)."""
    qe = QueryEngine(idx, cache_tables=False)
    terms = sorted(r["term"] for r in idx.table("dictionary").collect())
    post = sorted(
        (r["term"], r["docID"], r["tf"], r["dl"], tuple(r["positions"]))
        for r in qe.postings_for(terms, with_positions=True).collect())
    dicts = sorted((r["term"], r["df"], r["cf"])
                   for r in idx.table("dictionary").collect())
    docs = sorted((r["docID"], r["path"]) for r in idx.table("doc_map").collect())
    dls = sorted((r["docID"], r["dl"]) for r in idx.table("doc_len").collect())
    return post, dicts, docs, dls


def test_compact_restores_dense_ordinals_and_base_state(spark, work_dir):
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/compact_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    delta = spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA)
    inc.append_batch(delta)

    idx = inc.index()
    assert idx.is_segmented()
    pre = _logical_signature(idx)
    # exact ordinal while segmented: computed by rank query
    qe = QueryEngine(idx)
    terms = sorted(r["term"] for r in idx.table("dictionary").collect())
    from information_retrieval_spark.normalize import stem
    t = stem("streaming")  # 'stream' under the Porter-lite chain
    assert qe.term_dict_pos(t) == terms.index(t)
    assert qe.term_dict_pos("zzz_absent") == -1

    inc.compact()
    idx2 = inc.index()
    assert not idx2.is_segmented()
    # fold-equivalence: same logical dictionary/postings after compaction
    # (block structure intentionally differs — fragments merged)
    assert _logical_signature(idx2) == pre
    # dense, sorted ordinals are back on the column path
    rows = sorted((r["term_ord"], r["term"])
                  for r in idx2.table("dictionary").collect())
    assert [o for o, _ in rows] == list(range(len(rows)))
    assert [t for _, t in rows] == terms
    qe2 = QueryEngine(idx2)
    assert qe2.term_dict_pos(t) == terms.index(t)
    # compact is a no-op when there is nothing to fold
    sig = _index_signature(inc.index())
    inc.compact()
    assert _index_signature(inc.index()) == sig


def test_queries_identical_before_and_after_compact(spark, work_dir):
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/compact_q_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    inc.append_batch(spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA))
    def snap():
        qe = QueryEngine(inc.index())
        bm = [(r["name"], round(r["score"], 9))
              for r in qe.bm25("fell already", k=10, wand=True,
                               wand_gate_blocks=0).collect()]
        bl = [r["name"] for r in qe.boolean("already AND streaming").collect()]
        return bm, bl
    before = snap()
    inc.compact()
    assert snap() == before


def test_forward_index_staleness_contract(spark, work_dir):
    # doc_vec is DERIVED: pending segments disable the fast path, the
    # compactions drop the table, and a rebuild after compaction serves
    # the grown corpus correctly
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/fwd_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    qe = QueryEngine(IncrementalIndexer(spark, idx_dir, cfg).index())
    qe.build_forward_index(n_partitions=2)
    vec0 = sorted(map(tuple, qe.doc_term_vector(0).collect()))

    inc = IncrementalIndexer(spark, idx_dir, cfg)
    inc.append_batch(spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA))
    qe2 = QueryEngine(inc.index())
    # segments pending -> the stale doc_vec must NOT serve the read;
    # the inverted fallback sees the appended doc
    plan = qe2.doc_term_vector(5)._jdf.queryExecution().executedPlan() \
        .toString()
    assert "doc_vec" not in plan, plan
    assert {r["term"] for r in qe2.doc_term_vector(5).collect()} != set()
    # base-corpus vectors still correct through the fallback
    assert sorted(map(tuple, qe2.doc_term_vector(0).collect())) == vec0

    inc.compact()
    assert not inc.store.exists("doc_vec")  # derived table invalidated
    qe3 = QueryEngine(inc.index())
    inverted = {d: sorted(map(tuple, qe3.doc_term_vector(d).collect()))
                for d in range(7)}
    qe3.build_forward_index(n_partitions=2)
    forward = {d: sorted(map(tuple, qe3.doc_term_vector(d).collect()))
               for d in range(7)}
    assert forward == inverted


def test_compaction_swap_is_crash_safe_and_reader_safe(spark, work_dir):
    """The versioned manifest swap (TableStore.publish): a crash at ANY
    point of the swap leaves a readable dictionary (old version before
    the manifest flip, new after), and a reader that resolved its file
    list just before a compaction keeps a readable table afterwards."""
    import os

    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/swapsafe_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    inc.append_batch(spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA))

    # a reader opened BEFORE compaction (file list resolved eagerly by
    # the parquet scan) must survive the swap: the previous version is
    # retained until the next publish
    pre_reader = inc.store.read("dictionary")
    pre_terms = {r["term"] for r in pre_reader.collect()}

    # crash INSIDE the swap, after the staged rename but before the
    # manifest commit: inject by making the manifest write fail once
    store = inc.store
    real_replace = os.replace
    import builtins  # noqa: F401  (documenting the monkeypatch scope)

    calls = {"n": 0}

    def failing_replace(src, dst):
        if dst.endswith("dictionary.manifest.json"):
            calls["n"] += 1
            raise RuntimeError("injected crash before manifest commit")
        return real_replace(src, dst)

    os.replace = failing_replace
    try:
        try:
            inc.compact()
        except RuntimeError as e:
            assert "injected crash" in str(e)
        assert calls["n"] == 1
    finally:
        os.replace = real_replace

    # pre-commit crash: the OLD dictionary is still what resolves
    assert {r["term"] for r in store.read("dictionary").collect()} == pre_terms

    # re-run the compaction for real: it must succeed (the orphaned
    # @v1 dir from the crashed attempt is cleaned up) and flip the
    # pointer to a versioned dir
    inc2 = IncrementalIndexer(spark, idx_dir, cfg)
    inc2.append_batch(  # fresh segments so compact() has work
        spark.createDataFrame(
            [("ref/testing_files", "test8.txt", "c8", "txt",
              "post crash doc already")], DOCUMENTS_SCHEMA),
        batch_id=1)
    inc2.compact()
    assert "@v" in store.path("dictionary")
    post_terms = {r["term"] for r in store.read("dictionary").collect()}
    assert pre_terms <= post_terms

    # the pre-swap reader still collects (its version dir was retained)
    assert {r["term"] for r in pre_reader.collect()} == pre_terms

    # queries through the compacted index resolve the new version
    qe = QueryEngine(inc2.index())
    names = [r["name"] for r in qe.boolean("already AND streaming").collect()]
    assert names == ["test6.txt", "test7.txt"]


def test_publish_garbage_collects_old_versions(spark, work_dir):
    """Repeated compactions keep exactly current + previous version of
    each published table (bounded grace), never an unbounded chain."""
    import glob
    import os

    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/gc_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    for bid in range(3):
        inc.append_batch(
            spark.createDataFrame(
                [(f"r{bid}", f"p{bid}.txt", f"c{bid}", "txt",
                  f"streaming gc doc {bid} already")], DOCUMENTS_SCHEMA),
            batch_id=bid)
        inc.compact()
    dirs = sorted(os.path.basename(p) for p in
                  glob.glob(os.path.join(idx_dir, "dictionary@v*")))
    assert len(dirs) <= 2, dirs  # current + grace copy only
    assert "@v" in inc.store.path("dictionary")
    # and the live table is the highest version
    cur = os.path.basename(inc.store.path("dictionary"))
    assert cur == dirs[-1]

def test_data_compaction_merges_posting_fragments(spark, work_dir):
    """Major compaction covers the DATA tables: accumulated per-batch
    postings/doc_map/doc_len segment files are rewritten into merged,
    bucket-major, term-sorted bases — file counts drop, per-(term,
    bucket) block fragments merge into full blocks, queries are
    byte-identical before/after, and avgdl_enc_min heals to the current
    avgdl (fresh WAND bounds)."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/datacompact_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    for bid in range(5):
        inc.append_batch(
            spark.createDataFrame(
                [(f"r{bid}", f"frag{bid}.txt", f"c{bid}", "txt",
                  f"already streaming fragment doc number{bid}")],
                DOCUMENTS_SCHEMA),
            batch_id=bid)

    store = inc.store
    files_before = {t: len(glob.glob(os.path.join(store.path(t), "*.parquet")))
                    for t in ("postings", "doc_map", "doc_len")}
    # per-batch appends left FRAGMENTS: more block rows per
    # (term, bucket) than the doc count minimally needs
    def n_fragmented():
        return (store.read("postings")
                .groupBy("term", "bucket")
                .agg(F.count("*").alias("nb"), F.sum("n_docs").alias("nd"))
                .filter(F.col("nb") >
                        F.ceil(F.col("nd") / F.lit(cfg.docs_per_block)))
                .count())
    assert n_fragmented() > 0

    def snap():
        qe = QueryEngine(inc.index())
        return (
            [(r["name"], round(r["score"], 9))
             for r in qe.bm25("already streaming", k=10, wand=True,
                              wand_gate_blocks=0).collect()],
            [r["name"] for r in qe.boolean("already AND streaming").collect()],
            [r["name"] for r in qe.positional("already /3 streaming").collect()],
        )

    before = snap()
    inc.compact()
    after_files = {t: len(glob.glob(os.path.join(store.path(t), "*.parquet")))
                   for t in ("postings", "doc_map", "doc_len")}
    # no batch segment files remain anywhere
    for t in IncrementalIndexer.SEGMENTED_TABLES:
        assert not store.has_segments(t), t
    # the 5 per-batch segment files folded into the base (the base file
    # count itself is a layout choice — the build may already write the
    # minimum — so the guarantee is "no growth despite 5 appended
    # segments", with the no-segments assertion above as the primary)
    for t in ("doc_map", "doc_len"):
        assert after_files[t] <= files_before[t], (t, after_files,
                                                   files_before)
    # fragments merged: every (term, bucket) now holds the minimal
    # number of full blocks
    assert n_fragmented() == 0
    # queries identical through the rewrite
    assert snap() == before
    # term-sorted base files: row-group pruning stays real post-compaction
    for fp in glob.glob(os.path.join(store.path("postings"), "*.parquet")):
        terms = pq.read_table(fp, columns=["term"])["term"].to_pylist()
        assert terms == sorted(terms), fp
    # every live block is now encoded at the current avgdl
    stats = store.read("stats").collect()[0].asDict()
    assert stats["avgdl_enc_min"] == stats["avgdl"]


def _jobs(spark, group: str, fn) -> list:
    """Spark job ids `fn()` ran, counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "job budget pin")
    try:
        fn()
    finally:
        sc.setJobGroup(f"{group}_done", "")
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_build_driver_job_budget(spark, work_dir):
    """A full build of this fixture is pinned at 25 Spark jobs (41 when
    every read inferred its parquet schema). Every index table is read
    back with its declared schema (no schema-inference job per read),
    the ordinal offsets are a literal lookup (no offsets table or
    broadcast job), the stats and lineage rows come from Arrow, not a
    Python RDD, and the stats the build wrote are not collected back."""
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    docs = fixture_docs(spark)
    jobs = _jobs(spark, "build_budget", lambda: IndexBuilder(
        spark, f"{work_dir}/build_budget_idx", cfg).build(docs, resume=False))
    assert len(jobs) <= 25, len(jobs)


def test_append_batch_driver_job_budget(spark, work_dir):
    """Per-micro-batch Spark job count is pinned at 18 on this fixture
    (23 when every read inferred its parquet schema). The append runs
    the build's SPIMI path: ONE kernel pass staged as packed partials
    feeds postings (fragment encoder) and doc_len / doc_sha (marker
    decodes), so no stage re-runs the kernel; n_delta and batch_len
    ride the staging writes as Observations; commit and lang ride the
    docID rank, so the batch is not joined back to its ranked keys; and
    every read (live stats, staged tables, the rank's staging table)
    uses a declared schema, which skips the one-job parquet schema
    inference per read."""
    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/jobbudget_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    delta = spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA)
    jobs = _jobs(spark, "append_budget",
                 lambda: inc.append_batch(delta, batch_id=0))
    assert len(jobs) <= 18, len(jobs)


def _footer_mismatches(store) -> list:
    """(table, file, footer) for every parquet file of every existing
    index table whose footer columns differ from TABLE_SCHEMAS (names
    and types in order; a partition column is not in the footer)."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    from information_retrieval_spark.io import TABLE_SCHEMAS

    bad = []
    for name, ddl in TABLE_SCHEMAS.items():
        if not store.exists(name):
            continue
        want = [(f.name, f.type) for f in
                to_arrow_schema(StructType.fromDDL(ddl))
                if not (name == "partials" and f.name == "kind")]
        files = glob.glob(os.path.join(store.path(name), "**", "*.parquet"),
                          recursive=True)
        assert files, name
        for fp in files:
            got = [(f.name, f.type) for f in pq.read_schema(fp)]
            if got != want:
                bad.append((name, os.path.basename(fp), got))
    return bad


def test_declared_schemas_match_footers_and_read_without_jobs(spark, work_dir):
    """Every index table's declared schema (io.TABLE_SCHEMAS) equals the
    parquet footer of every file it holds after a build, a superseding
    append (tombstones), a delete, compact_minor, compact and a forward
    index build; and reading each table — through a fresh TableStore,
    as another process would — runs no Spark job."""
    from pyspark.sql.types import StructType

    from information_retrieval_spark.io import TABLE_SCHEMAS, TableStore

    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/schema_idx"
    inc = IncrementalIndexer(spark, idx_dir, cfg)

    def check(step):
        assert _footer_mismatches(inc.store) == [], step
        store = TableStore(spark, idx_dir)
        idx = Index(store=store, config=cfg)
        names = [n for n in TABLE_SCHEMAS if store.exists(n)]
        frames = []
        jobs = _jobs(spark, f"schema_read_{step}", lambda: frames.extend(
            [store.read(n) for n in names] + [idx.table(n) for n in names]))
        assert jobs == [], (step, jobs)
        for n, df in zip(names, frames):
            assert df.schema == StructType.fromDDL(TABLE_SCHEMAS[n]), n

    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    check("build")
    upsert = [NEW_DOCS[0], ("ref/testing_files", "test1.txt", "c1b", "txt",
                            "a superseding version of an indexed file")]
    inc.append_batch(spark.createDataFrame(upsert, DOCUMENTS_SCHEMA),
                     batch_id=0, supersede=True)
    check("append")
    inc.delete_batch(doc_ids=spark.range(1).select(
        F.col("id").cast("int").alias("docID")), batch_id=1)
    check("delete")
    inc.compact_minor()
    check("compact_minor")
    inc.compact()
    check("compact")
    QueryEngine(inc.index()).build_forward_index(n_partitions=2)
    check("forward_index")


def test_compact_refuses_uncommitted_batches(spark, work_dir):
    """A batch that crashed between linking its files and writing its
    commit marker is pending a retry; compaction must refuse to fold
    its partial files into a base (the retry's remove-and-relink could
    no longer supersede them — double count)."""
    import pytest as _pytest

    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/guard_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    delta = spark.createDataFrame(NEW_DOCS, DOCUMENTS_SCHEMA)
    with _pytest.raises(RuntimeError, match="injected crash"):
        inc.append_batch(delta, batch_id=0, _fail_after="merges")
    for op in (inc.compact, inc.compact_minor):
        with _pytest.raises(RuntimeError, match="no commit marker"):
            op()
    # the idempotent retry commits the batch; compaction then proceeds
    inc.append_batch(delta, batch_id=0)
    inc.compact()
    qe = QueryEngine(inc.index())
    assert [r["name"] for r in qe.boolean("already AND streaming").collect()] \
        == ["test6.txt", "test7.txt"]


def test_minor_compaction_merges_segments_only(spark, work_dir):
    """compact_minor: per-batch DATA segment files fold into one merged
    segment per table (O(delta)), base files are hardlinked untouched,
    metadata segments remain (term_ord stays rank-query-served), and
    queries are identical; a later major compact() still works."""
    import glob
    import os

    import pyarrow.parquet as pq

    cfg = IndexConfig(docs_per_block=4, blocks_per_bucket=4)
    idx_dir = f"{work_dir}/minor_idx"
    IndexBuilder(spark, idx_dir, cfg).build(fixture_docs(spark), resume=False)
    inc = IncrementalIndexer(spark, idx_dir, cfg)
    for bid in range(4):
        inc.append_batch(
            spark.createDataFrame(
                [(f"r{bid}", f"m{bid}.txt", f"c{bid}", "txt",
                  f"already streaming minor doc number{bid}")],
                DOCUMENTS_SCHEMA),
            batch_id=bid)
    store = inc.store

    def snap():
        qe = QueryEngine(inc.index())
        return (
            [(r["name"], round(r["score"], 9))
             for r in qe.bm25("already streaming", k=10, wand=True,
                              wand_gate_blocks=0).collect()],
            [r["name"] for r in qe.boolean("already AND streaming").collect()],
            [r["name"] for r in qe.positional("already /3 streaming").collect()],
        )

    before = snap()
    stats_before = store.read("stats").collect()[0].asDict()
    base_postings = {os.path.basename(p) for p in
                     glob.glob(os.path.join(store.path("postings"), "*.parquet"))
                     if "batch" not in os.path.basename(p)}
    inc.compact_minor()
    for t in ("postings", "doc_map", "doc_len"):
        live = store.path(t)
        assert not glob.glob(os.path.join(live, "batch*_*.parquet")), t
        segs = glob.glob(os.path.join(live, "seg*_*.parquet"))
        assert segs, t
        if t == "postings":
            # merged segment is term-sorted (row-group pruning) and the
            # base files rode along untouched (hardlinks, same names)
            for fp in segs:
                terms = pq.read_table(fp, columns=["term"])["term"].to_pylist()
                assert terms == sorted(terms)
            names = {os.path.basename(p) for p in
                     glob.glob(os.path.join(live, "*.parquet"))}
            assert base_postings <= names
    # metadata still segmented: minor compaction does not re-rank
    assert store.has_segments("dictionary")
    assert inc.index().is_segmented()
    assert snap() == before
    # stats untouched (base blocks still carry the old encode avgdl;
    # enc_min may exceed the current avgdl when appended docs LOWER it —
    # inflation clamps at 1 and stored bounds already over-estimate)
    assert store.read("stats").collect()[0].asDict() == stats_before
    # a later major compaction completes the story
    inc.compact()
    assert not inc.index().is_segmented()
    assert snap() == before
