"""Build pipeline invariants: docID order, sha256, doc_len, block
structure, resumability, partitioning-independence (determinism)."""

import numpy as np
from pyspark.sql import functions as F

from information_retrieval_spark.build import IndexBuilder, IndexConfig
from information_retrieval_spark.codec import vb_decode
from information_retrieval_spark.corpus import synthetic_corpus, with_sha256
from information_retrieval_spark.normalize import tokenize
from information_retrieval_spark.query import QueryEngine


def test_doc_ids_are_dense_rank_of_repo_path(synth_index, synth_docs):
    dm = synth_index.table("doc_map").orderBy("docID").collect()
    ids = [r["docID"] for r in dm]
    assert ids == list(range(len(ids)))
    keys = [(r["repo"], r["path"]) for r in dm]
    assert keys == sorted(keys)


def test_sha256_invariant(synth_index, synth_docs):
    # per-row content sha256 equality vs the source table (input_hint).
    # doc_sha is computed by the SPIMI kernel (hashlib, single corpus
    # scan); the oracle side is the JVM's sha2() — so this also pins the
    # hashlib/JVM hex parity the single-scan design depends on.
    src = with_sha256(synth_docs).select("repo", "path", F.col("sha256").alias("src_sha"))
    dm = synth_index.table("doc_map").select("docID", "repo", "path")
    joined = synth_index.table("doc_sha").join(dm, "docID").join(src, ["repo", "path"])
    bad = joined.filter(F.col("sha256") != F.col("src_sha")).count()
    assert bad == 0
    assert joined.count() == synth_docs.count()


def test_doc_len_matches_tokenizer(synth_index, synth_docs):
    want = {(r["repo"], r["path"]): len(tokenize(r["content"]))
            for r in synth_docs.collect()}
    dm = {r["docID"]: (r["repo"], r["path"])
          for r in synth_index.table("doc_map").collect()}
    got = {dm[r["docID"]]: r["dl"] for r in synth_index.table("doc_len").collect()}
    assert got == want


def test_dictionary_df_cf(synth_index, synth_docs):
    from collections import Counter
    df_want, cf_want = Counter(), Counter()
    for r in synth_docs.collect():
        toks = tokenize(r["content"])
        cf_want.update(toks)
        df_want.update(set(toks))
    d = {r["term"]: r for r in synth_index.table("dictionary").collect()}
    assert set(d) == set(cf_want)
    for t in cf_want:
        assert d[t]["df"] == df_want[t], t
        assert d[t]["cf"] == cf_want[t], t
        assert d[t]["rterm"] == t[::-1]


def test_term_ordinals(synth_index):
    # Q16 getTermDictPos (IndexBody.java:86-88): term_ord is the exact
    # rank of the term in the sorted dictionary
    rows = synth_index.table("dictionary").select("term", "term_ord").collect()
    by_term = sorted(r["term"] for r in rows)
    want = {t: i for i, t in enumerate(by_term)}
    assert {r["term"]: r["term_ord"] for r in rows} == want


def test_term_dict_pos_api(synth_engine):
    terms = sorted(r["term"] for r in
                   synth_engine._dictionary.select("term").collect())
    assert synth_engine.term_dict_pos(terms[0]) == 0
    assert synth_engine.term_dict_pos(terms[-1]) == len(terms) - 1
    assert synth_engine.term_dict_pos("zzz_not_a_term") == -1


def test_block_structure(synth_index):
    cfg = synth_index.config
    rows = synth_index.table("postings").collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_docs"] <= cfg.docs_per_block
        docs = np.cumsum(vb_decode(r["doc_gaps"]).astype(np.int64))
        assert len(docs) == r["n_docs"]
        assert (np.diff(docs) > 0).all()            # strictly ascending
        assert docs[0] == r["block_first_doc"]
        assert docs[-1] == r["block_last_doc"]
        assert docs[0] // cfg.docs_per_bucket == r["bucket"]
        assert docs[-1] // cfg.docs_per_bucket == r["bucket"]
        tfs = vb_decode(r["tfs"])
        assert int(tfs.max()) == r["block_max_tf"]
        assert int(tfs.sum()) == r["cf"]
    # blocks of one term are globally ascending in docID by block_id
    by_term = {}
    for r in rows:
        by_term.setdefault(r["term"], []).append(r)
    for term, blocks in by_term.items():
        blocks.sort(key=lambda r: r["block_id"])
        for a, b in zip(blocks, blocks[1:]):
            assert a["block_last_doc"] < b["block_first_doc"], term


def _index_signature(index):
    """Order-insensitive full-content signature of the queryable index."""
    post = []
    for r in index.table("postings").collect():
        post.append((r["term"], r["block_id"], r["n_docs"], r["doc_gaps"],
                     r["tfs"], r["dls"], r["pos_gaps"]))
    dicts = [(r["term"], r["df"], r["cf"]) for r in index.table("dictionary").collect()]
    return sorted(post), sorted(dicts)


def test_packed_build_equals_unpacked(synth_index, synth_docs):
    # synth_index runs the packed pipeline (SPIMI fragments -> (term,
    # bucket) shuffle -> fused fragment merge-encoder). Every stored
    # byte of postings/dictionary/doc_len/doc_sha must equal what the
    # pure-Python OracleIndex + the cut_blocks block cutter + hashlib
    # derive from the raw corpus, independent of any Spark kernel — an
    # end-to-end proof of the pack -> shuffle -> merge roundtrip (incl.
    # cross-partition docID-run interleaving).
    import hashlib

    from test_fragment_encoder import cut_blocks

    from information_retrieval_spark.oracle import OracleIndex

    cfg = synth_index.config
    docs = [(r["repo"], r["path"], r["content"]) for r in synth_docs.collect()]
    oracle = OracleIndex(docs)
    dpb = cfg.docs_per_bucket
    blocks = cut_blocks(
        [(t, d // dpb, d, len(pos), oracle.doc_len[d], pos)
         for t, per_doc in oracle.postings.items()
         for d, pos in per_doc.items()],
        cfg, oracle.avgdl)
    got = sorted((r.asDict() for r in synth_index.table("postings").collect()),
                 key=lambda r: (r["term"], r["block_id"]))
    assert got == blocks and len(blocks) > len(oracle.postings)

    want_dict = {}
    for b in blocks:
        w = want_dict.setdefault(b["term"], {
            "term": b["term"], "rterm": b["term"][::-1], "df": 0, "cf": 0,
            "n_blocks": 0, "buckets": set(), "max_block_wand": 0.0})
        w["df"] += b["n_docs"]
        w["cf"] += b["cf"]
        w["n_blocks"] += 1
        w["buckets"].add(b["bucket"])
        w["max_block_wand"] = max(w["max_block_wand"], b["block_max_wand"])
    for i, t in enumerate(sorted(want_dict)):
        w = want_dict[t]
        w["n_buckets"] = len(w.pop("buckets"))
        w["term_ord"] = i
    got_dict = {r["term"]: r.asDict()
                for r in synth_index.table("dictionary").collect()}
    assert got_dict == want_dict

    dl = {r["docID"]: r["dl"] for r in synth_index.table("doc_len").collect()}
    assert dl == {d: n for d, n in oracle.doc_len.items() if n}
    sha = {r["docID"]: r["sha256"]
           for r in synth_index.table("doc_sha").collect()}
    assert sha == {oracle.doc_id[(r, p)]:
                   hashlib.sha256(c.encode("utf-8")).hexdigest()
                   for r, p, c in docs if c is not None}
    assert len(sha) == len(docs)


def test_determinism_across_partitioning(spark, work_dir, synth_docs, synth_index):
    # same corpus, different partition count -> byte-identical blocks
    cfg = IndexConfig(docs_per_block=16, blocks_per_bucket=4, n_partitions=3)
    other = IndexBuilder(spark, f"{work_dir}/synth_idx_p3", cfg).build(synth_docs, resume=False)
    assert _index_signature(other) == _index_signature(synth_index)


def test_resume_skips_completed_and_rebuilds_missing(spark, work_dir):
    docs = synthetic_corpus(spark, n_docs=60, seed=7)
    d = f"{work_dir}/resume_idx"
    cfg = IndexConfig(docs_per_block=8, blocks_per_bucket=4)
    idx1 = IndexBuilder(spark, d, cfg).build(docs, resume=False)
    sig1 = _index_signature(idx1)
    # simulate a crash after the partials stage: postings + dictionary lost
    idx1.store.drop("postings")
    idx1.store.drop("dictionary")
    idx2 = IndexBuilder(spark, d, cfg).build(docs, resume=True)
    assert _index_signature(idx2) == sig1
    # resumed index answers queries
    qe = QueryEngine(idx2)
    assert qe.bm25("sym0 sym1", k=3, wand=False).count() > 0


def test_lineage_recorded(synth_index):
    stages = {r["stage"] for r in synth_index.table("lineage").collect()}
    assert {"doc_map", "partials", "doc_len", "postings", "dictionary"} <= stages
    fan_in = [r["detail"] for r in synth_index.table("lineage").collect()
              if r["stage"] == "postings"]
    assert any("merge_fan_in=" in d for d in fan_in)

def test_doc_len_stage_is_shuffle_free(fixture_index):
    # the doc_len relation over the packed SPIMI partials (kind == "m"
    # marker rows decoded in a narrow mapInArrow) must plan with NO
    # Exchange — the round-4 shape ran a corpus-wide groupBy of n_docs
    # rows here (2->8 stage efficiency ~0.47, pure avoidable bytes on a
    # saturated memory bus) — and must FILE-prune to the kind=m
    # partition so fragment payload bytes are never read
    from information_retrieval_spark.build import doc_len_rows
    dl = doc_len_rows(fixture_index.store.read("partials"))
    plan = dl._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # the kind filter must prune at the FILE level (PartitionFilters),
    # not as a post-scan row filter over fragment payload bytes
    assert "PartitionFilters: [isnotnull(kind" in plan, plan
    assert "= m)" in plan, plan
    # and it yields exactly one row per doc with >=1 kept term
    ids = [r["docID"] for r in dl.collect()]
    assert len(ids) == len(set(ids))
    want = {r["docID"]: r["dl"] for r in
            fixture_index.table("doc_len").collect()}
    assert {r["docID"]: r["dl"] for r in dl.collect()} == want


def test_doc_sha_stage_is_shuffle_free_and_single_scan(fixture_index):
    # the doc_sha relation over the packed SPIMI partials (kind == "s"
    # sha markers decoded in a narrow mapInArrow) must plan with NO
    # Exchange and must FILE-prune to the kind=s partition — the proof
    # that the sha fingerprint costs zero shuffles and, because it is
    # served from partials, that the build never ran a second corpus
    # content scan for it
    from information_retrieval_spark.build import doc_sha_rows
    sha = doc_sha_rows(fixture_index.store.read("partials"))
    plan = sha._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "PartitionFilters: [isnotnull(kind" in plan, plan
    assert "= s)" in plan, plan
    rows = {r["docID"]: r["sha256"] for r in sha.collect()}
    stored = {r["docID"]: r["sha256"] for r in
              fixture_index.table("doc_sha").collect()}
    assert rows == stored and len(rows) == 5


def test_doc_map_stage_never_reads_content(spark, work_dir):
    # the single-corpus-scan contract, pinned end-to-end: instrument the
    # content column access with a Spark accumulator-backed UDF and
    # prove stage 1 (doc_map) never evaluates it — only the SPIMI
    # partials pass does, exactly once per doc
    from pyspark.sql import functions as F2

    from information_retrieval_spark.corpus import synthetic_corpus
    docs = synthetic_corpus(spark, n_docs=40, seed=11)
    acc = spark.sparkContext.accumulator(0)

    @F2.udf("string")
    def traced(c):
        acc.add(1)
        return c

    docs_traced = docs.withColumn("content", traced("content"))
    d = f"{work_dir}/singlescan_idx"
    idx = IndexBuilder(spark, d, IndexConfig(docs_per_block=8)).build(
        docs_traced, resume=False)
    # stage 1 runs first; if it read content the count would be >= 2x
    # n_docs by the end of the build (one eval there + one in partials).
    # Allow Spark re-evaluation slack within the single partials scan
    # (localCheckpoint retries) but reject a whole second corpus pass.
    assert acc.value <= 40 * 2 - 1, (
        f"content column evaluated {acc.value} times for 40 docs — "
        "a build stage other than partials is scanning content")
    assert idx.table("doc_sha").count() == 40
