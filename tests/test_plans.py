"""Physical-plan shape assertions: the optimizations the engine relies
on must actually appear in the plans (pushdown, broadcast, no stray
exchanges) — `.explain` as a test, per the task brief."""

import pathlib

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_postings_term_filter_pushdown(synth_engine):
    blocks = synth_engine.blocks_for(["sym0", "sym1"])
    plan = blocks._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "term" in plan, plan


def test_dictionary_prefix_pushdown(synth_engine):
    d = synth_engine._dictionary.filter(F.col("term").startswith("sym"))
    plan = d._jdf.queryExecution().sparkPlan().toString()
    assert "StartsWith" in plan and "PushedFilters" in plan, plan


def test_postings_scan_prunes_columns(synth_engine):
    # a docID-only projection must not drag the binary columns through the scan
    slim = synth_engine.blocks_for(["sym0"]).select("term", "block_first_doc")
    plan = slim._jdf.queryExecution().sparkPlan().toString()
    assert "doc_gaps" not in plan.split("ReadSchema")[-1], plan


def test_names_join_is_broadcast(synth_engine):
    docs = synth_engine.boolean_docs("sym0 AND sym1")
    plan = _plan(synth_engine._names(docs))
    assert "BroadcastHashJoin" in plan, plan


def test_joker_suffix_pushdown_into_postings(synth_engine):
    # a pure-suffix token must NOT scan the whole postings table: the
    # resolved match set is pushed as an In(term, ...) scan predicate
    docs = synth_engine.joker_docs("*le")  # matches 'needle' etc.
    plan = docs._jdf.queryExecution().sparkPlan().toString()
    assert "In(term" in plan or ("PushedFilters" in plan and "term" in plan), plan
    assert docs.count() > 0


def test_joker_oversized_match_set_scans_prefixes(synth_engine, monkeypatch):
    # force the big-match-set path: the postings scan filters on the
    # token's prefix instead of an IN list, and the set kernel keeps
    # only the terms that match the token; no driver OOM, no join
    monkeypatch.setattr(type(synth_engine), "JOKER_PUSHDOWN_TERMS", 1)
    df = synth_engine.joker_docs("sym*")
    plan = _plan(df)
    assert "StartsWith(term" in plan and "Join" not in plan, plan
    via_prefix = sorted(r["docID"] for r in df.collect())
    monkeypatch.undo()
    via_isin = sorted(r["docID"] for r in synth_engine.joker_docs("sym*").collect())
    assert via_prefix == via_isin and via_prefix


SET_QUERIES = {
    "boolean": lambda e: e.boolean_docs("sym0 AND sym1 OR sym2 AND sym3"),
    # the NOT term rides the include terms' scan into the same kernel
    "boolean_not": lambda e: e.boolean_docs("sym0 AND NOT the"),
    "positional": lambda e: e.positional_docs("sym0 /5 sym1"),
    "phrase": lambda e: e.phrase_docs("needle haystack needle"),
    "joker": lambda e: e.joker_docs("sym1* need*"),
}


@pytest.mark.parametrize("name", sorted(SET_QUERIES))
def test_set_query_is_one_bucket_kernel(synth_engine, name):
    # every set query shuffles compressed blocks on the docID bucket,
    # exactly as bm25 does, and evaluates in ONE Arrow kernel: no
    # second decode, no join tree, no Python UDF
    plan = _plan(SET_QUERIES[name](synth_engine))
    assert "hashpartitioning(bucket" in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "SortMergeJoin",
                 "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in plan, plan


RANKERS = {
    "bm25": lambda e: e.bm25("sym0 sym1 sym2", k=5),
    "qlm": lambda e: e.qlm("sym0 sym1 sym2", k=5),
    "bm25_many": lambda e: e.bm25_many(
        {"a": "sym0 sym1", "b": "sym1 sym2", "c": "needle"}, k=5),
}


@pytest.mark.parametrize("name, budget", [
    ("boolean", 2), ("boolean_not", 2), ("positional", 2), ("phrase", 2),
    # + the one dictionary probe that resolves every token
    ("joker", 3),
    # measured: scoring exchange, top-k cut and the doc_map name join
    ("bm25", 5), ("qlm", 5),
    # + the per-query window's exchange and the qid map
    ("bm25_many", 7)])
def test_query_job_budget(synth_engine, name, budget):
    run = {**SET_QUERIES, **RANKERS}[name]
    run(synth_engine).collect()  # warm the term cache and cached tables
    sc = synth_engine.spark.sparkContext
    group = f"query_budget_{name}"
    sc.setJobGroup(group, "job budget pin")
    try:
        run(synth_engine).collect()
    finally:
        sc.setJobGroup(f"{group}_done", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= budget, len(jobs)


def test_dedup_store_job_budget(spark, synth_docs, tmp_path):
    # the dedup store reads bands/sigs/dup_pairs through TableStore with
    # their footer schemas: no read runs a schema-inference job. With an
    # inference job per read this fixture took append 6, probe 11,
    # probe_and_append 18, compact 12 (three tables)
    from information_retrieval_spark.streaming.dedup import IncrementalDeduper

    idx = F.regexp_extract("path", r"file(\d+)\.", 1).cast("int")
    old = synth_docs.filter(idx < 40)
    new = synth_docs.filter((idx >= 40) & (idx < 55)).unionByName(
        synth_docs.filter(idx < 5)
        .withColumn("path", F.concat(F.lit("dup/"), "path")))
    dd = IncrementalDeduper(spark, str(tmp_path / "dd"), num_hashes=16,
                            band_size=4, n=3, id_col="path",
                            text_col="content")
    sc = spark.sparkContext
    got = {}
    for call, run in (("append", lambda: dd.append(old, 0)),
                      ("probe", lambda: dd.probe(new).collect()),
                      ("probe_and_append",
                       lambda: dd.probe_and_append(new, 1).collect()),
                      ("compact", dd.compact)):
        group = f"dedup_budget_{call}"
        sc.setJobGroup(group, "job budget pin")
        try:
            run()
        finally:
            sc.setJobGroup(f"{group}_done", "")
        got[call] = len(sc.statusTracker().getJobIdsForGroup(group))
    budget = {"append": 6, "probe": 9, "probe_and_append": 15, "compact": 9}
    assert all(got[c] <= b for c, b in budget.items()), got


def test_bm25_shuffles_blocks_not_postings(synth_engine):
    # scoring shuffles COMPRESSED BLOCKS keyed by docID bucket and fuses
    # decode+score+topk in one Arrow kernel: the exchange must be on
    # `bucket`, the binary columns must reach the kernel un-exploded, and
    # no row-at-a-time Python may appear anywhere
    df = synth_engine.bm25("sym0 sym1", k=5, wand=False)
    plan = _plan(df)
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan, plan
    assert "hashpartitioning(bucket" in plan, plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


# --- round-3 plan hygiene ---------------------------------------------------

import numpy as np


def _emb(spark, n=40, dim=16, seed=5):
    rng = np.random.RandomState(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), vecs


def test_ann_probe_is_pushed_sig_in_scan(spark, tmp_path):
    # the gated ANN path must probe the PERSISTED signature table with a
    # `sig IN (...)` predicate reaching the parquet scan — never the
    # inline CASE-WHEN signature expression re-derived over the corpus
    # (the round-2 bench regression / Janino fallback shape)
    from information_retrieval_spark import similarity
    df, vecs = _emb(spark)
    sigs = similarity.persist_signatures(df, str(tmp_path / "sigs"),
                                         nbits=4, seed=42)
    q = [float(x) for x in vecs[3]]
    top = similarity.lsh_bucket_topk(df, q, k=5, nbits=4, signatures=sigs)
    plan = top._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [In(sig" in plan, plan
    assert "CASE WHEN" not in plan, plan


def test_simhash_plan_has_no_bit_explode(spark):
    # exactly ONE Generate (the token explode); the 64 per-bit weighted
    # sums are aggregate expressions, not a x64 row explosion
    from information_retrieval_spark import dedup
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta token{i}") for i in range(10)],
        "doc_id long, text string")
    sig = dedup.simhash_signatures(docs)
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate") == 1, plan


def test_embedding_near_dup_explode_is_slim(spark):
    # the Hamming-probe explode must carry (id, sig) longs only — the
    # embedding vectors join back after pair-dedup, once
    from information_retrieval_spark import similarity
    df, _ = _emb(spark)
    nd = similarity.embedding_near_duplicates(df, threshold=0.5, nbits=4)
    plan = nd._jdf.queryExecution().optimizedPlan().toString()
    gen_lines = [ln for ln in plan.splitlines() if "Generate" in ln]
    assert gen_lines, plan
    for ln in gen_lines:
        assert "embedding" not in ln and "va" not in ln and "vb" not in ln, ln


def test_gated_ngram_jaccard_has_no_allpairs_shingle_join(spark):
    # candidate-driven verification: the only shingle-shingle equi-join
    # is driven FROM the candidate pairs (join keys include an id), so
    # no plan node joins the corpus-wide shingle sets on `shingle` alone
    from information_retrieval_spark import dedup
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta id{i} id{i+1}")
         for i in range(10)],
        "doc_id long, text string")
    cand = dedup.minhash_lsh_pairs(docs, num_hashes=16, band_size=4, n=2)
    out = dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.3, candidates=cand)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    import re
    for m in re.finditer(r"Join [a-zA-Z]+, \(([^\n]*)\)", plan):
        cond = m.group(1)
        if "shingle" in cond or "feature" in cond:
            assert "id" in cond, cond


def test_phrase_scan_pushdown_and_single_decode(synth_engine):
    # the phrase plan must (a) push its deduped term set into the
    # postings scan as an In/term filter, (b) run ONE positional decode
    # kernel, and (c) evaluate the adjacency chain inside it — no
    # per-slot docID joins (the round-4 shape shuffled once per slot)
    df = synth_engine.phrase_docs("needle haystack needle")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "In(term" in plan or ("PushedFilters" in plan and "term" in plan), plan
    assert "Join" not in plan, plan
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in opt or opt.count("MapInArrow") == 1, opt


def test_shard_plan_range_partition_no_global_sort_no_window(spark):
    # the two-phase prefix sum must not degenerate into a global Sort or
    # a single-reducer Window; offsets join by broadcast
    from information_retrieval_spark import sampling

    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 9 + 1).alias("ntok"))
    out = sampling.shard_by_token_budget(df, 25, tokens_col="ntok",
                                         n_partitions=5)
    plan = _plan(out)
    assert "Window" not in plan and "Sort" not in plan, plan
    # the numbered relation is pinned by a localCheckpoint, so the final
    # plan reads an ExistingRDD (the range exchange lives upstream of
    # the checkpoint); the offsets are a literal pid lookup in the
    # projection, so no join and no exchange is left
    assert "Scan ExistingRDD" in plan, plan
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_bm25_filtered_mask_path_adds_no_exchange(synth_engine):
    # the kernel-mask path must keep bm25's single bucket exchange —
    # filtering adds zero shuffles
    base = synth_engine.bm25("sym0 sym1 sym2", k=10, wand=False)
    filt = synth_engine.bm25_filtered("sym0 sym1 sym2",
                                      F.col("lang") == "py", k=10)
    n_ex = lambda df: _plan(df).count("Exchange")  # noqa: E731
    assert n_ex(filt) == n_ex(base), (_plan(filt), _plan(base))


def test_heaps_fit_postings_scan_is_metadata_only(synth_engine):
    # heaps_fit's first-appearance relation must read ONLY (term,
    # block_first_doc) off the postings scan — the varbyte payload
    # columns never leave parquet (the "no postings decode" claim)
    plan = _plan(synth_engine.heaps_fit())
    read = plan.split("ReadSchema")
    postings_reads = [seg for seg in read[1:] if "block_first_doc" in
                      seg.split("\n")[0]]
    assert postings_reads, plan
    for seg in postings_reads:
        head = seg.split("\n")[0]
        for payload in ("doc_gaps", "tfs", "dls", "pos_gaps"):
            assert payload not in head, head


def test_write_path_reads_through_table_store():
    # a direct `.read.parquet(` infers the schema in a 1-task Spark job
    # per read, and a `createDataFrame(` of driver rows parallelizes a
    # Python RDD: the SPIMI write path reads through TableStore (declared
    # schemas) and builds driver rows with io.arrow_rows
    pkg = pathlib.Path(__file__).resolve().parents[1] / "information_retrieval_spark"
    offenders = [f"{p.relative_to(pkg)}:{i}"
                 for p in (pkg / "build.py", pkg / "streaming" / "incremental.py")
                 for i, line in enumerate(p.read_text().splitlines(), 1)
                 if ".read.parquet(" in line or "createDataFrame(" in line]
    assert not offenders, offenders
    # every table the package writes and reads back goes through io.py;
    # only the loaders of external inputs read parquet directly
    readers = [f"{p.relative_to(pkg)}:{i}"
               for p in sorted(pkg.rglob("*.py"))
               if p.name not in ("cli.py", "corpus.py")
               for i, line in enumerate(p.read_text().splitlines(), 1)
               if ".read.parquet(" in line]
    assert not readers, readers


def test_releases_go_through_plan_policy():
    # DataFrame.unpersist() frees nothing for a localCheckpoint, so a
    # release written by hand is easily a silent no-op: only
    # plan_policy (release for checkpoints, hold for persists) may call it
    pkg = pathlib.Path(__file__).resolve().parents[1] / "information_retrieval_spark"
    offenders = [f"{p.relative_to(pkg)}:{i}"
                 for p in sorted(pkg.rglob("*.py")) if p.name != "plan_policy.py"
                 for i, line in enumerate(p.read_text().splitlines(), 1)
                 if ".unpersist(" in line]
    assert not offenders, offenders
