"""BM25 rank-identity vs the pure-Python oracle (BASELINE.json
north_star: top-k docIDs AND scores rank-identical), and WAND-pruned
top-k == unpruned top-k."""

import math

import pytest

from information_retrieval_spark import plan_policy
from information_retrieval_spark.corpus import FIXTURE_DOCS
from information_retrieval_spark.normalize import normalize
from information_retrieval_spark.oracle import OracleIndex

QUERIES = [
    "fell trigger word",
    "pen pineapple",
    "engine searching",
    "already complex purpose",
]

SYNTH_QUERIES = [
    "sym0 sym1 sym2",
    "needle haystack",
    "the for sym10",
    "sym3",
    "sym100 sym200 v5",
]


def _check_rank_identity(engine, oracle, query, k=10):
    got = engine.bm25(query, k=k, wand=False).collect()
    want = oracle.bm25(query, k=k)
    assert [r["docID"] for r in got] == [d for d, _, _ in want]
    assert [r["name"] for r in got] == [n for _, _, n in want]
    for r, (_, s, _) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.parametrize("q", QUERIES)
def test_bm25_fixture_rank_identity(fixture_engine, q):
    oracle = OracleIndex(
        ("ref/testing_files", name, content) for name, content in FIXTURE_DOCS.items())
    _check_rank_identity(fixture_engine, oracle, q, k=5)


@pytest.fixture(scope="module")
def synth_oracle(synth_docs):
    rows = synth_docs.select("repo", "path", "content").collect()
    return OracleIndex((r["repo"], r["path"], r["content"]) for r in rows)


@pytest.mark.parametrize("q", SYNTH_QUERIES)
def test_bm25_synth_rank_identity(synth_engine, synth_oracle, q):
    _check_rank_identity(synth_engine, synth_oracle, q, k=10)


@pytest.mark.parametrize("q", SYNTH_QUERIES)
def test_bm25_wand_equals_baseline(synth_engine, q):
    base = synth_engine.bm25(q, k=10, wand=False).collect()
    # wand_gate_blocks=0 forces the pruning path even on this tiny index
    wand = synth_engine.bm25(q, k=10, wand=True, wand_gate_blocks=0).collect()
    assert [(r["docID"], round(r["score"], 10)) for r in base] == \
           [(r["docID"], round(r["score"], 10)) for r in wand]


def test_bm25_absent_terms(synth_engine):
    assert synth_engine.bm25("zzzmissing qqqabsent", k=5).collect() == []


# -- Dirichlet query-likelihood (QueryEngine.qlm) ----------------------

def _check_qlm_rank_identity(engine, oracle, query, k=10, mu=2000.0):
    got = engine.qlm(query, k=k, mu=mu).collect()
    want = oracle.qlm(query, k=k, mu=mu)
    assert [r["docID"] for r in got] == [d for d, _, _ in want]
    assert [r["name"] for r in got] == [n for _, _, n in want]
    for r, (_, s, _) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.parametrize("q", QUERIES)
def test_qlm_fixture_rank_identity(fixture_engine, q):
    oracle = OracleIndex(
        ("ref/testing_files", name, content) for name, content in FIXTURE_DOCS.items())
    _check_qlm_rank_identity(fixture_engine, oracle, q, k=5)


@pytest.mark.parametrize("q", SYNTH_QUERIES)
def test_qlm_synth_rank_identity(synth_engine, synth_oracle, q):
    _check_qlm_rank_identity(synth_engine, synth_oracle, q, k=10)


def test_qlm_mu_sensitivity_matches_oracle(synth_engine, synth_oracle):
    # smoothing strength is a real parameter, not a constant baked into
    # the kernel: a small mu must reproduce the oracle too
    _check_qlm_rank_identity(synth_engine, synth_oracle,
                             "needle haystack", k=10, mu=50.0)


def test_qlm_absent_terms(synth_engine):
    assert synth_engine.qlm("zzzmissing qqqabsent", k=5).collect() == []


# -- NDCG evaluation (QueryEngine.eval_ndcg) ---------------------------

EVAL_QUERIES = {"qa": "needle haystack", "qb": "sym0 sym1 sym2",
                "qc": "the for sym10"}


def _py_ndcg(oracle, queries, k=10, rel_cap=10):
    out = {}
    for qid, qs in sorted(queries.items()):
        terms = sorted({t for t in (normalize(tok) for tok in qs.split())
                        if t is not None and t in oracle.postings})
        if not terms:
            continue
        rel: dict = {}
        for t in terms:
            for d, pos in oracle.postings[t].items():
                rel[d] = rel.get(d, 0) + len(pos)
        rel = {d: min(r, rel_cap) for d, r in rel.items()}
        page = oracle.bm25(qs, k=k)
        dcg = sum((2.0 ** rel.get(d, 0) - 1.0) / math.log2(2 + i)
                  for i, (d, _, _) in enumerate(page))
        ideal = sorted(rel.items(), key=lambda x: (-x[1], x[0]))[:k]
        idcg = sum((2.0 ** r - 1.0) / math.log2(2 + i)
                   for i, (_, r) in enumerate(ideal))
        out[qid] = dcg / idcg
    return out


def test_eval_ndcg_matches_python_oracle(synth_engine, synth_oracle):
    got = {r["qid"]: r["ndcg"]
           for r in synth_engine.eval_ndcg(EVAL_QUERIES, k=10).collect()}
    want = _py_ndcg(synth_oracle, EVAL_QUERIES, k=10)
    assert set(got) == set(want)
    for qid in want:
        assert abs(got[qid] - round(want[qid], 6)) <= 2e-6
        assert 0.0 < got[qid] <= 1.0


def test_eval_ndcg_drops_unknown_term_queries(synth_engine, synth_oracle):
    qs = {"qa": "needle haystack", "qz": "zzzmissing qqqabsent"}
    got = {r["qid"]: r["ndcg"]
           for r in synth_engine.eval_ndcg(qs, k=5).collect()}
    assert set(got) == {"qa"}
    want = _py_ndcg(synth_oracle, qs, k=5)
    assert abs(got["qa"] - round(want["qa"], 6)) <= 2e-6


# -- boosted BM25 (QueryEngine.bm25_boosted) ---------------------------

BOOSTS = {"sym0": 3.0, "sym1": 1.0, "sym2": 0.25}


def test_bm25_boosted_rank_identity(synth_engine, synth_oracle):
    got = synth_engine.bm25_boosted(BOOSTS, k=10).collect()
    want = synth_oracle.bm25_boosted(BOOSTS, k=10)
    assert [r["docID"] for r in got] == [d for d, _, _ in want]
    for r, (_, s, _) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-12)


def test_bm25_boosted_unit_boosts_equal_bm25(synth_engine):
    base = synth_engine.bm25("sym0 sym1 sym2", k=10, wand=False).collect()
    unit = synth_engine.bm25_boosted(
        {"sym0": 1.0, "sym1": 1.0, "sym2": 1.0}, k=10, wand=False).collect()
    assert [(r["docID"], r["score"]) for r in base] \
        == [(r["docID"], r["score"]) for r in unit]


def test_bm25_boosted_wand_equals_baseline(synth_engine):
    base = synth_engine.bm25_boosted(BOOSTS, k=10, wand=False).collect()
    # force the pruning path: boosted bounds must stay exact
    wand = synth_engine._bm25_for_terms(
        sorted({"sym0": 3.0, "sym1": 1.0, "sym2": 0.25}), k=10, wand=True,
        wand_gate_blocks=0, boosts={"sym0": 3.0, "sym1": 1.0, "sym2": 0.25})
    assert [(r["docID"], r["score"]) for r in base] \
        == [(r["docID"], r["score"]) for r in wand.collect()]


def test_bm25_boosted_rejects_bad_input(synth_engine):
    with pytest.raises(ValueError):
        synth_engine.bm25_boosted({"sym0": 0.0})
    # 'spark' and 'sparks' stem-collide -> ambiguous merged weight
    with pytest.raises(ValueError):
        synth_engine.bm25_boosted({"spark": 2.0, "sparks": 3.0})


# -- PRF query expansion (QueryEngine.prf_bm25) ------------------------

@pytest.mark.parametrize("q", ["spark sym5", "needle", "sym0 sym1"])
def test_prf_bm25_rank_identity(synth_engine, synth_oracle, q):
    got = synth_engine.prf_bm25(q, k=10, fb_terms=5, top_docs=25).collect()
    want = synth_oracle.prf_bm25(q, k=10, fb_terms=5, top_docs=25)
    assert [r["docID"] for r in got] == [d for d, _, _ in want]
    for r, (_, s, _) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-12)


def test_prf_bm25_expansion_changes_page(synth_engine, synth_oracle):
    # the expansion must actually do something: the expanded page
    # scores include terms the base query never mentioned
    q = "needle"
    base = {r["docID"]: r["score"]
            for r in synth_engine.bm25(q, k=10, wand=False).collect()}
    prf = {r["docID"]: r["score"]
           for r in synth_engine.prf_bm25(q, k=10).collect()}
    assert prf != base


def test_prf_bm25_absent_terms(synth_engine):
    assert synth_engine.prf_bm25("zzzmissing qqqabsent", k=5).collect() == []


# -- P/R/MAP/MRR evaluation (QueryEngine.eval_metrics) -----------------

def _py_metrics(oracle, queries, k=10):
    out = {}
    for qid, qs in sorted(queries.items()):
        terms = sorted({t for t in (normalize(tok) for tok in qs.split())
                        if t is not None and t in oracle.postings})
        if not terms:
            continue
        rel = set.intersection(*(set(oracle.postings[t]) for t in terms))
        if not rel:
            continue
        page = [d for d, _, _ in oracle.bm25(qs, k=k)]
        hits, ap_num, rr = 0, 0.0, 0.0
        for i, d in enumerate(page, start=1):
            if d in rel:
                hits += 1
                ap_num += hits / i
                if rr == 0.0:
                    rr = 1.0 / i
        out[qid] = (len(rel), hits / k, hits / len(rel),
                    ap_num / min(len(rel), k), rr)
    return out


def test_eval_metrics_matches_python_oracle(synth_engine, synth_oracle):
    got = {r["qid"]: (r["n_rel"], r["p_at_k"], r["r_at_k"], r["ap"], r["rr"])
           for r in synth_engine.eval_metrics(EVAL_QUERIES, k=10).collect()}
    want = _py_metrics(synth_oracle, EVAL_QUERIES, k=10)
    assert set(got) == set(want)
    for qid, (n_rel, p, r, ap, rr) in want.items():
        g = got[qid]
        assert g[0] == n_rel
        for gv, wv in zip(g[1:], (p, r, ap, rr)):
            assert abs(gv - round(wv, 6)) <= 2e-6
        # sanity: AP and RR bounded, P@k consistent with the page
        assert 0.0 <= g[4] <= 1.0 and 0.0 <= g[3] <= 1.0


def test_eval_metrics_drops_unknown_and_uncovered(synth_engine, synth_oracle):
    # qz: no dictionary term at all; engine must drop exactly what the
    # Python mirror drops (including any n_rel=0 query)
    qs = dict(EVAL_QUERIES, qz="zzzmissing qqqabsent")
    got = {r["qid"] for r in synth_engine.eval_metrics(qs, k=5).collect()}
    assert got == set(_py_metrics(synth_oracle, qs, k=5))
    assert "qz" not in got


# -- Zipf fit (QueryEngine.zipf_fit) -----------------------------------

def _py_zipf(oracle, min_cf=1):
    cf = sorted((sum(len(ps) for ps in docs.values()), t)
                for t, docs in oracle.postings.items())
    pts = [(math.log10(rank), math.log10(c))
           for rank, (c, _) in enumerate(sorted(
               ((c, t) for c, t in cf if c >= min_cf),
               key=lambda x: (-x[0], x[1])), start=1)]
    n = float(len(pts))
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts); syy = sum(y * y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    return int(n), slope, intercept, r2


def test_zipf_fit_matches_python_oracle(synth_engine, synth_oracle):
    row = synth_engine.zipf_fit().collect()[0]
    n, slope, intercept, r2 = _py_zipf(synth_oracle)
    assert row["n_terms"] == n
    assert abs(row["slope"] - round(slope, 6)) <= 2e-6
    assert abs(row["intercept"] - round(intercept, 6)) <= 2e-6
    assert abs(row["r2"] - round(r2, 6)) <= 2e-6
    assert row["slope"] < 0 and 0.0 < row["r2"] <= 1.0


# -- Heaps fit (QueryEngine.heaps_fit) ---------------------------------

def _py_heaps(oracle):
    first: dict = {}
    for _t, ps in oracle.postings.items():
        fd = min(ps)
        first[fd] = first.get(fd, 0) + 1
    ct = cv = 0
    pts = []
    for d in range(oracle.n_docs):
        ct += oracle.doc_len.get(d, 0)
        cv += first.get(d, 0)
        if ct > 0 and cv > 0:
            pts.append((math.log10(ct), math.log10(cv)))
    n = float(len(pts))
    sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts); syy = sum(y * y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    return int(n), slope, intercept, r2


def test_heaps_fit_matches_python_oracle(synth_engine, synth_oracle):
    row = synth_engine.heaps_fit().collect()[0]
    n, beta, log10_k, r2 = _py_heaps(synth_oracle)
    assert row["n_points"] == n
    assert abs(row["beta"] - round(beta, 6)) <= 2e-6
    assert abs(row["log10_k"] - round(log10_k, 6)) <= 2e-6
    assert abs(row["r2"] - round(r2, 6)) <= 2e-6
    # a natural-ish corpus grows sublinearly: 0 < beta < 1
    assert 0.0 < row["beta"] < 1.0 and 0.0 < row["r2"] <= 1.0


def test_zipf_fit_chunked_explode_equals_default(synth_engine):
    # chunk smaller than every rank run: pins the chunk-splitting path
    # (the cf=1 tail split across tasks at scale) to the same sums
    a = synth_engine.zipf_fit().collect()[0]
    b = synth_engine.zipf_fit(chunk=7).collect()[0]
    assert a.asDict() == b.asDict()


@pytest.mark.parametrize("q", SYNTH_QUERIES[:3])
def test_bm25_wand_distributed_path_equals_baseline(synth_engine, q, monkeypatch):
    # force the DISTRIBUTED bound-aggregation path (the 10^12-doc shape,
    # taken when the bucket_max slice is too big to collect)
    monkeypatch.setattr(type(synth_engine), "WAND_DRIVER_SLICE_ROWS", 0)
    base = synth_engine.bm25(q, k=10, wand=False).collect()
    wand = synth_engine.bm25(q, k=10, wand=True, wand_gate_blocks=0).collect()
    assert [(r["docID"], round(r["score"], 10)) for r in base] == \
           [(r["docID"], round(r["score"], 10)) for r in wand]


def test_bm25_wand_no_bucket_max_table_equals_baseline(synth_engine, monkeypatch):
    # pre-v3 index shape: no bucket_max table at all
    monkeypatch.setattr(synth_engine, "_bucket_max", None)
    q = SYNTH_QUERIES[0]
    base = synth_engine.bm25(q, k=10, wand=False).collect()
    wand = synth_engine.bm25(q, k=10, wand=True, wand_gate_blocks=0).collect()
    assert [(r["docID"], round(r["score"], 10)) for r in base] == \
           [(r["docID"], round(r["score"], 10)) for r in wand]


def test_bm25_many_equals_per_query(synth_engine):
    # batched scoring (one union-term scan, one kernel pass) must return
    # the EXACT per-query top-k rows bm25() returns, per query — incl. a
    # query with absent terms (dropped from the batch output entirely)
    batch = {f"q{i}": q for i, q in enumerate(SYNTH_QUERIES)}
    batch["q_absent"] = "zzz_not_a_term qqq_also_absent"
    got = synth_engine.bm25_many(batch, k=7).collect()
    by_qid: dict = {}
    for r in got:
        by_qid.setdefault(r["qid"], []).append(
            (r["docID"], round(r["score"], 10), r["name"]))
    assert "q_absent" not in by_qid
    assert set(by_qid) == {f"q{i}" for i in range(len(SYNTH_QUERIES))}
    for i, q in enumerate(SYNTH_QUERIES):
        want = [(r["docID"], round(r["score"], 10), r["name"])
                for r in synth_engine.bm25(q, k=7, wand=False).collect()]
        assert by_qid[f"q{i}"] == want, q
    # global output order: qid asc, score desc, docID asc
    keys = [(r["qid"], -r["score"], r["docID"]) for r in got]
    assert keys == sorted(keys)


def _filtered_want(engine, oracle, query, allowed, k):
    full = oracle.bm25(query, k=10 ** 9)
    return [(d, s, n) for d, s, n in full if d in allowed][:k]


def test_bm25_filtered_exact_topk_of_subcorpus(synth_engine, synth_oracle):
    from pyspark.sql import functions as F

    dm = synth_engine.index.table("doc_map").select("docID", "lang").collect()
    for lang in ("py", "java"):
        allowed = {r["docID"] for r in dm if r["lang"] == lang}
        for q in SYNTH_QUERIES[:3]:
            got = synth_engine.bm25_filtered(
                q, F.col("lang") == lang, k=10).collect()
            want = _filtered_want(synth_engine, synth_oracle, q, allowed, 10)
            assert [r["docID"] for r in got] == [d for d, _, _ in want], (q, lang)
            for r, (_, s, _) in zip(got, want):
                assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-12)
            # the page differs from re-filtering the unfiltered page:
            # at least check every returned doc IS in the subcorpus
            assert all(r["docID"] in allowed for r in got)


def test_bm25_filtered_join_path_equals_kernel_mask(synth_engine, synth_oracle,
                                                    monkeypatch):
    from pyspark.sql import functions as F

    q = SYNTH_QUERIES[0]
    mask = synth_engine.bm25_filtered(q, F.col("lang") == "py", k=10).collect()
    # cap 0 forces the emit-all + docID-join fallback (the broad-filter
    # scale path); identical rows required
    monkeypatch.setattr(type(synth_engine), "FILTER_PUSHDOWN_DOCS", 0)
    join = synth_engine.bm25_filtered(q, F.col("lang") == "py", k=10).collect()
    assert [(r["docID"], round(r["score"], 10)) for r in mask] == \
           [(r["docID"], round(r["score"], 10)) for r in join]


def test_bm25_filtered_empty_filter(synth_engine):
    from pyspark.sql import functions as F

    got = synth_engine.bm25_filtered(
        "sym0 sym1", F.col("lang") == "zz_nolang", k=10).collect()
    assert got == []


# ---------------------------------------------------------------------------
# more-like-this (query-by-document)
# ---------------------------------------------------------------------------

def test_doc_term_vector_matches_tokenizer(synth_engine, synth_docs):
    from information_retrieval_spark.normalize import tokenize
    from collections import Counter
    rows = sorted(synth_docs.collect(),
                  key=lambda r: (r["repo"], r["path"]))
    for d in (0, 7, 123, len(rows) - 1):
        want = dict(Counter(tokenize(rows[d]["content"])))
        got = {r["term"]: r["tf"]
               for r in synth_engine.doc_term_vector(d).collect()}
        assert got == want, d


def test_forward_index_pin_path_identical(synth_engine, monkeypatch):
    # the pinned-decode path (range-sampling reads a checkpointed copy
    # of the decoded postings instead of re-running the decode kernel)
    # must persist the same doc_vec table; 0 forces the pin
    store = synth_engine.index.store
    store.drop("doc_vec")
    try:
        synth_engine.build_forward_index(n_partitions=4)
        plain = sorted(map(tuple, store.read("doc_vec")
                           .select("docID", "term", "tf").collect()))
        store.drop("doc_vec")
        monkeypatch.setitem(plan_policy.GATES, "pin", 0)
        synth_engine.build_forward_index(n_partitions=4)
        pinned = sorted(map(tuple, store.read("doc_vec")
                            .select("docID", "term", "tf").collect()))
        assert pinned == plain
    finally:
        store.drop("doc_vec")


def test_forward_index_path_matches_inverted(synth_engine, synth_docs):
    # build_forward_index materializes doc_vec; doc_term_vector must
    # switch to the file-pruned forward scan (no postings decode in the
    # plan) and return exactly the inverted path's vectors; MLT results
    # are unchanged by the acceleration structure
    store = synth_engine.index.store
    store.drop("doc_vec")
    try:
        probes = (0, 7, 123)
        before = {d: sorted(map(tuple,
                                synth_engine.doc_term_vector(d).collect()))
                  for d in probes}
        mlt_before = [tuple(r) for r in
                      synth_engine.more_like_this(42, k=5).collect()]
        synth_engine.build_forward_index(n_partitions=4)
        assert store.exists("doc_vec")
        plan = synth_engine.doc_term_vector(0)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "doc_vec" in plan, plan
        assert "MapInArrow" not in plan, plan
        after = {d: sorted(map(tuple,
                               synth_engine.doc_term_vector(d).collect()))
                 for d in probes}
        assert after == before
        mlt_after = [tuple(r) for r in
                     synth_engine.more_like_this(42, k=5).collect()]
        assert mlt_after == mlt_before
        # idempotent on the _SUCCESS marker: a second call is a no-op
        synth_engine.build_forward_index(n_partitions=4)
    finally:
        store.drop("doc_vec")


def test_more_like_this_rank_identity(synth_engine, synth_docs):
    oracle = OracleIndex((r["repo"], r["path"], r["content"])
                         for r in synth_docs.collect())
    for src in (0, 42, 123, 250):
        got = synth_engine.more_like_this(src, k=10, n_terms=5).collect()
        want = oracle.more_like_this(src, k=10, n_terms=5)
        assert [r["docID"] for r in got] == [d for d, _, _ in want], src
        assert all(r["docID"] != src for r in got)
        for r, (_, s, _) in zip(got, want):
            assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-12)


def test_related_terms_matches_python_oracle(synth_engine, synth_docs):
    oracle = OracleIndex((r["repo"], r["path"], r["content"])
                         for r in synth_docs.collect())
    for q in ("sym0 sym1", "needle haystack", "the for"):
        got = [(r["term"], r["df_s"], r["w"])
               for r in synth_engine.related_terms(q, k=8,
                                                   top_docs=15).collect()]
        want = oracle.related_terms(q, k=8, top_docs=15)
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (gt, gd, gw), (wt, wd, ww) in zip(got, want):
            assert gd == wd and math.isclose(gw, ww, rel_tol=1e-9), (q, gt)
        # the query's own terms never suggest themselves
        qn = set(q.split())
        assert not qn & {g[0] for g in got}


def test_tfidf_top_terms_matches_python_oracle(synth_engine, synth_docs):
    # corpus-wide keyword extraction: per-doc top-k by round(tf*idf, 6)
    # desc, term asc — checked against a pure-Python recomputation from
    # the tokenizer, on BOTH serving paths (postings decode and the
    # doc_vec forward index), which must agree row-for-row
    from collections import Counter

    from information_retrieval_spark.normalize import tokenize

    rows = sorted(synth_docs.collect(), key=lambda r: (r["repo"], r["path"]))
    vecs = [Counter(tokenize(r["content"])) for r in rows]
    n = len(rows)
    df: Counter = Counter()
    for v in vecs:
        df.update(v.keys())

    def idf(d):
        return math.log(1.0 + (n - d + 0.5) / (d + 0.5))

    k = 4
    want = {}
    for doc, v in enumerate(vecs):
        ranked = sorted((-round(tf * idf(df[t]), 6), t, tf)
                        for t, tf in v.items())[:k]
        want[doc] = [(t, tf, -w, r + 1)
                     for r, (w, t, tf) in enumerate(ranked)]

    store = synth_engine.index.store
    store.drop("doc_vec")
    try:
        got_decode = synth_engine.tfidf_top_terms(k=k).collect()
        synth_engine.build_forward_index(n_partitions=4)
        fast = synth_engine.tfidf_top_terms(k=k)
        plan = fast._jdf.queryExecution().executedPlan().toString()
        assert "doc_vec" in plan and "MapInArrow" not in plan, plan
        got_fast = fast.collect()
    finally:
        store.drop("doc_vec")

    for got in (got_decode, got_fast):
        by_doc: dict = {}
        for r in got:
            by_doc.setdefault(r["docID"], []).append(
                (r["rank"], r["term"], r["tf"], r["w"]))
        assert len(by_doc) == sum(1 for v in vecs if v)
        for doc in (0, 7, 42, 123, n - 1):
            got_rows = [(t, tf, w, rk)
                        for rk, t, tf, w in sorted(by_doc[doc])]
            assert [(t, tf, rk) for t, tf, _, rk in got_rows] == \
                   [(t, tf, rk) for t, tf, _, rk in want[doc]], doc
            for (_, _, gw, _), (_, _, ww, _) in zip(got_rows, want[doc]):
                assert math.isclose(gw, ww, rel_tol=1e-9, abs_tol=1e-9), doc


# -- collection stats (QueryEngine.collection_stats) -------------------

def test_collection_stats_matches_python_oracle(synth_engine, synth_oracle):
    row = synth_engine.collection_stats().collect()[0]
    o = synth_oracle
    assert row["n_docs"] == o.n_docs
    assert row["n_terms"] == len(o.postings)
    assert row["n_postings"] == sum(len(ds) for ds in o.postings.values())
    assert row["total_len"] == sum(o.doc_len.values())
    assert abs(row["avgdl"] - round(o.avgdl, 6)) <= 2e-6
    assert row["max_df"] == max(len(ds) for ds in o.postings.values())
    assert row["max_cf"] == max(sum(len(ps) for ps in ds.values())
                                for ds in o.postings.values())


# -- phrase-constrained ranking (QueryEngine.bm25_phrase / bm25_within) --

def _adjacent_pair(oracle):
    """Some (t1, t2) adjacent in at least one doc — a phrase guaranteed
    to have matches, derived from the oracle's own positional data."""
    pos = {}
    for t, docs in oracle.postings.items():
        for d, ps in docs.items():
            for p in ps:
                pos[(d, p)] = t
    for (d, p), t in sorted(pos.items()):
        nxt = pos.get((d, p + 1))
        if nxt is not None:
            return t, nxt
    raise AssertionError("no adjacent pair in corpus")


def _phrase_expected(oracle, query, phrase_names, k):
    full = oracle.bm25(query, k=10**6)
    return [(d, s, n) for d, s, n in full if n in phrase_names][:k]


def test_bm25_phrase_rank_identity(synth_engine, synth_oracle):
    t1, t2 = _adjacent_pair(synth_oracle)
    phrase = f"{t1} {t2}"
    names = set(synth_oracle.phrase(phrase))
    assert names  # the phrase really matches
    query = "sym0 sym1 sym2"
    want = _phrase_expected(synth_oracle, query, names, k=5)
    got = synth_engine.bm25_phrase(query, phrase, k=5).collect()
    assert [r["name"] for r in got] == [n for _, _, n in want]
    for r, (_, s, _) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-12)


def test_bm25_phrase_broad_path_identical(synth_engine, synth_oracle,
                                          monkeypatch):
    # force the emit-all + docID-join path: results must not change
    t1, t2 = _adjacent_pair(synth_oracle)
    phrase, query = f"{t1} {t2}", "sym0 sym1 sym2"
    via_kernel = [(r["docID"], r["score"])
                  for r in synth_engine.bm25_phrase(query, phrase, k=5).collect()]
    monkeypatch.setattr(type(synth_engine), "FILTER_PUSHDOWN_DOCS", 0)
    via_join = [(r["docID"], r["score"])
                for r in synth_engine.bm25_phrase(query, phrase, k=5).collect()]
    assert via_kernel == via_join and via_kernel


def test_bm25_phrase_no_match_empty(synth_engine):
    assert synth_engine.bm25_phrase("sym0 sym1", "sym0 nosuchterm").count() == 0


def test_bm25_within_allow_list(synth_engine, synth_oracle):
    # an explicit 3-doc allow list: page is the exact top-k OF that set
    full = synth_oracle.bm25("sym0 sym1 sym2", k=10**6)
    allowed = [d for d, _, _ in full[5:8]]
    spark = synth_engine._doc_map.sparkSession
    allow_df = spark.createDataFrame([(d,) for d in allowed], "docID long")
    got = synth_engine.bm25_within("sym0 sym1 sym2", allow_df, k=10).collect()
    want = [(d, s, n) for d, s, n in full if d in set(allowed)]
    assert [r["docID"] for r in got] == [d for d, _, _ in want]
    for r, (_, s, _) in zip(got, want):
        assert math.isclose(r["score"], s, rel_tol=1e-9, abs_tol=1e-12)
