"""Unit tests for the training-data pipeline operators: dedup, text
stats, similarity search, multimodal plumbing — each checked against a
small pure-Python oracle."""

import hashlib
import itertools
import math
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from information_retrieval_spark import (dedup, multimodal, plan_policy,
                                         similarity, textstats)
from information_retrieval_spark.normalize import tokenize

DOCS = [
    (0, "spark join window table scan spark"),
    (1, "spark join window table scan spark"),            # exact dup of 0
    (2, "spark join window table scan merge"),            # near dup
    (3, "completely different words entirely here now"),
    (4, "the the the a a of is and spark!! ??"),
    (5, "short"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_duplicates(docs_df):
    rows = dedup.exact_duplicates(docs_df).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 2
    assert rows[0]["canonical_id"] == 0
    assert rows[0]["content_hash"] == hashlib.sha256(DOCS[0][1].encode()).hexdigest()


def _shingles(text, n):
    toks = tokenize(text)
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def test_ngram_jaccard_pairs(docs_df):
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(docs_df, n=2, threshold=0.3).collect()}
    want = {}
    for (a, ta), (b, tb) in itertools.combinations(DOCS, 2):
        sa, sb = _shingles(ta, 2), _shingles(tb, 2)
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= 0.3:
            want[(a, b)] = round(j, 6)
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 1.0


def test_minhash_identical_docs_always_pair(docs_df):
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_pairs(docs_df).collect()}
    assert (0, 1) in pairs  # identical docs share every band
    # disjoint-vocab docs never collide on a band of 2 exact minhashes
    assert (0, 3) not in pairs


def _py_minhash(features, num_hashes):
    # the universal-hash family, straight from the published definition:
    # h32 = first 8 hex chars of sha256(feature); perm_i = (a_i*h+b_i) % p
    coeffs = dedup.minhash_coeffs(num_hashes)
    hs = [int(hashlib.sha256(f.encode()).hexdigest()[:8], 16) for f in features]
    return [min((a * h + b) % dedup.MINHASH_P for h in hs) for a, b in coeffs]


def test_minhash_matches_python_oracle(docs_df):
    sig = {r["id"]: list(r["minhash"])
           for r in dedup.minhash_signatures(docs_df, num_hashes=4).collect()}
    for doc_id, text in DOCS:
        terms = set(tokenize(text))
        if not terms:
            continue
        assert sig[doc_id] == _py_minhash(terms, 4)


def test_near_duplicates_chain(docs_df):
    # LSH candidates -> exact Jaccard verify; pure-Python oracle of the
    # whole chain (same sha256 minhash, same banding, same verification)
    n, num_hashes, band_size, threshold = 2, 16, 4, 0.5
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           dedup.near_duplicates(docs_df, n=n, threshold=threshold,
                                 num_hashes=num_hashes, band_size=band_size).collect()}

    def minhash_band_keys(feats):
        mh = _py_minhash(feats, num_hashes)
        return {(band, ":".join(str(mh[band * band_size + j])
                                for j in range(band_size)))
                for band in range(num_hashes // band_size)}

    want = {}
    for (a, ta), (b, tb) in itertools.combinations(DOCS, 2):
        sa, sb = _shingles(ta, n), _shingles(tb, n)
        if not sa or not sb:
            continue
        if not (minhash_band_keys(sa) & minhash_band_keys(sb)):
            continue  # not an LSH candidate
        j = len(sa & sb) / len(sa | sb)
        if j >= threshold:
            want[(a, b)] = round(j, 6)
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 1.0


def _py_components(edges):
    """Union-find oracle: {node: min id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.mark.parametrize("edges", [
    [],                                            # empty
    [(5, 9)],                                      # one pair
    [(i, i + 1) for i in range(50)],               # 50-chain: worst diameter
    [(0, 1), (1, 2), (10, 11), (12, 11), (3, 0),
     (20, 21), (21, 22), (22, 20), (2, 3)],        # cycles + several comps
    [(100, i) for i in range(40)],                 # high-degree star
], ids=["empty", "pair", "chain50", "mixed", "star"])
def test_connected_components(spark, edges):
    df = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        df = df.filter("id_a != id_a")
    got = {r["id"]: r["cluster_id"]
           for r in dedup.connected_components(df).collect()}
    assert got == _py_components(edges)


def test_connected_components_random_vs_union_find(spark):
    rng = np.random.RandomState(11)
    edges = [(int(a), int(b)) for a, b in rng.randint(0, 120, size=(200, 2))
             if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"]
           for r in dedup.connected_components(df).collect()}
    assert got == _py_components(edges)


def test_duplicate_clusters_chain(docs_df):
    # near_duplicates pairs at these params: (0,1) exact and (0,2)/(1,2)
    # near -> one cluster {0,1,2} with canonical id 0
    rows = dedup.duplicate_clusters(docs_df, n=2, threshold=0.5,
                                    num_hashes=16, band_size=4).collect()
    got = {(r["id"], r["cluster_id"], r["cluster_size"]) for r in rows}
    pairs = [(r["id_a"], r["id_b"]) for r in
             dedup.near_duplicates(docs_df, n=2, threshold=0.5,
                                   num_hashes=16, band_size=4).collect()]
    comp = _py_components(pairs)
    from collections import Counter
    sizes = Counter(comp.values())
    assert got == {(i, c, sizes[c]) for i, c in comp.items()}
    assert {0, 1, 2} <= {i for i, _, _ in got}


def test_minhash_collapsed_pairs_exact_and_bounded(spark, monkeypatch):
    # Hot-bucket defense: a boilerplate page duplicated M times must
    # not drive the band self-join quadratic. The collapsed path
    # (forced via threshold 0; leaf-size gated off at driver scale)
    # must return EXACTLY the plain join's pair set while its banded
    # relation carries ONE row per DISTINCT signature per band — the
    # volume pin: a 200-copy bucket contributes 1 join row, not 200.
    hot = [(i, "copy of the same boilerplate page body here") for i in range(200)]
    uniq = [(200 + i, f"unique document number {i} with words w{i} x{i} y{i}")
            for i in range(30)]
    near = [(300, "copy of the same boilerplate page body now"),
            (301, "entirely other text that matches nobody else at all")]
    df = spark.createDataFrame(hot + uniq + near, "doc_id long, text string")
    kw = dict(num_hashes=8, band_size=2)
    monkeypatch.setitem(plan_policy.GATES, "collapse", 1 << 62)
    plain = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
        df, **kw).collect()}
    monkeypatch.setitem(plan_policy.GATES, "collapse", 0)
    coll = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(
        df, **kw).collect()}
    assert coll == plain
    assert all((a, b) in coll for a, b in itertools.combinations(range(200), 2))
    # volume pin: band-join input of the collapsed path is bounded by
    # n_bands * distinct signatures, independent of bucket multiplicity
    sig = dedup.minhash_signatures(df, num_hashes=kw["num_hashes"])
    n_distinct = sig.select("minhash").distinct().count()
    n_bands = kw["num_hashes"] // kw["band_size"]
    assert n_distinct <= 33  # 1 hot signature + the 32 non-copies
    banded_rows = n_bands * n_distinct
    plain_rows = n_bands * df.count()
    assert banded_rows <= 33 * n_bands < plain_rows


def test_minhash_shingle_features_discriminative(docs_df):
    # shingle-based bands must NOT pair docs that merely share vocabulary
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_pairs(docs_df, num_hashes=16, band_size=4,
                                     n=3).collect()}
    assert (0, 1) in pairs
    assert (0, 4) not in pairs  # shares 'spark' term but no 3-gram run


def test_simhash_properties(docs_df):
    sig = {r["id"]: r["simhash"] for r in
           dedup.simhash_signatures(docs_df).collect()}
    assert all(len(s) == 64 and set(s) <= {"0", "1"} for s in sig.values())
    assert sig[0] == sig[1]  # identical docs
    ham02 = sum(a != b for a, b in zip(sig[0], sig[2]))
    ham03 = sum(a != b for a, b in zip(sig[0], sig[3]))
    assert ham02 < ham03  # near-dup closer than unrelated


def test_token_counts(docs_df):
    got = {r["id"]: r for r in textstats.token_counts(docs_df).collect()}
    for doc_id, text in DOCS:
        toks = tokenize(text)
        assert got[doc_id]["n_terms"] == len(toks)
        assert got[doc_id]["n_distinct_terms"] == len(set(toks))
        assert got[doc_id]["n_ws_tokens"] == len(text.split())
        assert got[doc_id]["n_chars"] == len(text)


def test_language_id(docs_df):
    got = {r["id"]: r["pred_lang"] for r in textstats.language_id(docs_df).collect()}
    assert got[4] == "en"       # stopword-heavy doc
    assert got[3] == "unknown"  # no profile markers


def test_quality_scores(docs_df):
    got = {r["id"]: r["quality"] for r in textstats.quality_scores(docs_df).collect()}
    for doc_id, text in DOCS:
        toks = tokenize(text)
        punct = sum(1 for c in text if not (c.isalnum() or c == "_" or c.isspace()))
        stop = sum(1 for t in toks if t in textstats.STOPWORDS)
        want = (0.4 * min(1.0, len(toks) / 50.0)
                + 0.3 * (1.0 - punct / max(len(text), 1))
                + 0.3 * min(1.0, 5.0 * stop / max(len(toks), 1)))
        assert math.isclose(got[doc_id], round(want, 6), abs_tol=1e-6), doc_id


def test_ngram_counts(docs_df):
    # full relation vs a pure-Python Counter over the same token stream
    from collections import Counter
    want = Counter()
    for _doc_id, text in DOCS:
        toks = tokenize(text)
        want.update(" ".join(toks[i:i + 2]) for i in range(len(toks) - 1))
    got = {r["ngram"]: r["n"] for r in
           textstats.ngram_counts(docs_df, n=2).collect()}
    assert got == dict(want)
    # the top-k cut: exact (count desc, ngram asc) prefix, and the plan
    # is TakeOrderedAndProject (per-partition heaps), never a full sort
    top = textstats.ngram_counts(docs_df, n=2, k=3)
    order = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(r["ngram"], r["n"]) for r in top.collect()] == order
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    # trigrams + too-short docs contribute nothing (no DESC sequence)
    tri = Counter()
    for _doc_id, text in DOCS:
        toks = tokenize(text)
        tri.update(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))
    got3 = {r["ngram"]: r["n"] for r in
            textstats.ngram_counts(docs_df, n=3).collect()}
    assert got3 == dict(tri)
    with pytest.raises(ValueError):
        textstats.ngram_counts(docs_df, n=0)


def test_pmi_bigrams(docs_df):
    # full relation vs a pure-Python PMI recomputation over the same
    # token stream (identical formula + operand order + 6 dp rounding)
    import math
    from collections import Counter
    uni: Counter = Counter()
    big: Counter = Counter()
    for _doc_id, text in DOCS:
        toks = tokenize(text)
        uni.update(toks)
        big.update((toks[i], toks[i + 1]) for i in range(len(toks) - 1))
    n_uni = float(sum(uni.values()))
    n_big = float(sum(big.values()))

    def pmi(pair, n_xy):
        return round(math.log((n_xy * n_uni * n_uni)
                              / (n_big * uni[pair[0]] * uni[pair[1]])), 6)

    want_all = {f"{x} {y}": (n, pmi((x, y), n))
                for (x, y), n in big.items() if n >= 1}
    got = {r["ngram"]: (r["n_xy"], r["pmi"]) for r in
           textstats.pmi_bigrams(docs_df, k=None, min_count=1).collect()}
    assert set(got) == set(want_all)
    for g, (n_xy, p) in got.items():
        assert n_xy == want_all[g][0], g
        assert math.isclose(p, want_all[g][1], rel_tol=1e-9, abs_tol=1e-9), g
    # min_count drops hapax pairs; the top-k cut is the exact
    # (pmi desc, ngram) prefix of the filtered relation
    want2 = sorted(((p, g) for g, (n, p) in want_all.items() if n >= 2))
    want_top = [(g, p) for p, g in
                sorted(((-p, g) for p, g in want2))][:3]
    top_df = textstats.pmi_bigrams(docs_df, k=3, min_count=2)
    got_top = [(r["ngram"], r["pmi"]) for r in top_df.collect()]
    assert [g for g, _ in got_top] == [g for g, _ in want_top]
    # the totals ride REUSED exchanges of the two aggregations — the
    # corpus is scanned once per agg, not once per total (visible only
    # in the FINAL adaptive plan, hence the collect() above)
    plan = top_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2, plan


def test_fingerprints(docs_df):
    got = {r["id"]: r["fingerprint"] for r in
           textstats.doc_fingerprints(docs_df, n=5).collect()}
    assert got[0] == got[1]
    for doc_id, text in DOCS:
        toks = tokenize(text)
        n = 5
        if len(toks) >= n:
            sh = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        else:
            sh = [" ".join(toks)]
        want = min(hashlib.sha256(s.encode()).hexdigest() for s in sh)
        assert got[doc_id] == want


# --- similarity ---------------------------------------------------------

@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((50, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), vecs


def _cos(a, b):
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_topk_exact(emb_df):
    df, vecs = emb_df
    q = [float(x) for x in vecs[0]]
    got = [(r["id"], r["cos"]) for r in similarity.cosine_topk(df, q, k=5).collect()]
    want = sorted(((i, _cos(v, q)) for i, v in enumerate(vecs)),
                  key=lambda x: (-x[1], x[0]))[:5]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gi, gc), (wi, wc) in zip(got, want):
        assert math.isclose(gc, round(wc, 6), abs_tol=1e-6)
    assert got[0][0] == 0 and math.isclose(got[0][1], 1.0, abs_tol=1e-6)


def test_knn_join(emb_df, spark):
    df, vecs = emb_df
    queries = spark.createDataFrame(
        [(0, [float(x) for x in vecs[0]]), (1, [float(x) for x in vecs[1]])],
        "qid long, qvec array<float>")
    got = similarity.knn_join(df, queries, k=3).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r["id"])
    for qid, vec in [(0, vecs[0]), (1, vecs[1])]:
        want = [i for i, _ in sorted(((i, _cos(v, vec)) for i, v in enumerate(vecs)),
                                     key=lambda x: (-x[1], x[0]))[:3]]
        assert by_q[qid] == want


def test_lsh_bucket_topk_recall(emb_df):
    df, vecs = emb_df
    q = [float(x) for x in vecs[3]]
    exact = [r["id"] for r in similarity.cosine_topk(df, q, k=5).collect()]
    approx = [r["id"] for r in similarity.lsh_bucket_topk(df, q, k=5, nbits=4).collect()]
    assert 3 in approx           # the query vector itself is always found
    assert set(approx) <= set(r["id"] for r in similarity.cosine_topk(df, q, k=50).collect())
    # multi-probe at 4 bits covers a decent chunk of the true top-5
    assert len(set(approx) & set(exact)) >= 2


def test_signature_bit_identical_across_engines(emb_df, spark):
    # Spark SQL expr == DuckDB SQL == pure-Python fold, bit for bit —
    # the property that lets the approximate ANN op have an exact oracle
    import duckdb
    from pyspark.sql import functions as F

    from information_retrieval_spark.similarity import (
        _planes,
        signature_expr,
        signature_of,
    )
    df, vecs = emb_df
    planes = _planes(len(vecs[0]), nbits=8, seed=42)
    got_spark = {r["id"]: r["sig"] for r in df.select(
        F.col("vec_id").alias("id"),
        F.expr(signature_expr(planes, "embedding")).alias("sig")).collect()}
    con = duckdb.connect()
    expr = signature_expr(planes, "v", dialect="duckdb")
    for i, v in enumerate(vecs):
        want_py = signature_of(v, planes)
        got_duck = con.execute(
            f"select {expr} from (select ?::FLOAT[] as v)",
            [[float(x) for x in v]]).fetchone()[0]
        assert got_spark[i] == want_py == got_duck, i


def test_embedding_near_duplicates(emb_df, spark):
    # pure-Python oracle of the whole chain: Hamming<=1 candidate pairs
    # by bit-reproducible signatures, exact cosine verify
    from information_retrieval_spark.similarity import (
        _planes,
        embedding_near_duplicates,
        signature_of,
    )
    df, vecs = emb_df
    nbits, threshold = 4, 0.5
    got = {(r["id_a"], r["id_b"]): r["cos"] for r in
           embedding_near_duplicates(df, threshold=threshold, nbits=nbits,
                                     seed=42).collect()}
    planes = _planes(len(vecs[0]), nbits, 42)
    sigs = [signature_of(v, planes) for v in vecs]
    want = {}
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            if bin(sigs[a] ^ sigs[b]).count("1") > 1:
                continue
            c = _cos(vecs[a], vecs[b])
            if c >= threshold:
                want[(a, b)] = round(c, 6)
    assert set(got) == set(want)
    for k in got:
        assert math.isclose(got[k], want[k], abs_tol=1e-6)


def test_lsh_persisted_signatures_path(emb_df, spark, tmp_path):
    # build-time signature table -> identical results to the inline path
    df, vecs = emb_df
    q = [float(x) for x in vecs[3]]
    sig_dir = str(tmp_path / "sigs")
    (similarity.build_signatures(df, nbits=4, seed=42)
     .repartitionByRange(2, "sig").sortWithinPartitions("sig")
     .write.mode("overwrite").parquet(sig_dir))
    sigs = spark.read.parquet(sig_dir)
    inline = [(r["id"], r["cos"]) for r in
              similarity.lsh_bucket_topk(df, q, k=5, nbits=4).collect()]
    persisted = [(r["id"], r["cos"]) for r in
                 similarity.lsh_bucket_topk(df, q, k=5, nbits=4,
                                            signatures=sigs).collect()]
    assert inline == persisted


# --- multimodal ---------------------------------------------------------

@pytest.fixture(scope="module")
def media_df(spark):
    rows = [(i, "image" if i % 2 == 0 else "audio",
             bytearray(f"payload-{i}".encode()) * 10, 64, 64, 3000 + i * 500)
            for i in range(6)]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_media_metadata(media_df):
    out = multimodal.attach_media_metadata(media_df).collect()
    for r in out:
        assert r["n_bytes"] == len(r["payload"])
        assert r["payload_sha"] == hashlib.sha256(bytes(r["payload"])).hexdigest()


def test_extract_features_stub_raises(media_df):
    with pytest.raises(Exception) as ei:
        multimodal.extract_features(media_df, fake=False).collect()
    assert "NotImplementedError" in str(ei.value) or "media decode" in str(ei.value)


def test_extract_features_fake_deterministic(media_df):
    out = {r["doc_id"]: r for r in multimodal.extract_features(media_df, fake=True).collect()}
    assert len(out) == 6
    for doc_id, r in out.items():
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        payload = bytes(f"payload-{doc_id}".encode()) * 10
        want = multimodal._fake_decode(payload)
        assert np.allclose(r["feature"], want)
        assert r["n_bytes"] == len(payload)


def test_frame_sample_plan(media_df):
    out = multimodal.frame_sample_plan(media_df, every_ms=1000).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_ts"])
    for i in range(6):
        dur = 3000 + i * 500
        assert sorted(by_doc[i]) == list(range(0, dur, 1000))

# --- signature paths / banded ANN / plan hygiene (round 3) ----------------

def test_signature_paths_agree(emb_df):
    # Arrow kernel == SQL expression == pure-Python fold, bit for bit:
    # the Arrow path is the build fast path (no Janino codegen cliff),
    # and its left-associated numpy fold must match the reference chain
    from information_retrieval_spark.similarity import (
        _planes,
        build_signatures,
        signature_of,
    )
    df, vecs = emb_df
    planes = _planes(len(vecs[0]), nbits=8, seed=42)
    via_arrow = {r["id"]: r["sig"] for r in
                 build_signatures(df, nbits=8, seed=42).collect()}
    via_sql = {r["id"]: r["sig"] for r in
               build_signatures(df, nbits=8, seed=42, method="sql").collect()}
    for i, v in enumerate(vecs):
        assert via_arrow[i] == via_sql[i] == signature_of(v, planes), i


def test_build_signatures_empty_input(emb_df, spark):
    df, _ = emb_df
    empty = df.filter("vec_id < 0")
    out = similarity.build_signatures(empty, nbits=8, seed=42)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "sig"]
    nd = similarity.embedding_near_duplicates(empty, threshold=0.5)
    assert nd.count() == 0
    assert [f.name for f in nd.schema.fields] == ["id_a", "id_b", "cos"]


@pytest.fixture(scope="module")
def planted_emb(spark):
    """64-dim corpus with PLANTED near-neighbors: 150 background vectors
    plus, for each of 5 query vectors, 9 perturbed copies at cos ~0.9 —
    the regime LSH is built for (the i.i.d.-Gaussian testdata corpus is
    the adversarial case: its 'neighbors' at cos ~0.4 are barely more
    bucketable than background)."""
    rng = np.random.RandomState(11)
    base = rng.standard_normal((150, 64))
    rows, queries = [], []
    vid = 0
    for _ in range(150):
        rows.append((vid, [float(x) for x in base[vid % 150]])); vid += 1
    for qi in range(5):
        qv = base[qi]
        queries.append((qi, [float(x) for x in qv]))
        for _ in range(9):
            noise = rng.standard_normal(64)
            v = qv / np.linalg.norm(qv) + 0.25 * noise / np.linalg.norm(noise)
            rows.append((vid, [float(x) for x in v])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, queries


def test_banded_lsh_recall(planted_emb):
    # recall@10 >= 0.95 vs exact cosine top-k, at a candidate volume well
    # below the corpus (the whole point vs brute force)
    df, queries = planted_emb
    n = df.count()
    sigs = similarity.build_banded_signatures(df, n_tables=16, nbits=8, seed=42)
    sigs = sigs.cache()
    hits = total = 0
    max_cand = 0
    for _, qv in queries:
        exact = [r["id"] for r in similarity.cosine_topk(df, qv, k=10).collect()]
        cand = similarity.banded_lsh_candidates(
            df, qv, n_tables=16, nbits=8, seed=42, signatures=sigs)
        n_cand = cand.count()
        max_cand = max(max_cand, n_cand)
        approx = [r["id"] for r in similarity.banded_lsh_topk(
            df, qv, k=10, n_tables=16, nbits=8, seed=42,
            signatures=sigs).collect()]
        hits += len(set(approx) & set(exact))
        total += len(exact)
    sigs.unpersist()
    recall = hits / total
    assert recall >= 0.95, (recall, max_cand, n)
    assert max_cand < 0.7 * n, (max_cand, n)  # never degenerates to a scan


def test_banded_matches_exact_when_candidates_cover(planted_emb):
    # on captured items the re-rank is EXACT: scores equal cosine_topk's
    df, queries = planted_emb
    qv = queries[0][1]
    exact = {r["id"]: r["cos"] for r in similarity.cosine_topk(df, qv, k=10).collect()}
    approx = {r["id"]: r["cos"] for r in similarity.banded_lsh_topk(
        df, qv, k=10, n_tables=16, nbits=8, seed=42).collect()}
    for i in set(approx) & set(exact):
        assert approx[i] == exact[i]


# --- IVF ANN ----------------------------------------------------------------

def test_ivf_all_probes_equals_exact(emb_df):
    # probing every list = brute force: result must EQUAL cosine_topk
    df, vecs = emb_df
    q = [float(x) for x in vecs[0]]
    exact = similarity.cosine_topk(df, q, k=5).collect()
    ivf = similarity.ivf_topk(df, q, k=5, n_lists=4, iters=2,
                              nprobe=4).collect()
    assert [(r["id"], r["cos"]) for r in ivf] == \
        [(r["id"], r["cos"]) for r in exact]


def test_ivf_assignment_paths_agree(emb_df):
    df, _ = emb_df
    cents = similarity.ivf_train(df, n_lists=4, iters=2)
    got = {r["id"]: r["list_id"]
           for r in similarity.ivf_assignments(df, cents).collect()}
    for r in df.collect():
        ivec = similarity._ivf_quantize_py(r["embedding"])
        assert got[r["vec_id"]] == similarity.ivf_assign_of(ivec, cents)


def test_ivf_train_invariant_to_partitioning(emb_df):
    df, _ = emb_df
    a = similarity.ivf_train(df, n_lists=4, iters=2)
    b = similarity.ivf_train(df.repartition(7), n_lists=4, iters=2)
    assert np.array_equal(a, b)  # exact int64 sums -> bitwise equal


def test_ivf_empty_input(emb_df):
    df, vecs = emb_df
    q = [float(x) for x in vecs[0]]
    empty = df.filter(F.lit(False))
    assert similarity.ivf_train(empty, n_lists=4) is None
    assert similarity.ivf_topk(empty, q, k=5).collect() == []


def test_ivf_persisted_roundtrip(emb_df, tmp_path):
    df, vecs = emb_df
    q = [float(x) for x in vecs[0]]
    cents, asg = similarity.persist_ivf(df, str(tmp_path / "ivf"),
                                        n_lists=4, iters=2)
    assert np.array_equal(cents, similarity.ivf_train(df, n_lists=4, iters=2))
    inline = similarity.ivf_topk(df, q, k=5, n_lists=4, iters=2,
                                 nprobe=2).collect()
    persisted = similarity.ivf_topk(df, q, k=5, nprobe=2, centroids=cents,
                                    assignments=asg).collect()
    assert [tuple(r) for r in persisted] == [tuple(r) for r in inline]


def test_ivf_persisted_layout_prunable(emb_df, tmp_path):
    # the hash-clustered assignment layout keeps the two properties the
    # probe's `list_id IN (...)` pruning relies on: rows are sorted by
    # list_id within every output file, and each list lives wholly in
    # exactly one file
    import glob

    import pyarrow.parquet as pq

    df, _ = emb_df
    _, asg = similarity.persist_ivf(df, str(tmp_path / "ivf"),
                                    n_lists=4, iters=2, n_partitions=2)
    owners: dict = {}
    for f in glob.glob(str(tmp_path / "ivf" / "assignments" / "*.parquet")):
        lids = pq.read_table(f).column("list_id").to_pylist()
        assert lids == sorted(lids)
        for lid in set(lids):
            assert owners.setdefault(lid, f) == f
    assert set(owners) == {r["list_id"] for r in
                           asg.select("list_id").distinct().collect()}


def test_ivf_quantize_spark_dialect_parity(emb_df):
    # the Spark SQL quantizer must agree with the python/kernel path
    df, _ = emb_df
    got = {r["vec_id"]: list(r["iv"]) for r in df.select(
        "vec_id",
        F.expr(similarity.ivf_quantize_expr("embedding", "spark")).alias("iv")
    ).collect()}
    for r in df.collect():
        assert got[r["vec_id"]] == similarity._ivf_quantize_py(r["embedding"])


def _ivf_train_py(vecs_by_id: dict, n_lists: int, iters: int):
    """Pure-python mirror of similarity.ivf_train over an {id: vec} dict
    (exact int64 sums, same left-associated distance fold)."""
    ids = sorted(vecs_by_id)
    cents = [
        [float(x) for x in similarity._ivf_quantize_py(vecs_by_id[i])]
        for i in ids[:n_lists]]
    for _ in range(iters):
        cnt = [0] * len(cents)
        sums = [[0] * len(cents[0]) for _ in cents]
        for i in ids:
            iv = similarity._ivf_quantize_py(vecs_by_id[i])
            j = similarity.ivf_assign_of(iv, cents)
            cnt[j] += 1
            sums[j] = [a + b for a, b in zip(sums[j], iv)]
        cents = [
            [s / cnt[j] for s in sums[j]] if cnt[j] else cents[j]
            for j in range(len(cents))]
    return cents


def test_ivf_sampled_training_matches_python_oracle(emb_df):
    # train_rate filters by the deterministic hash sample BEFORE init and
    # every training scan — Spark must agree bitwise with a pure-python
    # k-means over exactly the sampled ids (the contract the DuckDB
    # oracle's ivqt CTE relies on)
    df, vecs = emb_df
    got = similarity.ivf_train(df, n_lists=4, iters=2, train_rate=0.5)
    sample = {i: vecs[i] for i in range(len(vecs))
              if sampling.uniform_of(i, "ivf-train") < 0.5}
    assert 4 < len(sample) < len(vecs)  # the sample is real and proper
    want = _ivf_train_py(sample, n_lists=4, iters=2)
    assert np.array_equal(got, np.array(want, dtype=np.float64))


def test_ivf_sampled_training_preserves_quality(emb_df):
    # the coarse quantizer trained on half the corpus must serve probes
    # about as well as the full-trained one: recall@5 of nprobe=2 (of 4
    # lists) within one hit of the full-trained recall on this corpus
    df, vecs = emb_df
    full = similarity.ivf_train(df, n_lists=4, iters=2)
    samp = similarity.ivf_train(df, n_lists=4, iters=2, train_rate=0.5)
    hits_full = hits_samp = total = 0
    for qid in (0, 7, 23):
        q = [float(x) for x in vecs[qid]]
        exact = {r["id"] for r in similarity.cosine_topk(df, q, k=5).collect()}
        for cents, acc in ((full, "f"), (samp, "s")):
            got = {r["id"] for r in similarity.ivf_topk(
                df, q, k=5, nprobe=2, centroids=cents).collect()}
            if acc == "f":
                hits_full += len(got & exact)
            else:
                hits_samp += len(got & exact)
        total += 5
    assert hits_samp >= hits_full - 3, (hits_samp, hits_full, total)
    assert hits_samp >= total * 0.5, (hits_samp, total)


def _semdedup_py(vecs_by_id: dict, threshold: float, n_lists: int,
                 iters: int):
    """Pure-python chain oracle for semantic_near_duplicates: train ->
    assign -> within-cluster pairs -> exact cosine >= threshold."""
    cents = _ivf_train_py(vecs_by_id, n_lists, iters)
    asg = {i: similarity.ivf_assign_of(
        similarity._ivf_quantize_py([float(x) for x in v]), cents)
        for i, v in vecs_by_id.items()}
    ids = sorted(vecs_by_id)
    out = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if asg[a] != asg[b]:
                continue
            c = _cos(vecs_by_id[a], vecs_by_id[b])
            if c >= threshold:
                out[(a, b)] = round(c, 6)
    return out


def test_semdedup_chain_oracle(spark):
    # planted near-duplicates (id 100+i ~ id i) on a random base: the
    # operator must equal the full python chain (train -> assign ->
    # within-cluster pairs -> exact cosine), including the planted
    # pairs that share a cluster
    rng = np.random.RandomState(11)
    base = rng.standard_normal((30, 16)).astype(np.float32)
    vecs = {i: base[i] for i in range(30)}
    for i in (0, 5, 12):
        vecs[100 + i] = (base[i]
                         + 0.01 * rng.standard_normal(16)).astype(np.float32)
    rows = [(int(k), [float(x) for x in v]) for k, v in sorted(vecs.items())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cos"]
           for r in similarity.semantic_near_duplicates(
               df, threshold=0.9, n_lists=4, iters=2).collect()}
    want = _semdedup_py(vecs, 0.9, n_lists=4, iters=2)
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) <= 1e-6, (k, got[k], v)
    # the corpus's planted near-dups are the operator's point: at least
    # two of the three pairs must land in a shared cluster and be found
    assert sum((i, 100 + i) in got for i in (0, 5, 12)) >= 2


def test_semdedup_reuses_persisted_ivf_and_empty_input(emb_df, tmp_path):
    df, _ = emb_df
    inline = similarity.semantic_near_duplicates(
        df, threshold=0.4, n_lists=4, iters=2).collect()
    cents, asg = similarity.persist_ivf(df, str(tmp_path / "ivf"),
                                        n_lists=4, iters=2)
    reused = similarity.semantic_near_duplicates(
        df, threshold=0.4, centroids=cents, assignments=asg).collect()
    assert sorted(map(tuple, reused)) == sorted(map(tuple, inline))
    empty = df.filter(F.lit(False))
    assert similarity.semantic_near_duplicates(empty, threshold=0.4,
                                               n_lists=4).collect() == []


def test_semdedup_candidates_are_slim(spark):
    # the cluster self-join must carry (list_id, id) rows only — the
    # embedding vectors join back AFTER the pair set exists (one join
    # per side), never ride the candidate join itself
    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = similarity.ivf_train(df, n_lists=2, iters=1)
    plan = similarity.semantic_near_duplicates(
        df, threshold=0.0, centroids=cents)._jdf.queryExecution() \
        .executedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join" in ln]
    # exactly one equality join keyed on list_id, and it must not
    # mention the embedding column
    lid = [ln for ln in joins if "list_id" in ln]
    assert len(lid) == 1, plan
    assert "embedding" not in lid[0], lid[0]


# --- deterministic sampling / splits ---------------------------------------

from information_retrieval_spark import sampling


def test_uniform_expr_matches_python(docs_df):
    got = {r["doc_id"]: r["u"] for r in docs_df.select(
        "doc_id",
        F.expr(sampling.uniform_expr("doc_id", "s1")).alias("u")).collect()}
    for doc_id, _ in DOCS:
        assert abs(got[doc_id] - sampling.uniform_of(doc_id, "s1")) == 0.0


def test_hash_sample_deterministic_and_partition_invariant(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = sorted(r["doc_id"] for r in
               sampling.hash_sample(df, 0.3, key_col="doc_id").collect())
    b = sorted(r["doc_id"] for r in
               sampling.hash_sample(df.repartition(13), 0.3,
                                    key_col="doc_id").collect())
    assert a == b
    assert a == [i for i in range(2000) if sampling.uniform_of(i, "sample") < 0.3]
    assert 0.25 < len(a) / 2000 < 0.35  # rate roughly honored


def test_train_val_split_disjoint_exhaustive_stable(spark):
    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    s = sampling.train_val_split(df, 0.25, key_col="doc_id")
    rows = s.collect()
    assert len(rows) == 1000
    val = {r["doc_id"] for r in rows if r["split"] == "val"}
    assert 0.18 < len(val) / 1000 < 0.32
    # growing the table never reassigns existing keys
    bigger = sampling.train_val_split(
        spark.range(2000).withColumnRenamed("id", "doc_id"), 0.25,
        key_col="doc_id")
    val2 = {r["doc_id"] for r in bigger.collect() if r["split"] == "val"}
    assert val == {v for v in val2 if v < 1000}


def test_stratified_sample_per_stratum_rates(spark):
    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    s = sampling.stratified_sample(df, {"en": 0.8, "de": 0.1}, "lang",
                                   key_col="doc_id").collect()
    en = sum(1 for r in s if r["lang"] == "en") / 1000
    de = sum(1 for r in s if r["lang"] == "de") / 1000
    assert 0.72 < en < 0.88 and 0.04 < de < 0.16
    for r in s:  # exact membership vs the python reference
        rate = 0.8 if r["lang"] == "en" else 0.1
        assert sampling.uniform_of(r["doc_id"], "sample") < rate


def test_top_fraction_per_group_exact(spark):
    import math as _m
    rows = [(i, "en" if i % 3 else "de", round((i * 37 % 101) / 101.0, 6))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, q double")
    got = {(r["doc_id"], r["lang"]) for r in sampling.top_fraction_per_group(
        df, 0.3, "lang", "q").collect()}
    want = set()
    for lang in ("en", "de"):
        grp = sorted((r for r in rows if r[1] == lang),
                     key=lambda r: (-r[2], r[0]))
        keep = _m.ceil(0.3 * len(grp))
        want.update((r[0], r[1]) for r in grp[:keep])
    assert got == want


def test_top_fraction_per_group_approx_is_top_segment_within_one(spark):
    # the threshold path's documented contract: per group it keeps a
    # CONTIGUOUS top-by-score segment (score >= sketch threshold) whose
    # size is within the sketch's boundary fuzz of the exact cut
    rows = [(i, "g%d" % (i % 4), i / 1000.0) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, q double")
    approx = sampling.top_fraction_per_group(
        df, 0.25, "lang", "q", approx=True, accuracy=100000).collect()
    by_grp: dict = {}
    for r in approx:
        by_grp.setdefault(r["lang"], set()).add(r["doc_id"])
    exact_keep = 25  # ceil(0.25 * 100) per group
    for g, kept in sorted(by_grp.items()):
        grp = sorted((r for r in rows if r[1] == g), key=lambda r: -r[2])
        m = len(kept)
        assert abs(m - exact_keep) <= 1, (g, m)
        # contiguity: the kept set IS the top-m of the group
        assert kept == {r[0] for r in grp[:m]}, g


def test_top_fraction_per_group_rejects_bad_frac(spark):
    df = spark.createDataFrame([(1, "a", 0.5)],
                               "doc_id long, lang string, q double")
    with pytest.raises(ValueError):
        sampling.top_fraction_per_group(df, 0.0, "lang", "q")
    with pytest.raises(ValueError):
        sampling.top_fraction_per_group(df, 1.5, "lang", "q")


def test_near_duplicates_shingles_path_materializes_once(docs_df, tmp_path):
    # shingles_path: identical results to the recompute path, the
    # relation is written exactly once (idempotent on _SUCCESS), and
    # every consumer scans the materialized parquet instead of
    # re-tokenizing (the executable form of the 10^12-doc advice)
    import os
    base = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
            dedup.near_duplicates(docs_df, n=2, threshold=0.5,
                                  num_hashes=16, band_size=4).collect()}
    p = str(tmp_path / "shingles")
    mat = dedup.near_duplicates(docs_df, n=2, threshold=0.5,
                                num_hashes=16, band_size=4,
                                shingles_path=p)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in mat.collect()}
    assert got == base
    assert os.path.exists(os.path.join(p, "_SUCCESS"))
    # the final plan reads the parquet, not the tokenizer subplan
    plan = mat._jdf.queryExecution().sparkPlan().toString()
    assert "shingles" in plan, plan
    mtime = os.path.getmtime(os.path.join(p, "_SUCCESS"))
    # second call reuses the materialization (no rewrite)
    again = dedup.near_duplicates(docs_df, n=2, threshold=0.5,
                                  num_hashes=16, band_size=4,
                                  shingles_path=p)
    assert {(r["id_a"], r["id_b"]): r["jaccard"]
            for r in again.collect()} == base
    assert os.path.getmtime(os.path.join(p, "_SUCCESS")) == mtime
    # clusters accept the same path
    cl = dedup.duplicate_clusters(docs_df, n=2, threshold=0.5,
                                  num_hashes=16, band_size=4,
                                  shingles_path=p)
    assert cl.count() >= 0


def test_simhash_near_duplicates_matches_allpairs_oracle(docs_df):
    # banded plan == brute-force all-pairs Hamming (pigeonhole: a pair
    # within max_hamming agrees on >=1 of max_hamming+1 blocks, so the
    # block join is a COMPLETE cover — recall exactly 1.0)
    sig = {r["id"]: r["simhash"] for r in
           dedup.simhash_signatures(docs_df).collect()}
    for k in (0, 3, 6):
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
               dedup.simhash_near_duplicates(docs_df, max_hamming=k).collect()}
        want = {}
        for a, b in itertools.combinations(sorted(sig), 2):
            h = sum(x != y for x, y in zip(sig[a], sig[b]))
            if h <= k:
                want[(a, b)] = h
        assert got == want, (k, got, want)
    # the exact-dup pair is found at every threshold including 0
    assert (0, 1) in {(a, b) for (a, b) in
                      {(r["id_a"], r["id_b"]) for r in
                       dedup.simhash_near_duplicates(docs_df, max_hamming=0)
                       .collect()}}


def test_simhash_near_duplicates_uneven_blocks(spark):
    # bits not divisible by max_hamming+1 (64 / 7 blocks): pigeonhole
    # still holds with uneven contiguous blocks; verify vs brute force
    # on a corpus with planted near-identical docs
    docs = [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(3)]
    docs += [(3, "alpha beta gamma delta epsilon zeta eta iota"),
             (4, "totally different content here with other words entirely")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sig = {r["id"]: r["simhash"] for r in dedup.simhash_signatures(df).collect()}
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           dedup.simhash_near_duplicates(df, max_hamming=6).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(sig), 2):
        h = sum(x != y for x, y in zip(sig[a], sig[b]))
        if h <= 6:
            want[(a, b)] = h
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 0


def test_simhash_near_duplicates_block_join_is_slim(docs_df):
    # the candidate explode/join must carry (id, blk, val) only — the
    # 64-char signatures join back for verification on candidates
    nd = dedup.simhash_near_duplicates(docs_df, max_hamming=3)
    plan = nd._jdf.queryExecution().optimizedPlan().toString()
    gen_lines = [ln for ln in plan.splitlines() if "Generate" in ln]
    assert gen_lines, plan
    for ln in gen_lines:
        assert "sig_a" not in ln and "sig_b" not in ln, ln


def test_uniform_expr_rejects_unsafe_seed_and_key():
    # seeds/keys interpolate into SQL text: quotes must be rejected, and
    # ':' is reserved as the seed/key separator (seed 'exp:1' + key '2'
    # would otherwise hash the same preimage as seed 'exp' + key '1:2')
    import pytest as _pytest
    for bad in ("o'brien", "exp:1", "a b", ""):
        with _pytest.raises(ValueError):
            sampling.uniform_expr("doc_id", bad)
    with _pytest.raises(ValueError):
        sampling.uniform_expr("doc id; DROP", "ok")
    assert "sha2" in sampling.uniform_expr("doc_id", "ok-seed_1.2")

def _rand_sigs(n, bits, rng, force_block=None):
    """n random '0'/'1' signatures; force_block=(start, ln, value) pins a
    substring so every doc lands in the same (blk, val) bucket."""
    sigs = (rng.randint(0, 2, size=(n, bits))).astype(np.int8)
    if force_block is not None:
        s, ln, v = force_block
        sigs[:, s:s + ln] = v
    return ["".join("1" if b else "0" for b in row) for row in sigs]


def test_simhash_bucket_cap_bounds_candidates(spark, monkeypatch):
    # deliberately biased corpus: every signature shares block 0's value
    # (the skew shape of real corpora — shared vocabulary biases simhash
    # bits), so uncapped block banding goes quadratic in that bucket.
    # The cap must (a) collapse the candidate volume and (b) keep the
    # result EXACTLY equal to brute force (pigeonhole completeness of
    # the complement sub-split).
    rng = np.random.RandomState(11)
    n, k = 400, 3
    sig_strs = _rand_sigs(n, 64, rng, force_block=(0, 16, 0))
    # plant two near-dup pairs (Hamming 2 and 3) so the expected result
    # is non-empty
    sig_strs[100] = sig_strs[7][:30] + ("0" if sig_strs[7][30] == "1" else "1") \
        + sig_strs[7][31:63] + ("0" if sig_strs[7][63] == "1" else "1")
    sig_strs[200] = sig_strs[50]
    sigs = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sig_strs)], "id long, simhash string")

    # 0 splits every bucket over the cap (no histogram gate)
    monkeypatch.setattr(dedup, "SIMHASH_SPLIT_CANDIDATES", 0)
    uncapped = dedup._simhash_candidates(sigs, k, 64, None).count()
    capped = dedup._simhash_candidates(sigs, k, 64, 64).count()
    # uncapped: the shared block-0 bucket alone contributes n^2 ordered
    # pairs; capped: the hot bucket re-bands on 4 x 12-bit complement
    # groups, so random signatures spread out (only true near-dups and
    # rare 12-bit collisions remain)
    assert uncapped >= n * n
    assert capped < uncapped / 10, (capped, uncapped)
    assert capped < 8 * n, (capped, n)  # linear-ish, not quadratic

    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           dedup.simhash_near_duplicates(signatures=sigs, max_hamming=k,
                                         bucket_cap=64).collect()}
    want = {}
    for a, b in itertools.combinations(range(n), 2):
        h = sum(x != y for x, y in zip(sig_strs[a], sig_strs[b]))
        if h <= k:
            want[(a, b)] = h
    assert got == want
    assert (50, 200) in got and got[(50, 200)] == 0
    assert (7, 100) in got and got[(7, 100)] == 2


def test_simhash_split_gate_is_adaptive(spark, monkeypatch):
    # the histogram gate: hot-bucket sum(bsz^2) below the threshold ->
    # plain block join (no sub/sval key columns in the plan); above (or
    # forced with 0) -> the re-banded join. Results identical either way
    # (both covers are pigeonhole-complete).
    rng = np.random.RandomState(3)
    n, k = 300, 3
    sig_strs = _rand_sigs(n, 64, rng, force_block=(0, 16, 0))
    sigs = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sig_strs)], "id long, simhash string")
    monkeypatch.setattr(dedup, "SIMHASH_SPLIT_CANDIDATES", 10**12)
    plain = dedup._simhash_candidates(sigs, k, 64, 64)
    monkeypatch.setattr(dedup, "SIMHASH_SPLIT_CANDIDATES", 0)
    split = dedup._simhash_candidates(sigs, k, 64, 64)
    # hot bucket (block 0, n=300 members, 300^2=90k < 10^12) stays plain
    assert plain.count() >= n * n
    assert split.count() < plain.count() / 10
    for gate in (10**12, 0):
        monkeypatch.setattr(dedup, "SIMHASH_SPLIT_CANDIDATES", gate)
        got = {(r["id_a"], r["id_b"]) for r in
               dedup.simhash_near_duplicates(
                   signatures=sigs, max_hamming=k,
                   bucket_cap=64).collect()}
        want = {(a, b) for a, b in itertools.combinations(range(n), 2)
                if sum(x != y for x, y in zip(sig_strs[a], sig_strs[b])) <= k}
        assert got == want, gate


def test_simhash_near_duplicates_cap_vs_uncapped_on_docs(docs_df,
                                                         monkeypatch):
    # same result with the cap engaged at a threshold low enough to
    # split every bucket on the tiny corpus; the defend gate at 0 keeps
    # the cap (its 4 MB default would drop it on this corpus), so the
    # capped plan really carries the re-banded (sub, sval) join keys
    monkeypatch.setitem(plan_policy.GATES, "defend", 0)
    monkeypatch.setattr(dedup, "SIMHASH_SPLIT_CANDIDATES", 0)
    for cap in (None, 1):
        pairs = dedup.simhash_near_duplicates(docs_df, max_hamming=6,
                                              bucket_cap=cap)
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        keys = set(re.findall(r"\b(sub|sval)#\d+", plan))
        assert keys == ({"sub", "sval"} if cap else set()), plan
        got = {(r["id_a"], r["id_b"]): r["hamming"]
               for r in pairs.collect()}
        assert (0, 1) in got and got[(0, 1)] == 0


def test_simhash_signatures_length_validated(spark):
    # a signatures= row shorter than `bits` must fail loudly, not
    # silently compute wrong Hamming distances on truncated words
    bad = spark.createDataFrame([(0, "01" * 32), (1, "0101")],
                                "id long, simhash string")
    with pytest.raises(Exception, match="simhash signature"):
        dedup.simhash_near_duplicates(signatures=bad, max_hamming=3).collect()

def test_near_duplicates_auto_materializes_shingles(docs_df, monkeypatch):
    # the size switch engages itself (threshold 0 forces it here): the
    # shared shingle relation is written once to the session-temp cache
    # and every consumer — LSH candidate generation AND the exact
    # verify — scans the materialized parquet instead of re-running
    # tokenize+shingle per consumer
    import glob
    import shutil

    path = dedup._auto_cache_path(docs_df, "shingles", 3, "doc_id", "text")
    shutil.rmtree(path, ignore_errors=True)

    monkeypatch.setitem(plan_policy.GATES, "materialize", 1 << 62)
    base = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            dedup.near_duplicates(docs_df, threshold=0.6).collect()}
    monkeypatch.setitem(plan_policy.GATES, "materialize", 0)
    nd = dedup.near_duplicates(docs_df, threshold=0.6)
    got = {(r["id_a"], r["id_b"], r["jaccard"]) for r in nd.collect()}
    assert got == base and (0, 1, 1.0) in {(a, b, j) for a, b, j in got}
    # the relation was materialized exactly once, and the plan's shingle
    # inputs are parquet scans of that path (no tokenize re-runs)
    assert glob.glob(f"{path}/_SUCCESS")
    plan = nd._jdf.queryExecution().executedPlan().toString()
    assert "irs_shingles_" in plan, plan
    # second call reuses the cache (idempotent on _SUCCESS): collect
    # again after dropping write permission to prove no re-write
    n_files = len(glob.glob(f"{path}/*"))
    assert {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            dedup.near_duplicates(docs_df, threshold=0.6).collect()} == base
    assert len(glob.glob(f"{path}/*")) == n_files
    shutil.rmtree(path, ignore_errors=True)


def test_unigram_logprob_scores(docs_df):
    got = {r["id"]: (r["mean_logprob"], r["n_terms"]) for r in
           textstats.unigram_logprob_scores(docs_df).collect()}
    # pure-Python oracle: MLE unigram LM over the corpus's kept terms
    from collections import Counter
    per_doc = {i: Counter(tokenize(t)) for i, t in DOCS}
    cf = Counter()
    for c in per_doc.values():
        cf.update(c)
    total = sum(cf.values())
    want = {}
    for i, c in per_doc.items():
        n = sum(c.values())
        if n == 0:
            continue  # zero-kept-term docs are absent (doc_len semantics)
        lp = sum(k * math.log(cf[t] / total) for t, k in c.items()) / n
        want[i] = (round(lp, 6), n)
    assert got == want
    # identical docs score identically; every mean_logprob is negative
    assert got[0] == got[1]
    assert all(lp < 0 for lp, _ in got.values())


def test_contamination_matches_python_oracle(spark):
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta"),
         # bench doc 100 EMBEDDED in a larger doc: containment = 1.0
         # even though symmetric jaccard is small
         (1, "preamble words here alpha beta gamma delta trailing "
             "content continues onward for a while longer"),
         (2, "completely unrelated text with nothing shared at all"),
         (3, "alpha beta unrelated gamma delta")],  # 2 separate shingles? no
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta"),
         (101, "nothing matches this benchmark item text")],
        "doc_id long, text string")
    got = {(r["id"], r["bench_id"]): (r["n_shared"], r["containment"])
           for r in dedup.contamination(corpus, bench, n=3,
                                        min_overlap=2).collect()}
    want = {}
    bsh = {i: _shingles(t, 3) for i, t in
           [(100, "alpha beta gamma delta"),
            (101, "nothing matches this benchmark item text")]}
    corpus_rows = {r["doc_id"]: r["text"] for r in corpus.collect()}
    for cid, text in corpus_rows.items():
        csh = _shingles(text, 3)
        for bid, bs in bsh.items():
            shared = len(csh & bs)
            if shared >= 2:
                want[(cid, bid)] = (shared, round(shared / len(bs), 6))
    assert got == want
    assert got[(0, 100)] == (2, 1.0)   # bench 100 has 2 shingles, both hit
    assert got[(1, 100)] == (2, 1.0)   # embedded copy: containment 1.0
    assert not any(b == 101 for _, b in got)


def test_contamination_plan_broadcasts_benchmark(spark):
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma doc {i}") for i in range(20)],
        "doc_id long, text string")
    bench = spark.createDataFrame([(99, "alpha beta gamma doc")],
                                  "doc_id long, text string")
    plan = (dedup.contamination(corpus, bench)
            ._jdf.queryExecution().sparkPlan().toString())
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# canonical selection after dedup
# ---------------------------------------------------------------------------

def test_canonical_documents_argmax_and_ties(spark):
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (7, 7), (9, 7)], "id long, cluster_id long")
    scores = spark.createDataFrame(
        [(0, 0.5), (1, 0.9), (2, 0.9), (7, 0.1), (9, 0.1), (42, 1.0)],
        "id long, quality double")
    got = {r["id"]: (r["cluster_id"], r["is_canonical"]) for r in
           dedup.canonical_documents(clusters, scores).collect()}
    # 42 is in no cluster -> not emitted; highest quality wins, quality
    # ties break on the smaller id (1 beats 2, 7 beats 9)
    assert got == {0: (0, False), 1: (0, True), 2: (0, False),
                   7: (7, True), 9: (7, False)}


def test_canonical_documents_full_pipeline_oracle(docs_df):
    from information_retrieval_spark import sampling  # noqa: F401 (module import symmetry)

    cl = dedup.duplicate_clusters(docs_df, n=2, threshold=0.5,
                                  num_hashes=16, band_size=4)
    qs = textstats.quality_scores(docs_df)
    rows = dedup.canonical_documents(cl, qs).collect()
    assert rows, "fixture corpus has duplicate clusters"
    q = {r["id"]: r["quality"] for r in qs.collect()}
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        best = sorted((m["id"] for m in members),
                      key=lambda i: (-q[i], i))[0]
        for m in members:
            assert m["is_canonical"] == (m["id"] == best)
        assert sum(m["is_canonical"] for m in members) == 1


# ---------------------------------------------------------------------------
# token-budget sharding
# ---------------------------------------------------------------------------

def test_shard_by_token_budget_matches_window_oracle(spark):
    from information_retrieval_spark import sampling

    rng = np.random.RandomState(7)
    rows = [(int(i), " ".join(["w"] * int(rng.randint(1, 40))))
            for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["shard"]) for r in
           sampling.shard_by_token_budget(df, 100, n_partitions=7).collect()}
    assert len(got) == 500
    nt = {i: len(t.split()) for i, t in rows}
    before = 0
    for i in sorted(nt):
        assert got[i] == (nt[i], before // 100), i
        before += nt[i]


def test_shard_by_token_budget_pin_path_identical(spark, monkeypatch):
    # the pinned-base path (range-sampling reads a checkpointed
    # (id, n_tokens) relation instead of re-splitting the corpus) must
    # produce the same shards as the unpinned path; 0 forces the pin
    from information_retrieval_spark import sampling

    rng = np.random.RandomState(11)
    rows = [(int(i), " ".join(["w"] * int(rng.randint(1, 30))))
            for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plain = sorted(tuple(r) for r in sampling.shard_by_token_budget(
        df, 80, n_partitions=5).collect())
    monkeypatch.setitem(plan_policy.GATES, "pin", 0)
    pinned = sorted(tuple(r) for r in sampling.shard_by_token_budget(
        df, 80, n_partitions=5).collect())
    assert pinned == plain


def test_shard_by_token_budget_partition_invariant(spark):
    from information_retrieval_spark import sampling

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 23 + 1).alias("ntok"))
    base = {r["doc_id"]: (r["n_tokens"], r["shard"]) for r in
            sampling.shard_by_token_budget(df, 50, tokens_col="ntok",
                                           n_partitions=1).collect()}
    # same result whatever the input layout or kernel partition count
    for n_parts, shuffled in [(13, True), (4, False)]:
        d = df.repartition(11) if shuffled else df
        other = {r["doc_id"]: (r["n_tokens"], r["shard"]) for r in
                 sampling.shard_by_token_budget(
                     d, 50, tokens_col="ntok",
                     n_partitions=n_parts).collect()}
        assert other == base
    # python oracle + shard contiguity in id order
    before, prev_shard = 0, 0
    for i in range(300):
        ntok = (i * 37) % 23 + 1
        shard = before // 50
        assert base[i] == (ntok, shard)
        assert shard >= prev_shard
        before, prev_shard = before + ntok, shard


def test_shard_by_token_budget_validates_budget(spark):
    from information_retrieval_spark import sampling

    df = spark.range(3).withColumnRenamed("id", "doc_id") \
        .withColumn("text", F.lit("a b"))
    with pytest.raises(ValueError):
        sampling.shard_by_token_budget(df, 0)


def test_repetition_scores_oracle(spark):
    docs = [
        (0, "a b c\na b c\nx y z"),               # 1 dup line of 3
        (1, "alpha beta gamma delta"),            # no repetition
        (2, "w w w w w w"),                       # all 3-grams identical
        (3, "  \n\none two\n\t\n"),               # blank-ish lines dropped
        (4, "one two"),                           # < 3 terms -> no 3-grams
        (5, ""),                                  # empty doc
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["id"]: (r["dup_line_frac"], r["dup_ngram_frac"]) for r in
           textstats.repetition_scores(df).collect()}

    def oracle(text):
        lines = [ln for ln in text.split("\n") if ln.strip(" ")]
        dl = 0.0 if not lines else round(1 - len(set(lines)) / len(lines), 6)
        toks = tokenize(text)
        grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        dg = 0.0 if not grams else round(1 - len(set(grams)) / len(grams), 6)
        return dl, dg

    for i, text in docs:
        assert got[i] == oracle(text), (i, got[i], oracle(text))
    assert got[0][0] == round(1 - 2 / 3, 6)
    assert got[2][1] == round(1 - 1 / 4, 6)
    assert got[4] == (0.0, 0.0) and got[5] == (0.0, 0.0)


def test_pii_stats_and_redact_oracle(spark):
    # pure-Python `re` oracle: the patterns avoid lookaround and
    # backreferences precisely so Java regex / RE2 / Python re agree
    import re as _re
    docs = [
        (0, "reach me at alice.b+tag%x@foo-bar.example.COM or bob@y.io"),
        (1, "x@y is not an email, nor is @host or user@"),           # no TLD
        (2, "10.0.0.1 leads, 255.255.255.255 ends"),                 # edges
        (3, "1234.5.6.7 has no boundary match; 999.1.1.1 does"),     # shape
        (4, "mix: c@d.co then 192.168.0.42 then e@f.org"),
        (5, "user@1.2.3.4 — domain is an IP, email must not match"),
        (6, ""),                                                     # empty
        (7, None),                                                   # null
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stats = {r["id"]: (r["n_email"], r["n_ipv4"])
             for r in textstats.pii_stats(df).collect()}
    red = {r["id"]: r["text_redacted"]
           for r in textstats.redact_pii(df).collect()}
    em, ip = (textstats.PII_PATTERNS["email"], textstats.PII_PATTERNS["ipv4"])
    for i, text in docs:
        t = text or ""
        want = (len(_re.findall(em, t)), len(_re.findall(ip, t)))
        assert stats[i] == want, (i, stats[i], want)
        want_red = (None if text is None else
                    _re.sub(ip, "<IPV4>", _re.sub(em, "<EMAIL>", text)))
        assert red[i] == want_red, (i, red[i], want_red)
    # the planted facts the oracle should agree on
    assert stats[0] == (2, 0) and stats[2] == (0, 2)
    assert stats[3] == (0, 1)       # "1234.5.6.7" never matches (no \b)
    assert stats[5] == (0, 1)       # IP-domain "email" is redacted as IPv4
    assert red[4] == "mix: <EMAIL> then <IPV4> then <EMAIL>"

    # three-engine parity: DuckDB (RE2) over the same rows
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    rows = con.execute(f"""
        SELECT doc_id,
               len(regexp_extract_all(coalesce(text, ''), '{em}'))::BIGINT,
               len(regexp_extract_all(coalesce(text, ''), '{ip}'))::BIGINT,
               regexp_replace(regexp_replace(text, '{em}', '<EMAIL>', 'g'),
                              '{ip}', '<IPV4>', 'g')
        FROM d""").fetchall()
    for i, ne, ni, rtext in rows:
        assert stats[i] == (ne, ni), (i, stats[i], (ne, ni))
        assert red[i] == rtext, (i, red[i], rtext)


def test_pii_ops_are_map_only(docs_df):
    # single-scan / no-shuffle / no-UDF contract for both PII ops
    for op in (textstats.pii_stats, textstats.redact_pii,
               textstats.bpe_piece_counts):
        plan = op(docs_df)._jdf.queryExecution().toString()
        assert "Exchange" not in plan, plan
        assert "BatchEvalPython" not in plan, plan


def test_bpe_piece_counts_oracle(spark):
    # python `re` oracle: the ASCII-class / non-capturing-group pattern
    # is chosen so Java regex, RE2 and Python re split identically
    import re as _re
    docs = [
        (0, "don't we'll they're I'm you've he'd it's"),   # contractions
        (1, "a b"),          # single space consumed by the word piece
        (2, "a  b"),         # double space -> one ws-run piece survives
        (3, "foo123bar!! x-y_z"),                          # mixed runs
        (4, "  leading and trailing  "),
        (5, "tab\there\nnewline\x0bvt\fff\rcr"),
        (6, ""),
        (7, None),
        (8, "count(*) OVER (PARTITION BY x ORDER BY y)"),  # code-ish
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["id"]: (r["n_pieces"], r["n_nonspace_pieces"])
           for r in textstats.bpe_piece_counts(df).collect()}
    ws_full = _re.compile(r"[ \t\n\x0b\f\r]+\Z")
    for i, text in docs:
        pieces = _re.findall(textstats.BPE_PRETOKEN_PATTERN, text or "")
        want = (len(pieces),
                sum(1 for p in pieces if not ws_full.match(p)))
        assert got[i] == want, (i, got[i], want)
    # planted facts: contraction splitting and the ws-run subtlety
    assert got[0][1] == 14          # 7 words + 7 contraction suffixes
    assert got[1] == (2, 2)         # "a", " b" — no ws piece
    assert got[2] == (3, 2)         # "a", "  ", "b"
    assert got[6] == (0, 0) and got[7] == (0, 0)

    # three-engine parity: DuckDB (RE2) over the same rows
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    pat = textstats.BPE_PRETOKEN_PATTERN.replace("'", "''")
    rows = con.execute(f"""
        SELECT doc_id,
               len(regexp_extract_all(coalesce(text, ''), '{pat}'))::BIGINT,
               len(list_filter(regexp_extract_all(coalesce(text, ''), '{pat}'),
                   x -> NOT regexp_full_match(x, '[ \t\n\x0b\f\r]+')))::BIGINT
        FROM d""").fetchall()
    for i, na, nn in rows:
        assert got[i] == (na, nn), (i, got[i], (na, nn))


def test_regex_ops_random_text_parity(spark):
    # seeded random-text sweep: Spark (Java regex) vs Python `re` vs
    # DuckDB (RE2) must agree on every PII count, every redacted text
    # and every BPE piece count — the tri-engine-portability claim the
    # pattern design rests on, checked beyond the hand-picked edges.
    import re as _re
    import duckdb
    rng = np.random.RandomState(17)
    frags = ["user", "a.b", "+tag", "%x", "@", "example", ".com", ".c",
             "10", ".", "255", "999", "1234", "0", " ", "  ", "\t", "\n",
             "don", "'t", "'", "ll", "we", "-", "_", "!", "(", ")",
             "COUNT", "x1y2", "\x0b", "\f", "\r", "e@f.org", "1.2.3.4"]
    docs = [(i, "".join(rng.choice(frags, size=rng.randint(0, 25))))
            for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    em, ip = textstats.PII_PATTERNS["email"], textstats.PII_PATTERNS["ipv4"]
    stats = {r["id"]: (r["n_email"], r["n_ipv4"])
             for r in textstats.pii_stats(df).collect()}
    red = {r["id"]: r["text_redacted"]
           for r in textstats.redact_pii(df).collect()}
    bpe = {r["id"]: (r["n_pieces"], r["n_nonspace_pieces"])
           for r in textstats.bpe_piece_counts(df).collect()}
    ws_full = _re.compile(r"[ \t\n\x0b\f\r]+\Z")
    for i, text in docs:
        assert stats[i] == (len(_re.findall(em, text)),
                            len(_re.findall(ip, text))), (i, text)
        assert red[i] == _re.sub(ip, "<IPV4>",
                                 _re.sub(em, "<EMAIL>", text)), (i, text)
        pieces = _re.findall(textstats.BPE_PRETOKEN_PATTERN, text)
        assert bpe[i] == (len(pieces),
                          sum(1 for p in pieces
                              if not ws_full.match(p))), (i, text)

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", docs)
    bpat = textstats.BPE_PRETOKEN_PATTERN.replace("'", "''")
    rows = con.execute(f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{em}'))::BIGINT,
               len(regexp_extract_all(text, '{ip}'))::BIGINT,
               regexp_replace(regexp_replace(text, '{em}', '<EMAIL>', 'g'),
                              '{ip}', '<IPV4>', 'g'),
               len(regexp_extract_all(text, '{bpat}'))::BIGINT,
               len(list_filter(regexp_extract_all(text, '{bpat}'),
                   x -> NOT regexp_full_match(x, '[ \t\n\x0b\f\r]+')))::BIGINT
        FROM d""").fetchall()
    for i, ne, ni, rtext, np_, nn in rows:
        assert stats[i] == (ne, ni), (i, docs[i][1])
        assert red[i] == rtext, (i, docs[i][1])
        assert bpe[i] == (np_, nn), (i, docs[i][1])


# -- context-window chunking (textstats.chunk_documents) ----------------

def test_chunk_documents_oracle(spark):
    import re as _re
    docs = [
        (0, "a b c d e f g h i j"),     # 10 toks: window 4, stride 3
        (1, "one two three"),           # shorter than window
        (2, ""),                        # empty -> no chunks
        (3, None),                      # null -> no chunks
        (4, "  x \t y \n z  "),         # messy whitespace
        (5, " ".join(f"t{i}" for i in range(9))),  # exact multiple
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.id, r.chunk_id): (r.start_tok, r.n_tokens, r.chunk_text)
           for r in textstats.chunk_documents(df, window=4, stride=3).collect()}
    exp = {}
    for i, t in docs:
        toks = [x for x in _re.split(r"[ \t\n\x0b\f\r]+", t or "") if x]
        s = cid = 0
        while s < len(toks):
            exp[(i, cid)] = (s, len(toks[s:s + 4]), " ".join(toks[s:s + 4]))
            s += 3
            cid += 1
    assert got == exp
    # overlap really preserved: doc 0 chunk 1 starts inside chunk 0
    assert exp[(0, 1)][0] == 3 and exp[(0, 0)][1] == 4


def test_chunk_documents_non_overlapping_and_args(spark):
    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    got = sorted((r.chunk_id, r.chunk_text) for r in
                 textstats.chunk_documents(df, window=2, stride=2).collect())
    assert got == [(0, "a b"), (1, "c d")]
    import pytest as _pytest
    with _pytest.raises(ValueError):
        textstats.chunk_documents(df, window=0, stride=2)
    with _pytest.raises(ValueError):
        textstats.chunk_documents(df, window=2, stride=0)


def test_chunk_documents_plan_is_map_only(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    out = textstats.chunk_documents(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan, plan

# -- composed curation decision (textstats.curation_report) --------------

def test_curation_report_matches_standalone_ops(spark):
    docs = [
        (0, "the quick brown fox and the lazy dog are in the yard with "
            "the other animals that live near the old farm house today "
            "and they all seem quite happy to be there in the sun"),
        (1, "der hund und die katze sind in dem haus"),   # German -> language
        (2, "the cat is on the mat"),                     # en but too short
        (3, ""),                                          # unknown lang
        (4, "the the the the the the the the the the the the the the the "
            "the the the the the the the the the the the the the the the "
            "the the the the the"),                       # en, repetitive
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kw = dict(lang="en", min_tokens=30, min_quality=0.7,
              max_dup_line=0.2, max_dup_ngram=0.05)
    got = {r["id"]: r.asDict() for r in
           textstats.curation_report(df, **kw).collect()}

    # semantics pinned to the four standalone (already-oracled) operators
    lang = {r["id"]: r["pred_lang"] for r in textstats.language_id(df).collect()}
    ntok = {r["id"]: r["n_ws_tokens"] for r in textstats.token_counts(df).collect()}
    qual = {r["id"]: r["quality"] for r in textstats.quality_scores(df).collect()}
    rep = {r["id"]: (r["dup_line_frac"], r["dup_ngram_frac"])
           for r in textstats.repetition_scores(df).collect()}
    for i, _ in docs:
        g = got[i]
        assert (g["pred_lang"], g["n_ws_tokens"], g["quality"],
                (g["dup_line_frac"], g["dup_ngram_frac"])) == \
            (lang[i], ntok[i], qual[i], rep[i]), g
        # first-fail reason order: language, too_short, low_quality, repetition
        if lang[i] != "en":
            want = "language"
        elif ntok[i] < 30:
            want = "too_short"
        elif qual[i] < 0.7:
            want = "low_quality"
        elif rep[i][0] > 0.2 or rep[i][1] > 0.05:
            want = "repetition"
        else:
            want = "ok"
        assert g["reason"] == want and g["kept"] == (want == "ok"), g
    assert got[0]["reason"] == "ok"          # the healthy doc is kept
    assert got[1]["reason"] == "language"
    assert got[2]["reason"] == "too_short"
    assert got[4]["reason"] == "repetition"


def test_curation_report_plan_is_map_only(spark):
    # ONE fused projection: no Exchange (would mean a join of the four
    # standalone ops), no Python eval in the plan
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    out = textstats.curation_report(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan, plan


def test_curation_fence_survives_filter_pushdown(spark, monkeypatch):
    # _opt_fence pins each signal to one evaluation per row: a caller's
    # .filter("kept") must not re-inline the signals into the pushed-down
    # condition. Fails if a Spark version folds the fence away (measured
    # on Spark 4.1: 22 regexp_replace fenced, 464 unfenced).
    df = spark.createDataFrame(
        [(i, f"the quick brown fox {i} jumps over the lazy dog " * 3)
         for i in range(20)], "doc_id long, text string")

    def counts(out):
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return plan.count("regexp_replace"), plan.count("rand(7")

    report = counts(textstats.curation_report(df))
    kept = counts(textstats.curation_report(df).filter("kept"))
    assert kept == report and kept[1] >= 1, (report, kept)
    monkeypatch.setattr(textstats, "_opt_fence", lambda c: c)
    unfenced = counts(textstats.curation_report(df).filter("kept"))
    assert unfenced[0] > 10 * kept[0], (unfenced, kept)

# -- exact duplicated spans (dedup.duplicated_spans) ---------------------

def test_duplicated_spans_oracle(spark):
    docs = [
        (0, "a b c d e f g h i j"),
        (1, "x y a b c d e f z w"),          # shares 'a b c d e f' with 0
        (2, "p q r s t u v"),                # unique
        (3, "x y a b c d e f z w"),          # exact dup of 1
        (4, "c d e f g h q q c d e f g h"),  # internal repeat of a shared run
        (5, "short"),                        # < k tokens
        (6, ""),
        (7, None),
    ]
    k = 4
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # pure-Python oracle: gram -> distinct-doc sets -> per-doc positions
    # -> merged maximal intervals
    from collections import defaultdict
    import re as _re
    tk = {i: [w for w in _re.split(r"\s+", t) if w] if t else []
          for i, t in docs}
    gd = defaultdict(set)
    for i, toks in tk.items():
        for p in range(len(toks) - k + 1):
            gd[tuple(toks[p:p + k])].add(i)
    dup = {g for g, ids in gd.items() if len(ids) >= 2}
    want = {}
    for i, toks in tk.items():
        runs = []
        for p in (p for p in range(len(toks) - k + 1)
                  if tuple(toks[p:p + k]) in dup):
            if runs and p <= runs[-1][1]:
                runs[-1][1] = max(runs[-1][1], p + k)
            else:
                runs.append([p, p + k])
        if runs:
            want[i] = [(a, b, b - a) for a, b in runs]

    got = {}
    for r in dedup.duplicated_spans(df, k=k).collect():
        got.setdefault(r["id"], []).append(
            (r["start_tok"], r["end_tok"], r["n_tokens"]))
    for i in got:
        got[i].sort()
    assert got == want
    assert got[4] == [(0, 6, 6), (8, 14, 6)]  # internal repeat NOT merged

    stats = {r["id"]: (r["n_ws_tokens"], r["n_dup_tokens"], r["dup_frac"])
             for r in dedup.span_duplication_stats(df, k=k).collect()}
    for i, _t in docs:
        n = len(tk[i])
        nd = sum(s[2] for s in want.get(i, []))
        assert stats[i] == (n, nd, round(nd / max(n, 1), 6)), (i, stats[i])


def test_duplicated_spans_validation(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.duplicated_spans(df, k=0)
    with pytest.raises(ValueError):
        dedup.duplicated_spans(df, min_doc_freq=1)  # within-doc is not dedup


def test_duplicated_spans_min_doc_freq(spark):
    # the same 4-gram in 2 docs: visible at min_doc_freq=2, gone at 3
    docs = [(0, "a b c d x"), (1, "y a b c d"), (2, "q r s t u")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    assert dedup.duplicated_spans(df, k=4).count() == 2
    assert dedup.duplicated_spans(df, k=4, min_doc_freq=3).count() == 0


def test_cut_duplicated_spans_oracle(spark):
    docs = [
        (0, "a b c d e f g h i j"),
        (1, "x y a b c d e f z w"),
        (2, "p q r   s t u v"),       # multi-space: canonicalized output
        (3, "x y a b c d e f z w"),
        (4, "c d e f g h q q c d e f g h"),
        (5, ""),
        (6, None),
    ]
    k = 4
    df = spark.createDataFrame(docs, "doc_id long, text string")
    import re as _re
    from collections import defaultdict
    tk = {i: [w for w in _re.split(r"\s+", t) if w] if t else []
          for i, t in docs}
    gd = defaultdict(set)
    for i, toks in tk.items():
        for p in range(len(toks) - k + 1):
            gd[tuple(toks[p:p + k])].add(i)
    dup = {g for g, ids in gd.items() if len(ids) >= 2}
    got = {r["id"]: (r["clean_text"], r["n_kept_tokens"],
                     r["n_removed_tokens"])
           for r in dedup.cut_duplicated_spans(df, k=k).collect()}
    for i, toks in tk.items():
        covered = set()
        for p in range(len(toks) - k + 1):
            if tuple(toks[p:p + k]) in dup:
                covered.update(range(p, p + k))
        keep = [t for j, t in enumerate(toks) if j not in covered]
        assert got[i] == (" ".join(keep), len(keep),
                          len(toks) - len(keep)), (i, got[i])
    # a fully-duplicated doc empties; a clean doc round-trips (canonical ws)
    assert got[1][0] == "" and got[2][0] == "p q r s t u v"


def test_duplicated_spans_plan(spark):
    # one Window (the run-merge over duplicated positions only), no
    # Python eval; the gram relation carries fingerprints, not grams —
    # the projected hash column is the only string in the shuffle
    df = spark.createDataFrame([(0, "a b c d e")], "doc_id long, text string")
    out = dedup.duplicated_spans(df, k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 1, plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan, plan


def test_duplicated_spans_grams_path_materializes_once(spark, tmp_path):
    # grams_path: identical spans to the recompute path, the gram
    # relation written exactly once (idempotent on _SUCCESS) and both
    # consumers (dup agg + position join) scan the parquet instead of
    # re-deriving two corpus scans
    import os as _os
    docs = [(0, "a b c d e f"), (1, "z a b c d e"), (2, "q r s t u v")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = sorted(tuple(r) for r in dedup.duplicated_spans(df, k=4).collect())
    p = str(tmp_path / "grams")
    mat = dedup.duplicated_spans(df, k=4, grams_path=p)
    assert sorted(tuple(r) for r in mat.collect()) == base
    assert _os.path.exists(_os.path.join(p, "_SUCCESS"))
    plan = mat._jdf.queryExecution().sparkPlan().toString()
    assert "grams" in plan, plan
    mtime = _os.path.getmtime(_os.path.join(p, "_SUCCESS"))
    assert sorted(tuple(r) for r in
                  dedup.duplicated_spans(df, k=4, grams_path=p).collect()) \
        == base
    assert _os.path.getmtime(_os.path.join(p, "_SUCCESS")) == mtime


# -- data mixing (sampling.token_budget_mix) -----------------------------

def test_token_budget_mix_oracle(spark):
    from information_retrieval_spark import sampling
    from information_retrieval_spark.sampling import uniform_of

    docs = [(i, ("en" if i % 3 else "de"),
             " ".join(f"w{j}" for j in range((i * 7) % 13 + 1)))
            for i in range(60)] + [(60, "fr", "seul doc"), (61, "en", "")]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    budgets = {"en": 50, "de": 25, "fr": 100}
    got = {r["id"]: (r["stratum"], r["n_tokens"], r["cum_before"], r["kept"])
           for r in sampling.token_budget_mix(df, budgets).collect()}

    rows = [(i, l, len(t.split())) for i, l, t in docs if l in budgets]
    want = {}
    for s in budgets:
        cum = 0
        for i, l, n in sorted((r for r in rows if r[1] == s),
                              key=lambda r: (uniform_of(r[0], "mix"), r[0])):
            want[i] = (l, n, cum, cum < budgets[s])
            cum += n
    assert got == want
    # fillable strata reach their budget; overshoot bounded by one doc
    for s in ("en", "de"):
        kept = sorted((c, n) for i, (l, n, c, k) in got.items()
                      if l == s and k)
        tot = sum(n for _c, n in kept)
        assert tot >= budgets[s] and tot - kept[-1][1] < budgets[s]
    # unfillable stratum keeps everything
    assert got[60][3] is True
    # a zero-token doc inside the prefix is kept at zero cost
    assert got[61][1] == 0


def test_token_budget_mix_approx_and_validation(spark):
    from information_retrieval_spark import sampling

    docs = [(i, "en", " ".join("w" for _ in range(10))) for i in range(200)]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    ap = sampling.token_budget_mix(df, {"en": 1000}, approx=True).collect()
    assert all(r["cum_before"] is None for r in ap)
    kept = sum(r["n_tokens"] for r in ap if r["kept"])
    # expectation 1000 of 2000 total; sqrt-band tolerance
    assert 600 <= kept <= 1400, kept
    with pytest.raises(ValueError):
        sampling.token_budget_mix(df, {})
    with pytest.raises(ValueError):
        sampling.token_budget_mix(df, {"en": -1})


def test_lm_bigram_logprob_oracle(spark):
    import math
    from collections import Counter
    from information_retrieval_spark.normalize import tokenize
    from information_retrieval_spark.sampling import uniform_of

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox naps under the old tree"),
        (2, "dog lazy the over jumps fox brown quick the"),  # scrambled
        (3, "completely unrelated zebra words here"),
        (4, "the the the"),
        (5, "one"),                                          # < 2 terms
        (6, ""),
    ]
    rate, lam, seed = 0.6, 0.9, "lmref"
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["id"]: (r["mean_logprob"], r["n_bigrams"]) for r in
           textstats.lm_bigram_logprob_scores(
               df, ref_rate=rate, lam=lam, seed=seed).collect()}

    toks = {i: tokenize(t) for i, t in docs}
    ref_ids = [i for i, _ in docs if uniform_of(i, seed) < rate]
    c1, c2 = Counter(), Counter()
    for i in ref_ids:
        c1.update(toks[i])
        c2.update(zip(toks[i], toks[i][1:]))
    T, V = sum(c1.values()), len(c1)
    want = {}
    for i, _ in docs:
        bgs = list(zip(toks[i], toks[i][1:]))
        if not bgs:
            continue
        s = sum(math.log(lam * (c2[(u, v)] / c1[u] if c1[u] else 0.0)
                         + (1 - lam) * ((c1[v] + 1) / (T + V + 1)))
                for u, v in bgs)
        want[i] = (round(s / len(bgs), 6), len(bgs))
    assert got == want
    # the scrambled doc scores below its fluent twin (the signal)
    assert got[2][0] < got[0][0]
    # < 2 kept terms -> absent
    assert 5 not in got and 6 not in got


def test_lm_bigram_validation(spark):
    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        textstats.lm_bigram_logprob_scores(df, ref_rate=0.0)
    with pytest.raises(ValueError):
        textstats.lm_bigram_logprob_scores(df, lam=1.0)


def test_token_budget_mix_plan_is_single_exchange(spark):
    from information_retrieval_spark import sampling
    df = spark.createDataFrame([(0, "en", "a b")],
                               "doc_id long, lang string, text string")
    out = sampling.token_budget_mix(df, {"en": 10})
    plan = out._jdf.queryExecution().executedPlan().toString()
    # ONE stratum-keyed exchange shared by the window; no Python eval
    assert plan.count("Exchange") == 1 and plan.count("Window") == 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_lm_bigram_reference_model_computed_once(spark):
    df = spark.createDataFrame([(i, "w x y z") for i in range(6)],
                               "doc_id long, text string")
    out = textstats.lm_bigram_logprob_scores(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # all THREE c1 consumers (u-join, v-join, T/V totals) read the
    # cache — the reference corpus is tokenized once for the unigram
    # model, not once per consumer (the plan still PRINTS the fill
    # subtree under each InMemoryRelation, so textual scan counts
    # over-report; the InMemoryTableScan count is the real property)
    assert plan.count("InMemoryTableScan") == 3, plan
    assert "BatchEvalPython" not in plan, plan


def test_spans_and_lm_random_corpus_parity(spark):
    # randomized small-alphabet sweep: dense gram collisions stress the
    # run-merge and the LM's tie/OOV paths against pure-Python oracles
    import math
    import random
    from collections import Counter, defaultdict
    from information_retrieval_spark import sampling, textstats
    from information_retrieval_spark.normalize import tokenize

    rng = random.Random(20260819)
    docs = [(i, " ".join(rng.choice(["aa", "bb", "cc", "dd"])
                         for _ in range(rng.randint(0, 14))))
            for i in range(50)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # --- duplicated_spans (k=3) ---
    k = 3
    tk = {i: t.split() for i, t in docs}
    gd = defaultdict(set)
    for i, toks in tk.items():
        for p in range(len(toks) - k + 1):
            gd[tuple(toks[p:p + k])].add(i)
    dup = {g for g, ids in gd.items() if len(ids) >= 2}
    want = {}
    for i, toks in tk.items():
        runs = []
        for p in (p for p in range(len(toks) - k + 1)
                  if tuple(toks[p:p + k]) in dup):
            if runs and p <= runs[-1][1]:
                runs[-1][1] = max(runs[-1][1], p + k)
            else:
                runs.append([p, p + k])
        for a, b in runs:
            want.setdefault(i, []).append((a, b, b - a))
    got = {}
    for r in dedup.duplicated_spans(df, k=k).collect():
        got.setdefault(r["id"], []).append(
            (r["start_tok"], r["end_tok"], r["n_tokens"]))
    assert {i: sorted(v) for i, v in got.items()} == want

    # --- lm_bigram (ref_rate=0.5) ---
    rate, lam, seed = 0.5, 0.9, "lmref"
    toks = {i: tokenize(t) for i, t in docs}
    ref = [i for i, _ in docs if sampling.uniform_of(i, seed) < rate]
    c1, c2 = Counter(), Counter()
    for i in ref:
        c1.update(toks[i])
        c2.update(zip(toks[i], toks[i][1:]))
    T, V = sum(c1.values()), len(c1)
    lwant = {}
    for i, _ in docs:
        bgs = list(zip(toks[i], toks[i][1:]))
        if bgs:
            s = sum(math.log(lam * (c2[(u, v)] / c1[u] if c1[u] else 0.0)
                             + (1 - lam) * ((c1[v] + 1) / (T + V + 1)))
                    for u, v in bgs)
            lwant[i] = (round(s / len(bgs), 6), len(bgs))
    lgot = {r["id"]: (r["mean_logprob"], r["n_bigrams"]) for r in
            textstats.lm_bigram_logprob_scores(
                df, ref_rate=rate, lam=lam, seed=seed).collect()}
    assert lgot == lwant
