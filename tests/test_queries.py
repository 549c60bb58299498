"""Golden query tests — the reference's own test set
(TestBooleanRetrieval.java:25-50, FIXTURES.md §2) plus positional/joker
goldens the reference omits, plus oracle cross-checks on a larger
synthetic corpus."""

import pytest

from information_retrieval_spark.corpus import FIXTURE_DOCS
from information_retrieval_spark.oracle import OracleIndex


def names(df):
    return [r["name"] for r in df.collect()]


# --- reference golden tests (verbatim) --------------------------------

def test_golden_and(fixture_engine):
    assert names(fixture_engine.boolean("fell AND already")) == ["test4.txt"]


def test_golden_or_and_not(fixture_engine):
    got = names(fixture_engine.boolean(
        "fell AND already OR engine AND NOT trigger OR pen AND PiNeApPlE"))
    assert sorted(got) == ["test1.txt", "test4.txt", "test5.txt"]


def test_golden_empty_intersection(fixture_engine):
    assert names(fixture_engine.boolean("fell AND already AND off")) == []


def test_golden_invalid_input(fixture_engine):
    with pytest.raises(ValueError):
        fixture_engine.boolean("fell $! off")


def test_degenerate_empty_and_token(fixture_engine):
    # "fell AND AND already" tokenizes an empty include term -> normalize
    # None -> the clause is EMPTY (reference retainAll-on-null,
    # QueryProcessor.java:74). Engine and pure-Python oracle must agree.
    oracle = OracleIndex(
        ("ref/testing_files", name, content) for name, content in FIXTURE_DOCS.items())
    q = "fell AND AND already"
    assert names(fixture_engine.boolean(q)) == []
    assert oracle.boolean(q) == []
    # and a clause made empty this way must not poison OTHER clauses
    q2 = "fell AND AND already OR engine"
    assert sorted(names(fixture_engine.boolean(q2))) == oracle.boolean(q2) == ["test3.txt", "test5.txt"]


# --- positional goldens (FIXTURES.md §2) -------------------------------

def test_positional_trigger_word(fixture_engine):
    got = sorted(names(fixture_engine.positional("trigger /3 word")))
    assert got == ["test3.txt", "test4.txt"]


def test_positional_pen_pineapple(fixture_engine):
    assert names(fixture_engine.positional("pen /1 pineapple")) == ["test1.txt"]


def test_positional_absent_term(fixture_engine):
    assert names(fixture_engine.positional("pen /1 zzzmissing")) == []


def test_positional_invalid(fixture_engine):
    with pytest.raises(ValueError):
        fixture_engine.positional("pen // pineapple")


# --- joker goldens ------------------------------------------------------

@pytest.mark.parametrize("q", ["pen*", "*ing", "s*ing", "pine*le", "p*apple wor*"])
def test_joker_vs_oracle(fixture_engine, q):
    oracle = OracleIndex(
        ("ref/testing_files", name, content) for name, content in FIXTURE_DOCS.items())
    assert sorted(names(fixture_engine.joker(q))) == oracle.joker(q)


def test_joker_no_match(fixture_engine):
    assert names(fixture_engine.joker("zzz*")) == []


def test_joker_invalid(fixture_engine):
    with pytest.raises(ValueError):
        fixture_engine.joker("ab**c")


# --- oracle sweeps on the synthetic corpus ------------------------------

@pytest.fixture(scope="module")
def synth_oracle(synth_docs):
    rows = synth_docs.select("repo", "path", "content").collect()
    return OracleIndex((r["repo"], r["path"], r["content"]) for r in rows)


BOOLEAN_SWEEP = [
    "sym0 AND sym1",
    "sym0 OR sym5 AND NOT sym1",
    "needle AND haystack",
    "the AND for AND sym2",
    "sym0 AND NOT the OR sym3 AND sym4",
]


@pytest.mark.parametrize("q", BOOLEAN_SWEEP)
def test_boolean_oracle_sweep(synth_engine, synth_oracle, q):
    assert sorted(names(synth_engine.boolean(q))) == synth_oracle.boolean(q)


@pytest.mark.parametrize("q", ["needle /1 haystack", "sym0 /5 sym1", "the /2 for /3 sym0"])
def test_positional_oracle_sweep(synth_engine, synth_oracle, q):
    assert sorted(names(synth_engine.positional(q))) == synth_oracle.positional(q)


@pytest.mark.parametrize("q", ["sym1*", "*le", "sym*0", "need*"])
def test_joker_oracle_sweep(synth_engine, synth_oracle, q):
    assert sorted(names(synth_engine.joker(q))) == synth_oracle.joker(q)


# --- phrase (exact ordered adjacency) ------------------------------------

@pytest.mark.parametrize("q", [
    "needle haystack",        # planted adjacent pair, in order
    "haystack needle",        # reversed order — must NOT match the plant
    '"needle haystack"',      # quoted form
    "needle",                 # single term degenerates to membership
    "sym0 sym1",
    "the for sym0",
    "needle haystack needle",
])
def test_phrase_oracle_sweep(synth_engine, synth_oracle, q):
    assert sorted(names(synth_engine.phrase(q))) == synth_oracle.phrase(q)


def test_phrase_from_real_token_streams(synth_engine, synth_oracle, synth_docs):
    """Sample adjacent kept-token k-grams straight out of documents (so
    every query is guaranteed >=1 hit) and verify against the oracle —
    the engine's positional numbering must agree with the tokenizer's
    kept-token stream exactly."""
    import random

    from information_retrieval_spark.normalize import normalize, tokenize
    rng = random.Random(11)
    contents = [r["content"] for r in synth_docs.collect()]
    qs = []
    for _ in range(12):
        toks = tokenize(rng.choice(contents))
        if len(toks) < 4:
            continue
        k = rng.randint(2, 4)
        i = rng.randrange(len(toks) - k)
        gram = toks[i:i + k]
        # only normalize-fixed-point tokens: the query goes through
        # normalize() again, so a non-idempotent stem would change it
        if all(normalize(t) == t for t in gram):
            qs.append(" ".join(gram))
    assert qs
    for q in qs:
        got = sorted(names(synth_engine.phrase(q)))
        want = synth_oracle.phrase(q)
        assert got == want and len(want) >= 1, f"phrase {q!r}"


def test_set_queries_with_buckets_straddling_arrow_batches(
        spark, synth_engine, synth_oracle):
    """The set kernel evaluates whole docID buckets; a bucket's blocks
    span several Arrow batches once a partition holds more block rows
    than one batch. Three-row batches force that on every bucket."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for cls, q in [("boolean", "sym0 OR sym5 AND NOT sym1"),
                       ("positional", "the /2 for /3 sym0"),
                       ("phrase", "needle haystack needle"),
                       ("joker", "sym1* need*")]:
            got = sorted(names(getattr(synth_engine, cls)(q)))
            assert got == getattr(synth_oracle, cls)(q), (cls, q)
    finally:
        spark.conf.set(key, old)


def test_phrase_absent_term(synth_engine):
    assert names(synth_engine.phrase("needle zzzmissing")) == []


def test_phrase_invalid(synth_engine):
    with pytest.raises(ValueError):
        synth_engine.phrase("needle / haystack")


# --- bm25 snippet windows (minimal covering window) ---------------------

def _py_min_window(text, terms):
    """Brute-force oracle: smallest (len, start) window over the token
    positions covering every query term present in the doc."""
    from information_retrieval_spark.normalize import tokenize
    toks = tokenize(text)
    occ = [(i, w) for i, w in enumerate(toks) if w in terms]
    present = {w for _, w in occ}
    if not present:
        return None
    best = None
    for si, (s, _) in enumerate(occ):
        seen = set()
        for e, w in occ[si:]:
            seen.add(w)
            if seen == present:
                cand = (e - s, s, e)
                if best is None or cand[:2] < best[:2]:
                    best = cand
                break
    return best[1], best[2], len(present)


@pytest.mark.parametrize("q", ["fell already trigger", "engine",
                               "for searching", "pen apple pineapple"])
def test_bm25_snippets_match_bruteforce(fixture_engine, q):
    got = {r["name"]: (r["win_start"], r["win_end"], r["n_terms"])
           for r in fixture_engine.bm25_snippets(q, k=10).collect()}
    from information_retrieval_spark.normalize import normalize
    terms = {normalize(w) for w in q.split()}
    want = {}
    for name, text in FIXTURE_DOCS.items():
        w = _py_min_window(text, terms)
        if w is not None:
            want[name] = w
    # every scored doc carries the brute-force window; snippet rows are
    # exactly the bm25 page (every page doc contains >=1 term)
    assert got
    for name, win in got.items():
        assert win == want[name], (name, win, want[name])
    page = {r["name"] for r in fixture_engine.bm25(q, k=10).collect()}
    assert set(got) == page


def test_bm25_snippets_single_occurrence(fixture_engine):
    rows = fixture_engine.bm25_snippets("keyword", k=3).collect()
    assert len(rows) == 1 and rows[0]["name"] == "test5.txt"
    assert (rows[0]["win_start"], rows[0]["win_end"],
            rows[0]["n_terms"]) == (1, 1, 1)


def test_bm25_snippets_absent_terms_empty(fixture_engine):
    assert fixture_engine.bm25_snippets("zzzznotthere", k=5).collect() == []


# --- seeded randomized sweep: engine vs the pure-Python oracle ----------

def _random_queries(seed=7, n_bool=12, n_pos=6, n_joker=6):
    """Deterministic random queries over the synth vocabulary; the
    generator never sees either implementation, so coverage is not
    shaped around known-good paths."""
    import random
    rng = random.Random(seed)
    vocab = ([f"sym{rng.randrange(30)}" for _ in range(20)]
             + ["needle", "haystack", "the", "for", "v5", "absentzz"])
    bools, poss, jokers = [], [], []
    for _ in range(n_bool):
        n_cl = rng.randint(1, 3)
        clauses = []
        for _ in range(n_cl):
            terms = [rng.choice(vocab) for _ in range(rng.randint(1, 3))]
            cl = " AND ".join(terms)
            if rng.random() < 0.4:
                cl += f" AND NOT {rng.choice(vocab)}"
            clauses.append(cl)
        bools.append(" OR ".join(clauses))
    for _ in range(n_pos):
        n_t = rng.randint(2, 3)
        parts = [rng.choice(vocab)]
        for _ in range(n_t - 1):
            parts.append(f"/{rng.randint(1, 6)}")
            parts.append(rng.choice(vocab))
        poss.append(" ".join(parts))
    for _ in range(n_joker):
        t = rng.choice(["sym", "need", "hay", "v"])
        jokers.append(rng.choice([f"{t}*", f"*{t[-2:]}", f"{t[0]}*{t[-1]}"]))
    return bools, poss, jokers


def test_randomized_query_sweep_vs_oracle(synth_engine, synth_oracle):
    bools, poss, jokers = _random_queries()
    for q in bools:
        assert sorted(names(synth_engine.boolean(q))) == \
            synth_oracle.boolean(q), f"boolean {q!r}"
    for q in poss:
        assert sorted(names(synth_engine.positional(q))) == \
            synth_oracle.positional(q), f"positional {q!r}"
    for q in jokers:
        assert sorted(names(synth_engine.joker(q))) == \
            synth_oracle.joker(q), f"joker {q!r}"


def test_bm25_snippets_synth_sweep(synth_engine, synth_docs):
    # multi-block/multi-bucket index: windows still match brute force
    q = "sym0 sym1 needle"
    texts = {r["path"].split("/")[-1]: r["content"]
             for r in synth_docs.collect()}
    rows = synth_engine.bm25_snippets(q, k=10).collect()
    assert rows
    for r in rows:
        want = _py_min_window(texts[r["name"]], {"sym0", "sym1", "needle"})
        assert (r["win_start"], r["win_end"], r["n_terms"]) == want, r["name"]


# ---------------------------------------------------------------------------
# fuzzy term match / spell suggest
# ---------------------------------------------------------------------------

def _py_levenshtein(a: str, b: str) -> int:
    # classic full-matrix DP — the independent oracle for the JVM's
    # banded builtin
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_terms_matches_python_oracle(synth_engine):
    vocab = {r["term"]: r["df"]
             for r in synth_engine.index.table("dictionary").collect()}
    for q, d in [("sym1", 1), ("neede", 2), ("haystack", 0), ("xyzq", 2)]:
        got = {(r["term"], r["df"], r["dist"])
               for r in synth_engine.fuzzy_terms(q, max_edits=d).collect()}
        want = {(t, df, _py_levenshtein(t, q)) for t, df in vocab.items()
                if _py_levenshtein(t, q) <= d}
        assert got == want, (q, d)


def test_fuzzy_suggest_ranking_and_cut(synth_engine):
    rows = synth_engine.suggest("neede", k=3, max_edits=2).collect()
    vocab = {r["term"]: r["df"]
             for r in synth_engine.index.table("dictionary").collect()}
    cands = sorted(((_py_levenshtein(t, "neede"), -df, t)
                    for t, df in vocab.items()
                    if _py_levenshtein(t, "neede") <= 2))
    want = [(t, -negdf, d) for d, negdf, t in cands[:3]]
    assert [(r["term"], r["df"], r["dist"]) for r in rows] == want
    # an exact vocabulary hit always ranks first
    first = synth_engine.suggest("needle", k=3, max_edits=2).collect()[0]
    assert (first["term"], first["dist"]) == ("needle", 0)


def test_fuzzy_rejects_unnormalizable_token(synth_engine):
    import pytest
    with pytest.raises(ValueError):
        synth_engine.fuzzy_terms("...", max_edits=1)
    with pytest.raises(ValueError):
        synth_engine.fuzzy_terms("needle", max_edits=-1)


def test_correct_terms_batch_equals_per_token_suggest(synth_engine):
    from information_retrieval_spark.normalize import normalize
    toks = ["neede", "haystck", "sym0", "zzzzzzzzzz"]
    m = synth_engine.correct_terms(toks, max_edits=2)
    for tok in toks:
        t = normalize(tok)
        top = synth_engine.suggest(tok, k=1, max_edits=2).collect()
        if top:
            assert m[t] == top[0]["term"], tok
        else:
            assert t not in m, tok


def test_search_corrected_equals_bm25_of_corrections(synth_engine):
    q = "neede haystck"
    m = synth_engine.correct_terms(q.split(), max_edits=2)
    assert len(m) == 2  # both tokens found a correction
    page = synth_engine.search_corrected(q, k=10).collect()
    base = synth_engine._bm25_for_terms(
        sorted(set(m.values())), k=10, wand=True,
        wand_gate_blocks=16384).collect()
    assert [(r["docID"], r["score"]) for r in page] \
        == [(r["docID"], r["score"]) for r in base]
    # an exact-vocabulary query corrects to itself end to end
    self_page = synth_engine.search_corrected("needle haystack", k=10).collect()
    bm = synth_engine.bm25("needle haystack", k=10).collect()
    assert [(r["docID"], r["score"]) for r in self_page] \
        == [(r["docID"], r["score"]) for r in bm]


def test_search_corrected_all_uncorrectable_is_empty(synth_engine):
    assert synth_engine.search_corrected(
        "zzzzzzzzzz qqqqqqqqqqqq", k=5).collect() == []


# --- proximity-boosted rerank (QueryEngine.bm25_proximity) --------------

def _py_window_from_postings(oracle, d, terms):
    occ = sorted((p, t) for t in terms
                 for p in oracle.postings.get(t, {}).get(d, []))
    present = {t for _, t in occ}
    if not present:
        return None
    best = None
    for si, (s, _) in enumerate(occ):
        seen = set()
        for e, w in occ[si:]:
            seen.add(w)
            if seen == present:
                cand = (e - s, s, e)
                if best is None or cand[:2] < best[:2]:
                    best = cand
                break
    return best[1], best[2], len(present)


@pytest.mark.parametrize("q", ["needle haystack", "sym0 sym1 sym2"])
def test_bm25_proximity_matches_python_rerank(synth_engine, synth_oracle, q):
    from information_retrieval_spark.normalize import normalize
    k, pool, alpha = 10, 25, 1.0
    got = [(r["docID"], r["score"]) for r in synth_engine.bm25_proximity(
        q, k=k, pool=pool, alpha=alpha).collect()]
    terms = sorted({t for t in (normalize(w) for w in q.split())
                    if t is not None and t in synth_oracle.postings})
    page = synth_oracle._score_terms(terms)[:pool]
    rer = []
    for d, s in page:
        ws, we, nt = _py_window_from_postings(synth_oracle, d, terms)
        rer.append((d, round(s + alpha * (nt - 1) / (we - ws + 1), 6)))
    rer.sort(key=lambda x: (-x[1], x[0]))
    assert got == rer[:k]


def test_bm25_proximity_single_term_equals_bm25_rounded(synth_engine):
    # one-term queries earn no bonus: the reranked page IS the bm25
    # page with scores rounded
    base = [(r["docID"], round(r["score"], 6))
            for r in synth_engine.bm25("needle", k=10).collect()]
    prox = [(r["docID"], r["score"])
            for r in synth_engine.bm25_proximity("needle", k=10).collect()]
    assert prox == base


def test_pipeline_curate_gate_composition(spark):
    # the composed end-to-end gate: rejected docs emit 0 tokens out;
    # kept docs emit exactly the span-cut kept count (== tokens in for
    # docs untouched by span surgery)
    import __spark_entry__ as entry
    out = {r["id"]: r.asDict()
           for r in entry.queries()["pipeline_curate"](
               spark, "/root/testdata/sf0.001").collect()}
    from information_retrieval_spark import dedup, textstats
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cur = {r["id"]: r.asDict() for r in textstats.curation_report(
        docs, lang="en", min_tokens=30, min_quality=0.7,
        max_dup_line=0.2, max_dup_ngram=0.05).collect()}
    assert set(out) == set(cur)
    kept_ids = {i for i, c in cur.items() if c["kept"]}
    from pyspark.sql import functions as F
    cut = {r["id"]: r["n_kept_tokens"] for r in dedup.cut_duplicated_spans(
        docs.join(spark.createDataFrame([(i,) for i in kept_ids],
                                        "doc_id long"), "doc_id"),
        k=8).collect()}
    for i, row in out.items():
        assert row["stage_reason"] == cur[i]["reason"]
        assert row["n_tokens_in"] == cur[i]["n_ws_tokens"]
        want_out = cut[i] if i in kept_ids else 0
        assert row["n_tokens_out"] == want_out, (i, row)
    assert any(v["n_tokens_out"] == 0 and v["stage_reason"] != "ok"
               for v in out.values())
