"""The two workloads. Each one is a closed loop from one client thread:
every call is issued only after the previous one returned.

Both workloads play the same four roles, so they report the same
end-to-end metrics (README.md has the full table):

    role      index                              curate
    write     IndexBuilder.build                 curation_report -> cut spans
                                                 -> IncrementalDeduper.append
    read      BM25 top-10 and set queries        IncrementalDeduper.probe
    update    IncrementalIndexer.append_batch    IncrementalDeduper.append
    maintain  IncrementalIndexer.compact_minor   IncrementalDeduper.compact

The write pass and the warm-up calls belong to the set-up; the reads
run in a timed window of at least `--seconds`, and the update and
maintenance calls are timed one by one. On `index` the update and the
maintenance come first and the reads run on the live index they leave,
so every read also checks them. A run has to fit the time budget that
README.md explains, so each workload makes only the calls its metrics
and answer checks need.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np

import expected
import gen

# sizes (documents); README.md explains how they were chosen
INDEX_DOCS = 1500
INDEX_BATCH = 150
CURATE_DOCS = 400
PROBE_CHUNKS = 3

# the read stream repeats this cycle: one BM25 query per band (head, mid,
# tail) and one query of each set-query class. The timed window ends on a
# whole cycle, so every window times every class, and its throughput is
# over the same mix whatever the seed or the host speed. A 60/40 mix of
# BM25 and set queries would need a 10-read cycle (~9 s) to hold every
# class, too long for the run's time budget
READ_CYCLE = ("bm25_head", "boolean", "bm25_mid", "positional", "bm25_tail",
              "phrase", "joker")
# the untimed warm-up before the window: the first BM25 query and the
# first set query on an engine pay ~0.7 s of one-off planning, code
# generation and table caching; the other classes' first calls pay
# under 0.3 s more
WARMUP = ("bm25_head", "boolean")


class Call:
    __slots__ = ("role", "cls", "seconds", "error", "ok")

    def __init__(self, role, cls, seconds, error):
        self.role, self.cls, self.seconds, self.error = role, cls, seconds, error
        self.ok = error is None


class Client:
    """Issues calls one at a time, times each, and wraps it in a trace
    span named after the layer it enters."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.calls: list = []

    # trace phase of the calls that are not one of the four timed roles
    PHASE = {"warmup": "session", "after": "maintain"}

    def call(self, role: str, cls: str, span: str, fn):
        with self.tracer.span(span, self.PHASE.get(role, role)):
            t0 = time.perf_counter()
            try:
                out, err = fn(), None
            except Exception as e:  # counted as a failed call, run goes on
                out, err = None, f"{type(e).__name__}: {e}"
            dt = time.perf_counter() - t0
        c = Call(role, cls, dt, err)
        self.calls.append(c)
        return c, out


def du(path: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


# -- index -----------------------------------------------------------------

def _query(c: gen.CodeCorpus, rng: np.random.Generator, cls: str,
           k: int = 0) -> str:
    """One query of class `cls`; `k` (the class's occurrence number in the
    stream) picks the boolean shape, so every window sees the same
    shapes whatever the seed."""
    b = c.bands

    def pick(band, k):
        return [str(w) for w in rng.choice(b[band], size=k, replace=False)]

    if cls == "bm25_head":
        return " ".join(pick("head", 3))
    if cls == "bm25_mid":
        return " ".join(pick("mid", 3))
    if cls == "bm25_tail":
        return " ".join(pick("tail", 2))
    if cls == "boolean":
        h1, h2 = pick("head", 2)
        m1, m2 = pick("mid", 2)
        return [f"{h1} AND {m1}", f"{h1} AND {m1} OR {m2} AND NOT {h2}",
                f"{m1} OR {m2}", f"{h1} AND NOT {h2}"][k % 4]
    if cls == "positional":
        a, bb, gap = c.pairs[int(rng.integers(len(c.pairs)))]
        return f"{a} /{gap} {bb}"
    if cls == "phrase":
        return " ".join(c.phrases[int(rng.integers(len(c.phrases)))])
    # joker: a prefix wildcard intersected with a head term
    pre = c.prefixes[int(rng.integers(len(c.prefixes)))]
    return f"{pre}* {pick('head', 1)[0]}"


def _query_stream(c: gen.CodeCorpus, rng: np.random.Generator, n: int) -> list:
    seen: dict = {}
    out = []
    for i in range(n):
        cls = READ_CYCLE[i % len(READ_CYCLE)]
        seen[cls] = seen.get(cls, -1) + 1
        out.append((cls, _query(c, rng, cls, seen[cls])))
    return out


def _engine_answer(qe, cls: str, q: str, names: list) -> list:
    """Run one read; BM25 -> [(name, score)], set queries -> [name]
    (docIDs mapped through `names`, the (repo, path) rank order)."""
    if cls.startswith("bm25"):
        return [(r["name"], r["score"])
                for r in qe.bm25(q, k=10, wand=True).collect()]
    rows = getattr(qe, f"{cls}_docs")(q).collect()
    return [names[r["docID"]] for r in rows]


def _names(docs: list) -> list:
    return [p.split("/")[-1] for _, p in sorted((d[0], d[1]) for d in docs)]


def _load_warming_workers(spark, path: str):
    """Cache the input in 8 partitions, in a job that also passes it
    through a pandas UDF: the JVM's first job and the start of every
    Python worker are paid here, once, and not by the build's first
    Arrow kernel. One job instead of the package's
    `warm_python_workers` followed by a load saves ~3 s a run. No
    `curate` call runs in a Python worker."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def n_chars(s):
        return s.str.len()

    docs = spark.read.parquet(path).repartition(8).cache()
    docs.select(F.sum(n_chars("content"))).collect()
    return docs


def run_index(ctx, seed: int, seconds: float) -> dict:
    from information_retrieval_spark.build import IndexBuilder, IndexConfig
    from information_retrieval_spark.query import QueryEngine
    from information_retrieval_spark.streaming.incremental import IncrementalIndexer

    corpus = gen.code_corpus(seed, INDEX_DOCS)
    batch = gen.code_corpus(seed, INDEX_BATCH, stream=1, first_doc=INDEX_DOCS,
                            repo="stream")
    p_base = gen.cached_parquet(ctx.cache, f"code-s{seed}-n{INDEX_DOCS}",
                                corpus.docs, gen.CODE_SCHEMA)
    p_batch = gen.cached_parquet(ctx.cache, f"code-s{seed}-batch{INDEX_BATCH}",
                                 batch.docs, gen.CODE_SCHEMA)
    rng = np.random.default_rng([seed, 4])
    warm = [(cls, _query(corpus, rng, cls)) for cls in WARMUP]
    stream = _query_stream(corpus, rng, 100)  # a window takes 7-14
    names = _names(corpus.docs + batch.docs)
    # expected answers of the live index, computed before Spark starts
    want = expected.oracle_answers(
        os.path.join(ctx.cache, f"expect-v{gen.GEN_VERSION}-live-s{seed}"
                                f"-n{INDEX_DOCS}-b{INDEX_BATCH}"),
        corpus.docs + batch.docs, warm + stream)

    cl = Client(ctx.tracer)
    idx_dir = os.path.join(ctx.work, "index")

    # -- set-up: session, input load, write pass ------------------------
    t_setup = time.perf_counter()
    spark = ctx.start_session()
    with ctx.tracer.span("session.load", "session"):
        docs = _load_warming_workers(spark, p_base)
    w, _ = cl.call("write", "build", "build.build", lambda: IndexBuilder(
        spark, idx_dir, IndexConfig()).build(docs, resume=False))
    if not w.ok:
        raise RuntimeError(f"index build failed: {w.error}")
    stored = du(idx_dir)
    setup_s = time.perf_counter() - t_setup

    # -- timed: one update, one maintenance -----------------------------
    inc = IncrementalIndexer(spark, idx_dir, IndexConfig())
    bdf = spark.read.parquet(p_batch)
    upd, _ = cl.call("update", "append_batch", "streaming.incremental.append_batch",
                     lambda: inc.append_batch(bdf, batch_id=0))
    # the O(new segments) merge a live index runs every few batches; the
    # O(index) compact() is a second full build, which the run's time
    # budget does not allow next to the timed build
    mnt, _ = cl.call("maintain", "compact_minor",
                     "streaming.incremental.compact_minor", inc.compact_minor)
    postings_files = len(glob.glob(os.path.join(
        inc.store.path("postings"), "**", "*.parquet"), recursive=True))

    # -- set-up of the reads: open the live index, warm-up queries ------
    # The reads run on the live index (the base segment plus the merged
    # new one), so every read also checks the append and the merge.
    # Spark serves a cached file relation by plan, not by the files now
    # in the directory (README.md, last section): drop every cache
    # before the engine opens
    t_open = time.perf_counter()
    with ctx.tracer.span("query.open", "session"):
        spark.catalog.clearCache()
        qe = QueryEngine(inc.index())
    warm_out = [cl.call("warmup", cls, f"query.{cls}",
                        lambda c=cls, q=q: _engine_answer(qe, c, q, names))
                for cls, q in warm]
    setup_s += time.perf_counter() - t_open

    # -- timed: reads for at least `seconds`, in whole cycles -----------
    reads = []
    t0 = time.perf_counter()
    for i, (cls, q) in enumerate(stream):
        if i % len(READ_CYCLE) == 0 and time.perf_counter() - t0 >= seconds:
            break
        reads.append(cl.call("read", cls, f"query.{cls}",
                             lambda c=cls, q=q: _engine_answer(qe, c, q, names)))
    read_wall = time.perf_counter() - t0
    n_reads = len(reads)

    # -- checks, outside every timed window -----------------------------
    ctx.stop_session()
    for (call, out), (cls, q), exp in zip(warm_out + reads, warm + stream, want):
        if call.ok and not expected.same_answer(cls, out, exp):
            call.ok = False
            call.error = f"wrong answer to {q!r}: got {out!r:.300} want {exp!r:.300}"
    bm25 = [c.seconds for c, _ in reads if c.cls.startswith("bm25")]
    setq = [c.seconds for c, _ in reads if not c.cls.startswith("bm25")]
    return {
        "setup_s": setup_s,
        "write_docs_per_s": INDEX_DOCS / w.seconds,
        "stored_bytes_per_input_byte": stored / corpus.input_bytes,
        # the primary read's median; set queries count in reads_per_s
        "read_p50_s": _median(bm25),
        "reads_per_s": n_reads / read_wall,
        "update_s": upd.seconds,
        "maintain_s": mnt.seconds,
        "details": {
            "build_docs_per_s": INDEX_DOCS / w.seconds,
            "index_bytes_per_input_byte": stored / corpus.input_bytes,
            "search_qps": n_reads / read_wall,
            "bm25_p50_s": _median(bm25), "setq_p50_s": _median(setq),
            "bm25_n": len(bm25), "setq_n": len(setq),
            "append_s": upd.seconds, "compact_minor_s": mnt.seconds,
            "live_query_p50_s": _median([c.seconds for c, _ in reads]),
            "postings_files": postings_files,
            "batch_input_bytes": sum(len(d[4].encode()) for d in batch.docs),
            **{f"{cls}_p50_s": _median([c.seconds for c, _ in reads if c.cls == cls])
               for cls in READ_CYCLE},
        },
        "calls": cl.calls,
    }


# -- curate ----------------------------------------------------------------

def run_curate(ctx, seed: int, seconds: float) -> dict:
    from pyspark.sql import functions as F

    from information_retrieval_spark import dedup, sampling, textstats
    from information_retrieval_spark.streaming.dedup import IncrementalDeduper

    corpus = gen.prose_corpus(seed, CURATE_DOCS)
    p_docs = gen.cached_parquet(ctx.cache, f"prose-s{seed}-n{CURATE_DOCS}",
                                corpus, gen.PROSE_SCHEMA)
    text_bytes = {d[0]: len(d[1].encode()) for d in corpus}
    want = expected.curate_answers(
        os.path.join(ctx.cache, f"expect-v{gen.GEN_VERSION}-curate2-s{seed}-n{CURATE_DOCS}.json"),
        p_docs)
    cl = Client(ctx.tracer)
    store_dir = os.path.join(ctx.work, "dedup_store")

    t_setup = time.perf_counter()
    spark = ctx.start_session()
    with ctx.tracer.span("session.load", "session"):
        docs = spark.read.parquet(p_docs).repartition(4).cache()
        docs.count()
    u = F.expr(sampling.uniform_expr("doc_id", "inc-dd"))
    old = docs.filter(u < 0.8)
    lo = [0.8 + 0.2 * i / PROBE_CHUNKS for i in range(PROBE_CHUNKS + 1)]
    chunks = [docs.filter((u >= lo[i]) & (u < lo[i + 1])) for i in range(PROBE_CHUNKS)]
    dd = IncrementalDeduper(spark, store_dir, num_hashes=16, band_size=4, n=3)

    # write pass: the curation pipeline, then the signature store
    state: dict = {}

    def curation():
        state["cur"] = textstats.curation_report(
            docs, lang="en", min_tokens=30, min_quality=0.7,
            max_dup_line=0.2, max_dup_ngram=0.05).collect()
        return state["cur"]

    def cut():
        kept_ids = spark.createDataFrame(
            [(r["id"],) for r in state["cur"] if r["kept"]], "doc_id long")
        kept = docs.join(kept_ids, "doc_id").localCheckpoint(eager=True)
        return dedup.cut_duplicated_spans(kept, k=8).collect()

    writes = [
        cl.call("write", "curation_report", "textstats.curation_report", curation),
        cl.call("write", "cut_duplicated_spans", "dedup.cut_duplicated_spans", cut),
        cl.call("write", "store_append", "streaming.dedup.append",
                lambda: dd.append(old, 0)),
    ]
    for c, _ in writes:
        if not c.ok:
            raise RuntimeError(f"curation write pass failed: {c.error}")
    write_s = sum(c.seconds for c, _ in writes)
    stored = du(store_dir)

    def probe(i):
        return [(r["id_a"], r["id_b"], r["est_jaccard"])
                for r in dd.probe(chunks[i]).collect()]

    warm_out = cl.call("warmup", "probe", "streaming.dedup.probe", lambda: probe(0))
    setup_s = time.perf_counter() - t_setup

    reads = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        i = len(reads) % PROBE_CHUNKS
        reads.append((i, cl.call("read", "probe", "streaming.dedup.probe",
                                 lambda i=i: probe(i))))
    read_wall = time.perf_counter() - t0
    # the new share arrives as one batch per chunk, and the store is
    # compacted after each batch: three samples of each, where one ~1 s
    # call would leave its median at the mercy of a single hiccup
    updates, compacts = [], []
    for i in range(PROBE_CHUNKS):
        updates.append(cl.call("update", "store_append", "streaming.dedup.append",
                               lambda i=i: dd.append(chunks[i], 1 + i))[0])
        compacts.append(cl.call("maintain", "compact", "streaming.dedup.compact",
                                dd.compact)[0])
    after, n_sigs = cl.call("after", "sigs_count", "streaming.dedup.read",
                            lambda: dd.store.read("sigs").count())
    split = {r["doc_id"]: r["u"] for r in
             docs.select("doc_id", u.alias("u")).collect()}
    ctx.stop_session()

    # -- checks -----------------------------------------------------------
    (c_cur, cur), (c_cut, cut_rows), _ = writes
    if c_cur.ok and c_cut.ok:
        n_out = {r["id"]: r["n_kept_tokens"] for r in cut_rows}
        got = sorted([r["id"], r["reason"], r["n_ws_tokens"], n_out.get(r["id"], 0)]
                     for r in cur)
        if got != want["pipeline"]:
            c_cur.ok = c_cut.ok = False
            c_cur.error = c_cut.error = "wrong answer"
    old_ids = {d for d, v in split.items() if v < 0.8}
    chunk_of = {d: max(i for i in range(PROBE_CHUNKS) if v >= lo[i])
                for d, v in split.items() if v >= 0.8}
    for i, (c, out) in [(0, warm_out)] + reads:
        if not c.ok:
            continue
        members = {d for d, k in chunk_of.items() if k == i}
        exp = [p for p in want["inc_pairs"]
               if (p[0] in members or p[1] in members)
               and {p[0], p[1]} <= (old_ids | members)]
        if sorted([a, b, round(e, 6)] for a, b, e in out) != exp:
            c.ok, c.error = False, "wrong answer"
    if after.ok and n_sigs != CURATE_DOCS:
        after.ok, after.error = False, "wrong answer"
    old_bytes = sum(text_bytes[d] for d in old_ids)
    return {
        "setup_s": setup_s,
        "write_docs_per_s": CURATE_DOCS / write_s,
        "stored_bytes_per_input_byte": stored / old_bytes,
        "read_p50_s": _median([c.seconds for _, (c, _) in reads]),
        "reads_per_s": len(reads) / read_wall,
        "update_s": _median([c.seconds for c in updates]),
        "maintain_s": _median([c.seconds for c in compacts]),
        "details": {
            "curate_docs_per_s": CURATE_DOCS / write_s,
            "probe_n": len(reads),
            **{f"{c.cls}_s": c.seconds for c, _ in writes},
        },
        "calls": cl.calls,
    }


def _median(xs: list) -> float:
    return statistics.median(xs) if xs else float("nan")


WORKLOADS = {"index": run_index, "curate": run_curate}
