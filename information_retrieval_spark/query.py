"""Query engine: boolean / positional / joker / BM25 top-k retrieval.

Reference semantics replicated (with file:line citations into
/root/reference/src/main/java/ukma/ir/QueryProcessor.java):

- boolean  — precedence OR < AND < NOT, no parens; query validated by
  ``\\s*\\w[\\w\\s]*`` (QueryProcessor.java:48-99). Clause evaluation is
  intersect/difference/union over posting doc-sets. Every set query
  (boolean, positional, phrase, joker) runs as ONE Arrow kernel per
  docID bucket over the same block exchange BM25 uses: a bucket holds
  every posting of its docIDs, so sorted-array ∩ / ∖ / ∪ and the
  position probes are exact bucket by bucket (see `_make_set_kernel`).
- positional — grammar ``term (/k term)*``; UNORDERED window
  ``|pos1-pos2| <= k``; a document is accepted if ANY adjacent query
  pair matches in it and the results of all pairs are UNIONED
  (QueryProcessor.java:110-133, 152-179 — pairs are not chained
  transitively); empty result if any term is absent from the dictionary
  (line 120).
- joker — ``a*b``-style wildcards, <=2 stars (QueryProcessor.java:183-250):
  prefix-set ∩ suffix-set of dictionary terms (our dictionary stores
  ``rterm`` instead of the reference's second reversed vocabulary,
  IndexBody.java:142-162), middle segment re-checked as a substring;
  postings of matched terms unioned per token, doc-sets intersected
  across tokens. Deviation (documented in SURVEY.md §2.2 Q13): the reference
  intersects a star-free token into an EMPTY initial set when it comes
  first (QueryProcessor.java:201-207) which always yields {} — we
  implement the intended semantics (the token's postings seed the base
  set like any other). Results are sorted (the reference returns hash
  order).
- BM25 top-k (north-star addition) — score(q,d) = Σ_t idf(t) ·
  tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)), idf = ln(1+(N-df+0.5)/(df+0.5)),
  k1=1.2 b=0.75. Every ranker — BM25, boosted BM25, batched BM25
  (`bm25_many`, one qcode per query) and Dirichlet query-likelihood —
  is ONE rank kernel over the same bucket exchange (see
  `_make_rank_kernel`): decode, per-posting weight, a dense per-bucket
  accumulator, allow/tombstone membership, then a per-bucket top-k that
  keeps kth-score ties. The WAND path prunes blocks with the block-max
  skip structure before any decoding (see `_wand_candidate_blocks`) —
  safe for exact top-k because a pruned block's documents provably
  cannot reach the kth score.
"""

from __future__ import annotations

import re
from functools import partial, reduce
from operator import eq, or_

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import plan_policy
from .build import SEGMENTED_TABLES, Index
from .normalize import normalize

_BOOL_OK = re.compile(r"\s*\w[\w\s]*")
_POS_OK = re.compile(r"\w+(\s+/\d+\s+\w+)*")
_PHRASE_OK = re.compile(r"\w+(\s+\w+)*")
_JOKER_WORD = re.compile(r"(\*?\w+(\*\w+)?)|(\w+\*?\w*(\w\*\w*)?)")

_DECODED_SCHEMA = "term string, docID long, tf int, dl int"
# block columns the scoring kernels / the set kernel read
_SCORE_COLS = ("term", "bucket", "n_docs", "doc_gaps", "tfs", "dls")
_SET_COLS = ("term", "bucket", "n_docs", "doc_gaps")
_DECODED_POS_SCHEMA = "term string, docID long, tf int, dl int, positions array<int>"


def _window_match_batch(a_vals, a_lens, b_vals, b_lens, k) -> np.ndarray:
    """Per row i: does any |a - b| <= k[i] pair exist between row i of
    a and row i of b? Both sides are ragged: flat values, ascending
    within a row, plus per-row lengths (the decoded positions layout).
    Rows are shifted apart by an offset M large enough that they cannot
    collide, then ONE searchsorted + segmented any (reduceat) answers
    every row — no per-row Python loop."""
    n = len(a_lens)
    if not len(a_vals) or not len(b_vals):
        return np.zeros(n, dtype=bool)
    m = int(max(a_vals.max(), b_vals.max())) + int(k.max()) + 2
    arow = np.repeat(np.arange(n), a_lens)
    brow = np.repeat(np.arange(n), b_lens)
    a = a_vals + arow * m  # globally ascending (rows are disjoint)
    b = b_vals + brow * m
    krep = k[brow]
    idx = np.searchsorted(a, b - krep, side="left")
    ok = idx < len(a)
    hit = np.zeros(len(b), dtype=bool)
    # a[idx] of a LATER row exceeds b+k by construction of m, so no
    # same-row mask is needed
    hit[ok] = a[idx[ok]] <= (b + krep)[ok]
    b_starts = np.zeros(n, dtype=np.int64)
    b_starts[1:] = np.cumsum(b_lens[:-1])
    # empty segments: reduceat reads the NEXT segment's first value, and
    # a trailing-empty start equals len(hit) which reduceat rejects. A
    # False sentinel keeps every start index valid WITHOUT moving any
    # real segment boundary (clamping the index instead would truncate
    # the preceding row's segment — a bug hypothesis caught), and the
    # b_lens==0 mask erases the leaked verdicts of mid-batch empties.
    out = np.logical_or.reduceat(
        np.concatenate([hit, np.zeros(1, dtype=bool)]), b_starts)
    out[b_lens == 0] = False
    return out


def _shift_member_batch(a_vals, a_lens, b_vals, b_lens, k):
    """Per row i: keep x in row i of a iff x + k[i] occurs in row i of
    b — the phrase chain's step, over _window_match_batch's ragged
    layout and returning the kept (values, lengths) in it. Rows are
    shifted apart as there, so ONE sorted-membership test answers every
    probe."""
    n = len(a_lens)
    if not len(a_vals) or not len(b_vals):
        return a_vals[:0], np.zeros(n, dtype=np.int64)
    arow = np.repeat(np.arange(n), a_lens)
    brow = np.repeat(np.arange(n), b_lens)
    v = a_vals + k[arow]  # the position the next term must occupy
    m = int(max(v.max(), b_vals.max())) + 2
    hit = _member(b_vals + brow * m, v + arow * m)
    return a_vals[hit], np.bincount(arow[hit], minlength=n)


# shared with build's compaction kernel (codec owns the buffer-level
# varbyte helpers; query/build both import them)
from .codec import flat_decode as _flat_decode  # noqa: E402
from .codec import member as _member  # noqa: E402
from .codec import segmented_cumsum as _segmented_cumsum  # noqa: E402


def _decode_iter(batches, with_positions: bool):
    """mapInArrow kernel: posting blocks -> exploded postings.

    ONE buffer-level vb_decode call per column per BATCH (the same
    _flat_decode shape as the BM25 kernel — the round-4 version looped
    per block over to_pylist() blobs): docIDs come from a single
    segmented gap-cumsum keyed on n_docs, positions from a second one
    keyed on tf. Output rows are assembled straight into Arrow buffers
    (term strings via a dictionary take — no per-posting Python
    objects)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for rb in batches:
        if rb.num_rows == 0:
            continue
        n_rows = rb.num_rows
        col = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}
        n_docs, docs = _decode_docs(col, n_rows)
        t = _flat_decode(col["tfs"], n_rows).astype(np.int64)
        l = _flat_decode(col["dls"], n_rows).astype(np.int64)
        idx = pa.array(np.repeat(np.arange(n_rows, dtype=np.int64), n_docs))
        arrays = [
            pc.take(col["term"], idx),
            pa.array(docs, type=pa.int64()),
            pa.array(t.astype(np.int32), type=pa.int32()),
            pa.array(l.astype(np.int32), type=pa.int32()),
        ]
        out_names = ["term", "docID", "tf", "dl"]
        if with_positions:
            pg = _flat_decode(col["pos_gaps"], n_rows).astype(np.int64)
            pos_vals = _segmented_cumsum(pg, t).astype(np.int32)
            offsets = np.zeros(len(t) + 1, dtype=np.int32)
            offsets[1:] = np.cumsum(t)
            arrays.append(pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(pos_vals, type=pa.int32())))
            out_names.append("positions")
        yield pa.RecordBatch.from_arrays(arrays, names=out_names)


def _decode_docs(col, n_rows: int):
    """(n_docs per block, absolute docID per posting) of a block batch:
    one buffer-level varbyte decode plus one segmented gap-cumsum."""
    n_docs = col["n_docs"].to_numpy(zero_copy_only=False).astype(np.int64)
    g = _flat_decode(col["doc_gaps"], n_rows).astype(np.int64)
    return n_docs, _segmented_cumsum(g, n_docs)


class _BucketPostings:
    """The set kernel's view of decoded postings: `member[p, s]` says
    posting p's term belongs to query slot s, `doc[p]` is its docID and
    `pos[off[p]:off[p] + tf[p]]` its ascending positions."""

    def __init__(self, member, doc, tf=None, pos=None):
        self.member, self.doc, self.tf, self.pos = member, doc, tf, pos
        if tf is not None:
            self.off = np.cumsum(tf) - tf

    def docs(self, s: int) -> np.ndarray:
        """Sorted docIDs of slot s."""
        return np.unique(self.doc[self.member[:, s]])

    def positions(self, s: int, d: np.ndarray):
        """Ragged (values, lengths) positions of the one-term slot s in
        each doc of the sorted set d ⊆ docs(s)."""
        idx = np.flatnonzero(self.member[:, s])
        idx = idx[np.argsort(self.doc[idx])]
        idx = idx[np.isin(self.doc[idx], d, assume_unique=True)]
        lens = self.tf[idx]
        first = np.repeat(self.off[idx] - (np.cumsum(lens) - lens), lens)
        return self.pos[first + np.arange(int(lens.sum()))], lens


def _bucket_runs(batches):
    """Group a bucket-sorted stream of block batches into runs of
    COMPLETE docID buckets, one column dict per run. A bucket's blocks
    can straddle Arrow batches, so the rows of a batch's last bucket are
    held until a later bucket shows up; the complete buckets before it
    go out together (docIDs of different buckets never meet)."""
    import pyarrow as pa

    def run(rows):
        tbl = pa.Table.from_batches(rows).combine_chunks()
        return {nm: tbl.column(nm).chunk(0) for nm in tbl.column_names}

    held, held_bucket = [], None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        bucket = rb.column("bucket").to_numpy(zero_copy_only=False)
        last = bucket[-1]
        cut = int(np.searchsorted(bucket, last))
        if cut or (held and held_bucket != last):
            yield run(held + [rb.slice(0, cut)])
            held = []
        held.append(rb.slice(cut))
        held_bucket = last
    if held:
        yield run(held)


def _make_set_kernel(matchers, evaluate, with_positions: bool,
                     excluded=None):
    """mapInArrow kernel of the set queries: compressed posting blocks
    (repartitioned + sorted by docID bucket) -> accepted docIDs.

    `matchers` holds one term predicate per query slot (a term, or a
    joker token's pattern), so a slot's docs are the union over its
    matching terms; `evaluate(_BucketPostings)` returns the accepted
    sorted docIDs. The complete buckets of each `_bucket_runs` run
    decode and evaluate together. Tombstoned docIDs (`excluded`,
    sorted) drop inside the kernel, as in the rankers'."""
    import pyarrow as pa
    import pyarrow.compute as pc

    classes: dict = {}  # term -> its slot-membership row

    def kernel(batches):
        for col in _bucket_runs(batches):
            n_rows = len(col["term"])
            n_docs, doc = _decode_docs(col, n_rows)
            enc = pc.dictionary_encode(col["term"])
            rows_of = np.array(
                [classes.setdefault(t, [m(t) for m in matchers])
                 for t in enc.dictionary.to_pylist()],
                dtype=bool).reshape(-1, len(matchers))
            member = np.repeat(rows_of[enc.indices.to_numpy(
                zero_copy_only=False)], n_docs, axis=0)
            if with_positions:
                tf = _flat_decode(col["tfs"], n_rows).astype(np.int64)
                pos = _segmented_cumsum(
                    _flat_decode(col["pos_gaps"], n_rows), tf)
                found = evaluate(_BucketPostings(member, doc, tf, pos))
            else:
                found = evaluate(_BucketPostings(member, doc))
            if excluded is not None:
                found = found[~_member(excluded, found)]
            if len(found):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(found, type=pa.int64())], names=["docID"])

    return kernel


def _query_terms(query: str) -> list:
    """Sorted distinct normalized terms of a free-text query."""
    return sorted({t for t in map(normalize, re.split(r"\s+", query.strip()))
                   if t is not None})


def _exact(terms) -> list:
    """Set-kernel matchers of slots that are single terms."""
    return [partial(eq, t) for t in terms]


def _joker_match(pre: str, mid, suf, term: str) -> bool:
    """Does `term` match a joker token? A star-free token (mid None) is
    its normalized term; a wildcard token needs the prefix, the suffix
    and, between two stars, the middle anywhere in the term (the
    reference's `.*mid.*` re-check)."""
    if mid is None:
        return term == pre
    return term.startswith(pre) and term.endswith(suf) and mid in term


def _intersect(doc_sets) -> np.ndarray:
    return reduce(lambda a, b: np.intersect1d(a, b, assume_unique=True),
                  doc_sets)


def _eval_boolean(dnf, p: _BucketPostings) -> np.ndarray:
    """∪ over OR-clauses of (∩ include slots) ∖ (∪ exclude slots)."""
    out = np.empty(0, dtype=np.int64)
    for inc, exc in dnf:
        d = _intersect(p.docs(s) for s in inc)
        for s in exc:
            d = np.setdiff1d(d, p.docs(s), assume_unique=True)
        out = np.union1d(out, d)
    return out


def _eval_positional(pairs, p: _BucketPostings) -> np.ndarray:
    """Docs where ANY adjacent pair (a, b, k) has |pos_a - pos_b| <= k;
    pair results are unioned, not chained (QueryProcessor.java:126-129)."""
    out = np.empty(0, dtype=np.int64)
    for a, b, k in pairs:
        d = np.intersect1d(p.docs(a), p.docs(b), assume_unique=True)
        hit = _window_match_batch(*p.positions(a, d), *p.positions(b, d),
                                  np.full(len(d), k, dtype=np.int64))
        out = np.union1d(out, d[hit])
    return out


def _eval_phrase(slots, p: _BucketPostings) -> np.ndarray:
    """Docs holding the slots' terms at consecutive positions: a start
    x survives slot i iff x + i is one of slot i's positions, so the
    carried start set only shrinks."""
    d = _intersect(p.docs(s) for s in set(slots))
    starts = p.positions(slots[0], d)
    for i in range(1, len(slots)):
        starts = _shift_member_batch(*starts, *p.positions(slots[i], d),
                                     np.full(len(d), i, dtype=np.int64))
    return d[starts[1] > 0]


def _min_window_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel (one group == one doc): minimal covering
    window over the doc's query-term occurrences via the classic
    two-pointer sweep — O(occ log occ). Every (l, r) candidate the
    shrink loop visits is recorded, so the global (length, start)
    lexicographic minimum is exact and deterministic."""
    lens = [len(x) for x in pdf["positions"]]
    pos = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in pdf["positions"]])
    tid = np.repeat(pd.factorize(pdf["term"])[0], lens)
    order = np.argsort(pos, kind="stable")
    p, t = pos[order], tid[order]
    need = int(t.max()) + 1
    cnt = np.zeros(need, dtype=np.int64)
    covered, lo, best = 0, 0, None
    for r in range(len(p)):
        if cnt[t[r]] == 0:
            covered += 1
        cnt[t[r]] += 1
        while covered == need:
            cand = (int(p[r] - p[lo]), int(p[lo]), int(p[r]))
            if best is None or cand[:2] < best[:2]:
                best = cand
            cnt[t[lo]] -= 1
            if cnt[t[lo]] == 0:
                covered -= 1
            lo += 1
    return pd.DataFrame({"docID": [int(pdf["docID"].iloc[0])],
                         "win_start": [best[1]], "win_end": [best[2]],
                         "n_terms": [need]})


_RANK_SCHEMA = "qcode int, docID long, score double"


def _lone(params: dict) -> dict:
    """Rank-kernel term_info of a lone query (qcode 0) from its
    term -> weight parameter map."""
    lone = np.zeros(1, dtype=np.int64)
    return {t: (lone, p) for t, p in params.items()}


def _bm25_weight(k1: float, b: float, avgdl: float, idf, tf, dl):
    """Per-posting BM25 contribution
    idf·tf(k1+1)/(tf + k1(1-b+b·dl/avgdl))."""
    return idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)))


def _qlm_weight(w, tf, dl):
    """Per-posting query-likelihood contribution ln(1 + tf/w_t)."""
    return np.log(1.0 + tf / w)


def _qlm_finalize(mu: float, qlen: int, score, dl):
    """QLM's per-doc length term |q|·(ln mu - ln(mu + dl)), added once
    per candidate doc (see QueryEngine.qlm for the decomposition)."""
    return score + qlen * (np.log(mu) - np.log(mu + dl))


def _cut_topk(score, k) -> np.ndarray:
    """Mask of the scores that reach the kth best — every kth-score tie
    stays, so the global (score desc, docID asc) order downstream is
    exact. k=None keeps every score."""
    if k is None or len(score) <= k:
        return np.ones(len(score), dtype=bool)
    return score >= np.partition(score, len(score) - k)[len(score) - k]


def _make_rank_kernel(term_info: dict, weight, docs_per_bucket: int, k,
                      allowed=None, excluded=None, finalize=None):
    """mapInArrow kernel of every ranker (BM25, boosted and batched BM25,
    query-likelihood): compressed posting blocks (repartitioned by docID
    bucket, sorted by bucket and term) -> per-(query, bucket) exact top-k
    rows (qcode, docID, score).

    `term_info` maps each term to (the qcodes of the queries holding
    it, its weight parameter); a lone query is qcode 0.
    `weight(param, tf, dl)` is the per-posting contribution (BM25
    idf·tfn, QLM ln(1+tf/w_t)) and `finalize(score, dl)` an optional
    per-doc term added after the sum (QLM's length term).

    A bucket is a complete docID range: every posting of a docID lives
    in that docID's bucket, so per-bucket sums are the FINAL per-doc
    scores and a per-bucket top-k is globally safe. Each run of complete
    buckets (`_bucket_runs`) decodes and weighs its postings once, so a
    term shared across a batch is decoded and weighted once. Per bucket
    and query, a dense accumulator indexed by local docID sums the
    scores of the query's terms. Contributions are strictly positive,
    so the accumulator's non-zeros are exactly the candidate docs.
    Then, before the cut: `allowed` (sorted int64, bm25_within) keeps
    only its members and `excluded` (sorted int64, pending streaming
    deletes) drops its members, so neither a disallowed nor a deleted
    doc can shadow a live one out of the page. `k=None` disables the
    cut (the emit-all path of an over-cap tombstone set or a broad allow
    list)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    dpb = docs_per_bucket

    def score_bucket(base, code, local, w, dl, qcs):
        """(qcode, docID, score) parts of one bucket's cut; `code`
        indexes a posting's term in `qcs`, its queries' qcodes. The
        exchange sorts a bucket's blocks by term and a term lists a doc
        at most once, so each of a query's terms adds its postings
        straight into the query's dense row: no posting is copied per
        query, and a bucket holds one row of docs_per_bucket doubles at
        a time whatever the batch width."""
        seg = np.flatnonzero(np.diff(code, prepend=-1))
        spans: dict = {}  # qcode -> its terms' posting ranges
        for s, e in zip(seg, np.append(seg[1:], len(code))):
            for q in qcs[code[s]]:
                spans.setdefault(int(q), []).append((s, e))
        if finalize is not None:
            dlv = np.zeros(dpb)
            dlv[local] = dl  # every posting of a doc stores its dl
        parts = []
        for q, ranges in sorted(spans.items()):
            acc = np.zeros(dpb)
            for s, e in ranges:
                acc[local[s:e]] += w[s:e]
            loc = np.flatnonzero(acc)
            if allowed is not None:
                loc = loc[_member(allowed, base + loc)]
            if excluded is not None:
                loc = loc[~_member(excluded, base + loc)]
            score = acc[loc]
            if finalize is not None:
                score = finalize(score, dlv[loc])
            top = _cut_topk(score, k)
            parts.append((np.full(int(top.sum()), q), base + loc[top],
                          score[top]))
        return parts

    def kernel(batches):
        for col in _bucket_runs(batches):
            n_rows = len(col["term"])
            n_docs, doc = _decode_docs(col, n_rows)
            tf = _flat_decode(col["tfs"], n_rows).astype(np.float64)
            dl = _flat_decode(col["dls"], n_rows).astype(np.float64)
            enc = pc.dictionary_encode(col["term"])
            qcs, params = zip(*(term_info[t]
                                for t in enc.dictionary.to_pylist()))
            code = np.repeat(enc.indices.to_numpy(zero_copy_only=False),
                             n_docs)
            w = weight(np.asarray(params)[code], tf, dl)
            bucket = np.repeat(col["bucket"].to_numpy(zero_copy_only=False)
                               .astype(np.int64), n_docs)
            local = doc - bucket * dpb
            starts = np.flatnonzero(np.diff(bucket, prepend=-1))
            parts = []
            for s, e in zip(starts, np.append(starts[1:], len(bucket))):
                parts += score_bucket(int(bucket[s]) * dpb, code[s:e],
                                      local[s:e], w[s:e], dl[s:e], qcs)
            q, d, sc = (np.concatenate(p) for p in zip(*parts))
            if len(d):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(q, type=pa.int32()),
                     pa.array(d, type=pa.int64()),
                     pa.array(sc, type=pa.float64())],
                    names=["qcode", "docID", "score"])

    return kernel


class QueryEngine:
    def __init__(self, index: Index, cache_tables: bool = True):
        self.index = index
        self.spark = index.spark
        self.stats = index.load_stats()
        # a streaming append links files into the SAME table dirs, and
        # Spark's cache manager matches cached relations by path: refresh
        # them, so this engine never serves an earlier engine's cached
        # pre-append tables or per-query results
        for name in SEGMENTED_TABLES:
            if index.store.exists(name):
                index.store.refresh(name)
        self._postings = index.table("postings")
        self._dictionary = index.table("dictionary")
        self._doc_map = index.table("doc_map")
        # per-(term, bucket) WAND bounds, materialized at build time
        # (absent on pre-v3 indexes -> distributed fallback in _wand_*)
        self._bucket_max = (index.table("bucket_max")
                            if index.store.exists("bucket_max") else None)
        # rterm-sorted twin dictionary for suffix lookups (row-group
        # pruning); falls back to a full dictionary scan on old indexes
        self._dictionary_r = (index.table("dictionary_r")
                              if index.store.exists("dictionary_r")
                              else self._dictionary.select("rterm", "term", "df"))
        if cache_tables:
            # dictionary + doc_map are the per-query driver round-trip
            # tables; pinning them turns every term_stats/_names lookup
            # into a memory scan. Analogue on a cluster: a dimension-table
            # cache on the executors. Lazy — first query materializes.
            self._dictionary = self._dictionary.cache()
            self._doc_map = self._doc_map.cache()
        # tombstones: docIDs deleted by streaming delete batches, pending
        # physical removal at the next compaction (Lucene-style: dictionary
        # stats/N/avgdl stay as-built until then — documented semantics).
        # Small sets (the steady state between compactions) ship into the
        # scoring and set kernels as a sorted array, exact BEFORE the
        # top-k cut. An over-cap set keeps the relational anti-join path
        # only (the rankers then score emit-all, see _rank).
        self._tombstones = None
        self._tomb_arr = None
        if index.store.exists("tombstones"):
            t = index.table("tombstones").select("docID").distinct()
            head = t.limit(self.TOMBSTONE_PUSHDOWN_DOCS + 1).collect()
            if len(head) == 0:
                pass  # cleared by compaction: no live deletes
            elif len(head) <= self.TOMBSTONE_PUSHDOWN_DOCS:
                self._tombstones = t
                self._tomb_arr = np.sort(np.fromiter(
                    (r[0] for r in head), dtype=np.int64, count=len(head)))
            else:
                self._tombstones = t
        self._term_cache: dict = {}  # term -> dictionary row (None = absent)

    # tombstone sets at or below this ship to the kernels as a sorted
    # int64 array (same cap as the bm25_filtered pushdown); larger sets
    # stay relational
    TOMBSTONE_PUSHDOWN_DOCS = 1 << 21

    def _live(self, docs: DataFrame) -> DataFrame:
        """Drop tombstoned docIDs from a docID-keyed relation (exact for
        a full result set: a post-hoc anti-join loses nothing). No-op on
        an index with no pending deletes."""
        if self._tombstones is None:
            return docs
        t = self._tombstones
        if self._tomb_arr is not None:  # known-small: broadcast outright
            t = F.broadcast(t)
        return docs.join(t, "docID", "left_anti")

    # ------------------------------------------------------------------
    # postings access
    # ------------------------------------------------------------------
    def blocks_for(self, terms) -> DataFrame:
        terms = sorted(set(terms))
        return self._postings.filter(F.col("term").isin(terms))

    def postings_for(self, terms, with_positions: bool = False) -> DataFrame:
        """Decoded postings (term, docID, tf, dl[, positions]) for a term set."""
        blocks = self.blocks_for(terms)
        schema = _DECODED_POS_SCHEMA if with_positions else _DECODED_SCHEMA
        return blocks.mapInArrow(
            lambda it: _decode_iter(it, with_positions), schema=schema)

    def term_stats(self, terms) -> dict:
        """Dictionary rows for a term set, with a driver-side per-term
        cache (a dictionary-client cache: terms repeat heavily across an
        interactive query stream; absent terms are cached too). The
        underlying dictionary is immutable for the life of this engine."""
        terms = sorted(set(terms))
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            rows = self._dictionary.filter(F.col("term").isin(missing)).collect()
            found = {r["term"]: r.asDict() for r in rows}
            for t in missing:
                self._term_cache[t] = found.get(t)
        return {t: self._term_cache[t] for t in terms
                if self._term_cache[t] is not None}

    def term_dict_pos(self, term: str) -> int:
        """Ordinal of a term in the sorted dictionary, -1 if absent —
        the reference's getTermDictPos (IndexBody.java:86-88); served
        from the precomputed term_ord column. On a live streaming index
        with uncompacted segments, stored ordinals are only valid as of
        the last compaction (appended terms shift every ordinal after
        them), so the EXACT current ordinal is computed with a rank
        query instead; `IncrementalIndexer.compact()` restores the O(1)
        column path."""
        st = self.term_stats([term])
        if term not in st:
            return -1
        if self.index.is_segmented():
            return int(self._dictionary.filter(F.col("term") < term).count())
        return int(st[term]["term_ord"])

    # ------------------------------------------------------------------
    # fuzzy term match / spell suggest (north-star addition: the
    # reference's vocabulary supports exact/prefix/suffix/joker lookup
    # only — IndexBody.java:86-162; "did you mean" is the missing
    # 2000s-search-box surface over the same dictionary)
    # ------------------------------------------------------------------
    def fuzzy_terms(self, token: str, max_edits: int = 1) -> DataFrame:
        """(term, df, dist): every dictionary term within `max_edits`
        Levenshtein edits of normalize(token).

        Scale shape: the dictionary is the engine's SMALL table (Heaps'
        law — vocabulary grows ~O(corpus^beta), beta<1, while postings
        grow linearly), so fuzzy match is ONE metadata-sized scan that
        never touches postings. Two prunes keep the per-row cost flat:
        a length band |len(term) - len(q)| <= max_edits short-circuits
        almost every row before any DP, and the surviving rows run the
        JVM's BANDED levenshtein(_, _, threshold) builtin (O(len *
        max_edits) per row with early-exit -1, not the full O(len^2)
        matrix). No shuffle: filter + project over the cached
        dictionary; the driver-side top-k in suggest() is the only
        collect."""
        if max_edits < 0:
            raise ValueError("max_edits must be >= 0")
        q = normalize(token)
        if q is None:
            # the token normalizes to nothing (dropped by the admission
            # filter) — same contract as the parsers on bad input
            raise ValueError("incorrect input")
        return (self._dictionary
                .filter(F.abs(F.length("term") - F.lit(len(q)))
                        <= F.lit(max_edits))
                .withColumn("dist",
                            F.levenshtein(F.col("term"), F.lit(q),
                                          max_edits))
                .filter((F.col("dist") >= 0)
                        & (F.col("dist") <= F.lit(max_edits)))
                .select("term", "df", "dist"))

    def suggest(self, token: str, k: int = 8,
                max_edits: int = 2) -> DataFrame:
        """Top-k spelling corrections: nearest first, then most frequent
        (df desc), then term — fully deterministic ordering. An exact
        vocabulary hit ranks first by construction (dist 0)."""
        return (self.fuzzy_terms(token, max_edits)
                .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
                .limit(k))

    def correct_terms(self, tokens, max_edits: int = 2) -> dict:
        """Batch spelling correction: normalized token -> its top
        dictionary correction by suggest()'s deterministic
        (dist asc, df desc, term asc) cut — an exact vocabulary hit is
        its own correction (unique dist 0). Tokens with no dictionary
        term within `max_edits` are absent from the result.

        Scale shape: ONE length-banded dictionary scan covers ALL
        tokens (dictionary × broadcast token list, banded JVM
        levenshtein), then a top-1 window over the per-token candidate
        relation — candidates, not the vocabulary, cross the window.
        """
        qs = sorted({t for t in (normalize(tok) for tok in tokens)
                     if t is not None})
        if not qs:
            return {}
        from pyspark.sql import Window
        tdf = self.spark.createDataFrame([(t,) for t in qs], "q string")
        cand = (self._dictionary.join(F.broadcast(tdf),
                                      F.abs(F.length("term")
                                            - F.length("q"))
                                      <= F.lit(max_edits))
                .withColumn("dist", F.levenshtein(F.col("term"),
                                                  F.col("q"), max_edits))
                .filter((F.col("dist") >= 0)
                        & (F.col("dist") <= F.lit(max_edits))))
        w = Window.partitionBy("q").orderBy(
            F.asc("dist"), F.desc("df"), F.asc("term"))
        top = (cand.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1))
        return {r["q"]: r["term"]
                for r in top.select("q", "term").collect()}

    def search_corrected(self, query: str, k: int = 10,
                         max_edits: int = 2, wand: bool = True) -> DataFrame:
        """Did-you-mean retrieval: every query token is replaced by its
        top spelling correction (correct_terms) and the corrected term
        set runs through the standard BM25 kernel — the search box's
        silent-correction pipeline, end to end. Tokens beyond
        `max_edits` of the whole vocabulary are dropped (same contract
        as dictionary-absent terms in bm25).
        """
        m = self.correct_terms(re.split(r"\s+", query.strip()), max_edits)
        terms = sorted(set(m.values()))
        if not terms:
            return self._empty_scores()
        return self._bm25_for_terms(terms, k, wand, 16384)

    def _names(self, doc_ids: DataFrame) -> DataFrame:
        """docID set -> sorted file names (QueryProcessor.java:95-98:
        getDocName is the path's last component)."""
        name = F.element_at(F.split(F.col("path"), "/"), -1).alias("name")
        return (doc_ids.join(self._doc_map, "docID")
                .select(name).orderBy("name"))

    # ------------------------------------------------------------------
    # boolean
    # ------------------------------------------------------------------
    @staticmethod
    def parse_boolean(q: str):
        """-> list of (include_terms, exclude_terms) per OR-clause
        (QueryProcessor.java:48-60)."""
        if _BOOL_OK.fullmatch(q) is None:
            raise ValueError("incorrect input")
        clauses = []
        for union_part in re.split(r"\s*OR\s*", q):
            inc, exc = [], []
            for token in re.split(r"\s*AND\s*", union_part):
                if token.startswith("NOT"):
                    exc.append(normalize(token[token.rfind(" ") + 1:]))
                else:
                    inc.append(normalize(token))
            clauses.append((inc, exc))
        return clauses

    def boolean(self, q: str) -> DataFrame:
        return self._names(self.boolean_docs(q))

    def _set_docs(self, blocks: DataFrame, matchers, evaluate,
                  with_positions: bool = False) -> DataFrame:
        """docIDs a set query accepts: its term blocks go through the
        BM25 bucket exchange into ONE set kernel (_make_set_kernel) —
        one shuffle, no join, no Python UDF. Small tombstone sets drop
        inside the kernel; an over-cap set falls back to the anti-join."""
        kernel = _make_set_kernel(matchers, evaluate, with_positions,
                                  self._tomb_arr)
        cols = _SET_COLS + (("tfs", "pos_gaps") if with_positions else ())
        docs = self._kernel_scan(blocks, kernel, cols, "docID long")
        return docs if self._tomb_arr is not None else self._live(docs)

    def boolean_docs(self, q: str) -> DataFrame:
        # the reference seeds each clause from its first non-null include
        # (QueryProcessor.java:66-81); a null include term has no
        # postings, so such a clause (and one with no include) is empty
        clauses = [(inc, [t for t in exc if t is not None])
                   for inc, exc in self.parse_boolean(q)
                   if inc and None not in inc]
        terms = sorted({t for inc, exc in clauses for t in inc + exc})
        if not terms:
            return self._doc_map.select("docID").filter(F.lit(False))
        slot = {t: i for i, t in enumerate(terms)}
        dnf = [([slot[t] for t in inc], [slot[t] for t in exc])
               for inc, exc in clauses]
        return self._set_docs(self.blocks_for(terms), _exact(terms),
                              partial(_eval_boolean, dnf))

    # ------------------------------------------------------------------
    # positional
    # ------------------------------------------------------------------
    @staticmethod
    def parse_positional(q: str):
        if _POS_OK.fullmatch(q) is None:
            raise ValueError("Wrong input format")
        tokens = re.split(r"\s+", q)
        terms = [normalize(tokens[i]) for i in range(0, len(tokens), 2)]
        dists = [int(tokens[i][1:]) for i in range(1, len(tokens), 2)]
        return terms, dists

    def positional(self, q: str) -> DataFrame:
        return self._names(self.positional_docs(q))

    def positional_docs(self, q: str) -> DataFrame:
        """Docs where ANY adjacent query pair lies within its window
        (|a-b| <= k); pairs are not chained (QueryProcessor.java:126-129).
        The distinct terms' blocks, with positions, ride the bucket
        exchange into one set kernel (_eval_positional)."""
        terms, dists = self.parse_positional(q)
        present = self.term_stats([t for t in terms if t is not None])
        if any(t is None or t not in present for t in terms):
            # early-exit if any term is absent (QueryProcessor.java:120)
            return self._doc_map.select("docID").filter(F.lit(False))
        uniq = sorted(set(terms))
        slots = [uniq.index(t) for t in terms]
        pairs = list(zip(slots, slots[1:], dists))
        return self._set_docs(self.blocks_for(uniq), _exact(uniq),
                              partial(_eval_positional, pairs),
                              with_positions=True)

    # ------------------------------------------------------------------
    # phrase (exact ordered adjacency — north-star addition; the
    # reference's positional /k window is UNORDERED and cannot express
    # "these terms, in this order, consecutively". Semantics: terms are
    # adjacent in the KEPT-token stream — the same position numbering
    # the positional index stores (build.py B6: dropped tokens do not
    # occupy positions), so "a b" matches "a <droppedtoken> b" exactly
    # like every positional engine built over filtered tokens does.)
    # ------------------------------------------------------------------
    @staticmethod
    def parse_phrase(q: str):
        """-> normalized terms of a `"t1 t2 ..."` phrase (quotes
        optional). A term the tokenizer DROPS (normalize -> None) makes
        the phrase unrepresentable in the positional index -> empty
        result, mirroring positional's absent-term early-exit."""
        s = q.strip()
        if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
            s = s[1:-1].strip()
        if _PHRASE_OK.fullmatch(s) is None:
            raise ValueError("Wrong input format")
        return [normalize(t) for t in re.split(r"\s+", s)]

    def phrase(self, q: str) -> DataFrame:
        return self._names(self.phrase_docs(q))

    def phrase_docs(self, q: str) -> DataFrame:
        """Docs containing the exact phrase. The distinct terms' blocks,
        with positions, ride the bucket exchange into one set kernel
        (_eval_phrase); a repeated term reuses its decoded positions."""
        terms = self.parse_phrase(q)
        present = self.term_stats([t for t in terms if t is not None])
        if any(t is None or t not in present for t in terms):
            return self._doc_map.select("docID").filter(F.lit(False))
        uniq = sorted(set(terms))
        return self._set_docs(self.blocks_for(uniq), _exact(uniq),
                              partial(_eval_phrase,
                                      [uniq.index(t) for t in terms]),
                              with_positions=True)

    # ------------------------------------------------------------------
    # joker (wildcard)
    # ------------------------------------------------------------------
    # match sets up to this size become a `term IN (...)` postings-scan
    # predicate; larger sets scan the tokens' prefixes and leave the
    # exact match to the kernel
    JOKER_PUSHDOWN_TERMS = 8192

    def joker(self, q: str) -> DataFrame:
        return self._names(self.joker_docs(q))

    def joker_docs(self, q: str) -> DataFrame:
        """Docs matching every token; a wildcard token matches the union
        of its dictionary terms. ONE dictionary probe fetches all tokens'
        matches up to JOKER_PUSHDOWN_TERMS: a token with none empties the
        result, and the set becomes a `term IN (...)` postings-scan
        predicate (row-group pruned, pure-suffix tokens included). An
        oversized set (`s*a*` on a web-scale dictionary) scans the
        tokens' prefixes instead; the set kernel classifies every term
        against the token patterns itself."""
        tokens = re.split(r"\s+", q.strip())
        for tok in tokens:
            if _JOKER_WORD.fullmatch(tok) is None:
                raise ValueError(f'"{q}" is not a valid joker query')
        # per token (prefix, middle, suffix); a star-free token is its
        # normalized term with middle None
        pats = []
        for tok in (t.lower() for t in tokens):  # QueryProcessor.java:193
            if "*" not in tok:
                term = normalize(tok)
                if term is not None:
                    pats.append((term, None, None))
            else:
                i, j = tok.index("*"), tok.rindex("*")
                pats.append((tok[:i], tok[i + 1:j], tok[j + 1:]))
        if not pats:
            return self._doc_map.select("docID").filter(F.lit(False))
        term = F.col("term")
        scan = [term == pre if mid is None else term.startswith(pre)
                for pre, mid, _ in pats]
        probe = [c if mid is None else c & term.contains(mid)
                 & F.col("rterm").startswith(suf[::-1])
                 for c, (_, mid, suf) in zip(scan, pats)]
        # all-suffix queries probe the rterm-SORTED twin dictionary so
        # the rterm startswith prunes row groups (IndexBody.java:40-53's
        # reversed vocabulary)
        src = (self._dictionary_r if all(mid is not None and not pre
                                         for pre, mid, _ in pats)
               else self._dictionary)
        # coalesce(1): the capped probe is ONE job (a root limit over
        # several partitions scans them in growing waves, a job each)
        matched = [r["term"] for r in src.filter(reduce(or_, probe))
                   .select("term").coalesce(1)
                   .limit(self.JOKER_PUSHDOWN_TERMS + 1).collect()]
        matchers = [partial(_joker_match, *p) for p in pats]
        if len(matched) <= self.JOKER_PUSHDOWN_TERMS:
            if not all(any(m(t) for t in matched) for m in matchers):
                return self._doc_map.select("docID").filter(F.lit(False))
            blocks = self.blocks_for(matched)
        else:
            blocks = self._postings.filter(reduce(or_, scan))
        # one AND clause over the token slots
        return self._set_docs(blocks, matchers, partial(
            _eval_boolean, [(list(range(len(pats))), [])]))

    # ------------------------------------------------------------------
    # BM25 top-k
    # ------------------------------------------------------------------
    def _idf(self, df: int) -> float:
        n = self.stats["n_docs"]
        return float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))

    def _rank(self, blocks: DataFrame, term_info: dict, weight, k,
              allowed=None, finalize=None) -> DataFrame:
        """Compressed blocks -> (qcode, docID, score): every query's
        exact per-bucket top-k, from ONE rank kernel over the bucket
        exchange (see _make_rank_kernel). Pending streaming deletes ride
        every scoring pass (incl. the WAND θ0 seed — a threshold seeded
        from a deleted doc's score could over-prune live docs): a small
        tombstone set drops inside the kernel before the cut; an
        over-cap one cannot ship, so the kernel emits every score and
        the anti-join runs before the caller's own cut — exact. An
        `allowed` array must already be live (bm25_within builds it
        from a live relation), so the kernel keeps its cut."""
        over_cap = (allowed is None and self._tomb_arr is None
                    and self._tombstones is not None)
        kernel = _make_rank_kernel(term_info, weight,
                                   int(self.stats["docs_per_bucket"]),
                                   None if over_cap else k, allowed,
                                   self._tomb_arr, finalize)
        scores = self._kernel_scan(blocks, kernel, schema=_RANK_SCHEMA)
        return self._live(scores) if over_cap else scores

    def _score_blocks(self, blocks: DataFrame, term_info: dict, k,
                      allowed=None) -> DataFrame:
        """BM25 over compressed blocks: `_rank` with the per-posting
        weight idf·tfn (term_info: term -> (qcodes, idf), the idf
        boosted or not)."""
        st = self.stats
        weight = partial(_bm25_weight, float(st["k1"]), float(st["b"]),
                         float(st["avgdl"]) or 1.0)
        return self._rank(blocks, term_info, weight, k, allowed)

    def _kernel_scan(self, blocks: DataFrame, kernel, cols=_SCORE_COLS,
                     schema: str = _RANK_SCHEMA) -> DataFrame:
        """Repartition compressed blocks (their `cols`) by docID bucket,
        sort each partition by (bucket, term) and run a bucket kernel
        over them — the ONE physical plan of bucket-local query
        evaluation: the rank kernel (BM25, batched BM25,
        query-likelihood) and the set kernel both read it through
        `_bucket_runs`.

        The shuffle key is the docID BUCKET and the payload is
        compressed blocks, so decode, scoring or set algebra and the
        first top-k cut all happen inside the kernel. EXPLICIT partition
        count: the compressed-block exchange is tiny in bytes but
        CPU-heavy per row, so AQE's size-based coalescing would collapse
        it onto one core. One bucket = one docID range = one unit of
        kernel work; 2x over-partitioning smooths hash collisions among
        bucket keys."""
        st = self.stats
        n_buckets = max(1, -(-int(st["n_docs"]) // int(st["docs_per_bucket"])))
        n = max(1, min(int(self.spark.conf.get("spark.sql.shuffle.partitions")),
                       2 * n_buckets))
        return (blocks.select(*cols)
                .repartition(n, "bucket")
                .sortWithinPartitions("bucket", "term")
                .mapInArrow(kernel, schema=schema))

    def _named_page(self, scores: DataFrame, k: int) -> DataFrame:
        """The top k of a scored docID relation as (docID, score, name),
        score desc, docID asc."""
        top = scores.orderBy(F.desc("score"), F.asc("docID")).limit(k)
        name = F.element_at(F.split(F.col("path"), "/"), -1).alias("name")
        return (top.join(self._doc_map, "docID")
                .select("docID", "score", name)
                .orderBy(F.desc("score"), F.asc("docID")))

    def bm25(self, query: str, k: int = 10, wand: bool = True,
             wand_gate_blocks: int = 16384) -> DataFrame:
        """Free-text query -> top-k (docID, score, name), score desc, docID asc."""
        return self._bm25_for_terms(_query_terms(query), k, wand,
                                    wand_gate_blocks)

    def bm25_boosted(self, boosts: dict, k: int = 10,
                     wand: bool = True) -> DataFrame:
        """Query-time term weighting: BM25 top-k where each term's idf
        is multiplied by its boost — the standard search-box `term^2`
        operator. `boosts` maps RAW tokens to positive multipliers;
        tokens normalize through the same pipeline as bm25 (two raw
        forms collapsing to one index term is rejected — the merged
        weight would be ambiguous). boost=1.0 for every term is
        exactly bm25.

        Exactness under pruning: the boosted idf map is the SAME map
        the block-max WAND bounds consume (a bound built from
        boosted-idf · block_max dominates every boosted score the
        block can produce), so pruning stays provably exact — no
        wand=False fallback needed.
        """
        norm: dict = {}
        for tok, w in sorted(dict(boosts).items()):
            w = float(w)
            if w <= 0.0:
                raise ValueError(f"boost for {tok!r} must be > 0, got {w}")
            t = normalize(tok)
            if t is None:
                continue
            if t in norm and norm[t] != w:
                raise ValueError(
                    f"tokens collide on index term {t!r} with different "
                    "boosts — merge them in the query")
            norm[t] = w
        return self._bm25_for_terms(sorted(norm), k, wand, 16384,
                                    boosts=norm)

    def _bm25_for_terms(self, terms: list, k: int, wand: bool,
                        wand_gate_blocks: int, boosts: dict | None = None
                        ) -> DataFrame:
        """BM25 top-k over PRE-NORMALIZED terms (bm25 tokenizes; internal
        callers like more_like_this hold dictionary terms already — a
        second normalize pass is not idempotent for every stem)."""
        stats = self.term_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return self._empty_scores()
        idf_map = {t: self._idf(int(stats[t]["df"])) for t in terms}
        if boosts:
            idf_map = {t: w * boosts.get(t, 1.0)
                       for t, w in idf_map.items()}
        # cost gate: pruning pays off only when there is enough to skip —
        # the threshold-estimation phase costs ~2 extra (small) jobs, and
        # the θ0 seed decodes one full bucket (1/n_buckets of the
        # candidate postings), so with few buckets the seed approaches the
        # cost of just scoring everything. Dictionary stats are already in
        # hand, so the gate is free. At the 10^12-doc design point
        # n_buckets ~ 1.5e7 and the gate is always open. WAND stays off
        # under an over-cap delete set: its θ0 seed would be cut before
        # the anti-join drops the deleted docs.
        total_blocks = sum(int(stats[t]["n_blocks"]) for t in terms)
        n_buckets = max(1, -(-int(self.stats["n_docs"])
                             // int(self.stats["docs_per_bucket"])))
        over_cap = self._tomb_arr is None and self._tombstones is not None
        if wand and not over_cap and total_blocks >= wand_gate_blocks \
                and (n_buckets >= self.WAND_MIN_BUCKETS
                     or wand_gate_blocks <= 0):
            candidates = self._wand_candidate_blocks(terms, idf_map, k, stats)
        else:
            candidates = self.blocks_for(terms)
        return self._named_page(
            self._score_blocks(candidates, _lone(idf_map), k), k)

    def qlm(self, query: str, k: int = 10, mu: float = 2000.0) -> DataFrame:
        """Dirichlet-smoothed query-likelihood top-k (Zhai & Lafferty,
        "A Study of Smoothing Methods for Language Models Applied to Ad
        Hoc Information Retrieval", SIGIR 2001) — the classic
        language-model ranking alternative to BM25, served from the SAME
        index tables and the same rank kernel. Rank-equivalent
        decomposition of log P(q|d) under Dirichlet smoothing:

            score(d) = sum_{t in q, tf_td > 0} ln(1 + tf_td / w_t)
                       + |q| * (ln mu - ln(mu + dl_d)),
            w_t = mu * (cf_t / total_len)

        (the doc-independent sum of ln(mu * p_t) is dropped — identical
        for every doc, so ranks and score DELTAS are exact). The first
        sum is the kernel's per-posting weight; the length term is its
        per-doc finalize, applied once per candidate doc. Candidate set
        = docs containing >=1 query term (same contract as bm25).
        Returns (docID, score, name), score desc, docID asc; scores are
        negative for typical dl >> matched mass. Pending deletes are
        excluded as in bm25 (see _rank).
        """
        terms = _query_terms(query)
        stats = self.term_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return self._empty_scores()
        total_len = float(self.stats["total_len"]) or 1.0
        w_map = {t: mu * (float(stats[t]["cf"]) / total_len) for t in terms}
        scores = self._rank(self.blocks_for(terms), _lone(w_map),
                            _qlm_weight, k,
                            finalize=partial(_qlm_finalize, mu, len(terms)))
        return self._named_page(scores, k)

    # ------------------------------------------------------------------
    # query-by-document ("more like this" — north-star addition)
    # ------------------------------------------------------------------
    def build_forward_index(self, n_partitions: int = 32) -> None:
        """Materialize the doc-major FORWARD index `doc_vec(docID,
        term, tf)` — the acceleration structure for query-by-document
        traffic (doc_term_vector / more_like_this): one decode pass
        over the postings, then docID range partitioning +
        sortWithinPartitions so a single doc's vector is ONE
        row-group-pruned file read (parquet min/max on the sorted
        docID), never a postings decode. Idempotent on the table's
        `_SUCCESS` marker.

        The table is DERIVED: streaming appends leave it stale, so
        doc_term_vector only reads it while the postings table has no
        pending LSM segments, and the compactions drop it (rebuild
        after compacting). At 10^12 docs a deployment would emit it
        from the same SPIMI pass instead (one more partitionBy output);
        deriving it from the built postings keeps the build's table set
        minimal while exercising the identical layout."""
        if self.index.store.exists("doc_vec"):
            return
        dec = self._postings.mapInArrow(
            lambda it: _decode_iter(it, False), schema=_DECODED_SCHEMA)
        slim = dec.select("docID", "term", "tf")
        # The range partitioner's bounds-sampling job executes the child
        # plan a second time, and here the child is the full postings
        # decode kernel. The docID RANGE layout itself is load-bearing
        # (contiguous docID files are what make a doc's vector one
        # file-pruned read), so from the pin gate (`plan_policy`) the
        # decode is pinned once and both the sampling pass and the
        # shuffle read the pinned copy. Below the gate the double decode
        # of a small postings table is cheaper than the checkpoint
        # barrier (A/B-measured at sf0.1).
        with plan_policy.pinned(slim, "pin") as src:
            self.index.store.write(
                src.repartitionByRange(n_partitions, "docID")
                .sortWithinPartitions("docID", "term"), "doc_vec")

    def doc_term_vector(self, doc_id: int) -> DataFrame:
        """(term, tf) of ONE document.

        Fast path: the doc-major forward index (build_forward_index),
        when present and not staled by pending streaming segments — a
        file- and row-group-pruned scan of `doc_vec`.

        Fallback: read back from the inverted index. Block pruning
        rides the stored per-block metadata: only blocks of the doc's
        own bucket whose [block_first_doc, block_last_doc] span covers
        the docID decode — at most one block per term with postings in
        the doc's neighborhood, bounded by the bucket's vocabulary,
        never a full postings pass.

        A tombstoned (streaming-deleted) doc reads as EMPTY — the same
        immediate-invisibility contract every other query surface
        honors; a delete-only batch leaves no postings segments, so
        without this check the doc_vec fast path would serve the
        deleted doc's vector until the next compaction."""
        d = int(doc_id)
        store = self.index.store
        if store.exists("doc_vec") and not store.has_segments("postings"):
            rows = (store.read("doc_vec")
                    .filter(F.col("docID") == F.lit(d)))
            return self._live(rows).select("term", "tf")
        dpb = int(self.stats["docs_per_bucket"])
        blocks = self._postings.filter(
            (F.col("bucket") == F.lit(d // dpb))
            & (F.col("block_first_doc") <= F.lit(d))
            & (F.col("block_last_doc") >= F.lit(d)))
        dec = blocks.mapInArrow(lambda it: _decode_iter(it, False),
                                schema=_DECODED_SCHEMA)
        return (self._live(dec.filter(F.col("docID") == F.lit(d)))
                .select("term", "tf"))

    def tfidf_top_terms(self, k: int = 5) -> DataFrame:
        """(docID, term, tf, w, rank): the `k` highest-tf·idf terms of
        EVERY live document — batch keyword extraction, the corpus-wide
        form of more_like_this's term-selection step (reference parity:
        the same tf·idf weighting discipline; reference has only the
        single-doc form). Weights are ROUNDED to 6 dp before the cut
        and ties break on term asc, so the page is engine-portable
        (the hard-cut discipline of more_like_this / related_terms).

        Scale shape (10^12 docs): ONE postings decode pass — the
        doc-major forward index when present (file-pruned scan, no
        decode), else the same mapInArrow decode build_forward_index
        uses — then the df join and ONE window shuffle keyed on docID.
        df attaches from the dictionary with Spark's own size-estimated
        join (broadcast when the vocabulary fits, sort-merge when it
        does not — no unconditional hint: a 10^9-term vocabulary must
        not be forced through the driver). The per-doc top-k window is
        the inherent cost: per-document rank needs doc-major grouping,
        the exact exchange the forward index is already laid out in —
        when doc_vec serves the scan the rows arrive range-partitioned
        and sorted by docID, so the window's sort is partition-local
        over runs that are already docID-clustered."""
        from pyspark.sql.window import Window
        store = self.index.store
        if store.exists("doc_vec") and not store.has_segments("postings"):
            dec = store.read("doc_vec")
        else:
            dec = (self._postings
                   .mapInArrow(lambda it: _decode_iter(it, False),
                               schema=_DECODED_SCHEMA)
                   .select("docID", "term", "tf"))
        dec = self._live(dec)
        n = float(self.stats["n_docs"])
        dic = self.index.table("dictionary").select(
            "term", F.col("df").cast("double").alias("df"))
        w = (dec.join(dic, "term")
             .withColumn("w", F.round(
                 F.col("tf") * F.log(
                     1.0 + (F.lit(n) - F.col("df") + 0.5)
                     / (F.col("df") + 0.5)), 6)))
        win = Window.partitionBy("docID").orderBy(F.desc("w"), F.asc("term"))
        return (w.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= F.lit(int(k)))
                .select("docID", "term", F.col("tf").cast("long").alias("tf"),
                        "w", F.col("rank").cast("long").alias("rank")))

    def more_like_this(self, doc_id: int, k: int = 10, n_terms: int = 5,
                       wand: bool = True,
                       wand_gate_blocks: int = 16384) -> DataFrame:
        """Documents most similar to `doc_id`: the classic Lucene-style
        MoreLikeThis — the source doc's `n_terms` highest tf·idf terms
        become a BM25 query; the source itself is excluded EXACTLY (the
        page is cut at k+1 before the source is dropped, so the result
        is the true top-k of the remaining corpus, not an under-filled
        page). Term selection is deterministic: weight desc, term asc.
        Returns (docID, score, name) like bm25()."""
        vec = {r["term"]: int(r["tf"])
               for r in self.doc_term_vector(doc_id).collect()}
        if not vec:
            return self._empty_scores()
        stats = self.term_stats(sorted(vec))
        # weights rounded to 6 dp before the cut: the selection is a hard
        # threshold, so it must not hinge on sub-ulp libm differences
        # between engines (the score COMPARISONS downstream are already
        # rounded; this applies the same discipline to the term cut)
        ranked = sorted((-round(vec[t] * self._idf(int(stats[t]["df"])), 6), t)
                        for t in vec if t in stats)
        terms = sorted(t for _, t in ranked[:n_terms])
        page = self._bm25_for_terms(terms, k + 1, wand, wand_gate_blocks)
        return (page.filter(F.col("docID") != F.lit(int(doc_id)))
                .orderBy(F.desc("score"), F.asc("docID")).limit(k))

    # ------------------------------------------------------------------
    # related terms ("related searches" — relevance-feedback term
    # suggestion over the query's result neighborhood)
    # ------------------------------------------------------------------
    def related_terms(self, query: str, k: int = 10,
                      top_docs: int = 25) -> DataFrame:
        """(term, df_s, w): the k terms most characteristic of `query`'s
        top result docs — pseudo-relevance feedback, the engine behind a
        2000s search page's "related searches" row.

        Shape: (1) the BM25 page gives the relevance set S (`top_docs`
        docIDs — a driver-sized list); (2) postings decode restricted to
        S's BUCKETS (|S| buckets at most, a vanishing fraction of the
        index at scale) then filter docID IN S; (3) candidate terms score
        w = df_S · idf(term) — in-S document frequency damped by global
        rarity, so corpus-wide stopwords sink — with the query's own
        terms excluded and w ROUNDED to 6 dp before the deterministic
        (w desc, term) cut (the engine-portable hard-cut discipline of
        more_like_this)."""
        q_terms = _query_terms(query)
        page = self._bm25_for_terms(q_terms, top_docs, True, 16384)
        ids = sorted(r["docID"] for r in page.collect())
        empty = self.spark.createDataFrame(
            [], "term string, df_s long, w double")
        if not ids:
            return empty
        dpb = int(self.stats["docs_per_bucket"])
        buckets = sorted({d // dpb for d in ids})
        blocks = self._postings.filter(F.col("bucket").isin(buckets))
        dec = blocks.mapInArrow(lambda it: _decode_iter(it, False),
                                schema=_DECODED_SCHEMA)
        n = float(self.stats["n_docs"])
        idf = F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5)))
        cand = (dec.filter(F.col("docID").isin([int(d) for d in ids]))
                .filter(~F.col("term").isin(q_terms))
                .groupBy("term")
                .agg(F.countDistinct("docID").cast("long").alias("df_s")))
        return (cand.join(self._dictionary.select("term", "df"), "term")
                .select("term", "df_s",
                        F.round(F.col("df_s") * idf, 6).alias("w"))
                .orderBy(F.desc("w"), F.asc("term"))
                .limit(k))

    def prf_bm25(self, query: str, k: int = 10, fb_terms: int = 5,
                 top_docs: int = 25, wand: bool = True) -> DataFrame:
        """Automatic query expansion by pseudo-relevance feedback
        (Rocchio-style, unweighted term selection): run the base query,
        take the `fb_terms` most characteristic terms of its top
        `top_docs` results (related_terms' deterministic df_S·idf cut),
        and re-rank with BM25 over the UNION of original and expansion
        terms — the classic two-pass recall-improving search loop.

        Scale shape: pass 1 is one bm25 job + the bucket-pruned
        related_terms decode (both driver-sized outputs); the
        expansion set (fb_terms strings) is the only thing that comes
        back to the driver, so pass 2 is a plain _bm25_for_terms run —
        the same fused kernel as bm25(), just with a longer term list.
        Nothing corpus-sized crosses the driver. Deterministic: the
        expansion cut rounds w to 6 dp with a term tiebreak, so the
        final page is engine-portable (driver gate prf_bm25 re-derives
        the whole two-pass pipeline relationally in DuckDB).
        """
        q_terms = _query_terms(query)
        stats = self.term_stats(q_terms)
        q_terms = [t for t in q_terms if t in stats]
        if not q_terms:
            return self._empty_scores()
        exp = self.related_terms(query, k=fb_terms, top_docs=top_docs)
        all_terms = sorted(set(q_terms)
                           | {r["term"] for r in exp.collect()})
        return self._bm25_for_terms(all_terms, k, wand, 16384)

    # filtered BM25: ship the allowed docID set into the kernel below
    # this many ids; above it, emit all aggregated scores and let the
    # join (AQE-planned) do the membership test
    FILTER_PUSHDOWN_DOCS = 1 << 21

    def bm25_filtered(self, query: str, doc_filter, k: int = 10) -> DataFrame:
        """BM25 top-k restricted to documents matching `doc_filter` (a
        Column predicate over doc_map metadata: repo, path, commit,
        lang). The filter participates in RANKING, not just display:
        disallowed docs are dropped BEFORE the top-k cut, so the page
        is the exact top-k OF THE FILTERED corpus (re-filtering an
        unfiltered page would under-fill or miss docs entirely).

        Scale shape: the allowed set is resolved by ONE metadata-column
        scan of doc_map (never content). A selective filter (<= 2M ids,
        FILTER_PUSHDOWN_DOCS) ships as a sorted int64 array into the
        scoring kernel — a per-doc binary search before the per-bucket
        cut, zero extra exchanges. A broad filter (lang='en' over 10^12
        docs) switches to emit-all scoring + a docID join that AQE
        plans (sort-merge against the doc_map scan; the scored relation
        holds only docs containing a query term). Block-max WAND stays
        off: its threshold seed assumes unfiltered top-k (a filtered θ
        is smaller, so pruning with it would still be SAFE but the seed
        bucket must itself be scored filtered — a future refinement)."""
        allowed_df = self._doc_map.filter(doc_filter).select("docID")
        return self.bm25_within(query, allowed_df, k)

    def bm25_within(self, query: str, allowed_docs: DataFrame,
                    k: int = 10) -> DataFrame:
        """BM25 top-k restricted to an ARBITRARY docID relation — the
        retrieval-algebra composition primitive behind bm25_filtered
        (metadata predicates), bm25_phrase (positional constraints),
        and any caller-supplied allow list (ACLs, dedup-canonical-only
        ranking). idf stays corpus-global (the filter changes WHO is
        ranked, not term informativeness — the reference's ranked mode
        scores against collection-level stats, RankedRetrieval.java).
        Scale paths are bm25_filtered's: a selective set ships as a
        sorted int64 array into the scoring kernel; a broad one becomes
        an AQE-planned docID join after emit-all scoring."""
        terms = _query_terms(query)
        stats = self.term_stats(terms)
        terms = [t for t in terms if t in stats]
        if not terms:
            return self._empty_scores()
        idf = _lone({t: self._idf(int(stats[t]["df"])) for t in terms})
        # pending deletes: a small set drops in the kernel; an over-cap
        # one leaves the allow list before it ships (the broad path's
        # scores come out of _rank live already)
        allowed_df = allowed_docs.select("docID")
        cap = self.FILTER_PUSHDOWN_DOCS
        head = (allowed_df if self._tomb_arr is not None
                else self._live(allowed_df)).limit(cap + 1).collect()
        blocks = self.blocks_for(terms)
        if len(head) <= cap:
            allowed = np.sort(np.fromiter((r[0] for r in head), dtype=np.int64,
                                          count=len(head)))
            scores = self._score_blocks(blocks, idf, k, allowed=allowed)
        else:
            scores = (self._score_blocks(blocks, idf, None)
                      .join(allowed_df, "docID"))
        return self._named_page(scores, k)

    def bm25_phrase(self, query: str, phrase: str, k: int = 10) -> DataFrame:
        """Phrase-constrained ranked retrieval — the '"exact phrase"
        must appear, rank by relevance' search-box mode: the exact
        BM25 top-k of `query` over ONLY the docs matching `phrase`
        (positional adjacency via phrase_docs' one-exchange set
        kernel). Composes the two primitives; the allowed set is a
        docID relation, so the selective-pushdown / broad-join scale
        split of bm25_within applies unchanged."""
        return self.bm25_within(query, self.phrase_docs(phrase), k)

    def bm25_many(self, queries, k: int = 10) -> DataFrame:
        """Batched BM25: score MANY free-text queries in ONE Spark job.

        `queries`: {qid: query_string} (or (qid, query) pairs). Returns
        (qid, docID, score, name) — the exact per-query top-k, identical
        rows to calling bm25(q, k) per query — ordered (qid asc, score
        desc, docID asc).

        Scale shape: a query frontend's unit of work is a BATCH of
        queries, and per-job overhead (scheduling, task launch, the
        JVM->Python round trip) dominates single-query latency on an
        interactive index. Here the batch costs ONE scan of the UNION of
        all queries' posting blocks + ONE bucket shuffle + ONE kernel
        pass: a block whose term appears in multiple queries is decoded
        and tf-normalized once, and its idf-weighted contribution adds
        into each subscribing query's row inside the rank kernel
        (_make_rank_kernel). Pending deletes drop as in bm25 (see
        _rank); the per-query window below is the final cut. Engine
        addition beyond the reference (QueryProcessor handles one query
        per call); the driver gate
        bm25_batch checks it against per-query DuckDB BM25 oracles.

        WAND pruning is not applied across a batch (each query would
        need its own threshold; the union scan already amortizes the
        dominant cost) — a latency-critical single query should use
        bm25(), which prunes."""
        items = sorted(dict(queries).items())
        per_q = {qid: _query_terms(qs) for qid, qs in items}
        stats = self.term_stats(sorted(set().union(*per_q.values())))
        term_qcodes: dict = {}
        live: list = []  # qids with >=1 present term, in sorted order
        for qid, terms in per_q.items():
            present = [t for t in terms if t in stats]
            if present:
                for t in present:
                    term_qcodes.setdefault(t, []).append(len(live))
                live.append(qid)
        if not live:
            return self.spark.createDataFrame(
                [], "qid string, docID long, score double, name string")
        term_info = {t: (np.asarray(qcs), self._idf(int(stats[t]["df"])))
                     for t, qcs in term_qcodes.items()}
        scored = self._score_blocks(self.blocks_for(sorted(term_info)),
                                    term_info, k)
        from pyspark.sql import Window
        qmap = F.broadcast(self.spark.createDataFrame(
            [(i, q) for i, q in enumerate(live)], "qcode int, qid string"))
        w = Window.partitionBy("qcode").orderBy(F.desc("score"), F.asc("docID"))
        top = (scored.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= k).drop("rn"))
        name = F.element_at(F.split(F.col("path"), "/"), -1).alias("name")
        return (top.join(qmap, "qcode").join(self._doc_map, "docID")
                .select("qid", "docID", "score", name)
                .orderBy("qid", F.desc("score"), F.asc("docID")))

    def _empty_scores(self) -> DataFrame:
        return self.spark.createDataFrame([], "docID long, score double, name string")

    _SNIPPET_SCHEMA = ("docID long, score double, name string, "
                       "win_start int, win_end int, n_terms int")

    def eval_ndcg(self, queries, k: int = 10, rel_cap: int = 10) -> DataFrame:
        """Ranked-retrieval evaluation: NDCG@k of the BM25 page for a
        BATCH of queries, graded against capped term-frequency
        relevance.

        qrels derive from the index itself: rel(d, q) = min(total tf of
        q's dictionary-present terms in d, rel_cap) — a graded "how
        much of the query does the doc talk about" when no human
        judgments exist (pure term-COVERAGE grading saturates: on a
        small vocabulary every page doc matches every term and NDCG
        pins at 1.0). The cap both bounds the exponential gain
        (2^rel - 1) and keeps the grade alphabet small for the
        count-based IDCG below. Gains (2^rel - 1) / log2(1 + rank),
        NDCG = DCG@k / IDCG@k.

        Scale shape: ONE bm25_many job produces every page (Q*k rows);
        the qrels relation is candidate-driven (only docs matching >=1
        query term) off one postings decode of the union term set; and
        IDCG@k never sorts the candidates — relevance grades are small
        integers (0..|q|), so the ideal ordering collapses to per-grade
        COUNTS: a map-side-combinable groupBy(qid, rel), a window over
        the Q*|q|-row count relation, and a rank-run explode capped at
        k. The only corpus-sized exchange is the grade count. Returns
        (qid, ndcg), qid asc; ndcg rounded to 6 dp.
        """
        from pyspark.sql import Window
        items = sorted(dict(queries).items())
        per_q = {qid: _query_terms(qs) for qid, qs in items}
        stats = self.term_stats(sorted(set().union(*per_q.values())))
        qt_rows = [(qid, t) for qid, ts in per_q.items()
                   for t in ts if t in stats]
        if not qt_rows:
            return self.spark.createDataFrame([], "qid string, ndcg double")
        qt = self.spark.createDataFrame(qt_rows, "qid string, term string")
        post = (self.postings_for(sorted({t for _, t in qt_rows}))
                .select("term", "docID", "tf"))
        rel = self._live(
            post.join(F.broadcast(qt), "term")
            .groupBy("qid", "docID")
            .agg(F.least(F.sum("tf"), F.lit(rel_cap))
                 .cast("double").alias("rel")))

        # DCG over the page: rank = deterministic row_number within the
        # (score desc, docID asc) page order (ties at the kth score cut
        # exactly as the per-query gates do)
        page = self.bm25_many(dict(items), k=k).select("qid", "docID", "score")
        wp = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docID"))
        page = (page.withColumn("rnk", F.row_number().over(wp))
                .filter(F.col("rnk") <= k))
        gain = (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0)) \
            / F.log2(F.col("rnk") + F.lit(1.0))
        dcg = (page.join(rel, ["qid", "docID"], "left")
               .withColumn("rel", F.coalesce("rel", F.lit(0.0)))
               .withColumn("g", gain)
               .groupBy("qid").agg(F.sum("g").alias("dcg")))

        # IDCG from grade counts: docs of the same grade have the same
        # gain numerator, so only the RANK POSITIONS a grade occupies
        # matter — explode each grade's rank run [cum_before+1, ...],
        # capped at k
        wg = Window.partitionBy("qid").orderBy(F.desc("rel"))
        cnts = (rel.groupBy("qid", "rel").agg(F.count(F.lit(1)).alias("cnt"))
                .withColumn("cum_before", F.coalesce(
                    F.sum("cnt").over(
                        wg.rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0))))
        ranks = (cnts.filter(F.col("cum_before") < k)
                 .select("qid", "rel",
                         F.explode(F.sequence(
                             F.col("cum_before") + 1,
                             F.least(F.col("cum_before") + F.col("cnt"),
                                     F.lit(k)))).alias("rnk")))
        ideal = (ranks.withColumn("g", gain)
                 .groupBy("qid").agg(F.sum("g").alias("idcg")))
        return (dcg.join(ideal, "qid")
                .select("qid", F.round(F.col("dcg") / F.col("idcg"), 6)
                        .alias("ndcg"))
                .orderBy("qid"))

    def eval_metrics(self, queries, k: int = 10) -> DataFrame:
        """Classic set/rank retrieval evaluation of the BM25 page for a
        BATCH of queries: Precision@k, Recall@k, AP@k (truncated
        average precision) and reciprocal rank, against BINARY
        AND-coverage qrels derived from the index itself — rel(d, q) =
        1 iff d contains EVERY dictionary-present term of q, the
        strictest judgment the corpus can state without human labels
        (the graded companion is eval_ndcg).

        Per query: P@k = hits/k, R@k = hits/n_rel,
        AP@k = (sum over relevant page positions i of cum_rel(i)/i)
        / min(n_rel, k), RR = 1/rank of the first relevant page doc
        (0 if none). Queries with no dictionary-present term, or with
        n_rel = 0 (no doc covers all terms), are dropped — their
        metrics are undefined.

        Scale shape: ONE bm25_many job produces every page (Q*k rows);
        the qrels relation is candidate-driven off one postings decode
        of the union term set (rel = a map-side-combinable
        groupBy(qid, docID) match-count compared to the per-query term
        count, broadcast); n_rel is a Q-row aggregate of that relation;
        and every metric is windowed arithmetic over the Q*k-row page
        only. The single corpus-sized exchange is the match-count
        groupBy. Returns (qid, n_rel, p_at_k, r_at_k, ap, rr), qid
        asc; doubles rounded to 6 dp.
        """
        from pyspark.sql import Window
        items = sorted(dict(queries).items())
        per_q = {qid: _query_terms(qs) for qid, qs in items}
        stats = self.term_stats(sorted(set().union(*per_q.values())))
        qt_rows = [(qid, t) for qid, ts in per_q.items()
                   for t in ts if t in stats]
        if not qt_rows:
            return self.spark.createDataFrame(
                [], "qid string, n_rel long, p_at_k double, "
                    "r_at_k double, ap double, rr double")
        nt = [(qid, len([t for t in ts if t in stats]))
              for qid, ts in per_q.items()]
        qt = self.spark.createDataFrame(qt_rows, "qid string, term string")
        ntdf = self.spark.createDataFrame(
            [(qid, n) for qid, n in nt if n > 0], "qid string, nt int")
        # postings hold one row per (term, docID), so count(*) IS the
        # number of distinct query terms the doc matches
        post = (self.postings_for(sorted({t for _, t in qt_rows}))
                .select("term", "docID"))
        rel = self._live(
            post.join(F.broadcast(qt), "term")
            .groupBy("qid", "docID")
            .agg(F.count(F.lit(1)).alias("m"))
            .join(F.broadcast(ntdf), "qid")
            .filter(F.col("m") == F.col("nt"))
            .select("qid", "docID"))
        n_rel = rel.groupBy("qid").agg(F.count(F.lit(1)).alias("n_rel"))

        page = self.bm25_many(dict(items), k=k).select("qid", "docID", "score")
        wp = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docID"))
        page = (page.withColumn("rnk", F.row_number().over(wp))
                .filter(F.col("rnk") <= k))
        flag = (page.join(rel.withColumn("is_rel", F.lit(1)),
                          ["qid", "docID"], "left")
                .withColumn("is_rel", F.coalesce("is_rel", F.lit(0))))
        wc = Window.partitionBy("qid").orderBy("rnk")
        cum = flag.withColumn("cum", F.sum("is_rel").over(wc))
        per = cum.groupBy("qid").agg(
            F.sum("is_rel").cast("double").alias("hits"),
            F.coalesce(F.sum(F.when(
                F.col("is_rel") == 1,
                F.col("cum").cast("double") / F.col("rnk"))),
                F.lit(0.0)).alias("ap_num"),
            F.coalesce(F.max(F.when(
                F.col("is_rel") == 1, F.lit(1.0) / F.col("rnk"))),
                F.lit(0.0)).alias("rr0"))
        return (per.join(n_rel, "qid")
                .select("qid", F.col("n_rel").cast("long").alias("n_rel"),
                        F.round(F.col("hits") / k, 6).alias("p_at_k"),
                        F.round(F.col("hits") / F.col("n_rel"), 6)
                        .alias("r_at_k"),
                        F.round(F.col("ap_num")
                                / F.least(F.col("n_rel"), F.lit(k)), 6)
                        .alias("ap"),
                        F.round(F.col("rr0"), 6).alias("rr"))
                .orderBy("qid"))

    def zipf_fit(self, min_cf: int = 1, chunk: int = 1 << 20) -> DataFrame:
        """Least-squares fit of the corpus term-frequency distribution
        to Zipf's law: regress log10(cf) on log10(rank) over the
        dictionary (rank = 1 for the most frequent term) and report
        (n_terms, slope, intercept, r2), rounded to 6 dp — the classic
        collection-statistics diagnostic (a healthy natural-language
        corpus fits slope ~ -1).

        Scale shape: NO global sort of the vocabulary. Terms tying on
        cf contribute the same y at a contiguous run of ranks, and the
        regression is tie-order-invariant, so the per-term rank
        collapses to per-cf COUNTS: groupBy(cf) (map-side combinable;
        #distinct cf values << vocab under Zipf itself), one window
        over that tiny relation for the cumulative offsets, then each
        cf's rank run [cum+1, cum+cnt] is exploded back — in `chunk`-
        sized slices spread by a round-robin repartition so the cf=1
        tail (often half the vocabulary) cannot pin one task. The
        regression itself is one map-side-combinable aggregate of
        (n, Σx, Σy, Σxx, Σyy, Σxy).
        """
        from pyspark.sql import Window
        d = self._dictionary.select("cf").filter(F.col("cf") >= min_cf)
        w = Window.orderBy(F.desc("cf"))
        cnts = (d.groupBy("cf").agg(F.count(F.lit(1)).alias("cnt"))
                .withColumn("cum_before", F.coalesce(
                    F.sum("cnt").over(
                        w.rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0))))
        sub = (cnts.select(
            "cf", "cum_before", "cnt",
            F.explode(F.sequence(
                F.lit(0), F.floor((F.col("cnt") - 1) / chunk))).alias("ci"))
            .select("cf",
                    (F.col("cum_before") + F.col("ci") * chunk + 1).alias("lo"),
                    F.least(F.col("cum_before") + F.col("cnt"),
                            F.col("cum_before") + (F.col("ci") + 1) * chunk)
                    .alias("hi"))
            .repartition(int(self.spark.conf.get(
                "spark.sql.shuffle.partitions"))))
        pts = (sub.select(
            "cf", F.explode(F.sequence("lo", "hi")).alias("rank"))
            .select(F.log10(F.col("cf").cast("double")).alias("y"),
                    F.log10(F.col("rank").cast("double")).alias("x")))
        s = pts.agg(F.count(F.lit(1)).cast("double").alias("n"),
                    F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                    F.sum(F.col("x") * F.col("x")).alias("sxx"),
                    F.sum(F.col("y") * F.col("y")).alias("syy"),
                    F.sum(F.col("x") * F.col("y")).alias("sxy"))
        slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        return s.select(
            F.col("n").cast("long").alias("n_terms"),
            F.round(slope, 6).alias("slope"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
            .alias("intercept"),
            F.round(F.pow(F.col("n") * F.col("sxy")
                          - F.col("sx") * F.col("sy"), F.lit(2.0))
                    / ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                       * (F.col("n") * F.col("syy")
                          - F.col("sy") * F.col("sy"))), 6).alias("r2"))

    def collection_stats(self) -> DataFrame:
        """One-row index health report: n_docs, n_terms (vocabulary),
        n_postings (Σ df — the inverted index's row count), total_len
        (Σ kept tokens), avgdl, max_df and max_cf (the head term's
        reach), rounded doubles at 6 dp — the numbers an operator
        checks after every build/compaction.

        Scale shape: n_docs/total_len/avgdl are read back from the
        build's stats table (already aggregated at build time); the
        vocabulary numbers are ONE map-side-combinable aggregate over
        the dictionary — no postings column is touched.
        """
        st = self.stats
        d = self._dictionary.agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("df").cast("long").alias("n_postings"),
            F.max("df").cast("long").alias("max_df"),
            F.max("cf").cast("long").alias("max_cf"))
        return d.select(
            F.lit(int(st["n_docs"])).alias("n_docs"),
            "n_terms", "n_postings",
            F.lit(int(st["total_len"])).alias("total_len"),
            F.round(F.lit(float(st["avgdl"])), 6).alias("avgdl"),
            "max_df", "max_cf")

    def heaps_fit(self) -> DataFrame:
        """Heaps'-law vocabulary-growth fit over the corpus in docID
        order: V(N) ~ K·N^beta, fitted as log10(V) = beta·log10(N) +
        log10(K) by least squares over one (cumulative tokens,
        cumulative vocabulary) point per document prefix — the second
        classic collection statistic next to zipf_fit (natural-language
        corpora fit beta ~ 0.4-0.6). Returns one row (n_points, beta,
        log10_k, r2), rounded to 6 dp. Build-time statistic: pending
        tombstones are ignored by design (stats stay as-built until
        compaction, the engine's documented delete semantics).

        Scale shape: a term's FIRST docID comes from the postings
        block METADATA (min block_first_doc per term — a column-pruned
        scan; payloads never decoded), and the per-doc cumulative pair
        is a DISTRIBUTED PREFIX SUM: per-bucket partials (map-side
        combinable groupBy), ONE window over the n_buckets-row partial
        relation for the bucket offsets (~1.5e7 tiny rows at 10^12
        docs — the only serial step), broadcast back, then the
        within-bucket running sums are per-bucket-partitioned windows
        running in parallel. The regression is the same one-pass 6-sum
        aggregate as zipf_fit.
        """
        from pyspark.sql import Window
        dpb = int(self.stats["docs_per_bucket"])
        dl = (self._doc_map.select("docID")
              .join(self.index.table("doc_len"), "docID", "left")
              .select("docID", F.coalesce(F.col("dl").cast("long"),
                                          F.lit(0)).alias("dl")))
        nv = (self._postings.groupBy("term")
              .agg(F.min("block_first_doc").alias("docID"))
              .groupBy("docID").agg(F.count(F.lit(1)).alias("nv")))
        per = (dl.join(nv, "docID", "left")
               .select("docID", "dl",
                       F.coalesce("nv", F.lit(0)).alias("nv"),
                       F.expr(f"docID DIV {dpb}").alias("bucket")))
        bk = per.groupBy("bucket").agg(F.sum("dl").alias("bdl"),
                                       F.sum("nv").alias("bnv"))
        wb = Window.orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, -1)
        off = bk.select(
            "bucket",
            F.coalesce(F.sum("bdl").over(wb), F.lit(0)).alias("odl"),
            F.coalesce(F.sum("bnv").over(wb), F.lit(0)).alias("onv"))
        wi = (Window.partitionBy("bucket").orderBy("docID")
              .rowsBetween(Window.unboundedPreceding, 0))
        pts = (per.join(F.broadcast(off), "bucket")
               .select((F.col("odl") + F.sum("dl").over(wi)).alias("ct"),
                       (F.col("onv") + F.sum("nv").over(wi)).alias("cv"))
               .filter((F.col("ct") > 0) & (F.col("cv") > 0))
               .select(F.log10(F.col("ct").cast("double")).alias("x"),
                       F.log10(F.col("cv").cast("double")).alias("y")))
        s = pts.agg(F.count(F.lit(1)).cast("double").alias("n"),
                    F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                    F.sum(F.col("x") * F.col("x")).alias("sxx"),
                    F.sum(F.col("y") * F.col("y")).alias("syy"),
                    F.sum(F.col("x") * F.col("y")).alias("sxy"))
        slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        return s.select(
            F.col("n").cast("long").alias("n_points"),
            F.round(slope, 6).alias("beta"),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
            .alias("log10_k"),
            F.round(F.pow(F.col("n") * F.col("sxy")
                          - F.col("sx") * F.col("sy"), F.lit(2.0))
                    / ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                       * (F.col("n") * F.col("syy")
                          - F.col("sy") * F.col("sy"))), 6).alias("r2"))

    def bm25_snippets(self, query: str, k: int = 10,
                      wand: bool = True) -> DataFrame:
        """Top-k BM25 + the snippet window: for each result doc, the
        MINIMAL token-position window [win_start, win_end] containing
        >=1 occurrence of every query term the doc contains (ties ->
        smallest start) — the classic highlight primitive, computed
        from the positional index. Engine addition: the reference
        stores the same positional data (PositionalIndex semantics,
        CoordFileProcessor.java) but has no snippet extraction.

        Scale shape: top-k is a k-row driver page (the result set a
        user is looking at), so snippet work is bounded by k, never by
        the corpus — only the query terms' posting blocks whose docID
        bucket occurs in the page are decoded (`term IN` + `bucket IN`
        pushdown), and the
        minimal-window sweep is O(occurrences) per doc inside one
        Arrow batch per doc (applyInPandas over k groups). The exact
        same window is recomputed by the driver gate's DuckDB oracle
        with an O(occ^2) relational formulation — algorithm-diverse
        equality, like the banded/all-pairs dedup gates."""
        top_rows = self.bm25(query, k=k, wand=wand).collect()
        terms = _query_terms(query)
        stats = self.term_stats(terms)
        terms = [t for t in terms if t in stats]
        if not top_rows or not terms:
            return self.spark.createDataFrame([], self._SNIPPET_SCHEMA)
        ids = [int(r["docID"]) for r in top_rows]
        dpb = int(self.stats["docs_per_bucket"])
        buckets = sorted({d // dpb for d in ids})
        occ = (self.blocks_for(terms)
               .filter(F.col("bucket").isin(buckets))
               .mapInArrow(lambda it: _decode_iter(it, True),
                           schema=_DECODED_POS_SCHEMA)
               .filter(F.col("docID").isin(ids))
               .select("docID", "term", "positions"))
        win = occ.groupBy("docID").applyInPandas(
            _min_window_kernel,
            schema="docID long, win_start int, win_end int, n_terms int")
        page = self.spark.createDataFrame(
            [(int(r["docID"]), float(r["score"]), r["name"])
             for r in top_rows], "docID long, score double, name string")
        return (page.join(win, "docID")
                .select("docID", "score", "name",
                        "win_start", "win_end", "n_terms")
                .orderBy(F.desc("score"), "docID"))

    def bm25_proximity(self, query: str, k: int = 10, pool: int = 40,
                       alpha: float = 1.0, wand: bool = True) -> DataFrame:
        """Proximity-boosted reranking: the top-`pool` BM25 candidates
        are reranked by score + alpha·(n_terms−1)/window_len, where
        [win_start, win_end] is each doc's MINIMAL covering window
        (the snippets primitive) and n_terms the distinct query terms
        it covers. Tight multi-term matches rise; a single-term doc's
        proximity evidence is vacuous and earns no bonus. The combined
        score rounds to 6 dp BEFORE the (score desc, docID) cut, so
        the reranked page is deterministic and engine-portable.

        Scale shape: identical to bm25_snippets — rerank work is
        bounded by `pool` (a driver-sized page); the positional decode
        prunes to the page's buckets; nothing corpus-sized moves.
        """
        pool = max(int(pool), int(k))
        snip = self.bm25_snippets(query, k=pool, wand=wand)
        combined = F.round(
            F.col("score")
            + F.lit(float(alpha)) * (F.col("n_terms") - F.lit(1))
            / (F.col("win_end") - F.col("win_start") + F.lit(1)), 6)
        return (snip.select("docID", combined.alias("score"), "name")
                .orderBy(F.desc("score"), F.asc("docID"))
                .limit(k))

    # bucket_max slices up to this many rows are collected and folded in
    # driver numpy (saves one distributed agg job per query); beyond it —
    # e.g. a head term over a 10^12-doc index spans ~1.5e7 buckets — the
    # same math runs as a distributed aggregation over the bucket_max table
    WAND_DRIVER_SLICE_ROWS = 65536
    # below this many docID buckets the θ0 seed job costs a significant
    # fraction of full scoring — skip pruning (see bm25's cost gate)
    WAND_MIN_BUCKETS = 64

    def _wand_inflation(self) -> float:
        # stored bounds were computed with the avgdl at encode time; after
        # incremental growth (streaming.IncrementalIndexer) inflate them by
        # avgdl_now/avgdl_enc_min — a sound correction, so pruning stays
        # exact-safe on a live index
        avgdl_now = float(self.stats["avgdl"]) or 1.0
        enc_min = float(self.stats.get("avgdl_enc_min") or avgdl_now)
        return max(1.0, avgdl_now / enc_min) if enc_min > 0 else 1.0

    def _theta0(self, blocks: DataFrame, best_bucket: int, idf_map: dict,
                k: int):
        """Exact kth score inside one docID bucket (a small decode job) —
        a valid WAND threshold because its k docs' scores are REAL."""
        seed_blocks = blocks.filter(F.col("bucket") == best_bucket)
        seed_scores = (self._score_blocks(seed_blocks, _lone(idf_map), k)
                       .orderBy(F.desc("score")).limit(k).collect())
        if len(seed_scores) < k:
            return None  # not enough docs for a safe threshold
        return seed_scores[-1]["score"]

    def _wand_candidate_blocks(self, terms, idf_map, k: int,
                               stats: dict | None = None) -> DataFrame:
        """Block-max WAND pruning, distributed over docID-range buckets.

        Upper bound of any doc in block b (term t, bucket β):
            UB(b) = idf_t·block_max_wand(b) + Σ_{t'≠t} idf_{t'}·bucket_max(t', β)
        θ0 = exact kth score within the single highest-UB bucket (a tiny
        job). Every block with UB < θ0 is skipped before decoding; docs in
        such blocks provably cannot reach the kth final score, so the
        surviving exact top-k is unchanged.

        The per-(term, bucket) maxima come from the build-time bucket_max
        table (stage 4.5); for a small slice (the common case) the bound
        arithmetic runs in driver numpy — the query then costs exactly
        three jobs: slice collect, θ0 seed, pruned scoring pass.
        """
        blocks = self.blocks_for(terms)
        inflation = self._wand_inflation()
        total_buckets = sum(int(stats[t].get("n_buckets") or 0)
                            for t in terms) if stats else None

        if (self._bucket_max is not None and total_buckets is not None
                and 0 < total_buckets <= self.WAND_DRIVER_SLICE_ROWS):
            rows = (self._bucket_max
                    .filter(F.col("term").isin(sorted(terms)))
                    .select("term", "bucket", "tmax").collect())
            if not rows:
                return blocks
            contrib = {(r["term"], r["bucket"]):
                       idf_map[r["term"]] * inflation * float(r["tmax"])
                       for r in rows}
            bucket_ub: dict = {}
            for (t, b), c in contrib.items():
                bucket_ub[b] = bucket_ub.get(b, 0.0) + c
            best_bucket = max(bucket_ub, key=bucket_ub.get)
            theta0 = self._theta0(blocks, best_bucket, idf_map, k)
            if theta0 is None:
                return blocks
            rest_rows = [(t, int(b), float(bucket_ub[b] - c))
                         for (t, b), c in contrib.items()]
            rest = self.spark.createDataFrame(
                rest_rows, "term string, bucket long, rest double")
            idf_col = F.element_at(
                F.create_map(*[F.lit(x) for kv in idf_map.items() for x in kv]),
                F.col("term")) * F.lit(inflation)
            # LEFT join: a postings block absent from bucket_max (only
            # possible in a torn concurrent-streaming state) must be
            # UNPRUNABLE, never silently dropped from scoring
            return (blocks.join(F.broadcast(rest), ["term", "bucket"], "left")
                    .filter(F.col("rest").isNull()
                            | (idf_col * F.col("block_max_wand") + F.col("rest")
                               >= F.lit(theta0)))
                    .select(*blocks.columns))

        # distributed path: same bounds as a Spark aggregation (over the
        # rolled-up bucket_max table when present, else the blocks)
        idf_col = F.element_at(
            F.create_map(*[F.lit(x) for kv in idf_map.items() for x in kv]),
            F.col("term")) * F.lit(inflation)
        if self._bucket_max is not None:
            bmax = (self._bucket_max.filter(F.col("term").isin(sorted(terms)))
                    .select("term", "bucket", "tmax")
                    .withColumn("contrib", idf_col * F.col("tmax")))
        else:
            bmax = (blocks.groupBy("bucket", "term")
                    .agg(F.max("block_max_wand").alias("tmax"))
                    .withColumn("contrib", idf_col * F.col("tmax")))
        bucket_ub = bmax.groupBy("bucket").agg(F.sum("contrib").alias("ub"))
        best = bucket_ub.orderBy(F.desc("ub")).limit(1).collect()
        if not best:
            return blocks
        theta0 = self._theta0(blocks, best[0]["bucket"], idf_map, k)
        if theta0 is None:
            return blocks

        ub_expr = (idf_col * F.col("block_max_wand")
                   + F.col("ub") - F.col("contrib_bucket"))
        per_term = bmax.select("bucket", "term",
                               F.col("contrib").alias("contrib_bucket"))
        # LEFT joins for the same reason as the driver-slice path: blocks
        # missing from bucket_max stay unprunable instead of vanishing
        survivors = (
            blocks
            .join(F.broadcast(per_term), ["bucket", "term"], "left")
            .join(F.broadcast(bucket_ub), "bucket", "left")
            .filter(F.col("contrib_bucket").isNull() | F.col("ub").isNull()
                    | (ub_expr >= F.lit(theta0)))
            .select(*blocks.columns)
        )
        return survivors
