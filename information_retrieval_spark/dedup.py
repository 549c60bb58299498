"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame transforms over a documents table
(id column + text column), built from Spark SQL builtins (sha2,
higher-order array functions, joins) so Catalyst owns the physical
plan. Hash functions are sha256-based because sha256 is bit-identical
across Spark, DuckDB (the correctness oracle) and Python — no engine-
specific hash leaks into results.

Scale notes (100 TB / 10^12 docs):
- exact: a single hash-aggregate; combiner-side partial agg means the
  shuffle carries one row per distinct hash.
- minhash LSH: the classic shingle->minhash->band->bucket-join pipeline;
  shuffle volume is n_docs * n_bands rows of (band_key) — tunable via
  num_hashes/band_size. The self-join is on band buckets, so only
  near-duplicate candidates ever pair up (no O(n^2)).
- simhash: 64-bit signature via per-term sha256 bits weighted by tf;
  grouping by signature (or banded substrings of it) finds near-dups.
- ngram jaccard: exact verification operator — pass `candidates=` (an
  LSH candidate pair set) so verification is candidate-driven, the
  only shape that survives 100 TB; the standalone all-pairs
  shared-shingle self-join remains for small inputs only.
- duplicate clusters: near-dup pairs -> connected components
  (alternating large-star/small-star: pure joins/aggregates, no
  adjacency lists, O(log n) rounds) -> (id, canonical cluster_id,
  cluster_size) — the grouping step a curation pipeline keeps/drops
  documents by.
- duplicated spans (Lee et al. 2022): cross-document verbatim k-token
  runs via 128-bit gram fingerprints + a doc-frequency aggregate (the
  one corpus-sized shuffle; auto-materialized above a size estimate so
  both consumers share one derivation), run-merged per doc; plus
  per-doc coverage stats and span surgery (cut_duplicated_spans).
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import plan_policy
from .io import materialize_once
from .normalize import spark_tokens_expr


def _tokens(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn("__toks", F.expr(spark_tokens_expr(text_col)))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_docs, canonical_id).

    canonical_id = min id of the group; only groups with >=2 members.
    """
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_docs") >= 2)
    )


def shingle_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs; shingles are n-grams of normalized terms."""
    toks = _tokens(df, text_col)
    # docs with fewer than n terms contribute no shingles (CASE guard:
    # sequence(0, -1) would otherwise produce a DESCENDING range)
    shingles = F.expr(
        f"CASE WHEN size(__toks) >= {n} THEN "
        f"transform(sequence(0, size(__toks) - {n}), "
        f"i -> concat_ws(' ', slice(__toks, i + 1, {n}))) "
        f"ELSE array() END")
    return (
        toks.select(F.col(id_col).alias("id"),
                    F.explode(F.array_distinct(shingles)).alias("shingle"))
        .distinct()
    )


def _jaccard_verify(sh: DataFrame, threshold: float,
                    candidates: DataFrame | None = None) -> DataFrame:
    """Exact shingle-Jaccard over pairs. With `candidates` (id_a, id_b),
    the intersection join is DRIVEN FROM the candidate set — work is
    O(candidates * shingles_per_doc), never all-pairs. Without it, the
    shared-shingle self-join forms every co-shingled pair (small inputs
    only).

    Candidate-path shape (round 6): ONE pass over the shingle relation.
    Each candidate pair explodes into two (id_a, id_b, id) membership
    rows; joining membership to `sh` on id tags every shingle of either
    member with its pair, and one two-level aggregate then yields both
    |A ∩ B| (shingles seen from BOTH sides of the pair, c = 2 — `sh` is
    distinct per (id, shingle), so c is exactly the side count) and
    |A| + |B| (= sum of c), from which |A ∪ B| = |A| + |B| − |A ∩ B|.
    The previous shape joined `sh` three times (a-side, b-side, per-id
    sizes) — three full derivations of the tokenize+shingle pipeline;
    this one derives it once, and all post-join work is proportional to
    candidate-member shingles, never the corpus. (A semi-join reduction
    with scoped persists was also tried and REVERTED: at bench scale
    the persist barriers and the cached subplans' loss of AQE
    coalescing cost 1.5-2x more than the recompute they save.)"""
    if candidates is not None:
        mem = candidates.select(
            "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("id"))
        per_sh = (mem.join(sh, "id")
                  .groupBy("id_a", "id_b", "shingle")
                  .agg(F.count(F.lit(1)).alias("c")))
        stats = (per_sh.groupBy("id_a", "id_b")
                 .agg(F.sum("c").alias("__t"),
                      F.sum((F.col("c") == 2).cast("long")).alias("inter")))
        return (stats
                # inter > 0 keeps exact parity with the join-based
                # formulation, which never emitted zero-overlap pairs
                # (visible only at threshold <= 0)
                .filter(F.col("inter") > 0)
                .withColumn("jaccard",
                            F.col("inter") / (F.col("__t") - F.col("inter")))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8,
                        candidates: DataFrame | None = None) -> DataFrame:
    """Pairs (id_a < id_b) with n-gram-shingle Jaccard >= threshold.

    inter/union computed relationally: shared-shingle join -> count,
    |A∪B| = |A| + |B| - inter. `candidates` (id_a, id_b — e.g. from
    minhash_lsh_pairs) restricts verification to those pairs and is the
    scale path: the all-pairs shared-shingle self-join (candidates=None)
    degenerates when common shingles repeat across many docs.
    """
    sh = shingle_sets(df, id_col, text_col, n)
    return _jaccard_verify(sh, threshold, candidates)


def _feature_sets(df: DataFrame, id_col: str, text_col: str,
                  n: int) -> DataFrame:
    """(id, feature) distinct pairs: normalized terms for n <= 1, n-gram
    term shingles otherwise. Shingles are the discriminative feature for
    near-dup detection on natural corpora — TERM sets of different
    documents over a shared vocabulary are almost always highly similar
    (measured >=0.5 term-Jaccard for most random pairs of the synthetic
    test corpus), while shingle overlap is rare unless passages repeat."""
    if n <= 1:
        toks = _tokens(df, text_col)
        return (toks.select(F.col(id_col).alias("id"),
                            F.explode(F.array_distinct("__toks")).alias("feature")))
    return shingle_sets(df, id_col, text_col, n).withColumnRenamed("shingle", "feature")


# Universal-hash minhash family: ONE sha256 per distinct (id, feature)
# gives a 32-bit base value h; permutation i is (a_i*h + b_i) mod p with
# p = 2^31 - 1 (prime) and seeded 31-bit coefficients. The largest
# intermediate is a*h + b <= (p-1)*(2^32-1) + (p-1) < 2^63 - 1.3e10 —
# exact int64 (no rounding), in Spark, DuckDB and Python alike, but the
# margin below 2^63 is thin: minhash_coeffs asserts the bounds so a
# future widening of the coefficients or of h fails loudly instead of
# silently overflowing. Engine-portable like the sha approach, but 64
# signatures cost 64 multiply-adds instead of 64 sha256 calls, and the
# per-seed minima fold into ONE aggregation (no seed explode: the
# 10^12-doc shuffle carries one row per doc, not num_hashes rows).
MINHASH_P = (1 << 31) - 1
_MINHASH_H_MAX = (1 << 32) - 1  # h = first 8 hex chars of sha256


def minhash_coeffs(num_hashes: int, seed: int = 7) -> list:
    """Deterministic (a_i, b_i) pairs, identical in every engine."""
    rng = np.random.RandomState(seed)
    coeffs = [(int(rng.randint(1, MINHASH_P)), int(rng.randint(0, MINHASH_P)))
              for _ in range(num_hashes)]
    for a, b in coeffs:
        assert 0 < a < MINHASH_P and 0 <= b < MINHASH_P
        assert a * _MINHASH_H_MAX + b < (1 << 63)  # exact int64 everywhere
    return coeffs


def _feature_h32(col: str = "feature"):
    """First 8 hex chars of sha256(feature) as a BIGINT (32-bit value)."""
    return F.conv(F.substring(F.sha2(F.col(col), 256), 1, 8), 16, 10).cast("long")


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 8,
                       n: int = 1, seed: int = 7,
                       features: DataFrame | None = None) -> DataFrame:
    """(id, minhash: array<long>): minhash[i] = min over distinct
    features of (a_i * h32(feature) + b_i) mod p. Features are terms
    (n<=1) or n-gram shingles (see _feature_sets); pass a precomputed
    (id, feature) relation via `features` to share one tokenize+shingle
    pass across a candidate-generation + verification pipeline."""
    feat = (features if features is not None
            else _feature_sets(df, id_col, text_col, n)).withColumn(
        "h", _feature_h32())
    mins = [F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_P))
            .alias(f"m{i}")
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes, seed))]
    return (feat.groupBy("id").agg(*mins)
            .select("id", F.array(*[F.col(f"m{i}")
                                    for i in range(num_hashes)]).alias("minhash")))


def minhash_bands(sig: DataFrame, num_hashes: int, band_size: int,
                  key: str = "id") -> DataFrame:
    """(key, band, band_key) rows of a (key, minhash) signature table,
    one per LSH band: band_key is the ':'-joined minhashes of the band
    in slot order."""
    n_bands = num_hashes // band_size
    bk = F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws(":", *[F.col("minhash")[b * band_size + j]
                                    for j in range(band_size)]).alias("band_key"))
        for b in range(n_bands)])).alias("bk")
    return sig.select(key, bk).select(
        key, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def band_pairs(banded: DataFrame, key: str = "id", a: str = "id_a",
               b: str = "id_b") -> DataFrame:
    """(a, b) with a < b for every band bucket two rows of `banded`
    share — once per shared band, so callers take the distinct."""
    left = banded.select(F.col(key).alias(a), "band", "band_key")
    right = banded.select(F.col(key).alias(b), "band", "band_key")
    return (left.join(right, ["band", "band_key"])
            .filter(F.col(a) < F.col(b)).select(a, b))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 8,
                      band_size: int = 2, n: int = 1,
                      seed: int = 7,
                      features: DataFrame | None = None) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing >=1 LSH band bucket.

    bands = num_hashes / band_size; band key = ':'-joined minhashes of
    the band in slot order (deterministic by construction — no sorting,
    no cross-engine ordering trap). Returns distinct (id_a < id_b)
    pairs. Discriminative parameters matter: a doc pair with
    feature-Jaccard J collides in a band with probability J^band_size —
    pick band_size so the corpus's background similarity level stays
    non-colliding (for the synthetic corpus: shingle features n=3 with
    band_size >= 4).

    Hot-bucket defense (round 6, the simhash twin's round-5 ask): a
    page boilerplated M times puts M identical signatures in one band
    bucket, making the band self-join's WORK quadratic in M — and it
    re-discovers each such pair in EVERY band (x n_bands) before the
    distinct. From `plan_policy.GATES["collapse"]` of estimated input
    the join runs over ONE REPRESENTATIVE per distinct signature
    instead:

      - pairs within an identical-signature group are emitted directly
        (they collide in every band by definition);
      - the banded self-join pairs distinct signatures (<=1 row per
        signature per band — a hot bucket of M copies carries ONE row);
      - representative pairs expand back to member pairs.

    The result is EXACTLY the plain join's pair set (two docs collide
    in a band iff their signatures' band slices agree, a function of
    the signature alone) — unlike a representative-star cap, nothing is
    dropped at any scale, so the operator's oracle stays exact even on
    pathological corpora. The collapsed path's relations ride
    call-scoped persists (signature relation: 5 consumers); the gate
    keeps the plain single-exchange plan at bench/driver scale where
    persists cost more than they save.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n=n, seed=seed,
                             features=features)
    if plan_policy.above(df, "collapse"):
        return _minhash_pairs_collapsed(sig, num_hashes, band_size)
    return band_pairs(minhash_bands(sig, num_hashes, band_size)).distinct()


def _minhash_pairs_collapsed(sig: DataFrame, num_hashes: int,
                             band_size: int) -> DataFrame:
    """Signature-collapsed band join (see minhash_lsh_pairs): exact
    pair set, band-join input bounded by DISTINCT signatures."""
    skey = F.array_join(F.transform("minhash",
                                    lambda x: x.cast("string")), ":")
    rel = plan_policy.hold(sig.select("id", skey.alias("__sig")),
                           "minhash.signatures")
    groups = plan_policy.hold(
        sig.select(skey.alias("__sig"), "minhash")
        .groupBy("__sig", "minhash").agg(F.count(F.lit(1)).alias("__m")),
        "minhash.groups")
    # pairs among identical signatures: they agree on every band
    a = rel.select(F.col("__sig").alias("__s"), F.col("id").alias("id_a"))
    b = rel.select(F.col("__sig").alias("__s"), F.col("id").alias("id_b"))
    intra = (a.join(b, "__s").filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b"))
    # banded join over one row per distinct signature
    sig_pairs = band_pairs(minhash_bands(groups, num_hashes, band_size,
                                         key="__sig"),
                           "__sig", "__sig_a", "__sig_b").distinct()
    ma = rel.select(F.col("__sig").alias("__sig_a"), F.col("id").alias("ia"))
    mb = rel.select(F.col("__sig").alias("__sig_b"), F.col("id").alias("ib"))
    cross = (sig_pairs.join(ma, "__sig_a").join(mb, "__sig_b")
             .select(F.least("ia", "ib").alias("id_a"),
                     F.greatest("ia", "ib").alias("id_b")))
    return intra.union(cross).distinct()


@functools.cache
def _process_cache_dir() -> str:
    """This process's directory for caches derived from RDD-backed
    inputs, created on first use and removed at interpreter exit."""
    d = tempfile.mkdtemp(prefix="irs-process-caches-")
    atexit.register(shutil.rmtree, d, True)
    return d


def _auto_cache_path(df: DataFrame, kind: str, *params) -> str:
    """Deterministic cache path for a materialized derived relation,
    keyed by the input plan's semantic hash, the operator parameters and
    the tokenizer format version (bumps when tokenizer semantics change,
    so a stale cache from an older engine never serves). A file-backed
    input's cache is shared by later sessions; an input with an RDD leaf
    (a checkpoint) dies with its session and hashes anew per checkpoint,
    so its cache goes under `_process_cache_dir()`. Reuse caveat: a
    source path whose CONTENT is rewritten in place maps to the same
    key — pass an explicit, version-keyed path for such datasets."""
    import hashlib

    from .build import INDEX_FORMAT_VERSION
    key = hashlib.sha256(
        "|".join([f"v{INDEX_FORMAT_VERSION}", str(df.semanticHash())]
                 + [str(p) for p in params]).encode()).hexdigest()[:16]
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    rdd_leaf = any(leaves.apply(i).nodeName() == "LogicalRDD"
                   for i in range(leaves.size()))
    root = _process_cache_dir() if rdd_leaf else tempfile.gettempdir()
    return os.path.join(root, f"irs_{kind}_{key}")


def near_duplicates(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3,
                    threshold: float = 0.8, num_hashes: int = 64,
                    band_size: int = 8,
                    shingles_path: str | None = None) -> DataFrame:
    """The 100 TB near-dup pipeline in one operator: banded MinHash-LSH
    candidate generation CHAINED into exact n-gram-shingle Jaccard
    verification computed on the candidate pairs only.

    Never forms the all-pairs shared-shingle join (ngram_jaccard_pairs's
    standalone exposure): verification joins are driven FROM the
    candidate set, so the work is O(candidates * shingles_per_doc).
    With the defaults (64 hashes, 8 bands of 8), a pair at the 0.8
    verification threshold collides in some band w.p.
    1-(1-0.8^8)^8 ~ 0.80 and near-certainly above ~0.9, while background
    pairs at J<=0.2 collide w.p. <2e-5 — candidate volume stays linear
    in true near-dups, not O(n^2). Deterministic (sha256 hashing), so
    the DuckDB oracle reproduces the exact candidate set.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    # ONE shingle relation feeds both LSH candidate generation and the
    # exact verification (4 consumers: minhash agg, a-side, b-side,
    # sizes). Without `shingles_path`, Spark recomputes the subplan per
    # consumer — measured FASTER at sandbox scale than an in-memory
    # cache (the columnar cache build costs more than three recomputes
    # of a pipelined tokenize+shingle scan on a memory-bandwidth-bound
    # box). At 10^12 docs, pass `shingles_path`: the shingle relation
    # is written ONCE to disk-backed storage (idempotent on the path's
    # _SUCCESS marker) and every consumer scans the materialized
    # parquet — the tokenize+shingle work runs once total instead of
    # once per consumer, and the scan is column-pruned per stage.
    # Caveats (same contract as similarity.persist_ivf): the CALLER
    # must key the path by (dataset version, n, id_col) — a stale
    # path silently serves the old shingles; the idempotency check
    # is a driver-local os.path probe, correct for local/NFS paths
    # (this sandbox's TableStore backend) — an object-store
    # deployment should route the marker check through its
    # Iceberg/Hadoop catalog instead.
    sh = shingle_sets(df, id_col, text_col, n)
    if shingles_path is None and plan_policy.above(df, "materialize"):
        # the scale path engages ITSELF above the size estimate
        # (round-4 shipped the mechanism but nothing selected it):
        # at 10^12 docs the tokenize+shingle pass must run once total,
        # not once per consumer
        shingles_path = _auto_cache_path(df, "shingles", n, id_col, text_col)
    if shingles_path is not None:
        sh = materialize_once(sh, shingles_path)
    cand = minhash_lsh_pairs(df, id_col, text_col, num_hashes, band_size,
                             n=n, features=sh.withColumnRenamed("shingle",
                                                                "feature"))
    # candidate-driven verification: expand candidates by id_a's shingles,
    # then keep only shingles id_b also has
    return _jaccard_verify(sh, threshold, candidates=cand)


def connected_components(pairs: DataFrame, a_col: str = "id_a",
                         b_col: str = "id_b",
                         max_iter: int = 50) -> DataFrame:
    """(id, cluster_id) connected components over an undirected pair
    relation; cluster_id = min node id of the component. Ids may be any
    orderable type (long doc ids, string paths, ...) — min/least and the
    star orientations only need the column's natural ordering.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): each round is two
    relational passes (symmetrize -> groupBy-min -> join), and the edge
    set converges to disjoint stars centered at component minima in
    O(log^2 n) rounds (O(log n) observed). Everything is DataFrame
    joins/aggregates — no collect_list of neighborhoods, so a high-degree
    node never materializes its adjacency in one task, and no
    driver-side graph: the only driver values per round are the 3-field
    convergence fingerprint. Each round localCheckpoints the edge set
    (truncates lineage — iterative plans otherwise grow Catalyst trees
    exponentially; at real 100 TB scale use a reliable checkpoint dir).

    Isolated nodes never appear in `pairs`, so every returned row
    belongs to a component of size >= 2 (callers wanting singletons
    left-join this onto their node set).
    """
    from pyspark.sql import Observation

    edges = (pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
             .filter(F.col("u") != F.col("v")).distinct())

    _FP_AGGS = lambda: (  # noqa: E731  (shared metric list, fresh per obs)
        F.count(F.lit(1)).alias("c"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64("v", "u").cast("decimal(38,0)")).alias("h2"))

    def checkpoint_with_fingerprint(e: DataFrame, tag: str):
        """Eager localCheckpoint with the convergence fingerprint RIDING
        the same job as an Observation — per round the driver runs ONE
        job, not checkpoint + a separate fingerprint collect (cheap
        set-equality check: count + two order-independent hash sums; on
        an apparent match the loop still confirms the fixed point
        EXACTLY via anti-join before trusting it, so a hash collision
        can cost one wasted confirmation, never a wrong result)."""
        obs = Observation(tag)
        ck = e.observe(obs, *_FP_AGGS()).localCheckpoint(eager=True)
        row = obs.get
        return ck, (row["c"], row["h1"], row["h2"])

    def same_edge_set(a: DataFrame, b: DataFrame) -> bool:
        # both are distinct sets; equal counts + empty one-way anti-join
        # is exact set equality
        if a.count() != b.count():
            return False
        return a.join(b, ["u", "v"], "left_anti").limit(1).count() == 0

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        m = F.least(F.col("mv"), F.col("u"))
        # (v, m) for v in N(u), v > u; m <= u < v so never a self-loop
        return (sym.join(mins, "u").filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), m.alias("v")).distinct())

    def small_star(e: DataFrame) -> DataFrame:
        o = e.select(F.greatest("u", "v").alias("u"),
                     F.least("u", "v").alias("v"))
        mins = o.groupBy("u").agg(F.min("v").alias("m"))  # m < u
        j = o.join(mins, "u")
        return (j.filter(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(mins.select("u", F.col("m").alias("v")))
                .distinct())

    edges, prev = checkpoint_with_fingerprint(edges, "cc_init")
    for i in range(max_iter):
        nxt, cur = checkpoint_with_fingerprint(
            small_star(large_star(edges)), f"cc_round_{i}")
        converged = cur == prev and same_edge_set(nxt, edges)
        plan_policy.release(edges)  # the superseded round's checkpoint
        edges, prev = nxt, cur
        if converged:
            break
    else:
        plan_policy.release(edges)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds")
    # fixed point = stars (child, center): sym min-neighbor of a child is
    # its center, of the center its smallest child (> center) — least()
    # with the node id itself resolves both to the center
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (sym.groupBy("u").agg(F.min("v").alias("mv"))
            .select(F.col("u").alias("id"),
                    F.least(F.col("mv"), F.col("u")).alias("cluster_id")))


def contamination(df: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  bench_id_col: str = "doc_id",
                  bench_text_col: str = "text",
                  n: int = 3, min_overlap: int = 2) -> DataFrame:
    """Benchmark decontamination: (id, bench_id, n_shared, containment)
    for every corpus document sharing >= min_overlap distinct n-gram
    shingles with a benchmark/eval document. containment = shared
    shingles / benchmark doc's shingles — the asymmetric measure that
    catches a benchmark item EMBEDDED in a larger document (where
    symmetric Jaccard stays tiny). A training pipeline drops or flags
    the matches before training so eval numbers stay meaningful.

    Scale shape (100 TB corpus, small benchmark): the benchmark side is
    by definition small (an eval set), so its shingle relation
    BROADCASTS into one map-side join against the corpus shingle scan —
    no corpus shuffle at all until the (id, bench_id) overlap counts,
    whose cardinality is bounded by actual contamination, not corpus
    size. Benchmark docs with < n tokens have no shingles and cannot
    match (same contract as shingle_sets).
    """
    corpus_sh = shingle_sets(df, id_col, text_col, n)
    bench_sh = shingle_sets(benchmark, bench_id_col, bench_text_col, n)
    bench_sh = F.broadcast(
        bench_sh.select(F.col("id").alias("bench_id"), "shingle"))
    bsizes = F.broadcast(
        bench_sh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("n_bench")))
    hits = (corpus_sh.join(bench_sh, "shingle")
            .groupBy("id", "bench_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_overlap))
    return (hits.join(bsizes, "bench_id")
            .select("id", "bench_id", "n_shared",
                    F.round(F.col("n_shared") / F.col("n_bench"), 6)
                    .alias("containment")))


def duplicate_clusters(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       threshold: float = 0.8, num_hashes: int = 64,
                       band_size: int = 8,
                       shingles_path: str | None = None) -> DataFrame:
    """End-to-end dedup grouping: near_duplicates pairs -> connected
    components -> (id, cluster_id, cluster_size) for every document in
    a near-duplicate cluster (size >= 2). cluster_id = min doc id of
    the cluster, the canonical representative a curation pipeline keeps
    while dropping the rest. `shingles_path` materializes the shared
    shingle relation once (see near_duplicates)."""
    pairs = near_duplicates(df, id_col, text_col, n, threshold,
                            num_hashes, band_size,
                            shingles_path=shingles_path)
    comp = connected_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select("id", "cluster_id", "cluster_size")


def canonical_documents(clusters: DataFrame, scores: DataFrame,
                        id_col: str = "id", cluster_col: str = "cluster_id",
                        score_col: str = "quality") -> DataFrame:
    """Quality-aware representative selection after dedup: for every
    duplicate-cluster member, mark whether it is the cluster's KEEPER —
    the member with the highest score, ties broken by smallest id (the
    standard curation step after clustering: keep one, drop the rest,
    but keep the BEST one rather than an arbitrary/min-id member).

    `clusters`: (id, cluster_id) — e.g. duplicate_clusters() output.
    `scores`:   (id, score_col)  — e.g. textstats.quality_scores();
    score values must be deterministic at comparison grain (the
    textstats scores are rounded to 6 dp, which also makes the argmax
    engine-portable for the exact oracle).

    Returns (id, cluster_id, is_canonical). Docs in no cluster are
    canonical by definition and are NOT emitted (callers union them
    back with is_canonical=true if they need the full relation).

    Scale shape (100 TB): the clusters relation holds only duplicate
    members — a small fraction of the corpus — so Spark's size
    estimates broadcast it into the scores scan when it fits (no
    unconditional hint: a pathological 90%-duplicate corpus degrades
    to a sort-merge join, not a driver OOM), and the argmax is ONE
    window shuffle over cluster members only. The corpus itself is
    never shuffled.
    """
    members = (clusters.select(id_col, cluster_col)
               .join(scores.select(id_col, score_col), id_col))
    w = (Window.partitionBy(cluster_col)
         .orderBy(F.desc(score_col), F.asc(id_col)))
    return (members.withColumn("is_canonical",
                               F.row_number().over(w) == F.lit(1))
            .select(id_col, cluster_col, "is_canonical"))


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", bits: int = 64) -> DataFrame:
    """(id, simhash) where simhash is a `bits`-char '0'/'1' string.

    Per-term 64-bit hash = first bits/4 hex chars of sha256(term);
    bit b contributes +tf / -tf; sign of the column sum is the output
    bit. Bitstring (not int64) so both engines avoid 1<<63 overflow.

    Scale shape (same rewrite as the minhash family, commit 922633e):
    the `bits` per-bit weighted sums are `bits` SUM-aggregate
    expressions in ONE groupBy("id") over ONE row per (id, term) — no
    bit explode, so the first shuffle carries the (id, term, tf) stream
    once, not ×bits (the round-2 version multiplied it 64x).
    """
    toks = _tokens(df, text_col)
    tf = (toks.select(F.col(id_col).alias("id"), F.explode("__toks").alias("term"))
          .groupBy("id", "term").agg(F.count("*").alias("tf"))
          .withColumn("h", F.substring(F.sha2(F.col("term"), 256), 1, bits // 4)))
    # bit b of h: nibble = hex digit at index b//4; bit = (nibble >> (3-b%4)) & 1
    sums = []
    for b in range(bits):
        nib = (f"(instr('0123456789abcdef', "
               f"substring(h, {b // 4 + 1}, 1)) - 1)")
        shift = 1 << (3 - b % 4)
        sums.append(F.sum(F.expr(f"tf * (2 * (({nib} div {shift}) % 2) - 1)"))
                    .alias(f"s{b}"))
    per_doc = tf.groupBy("id").agg(*sums)
    bit_chars = [F.when(F.col(f"s{b}") > 0, F.lit("1")).otherwise(F.lit("0"))
                 for b in range(bits)]
    return per_doc.select("id", F.concat(*bit_chars).alias("simhash"))


def simhash_dup_groups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Groups of docs with identical simhash (near-dup at Hamming 0)."""
    sig = simhash_signatures(df, id_col, text_col)
    return (sig.groupBy("simhash")
            .agg(F.count("*").alias("n_docs"), F.min("id").alias("canonical_id"))
            .filter(F.col("n_docs") >= 2))


def _packed_full_expr(bits: int):
    """The whole signature as ONE long built from the packed word
    columns w0[, w1] (bits <= 64): w0 holds the first min(32, bits)
    bits, w1 the remainder. Bit ops only — sign-safe because
    shiftleft/bitwiseOR operate on the raw two's-complement pattern."""
    if bits <= 32:
        return F.col("w0")
    return F.shiftleft(F.col("w0"), bits - 32).bitwiseOR(F.col("w1"))


def _bit_slice_expr(full, bits: int, p: int, ln: int):
    """Value of signature bits [p, p+ln) (0-based, MSB-first) as a long."""
    e = F.shiftrightunsigned(full, bits - p - ln) if bits - p - ln else full
    return e.bitwiseAND(F.lit((1 << ln) - 1))


def _complement_groups(bounds0, i: int, bits: int, nb: int):
    """Partition the COMPLEMENT of block i (all signature bits outside
    [s_i, e_i)) into nb groups of near-equal size; each group is a list
    of (start, len) original-coordinate runs (a group may straddle the
    excluded block, hence up to two runs)."""
    s, e = bounds0[i]
    runs = [(a, b) for a, b in ((0, s), (e, bits)) if b > a]
    cl = bits - (e - s)
    gb, gr = divmod(cl, nb)
    groups, run_idx = [], 0
    cur = runs[0][0] if runs else 0
    for j in range(nb):
        need = gb + (1 if j < gr else 0)
        intervals = []
        while need > 0:
            ra, rb = runs[run_idx]
            take = min(need, rb - cur)
            intervals.append((cur, take))
            cur += take
            need -= take
            if cur == rb:
                run_idx += 1
                if run_idx < len(runs):
                    cur = runs[run_idx][0]
        groups.append(intervals)
    return groups


def _group_val_expr(full, bits: int, intervals):
    """Concatenated value of a complement group's bit runs as a long."""
    if not intervals:
        return F.lit(0).cast("long")
    expr, shift_acc = None, sum(ln for _, ln in intervals)
    for p, ln in intervals:
        shift_acc -= ln
        part = _bit_slice_expr(full, bits, p, ln)
        if shift_acc:
            part = F.shiftleft(part, shift_acc)
        expr = part if expr is None else expr.bitwiseOR(part)
    return expr.cast("long")


# Hot-bucket candidate volume (sum of squared sizes of buckets over
# bucket_cap) above which _simhash_candidates re-bands; 0 always does.
SIMHASH_SPLIT_CANDIDATES = 50_000_000


def _simhash_candidates(signatures: DataFrame, max_hamming: int, bits: int,
                        bucket_cap: int | None) -> DataFrame:
    """Candidate pair generation for simhash_near_duplicates: returns
    (id_a, id_b, a_w*, b_w*) rows (NOT yet verified or deduplicated).

    Level 1 — block banding: the signature splits into max_hamming+1
    contiguous blocks; by pigeonhole a pair at Hamming <= max_hamming
    agrees exactly on >=1 whole block, so the (blk, val) self-join is a
    COMPLETE candidate cover (recall exactly 1.0).

    Level 2 — the skew cap: simhash bits are BIASED on real corpora
    (shared vocabulary pulls many docs toward the same block values), so
    a hot (blk, val) bucket makes candidate volume QUADRATIC in the
    bucket size (measured 3.1M candidates over 5k synthetic docs at
    max_hamming=6 before this cap). Any bucket larger than `bucket_cap`
    is therefore re-banded on a SECOND pigeonhole split: its members all
    share block i exactly, so a qualifying pair's <= max_hamming
    differing bits lie entirely in the COMPLEMENT of block i — split the
    complement into max_hamming+1 groups and the pair agrees fully on
    >=1 group. Hot-bucket members join on (blk, val, sub, sval) instead
    of (blk, val): completeness is preserved (every qualifying pair
    still shares >=1 join key somewhere) while the key gains
    ~(bits - bits/(k+1))/(k+1) bits of entropy, collapsing the
    bias-driven quadratic blow-up; genuinely-identical signatures still
    collide — those pairs are the operator's true output, not skew.
    Group values are extracted from the already-packed int64 words with
    JVM shift/mask ops (no extra strings ride the explode).

    The split is ADAPTIVE: the per-bucket histogram (`sizes`, bounded by
    nb * distinct signature prefixes — a few thousand rows at any corpus
    size after its map-side combine) exactly predicts the plain join's
    hot-bucket candidate volume as sum(bsz^2 over buckets > cap), so one
    scalar aggregate decides. Re-banding only pays when that volume
    dominates: it costs an explode x nb on hot rows plus the packed-word
    group extraction on both join sides, and on corpora whose COMPLEMENT
    bits are as biased as the block bits it cannot discriminate
    (measured at sf0.1: 6.28M -> 4.89M candidates for 2.7x the time) —
    so up to `SIMHASH_SPLIT_CANDIDATES` the complete-but-plain block
    join wins. Above it (a true web-scale hot bucket), the sub-split
    bounds the quadratic.

    The exploded block relation feeds its consumers (sizes, both join
    sides) via a MEMORY_AND_DISK persist — it is slim: (id, <=2 longs,
    blk, short val string) x (max_hamming+1) rows per doc. At 10^12
    docs, pass a pre-persisted `signatures=` table so the signature
    computation itself never re-runs.
    """
    nwords = (bits + 31) // 32
    words = [F.conv(F.substring("simhash", 1 + 32 * w,
                                min(32, bits - 32 * w)), 2, 10)
             .cast("long").alias(f"w{w}") for w in range(nwords)]
    wcols = [f"w{w}" for w in range(nwords)]
    nb = max_hamming + 1
    base, rem = divmod(bits, nb)
    bounds, start = [], 1
    for i in range(nb):
        ln = base + (1 if i < rem else 0)
        bounds.append((start, ln))
        start += ln
    # block values come from the original bitstring (substring positions
    # map 1:1), packed words ride the explode for the integer verify:
    # explode carries (id, words..., blk, val) — all longs + one short
    # string
    blocks = signatures.select(
        F.col("id"), *words,
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("blk"),
                     F.substring("simhash", s, ln).alias("val"))
            for i, (s, ln) in enumerate(bounds)])).alias("b")
    ).select("id", *wcols, F.col("b.blk").alias("blk"),
             F.col("b.val").alias("val"))

    def joined(rel: DataFrame, keys: list) -> DataFrame:
        a = rel.select(*keys, F.col("id").alias("id_a"),
                       *[F.col(w).alias(f"a_{w}") for w in wcols])
        b = rel.select(*keys, F.col("id").alias("id_b"),
                       *[F.col(w).alias(f"b_{w}") for w in wcols])
        cols = ["id_a", "id_b"] + [f"a_{w}" for w in wcols] + \
            [f"b_{w}" for w in wcols]
        return a.join(b, keys).select(*cols)

    # sub-splitting needs >=1 complement bit per doc pair to discriminate
    # and the single-long packing; outside that envelope (max_hamming=0:
    # the block IS the signature, so hot buckets are all-true-pairs) the
    # plain block join is already the right shape
    split = bucket_cap is not None and max_hamming >= 1 and bits <= 64
    if not split:
        return joined(blocks, ["blk", "val"])

    blocks = plan_policy.hold(blocks, "simhash.blocks")
    sizes = blocks.groupBy("blk", "val").agg(F.count(F.lit(1)).alias("bsz"))
    if SIMHASH_SPLIT_CANDIDATES > 0:
        # one scalar job over the tiny histogram: the plain join's
        # hot-bucket candidate volume, exactly
        hot = sizes.filter(F.col("bsz") > bucket_cap).agg(
            F.sum(F.col("bsz") * F.col("bsz")).alias("sq")).collect()[0]
        if int(hot["sq"] or 0) <= SIMHASH_SPLIT_CANDIDATES:
            return joined(blocks, ["blk", "val"])
    # hot keys are FEW by construction (each covers > bucket_cap docs),
    # so the marker join broadcasts them
    hot_keys = F.broadcast(
        sizes.filter(F.col("bsz") > bucket_cap).select(
            "blk", "val", F.lit(True).alias("__hot")))
    full = _packed_full_expr(bits)
    sub_arr = None
    for i in range(nb):
        arr = F.array(*[
            F.struct(F.lit(j).alias("sub"),
                     _group_val_expr(full, bits,
                                     _complement_groups(
                                         [(s - 1, s - 1 + ln)
                                          for s, ln in bounds], i, bits, nb)
                                     [j]).alias("sval"))
            for j in range(nb)])
        sub_arr = (F.when(F.col("blk") == i, arr) if sub_arr is None
                   else sub_arr.when(F.col("blk") == i, arr))
    # ONE uniform key (blk, val, sub, sval) and ONE self-join: cold rows
    # carry the dummy sub-key (-1, 0) (a single row each), hot rows
    # explode their nb complement-group keys. Cold and hot rows can
    # never cross-match — hot (blk, val) values are by definition absent
    # from the cold rows — so the fused join produces exactly the
    # cold-join ∪ hot-join pair set while keeping one join subtree (no
    # union of two joins: measured job-count overhead at interactive
    # scale, see sandbox notes on the per-job floor).
    dummy = F.array(F.struct(F.lit(-1).alias("sub"),
                             F.lit(0).cast("long").alias("sval")))
    keyed = (blocks.join(hot_keys, ["blk", "val"], "left")
             .select("id", *wcols, "blk", "val",
                     F.explode(F.when(F.col("__hot").isNotNull(), sub_arr)
                               .otherwise(dummy)).alias("sb"))
             .select("id", *wcols, "blk", "val",
                     F.col("sb.sub").alias("sub"),
                     F.col("sb.sval").alias("sval")))
    # both join sides read keyed: hold it so the packed-word group
    # extraction (a wide codegen'd bit-op tree) runs once
    keyed = plan_policy.hold(keyed, "simhash.keyed")
    return joined(keyed, ["blk", "val", "sub", "sval"])


def simhash_near_duplicates(df: DataFrame | None = None,
                            max_hamming: int = 3, bits: int = 64,
                            id_col: str = "doc_id", text_col: str = "text",
                            signatures: DataFrame | None = None,
                            bucket_cap: int | None = 256) -> DataFrame:
    """(id_a, id_b, hamming) for every pair within `max_hamming` bits of
    simhash distance — the pairing operator over simhash_signatures.

    Scale shape — block banding with a skew cap (the permuted-table idea
    of Manku, Jain & Sarma, "Detecting Near-Duplicates for Web
    Crawling", WWW 2007, expressed relationally): the `bits`-char
    signature splits into max_hamming+1 contiguous blocks, and by
    PIGEONHOLE any pair with Hamming <= max_hamming agrees exactly on at
    least one whole block — the block-equality self-join is a COMPLETE
    candidate cover (recall exactly 1.0, unlike probabilistic minhash
    bands). Buckets larger than `bucket_cap` docs are re-banded on a
    second pigeonhole split of the block's complement bits
    (`_simhash_candidates`), so bias-driven hot buckets never go
    quadratic — but only when the per-bucket histogram says the plain
    join's hot-bucket candidate volume exceeds `SIMHASH_SPLIT_CANDIDATES`
    (50M ~ a few CPU-seconds of integer verify: below the crossover the
    re-banding machinery costs more than the candidates it removes,
    measured 2.7x at sf0.1; above it the quadratic join is the cost
    that matters and the split bounds it). `bucket_cap=None` disables
    the defense entirely (pure block banding, no histogram job).
    The exact Hamming verify — integer bit_count over packed int64
    words riding the explode — then makes the result set exactly
    {(a, b) : H(sig_a, sig_b) <= max_hamming}.

    The verify is the same integer arithmetic in Spark / DuckDB /
    Python, so the operator keeps an exact cross-engine oracle (driver
    gate dedup_simhash_pairs verifies the banded plan against an
    all-pairs DuckDB oracle — an empirical check of the pigeonhole
    completeness, including the sub-split, on top of the unit tests).

    When `signatures=` is supplied, every signature must be exactly
    `bits` chars of '0'/'1' — enforced with a per-row assert_true (a
    shorter string would silently truncate the packed words and produce
    wrong Hamming distances).

    Below `plan_policy.GATES["defend"]` of estimated input the skew
    defense is skipped entirely — plain complete block banding, no
    histogram job, no scoped persists. The defense
    machinery's fixed cost (persist barriers + the scalar histogram
    collect) measured ~0.3 s per call at bench scale (alternating
    within-session A/B with cache clearing, min-of-4: 4.19 s vs
    3.91 s), while the quadratic work it guards against only matters
    on large corpora — and the RESULT is exact on either path (the
    integer Hamming verify runs regardless; the paths differ only in
    join work). The 4 MB default is calibrated from the measured
    quadratic: ~3.1M worst-case candidates at a 1.8 MB corpus estimate
    (5k docs) reaches the 50M crossover near ~20k docs / ~7 MB — the
    gate hands over to the histogram well before that. The gate applies
    to the `df=` path only — a caller supplying `signatures=` (whose
    input estimate says nothing about the corpus) controls the defense
    explicitly via `bucket_cap`.
    """
    if signatures is None:
        if df is None:
            raise ValueError(
                "simhash_near_duplicates needs either df= or signatures=")
        if bucket_cap is not None and not plan_policy.above(df, "defend"):
            bucket_cap = None
        signatures = simhash_signatures(df, id_col, text_col, bits)
    else:
        # the check rides the simhash COLUMN (when/raise_error), not a
        # filter — a filter predicate ORed/folded to true gets pruned by
        # Catalyst, while a value-producing expression cannot be
        signatures = signatures.withColumn(
            "simhash",
            F.when(F.length("simhash") == F.lit(bits), F.col("simhash"))
            .otherwise(F.raise_error(F.concat(
                F.lit(f"simhash signature must be exactly {bits} chars, "
                      "got: "), F.col("simhash")))))
    nwords = (bits + 31) // 32
    wcols = [f"w{w}" for w in range(nwords)]
    cand = _simhash_candidates(signatures, max_hamming, bits, bucket_cap)
    ham = reduce(
        lambda x, y: x + y,
        [F.expr(f"bit_count(a_{w} ^ b_{w})") for w in wcols]).cast("long")
    return (cand.filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


# ---------------------------------------------------------------------------
# exact duplicated spans (Lee et al. 2022, "Deduplicating Training Data
# Makes Language Models Better": verbatim >=k-token spans repeated
# across documents — the EXACT-substring dedup family, distinct from
# the minhash/simhash whole-document near-dup family above)
# ---------------------------------------------------------------------------

# 128-bit gram fingerprint: birthday collisions reach ~50% only around
# 2^64 distinct grams — safely past 10^12-doc corpora. sha256 keeps the
# Spark / DuckDB / Python bit-identity contract of this module.
_SPAN_HASH_CHARS = 32


def _span_positions(df: DataFrame, k: int, id_col: str, text_col: str,
                    min_doc_freq: int, grams_path: str | None) -> DataFrame:
    """(id, p): token positions whose k-token gram (whitespace pieces)
    appears in >= min_doc_freq DISTINCT documents.

    The grams relation feeds BOTH the doc-frequency aggregate and the
    position join — without materialization Spark derives it twice
    (two full tokenize+hash corpus scans). From the materialize gate
    (`plan_policy`, the near_duplicates switch) the relation is written
    once to `grams_path` (auto-derived, idempotent on `_SUCCESS`) and
    both consumers read the parquet — at 10^12 docs that halves the
    dominant cost."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.filter(F.split(F.col(text_col), r"\s+"),
                 lambda t: t != "").alias("tk"))
    gram = (f"CASE WHEN size(tk) >= {k} THEN "
            f"transform(sequence(0, size(tk) - {k}), "
            f"i -> struct(i AS p, substring(sha2("
            f"concat_ws(' ', slice(tk, i + 1, {k})), 256), 1, "
            f"{_SPAN_HASH_CHARS}) AS gh)) ELSE array() END")
    grams = toks.select("id", F.explode(F.expr(gram)).alias("g")) \
        .select("id", F.col("g.p").alias("p"), F.col("g.gh").alias("gh"))
    if grams_path is None and plan_policy.above(df, "materialize"):
        grams_path = _auto_cache_path(df, "spangrams", k, id_col, text_col)
    if grams_path is not None:
        grams = materialize_once(grams, grams_path)
    if min_doc_freq == 2:
        # >=2 distinct ids iff min(id) != max(id): one partial-agg
        # shuffle instead of count_distinct's two-phase expand plan
        dup = (grams.groupBy("gh")
               .agg(F.min("id").alias("__i0"), F.max("id").alias("__i1"))
               .filter(F.col("__i0") != F.col("__i1"))
               .select("gh"))
    else:
        dup = (grams.groupBy("gh")
               .agg(F.count_distinct("id").alias("__nd"))
               .filter(F.col("__nd") >= min_doc_freq)
               .select("gh"))
    return grams.join(dup, "gh").select("id", "p")


def duplicated_spans(df: DataFrame, k: int = 50, id_col: str = "doc_id",
                     text_col: str = "text", min_doc_freq: int = 2,
                     grams_path: str | None = None) -> DataFrame:
    """(id, start_tok, end_tok, n_tokens): MAXIMAL token runs covered by
    k-token grams that appear verbatim in >= `min_doc_freq` distinct
    docs — the spans Lee et al.'s suffix-array pass cuts out of
    training data, re-expressed relationally (fixed k instead of
    all-lengths: the paper itself thresholds at a minimum match
    length, and a >=k-token verbatim match is exactly a run of
    matching k-grams). end_tok is exclusive; tokens are non-empty
    whitespace pieces (token_counts's n_ws_tokens currency).

    Scale shape (100 TB): the gram explode + doc-frequency aggregate is
    the corpus-sized shuffle — the relational analogue of the paper's
    suffix-array scan, inherent to exact-substring dedup — but rows are
    (128-bit sha256 fingerprint, id), not 50-token strings (~20x fewer
    shuffle bytes), and the aggregate is map-side combined. Everything
    after is proportional to DUPLICATION, not corpus: only positions of
    cross-doc grams survive the join, and the run-merge window sorts
    those per doc (overlapping-or-abutting intervals fold via the
    lag/cumsum run-id trick — one id-keyed exchange)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_doc_freq < 2:
        raise ValueError(
            f"min_doc_freq must be >= 2 (cross-document duplication), "
            f"got {min_doc_freq}")
    pos = _span_positions(df, k, id_col, text_col, min_doc_freq, grams_path)
    w = Window.partitionBy("id").orderBy("p")
    lag = F.lag("p").over(w)
    new_run = F.when(lag.isNull() | (F.col("p") - lag > k), 1).otherwise(0)
    runs = pos.withColumn(
        "__run", F.sum(new_run).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (runs.groupBy("id", "__run")
            .agg(F.min("p").alias("start_tok"),
                 (F.max("p") + k).alias("end_tok"))
            .select("id", F.col("start_tok").cast("long").alias("start_tok"),
                    F.col("end_tok").cast("long").alias("end_tok"),
                    (F.col("end_tok") - F.col("start_tok")).cast("long")
                    .alias("n_tokens")))


def span_duplication_stats(df: DataFrame, k: int = 50,
                           id_col: str = "doc_id", text_col: str = "text",
                           min_doc_freq: int = 2,
                           grams_path: str | None = None) -> DataFrame:
    """(id, n_ws_tokens, n_dup_tokens, dup_frac) for EVERY document:
    how much of each doc is covered by cross-document verbatim >=k-token
    spans — the per-doc number a curation pipeline thresholds on (docs
    above ~0.8 are boilerplate/mirror copies; mid-range docs get their
    spans cut instead). dup_frac rounds to 6 dp (the module's
    engine-portable comparison grain); docs with no duplicated span
    (or < k tokens) report 0."""
    spans = duplicated_spans(df, k, id_col, text_col, min_doc_freq,
                             grams_path)
    per_doc = spans.groupBy("id").agg(F.sum("n_tokens").alias("n_dup_tokens"))
    # null text counts 0 tokens (split(NULL) is NULL and size(NULL)
    # would poison the fraction)
    ws = F.size(F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")),
                                 r"\s+"),
                         lambda t: t != ""))
    base = df.select(F.col(id_col).alias("id"),
                     ws.cast("long").alias("n_ws_tokens"))
    return (base.join(per_doc, "id", "left")
            .select("id", "n_ws_tokens",
                    F.coalesce("n_dup_tokens", F.lit(0)).cast("long")
                    .alias("n_dup_tokens"),
                    F.round(F.coalesce("n_dup_tokens", F.lit(0))
                            / F.greatest("n_ws_tokens", F.lit(1)), 6)
                    .alias("dup_frac")))


def cut_duplicated_spans(df: DataFrame, k: int = 50,
                         id_col: str = "doc_id", text_col: str = "text",
                         min_doc_freq: int = 2,
                         grams_path: str | None = None) -> DataFrame:
    """(id, clean_text, n_kept_tokens, n_removed_tokens): the corpus
    with every cross-document duplicated span CUT OUT — the actionable
    output of exact-substring dedup (Lee et al. remove every occurrence
    of a duplicated substring; span-level surgery keeps the unique
    remainder of a doc instead of dropping the doc).

    clean_text is the kept tokens rejoined with single spaces —
    whitespace is canonicalized (documented: span cutting is a
    tokens-level operation; a byte-exact splice would need original
    offsets, which whitespace tokenization does not preserve).

    Scale shape: spans (proportional to duplication) aggregate to one
    array per AFFECTED doc and join back to the corpus — Spark
    broadcast-estimates that side when small; the cut itself is one
    map-only filter-by-position expression per doc (no explode of the
    corpus back through a shuffle)."""
    spans = (duplicated_spans(df, k, id_col, text_col, min_doc_freq,
                              grams_path)
             .groupBy("id")
             .agg(F.collect_list(
                 F.struct("start_tok", "end_tok")).alias("__spans")))
    toks = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")),
                            r"\s+"),
                    lambda t: t != "")
    base = df.select(F.col(id_col).alias("id"), toks.alias("__tk"))
    joined = base.join(spans, "id", "left")
    kept = F.expr(
        "filter(transform(__tk, (t, i) -> struct(t AS t, i AS i)), "
        "s -> __spans IS NULL OR NOT exists(__spans, "
        "sp -> s.i >= sp.start_tok AND s.i < sp.end_tok))")
    return joined.select(
        "id",
        F.array_join(F.transform(kept, lambda s: s["t"]), " ")
        .alias("clean_text"),
        F.size(kept).cast("long").alias("n_kept_tokens"),
        (F.size("__tk") - F.size(kept)).cast("long")
        .alias("n_removed_tokens"))
