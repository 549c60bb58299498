"""Incremental near-dup detection (streaming/dedup.IncrementalDeduper):
each batch's probe must equal a pure-Python oracle of the full chain
(shingle -> minhash -> band -> candidate -> estimated Jaccard) over
"this batch vs everything admitted before it plus itself", and the
store's idempotent-append contract must survive replays."""

import glob
import hashlib
import itertools
import os

import pytest

from information_retrieval_spark import dedup
from information_retrieval_spark.normalize import tokenize
from information_retrieval_spark.streaming.dedup import IncrementalDeduper

NUM_HASHES, BAND_SIZE, N = 16, 4, 2

BATCHES = [
    [(0, "spark join window table scan spark"),
     (1, "completely different words entirely here now"),
     (2, "alpha beta gamma delta epsilon zeta")],
    [(3, "spark join window table scan spark"),      # exact dup of 0
     (4, "unique new content nothing shared today")],
    [(5, "alpha beta gamma delta epsilon eta"),      # near dup of 2
     (6, "spark join window table scan merge"),      # near dup of 0/3
     (7, "completely different words entirely here then")],  # near of 1
]


def _shingles(text):
    toks = tokenize(text)
    if len(toks) < N:
        return set()
    return {" ".join(toks[i:i + N]) for i in range(len(toks) - N + 1)}


def _py_sig(text):
    feats = _shingles(text)
    if not feats:
        return None
    coeffs = dedup.minhash_coeffs(NUM_HASHES)
    hs = [int(hashlib.sha256(f.encode()).hexdigest()[:8], 16)
          for f in feats]
    return [min((a * h + b) % dedup.MINHASH_P for h in hs)
            for a, b in coeffs]


def _py_bands(sig):
    nb = NUM_HASHES // BAND_SIZE
    return {(b, ":".join(str(sig[b * BAND_SIZE + j])
                         for j in range(BAND_SIZE)))
            for b in range(nb)}


def _expected_pairs(upto_batch):
    """Oracle for batch `upto_batch`'s probe: pairs with >=1 member in
    that batch, the other in any batch <= it, sharing >=1 LSH band."""
    sigs = {i: _py_sig(t) for b in BATCHES[:upto_batch + 1] for i, t in b}
    batch_ids = {i for i, _ in BATCHES[upto_batch]}
    want = {}
    for a, b in itertools.combinations(sorted(sigs), 2):
        if a not in batch_ids and b not in batch_ids:
            continue
        sa, sb = sigs[a], sigs[b]
        if sa is None or sb is None:
            continue
        if _py_bands(sa) & _py_bands(sb):
            est = sum(x == y for x, y in zip(sa, sb)) / NUM_HASHES
            want[(a, b)] = round(est, 6)
    return want


def _mk(spark, store_dir, **kw):
    return IncrementalDeduper(spark, store_dir, num_hashes=NUM_HASHES,
                              band_size=BAND_SIZE, n=N, **kw)


def _df(spark, batch):
    return spark.createDataFrame(batch, "doc_id long, text string")


def test_incremental_probe_matches_python_oracle(spark, work_dir):
    dd = _mk(spark, f"{work_dir}/ddstore_oracle")
    all_pairs = {}
    for bid, batch in enumerate(BATCHES):
        got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
               dd.probe_and_append(_df(spark, batch), bid).collect()}
        want = _expected_pairs(bid)
        assert got == want, f"batch {bid}"
        all_pairs.update(want)
    # sanity on the planted structure: exact dup estimates 1.0, near
    # dups collide, disjoint docs never pair
    assert all_pairs[(0, 3)] == 1.0
    assert (2, 5) in all_pairs and (0, 6) in all_pairs
    assert not any(4 in p for p in all_pairs)
    # the persisted dup_pairs table holds the union across batches
    rec = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in dd.dup_pairs().collect()}
    assert rec == all_pairs


def test_probe_is_readonly_and_orders_ids(spark, work_dir):
    dd = _mk(spark, f"{work_dir}/ddstore_ro")
    dd.append(_df(spark, BATCHES[0]), 0)
    got = {(r["id_a"], r["id_b"]) for r in
           dd.probe(_df(spark, BATCHES[1])).collect()}
    assert got == set(_expected_pairs(1))
    assert all(a < b for a, b in got)
    # probe() wrote nothing: no markers beyond batch 0, no dup_pairs
    assert sorted(os.listdir(os.path.join(dd.root, "applied"))) == ["0.done"]
    assert dd.dup_pairs() is None


def test_replay_is_idempotent(spark, work_dir):
    dd = _mk(spark, f"{work_dir}/ddstore_replay")
    dd.probe_and_append(_df(spark, BATCHES[0]), 0)
    first = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in dd.probe_and_append(_df(spark, BATCHES[1]), 1).collect()}
    files = {t: sorted(os.path.basename(f) for f in
                       glob.glob(os.path.join(dd.root, t, "*.parquet")))
             for t in dd.TABLES}
    # foreachBatch replay: same batch id again -> recorded pairs
    # re-read, store byte-layout unchanged
    again = {(r["id_a"], r["id_b"]): r["est_jaccard"]
             for r in dd.probe_and_append(_df(spark, BATCHES[1]), 1).collect()}
    assert again == first == _expected_pairs(1)
    files2 = {t: sorted(os.path.basename(f) for f in
                        glob.glob(os.path.join(dd.root, t, "*.parquet")))
              for t in dd.TABLES}
    assert files2 == files


def test_param_mismatch_refused(spark, work_dir):
    d = f"{work_dir}/ddstore_params"
    _mk(spark, d)
    with pytest.raises(ValueError, match="incompatible"):
        IncrementalDeduper(spark, d, num_hashes=NUM_HASHES,
                           band_size=BAND_SIZE, n=N + 1)


def test_threshold_filters_pairs(spark, work_dir):
    dd = _mk(spark, f"{work_dir}/ddstore_thresh", threshold=0.9)
    dd.append(_df(spark, BATCHES[0]), 0)
    dd.append(_df(spark, BATCHES[1]), 1)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
           dd.probe(_df(spark, BATCHES[2])).collect()}
    want = {p: j for p, j in _expected_pairs(2).items()
            if j >= 0.9 and (p[0] >= 5 or p[1] >= 5)}
    assert got == want


def test_stream_from_directory_multi_batch(spark, work_dir):
    in_dir = f"{work_dir}/ddstream_in"
    os.makedirs(in_dir, exist_ok=True)
    # one file per logical batch; maxFilesPerTrigger=1 + availableNow
    # replays them as separate micro-batches in file order
    for bid, batch in enumerate(BATCHES):
        _df(spark, batch).coalesce(1).write.parquet(
            f"{in_dir}/b{bid}", mode="overwrite")
        for f in glob.glob(f"{in_dir}/b{bid}/*.parquet"):
            os.rename(f, f"{in_dir}/batch{bid}.parquet")
    dd = _mk(spark, f"{work_dir}/ddstore_stream")
    q = dd.stream_from_directory(in_dir, f"{work_dir}/ddstream_ckpt",
                                 schema="doc_id long, text string",
                                 max_files_per_trigger=1)
    q.awaitTermination(120)
    # the recorded union equals the final-batch oracle's closure (every
    # pair involves the batch that introduced its later member, so the
    # per-batch union == all pairs over the full corpus)
    rec = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in dd.dup_pairs().collect()}
    want = {}
    for bid in range(len(BATCHES)):
        want.update(_expected_pairs(bid))
    assert rec == want


def test_compact_folds_segments_and_preserves_results(spark, work_dir):
    dd = _mk(spark, f"{work_dir}/ddstore_compact")
    for bid, batch in enumerate(BATCHES[:2]):
        dd.probe_and_append(_df(spark, batch), bid)

    def seg_files(t):
        return glob.glob(os.path.join(dd.store.path(t), "batch*_*.parquet"))

    assert seg_files("bands") and seg_files("sigs")
    before = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
              dd.probe(_df(spark, BATCHES[2])).collect()}
    dd.compact()
    # per-batch segments folded into a sorted base, probe unchanged
    assert not seg_files("bands") and not seg_files("sigs") \
        and not seg_files("dup_pairs")
    after = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
             dd.probe(_df(spark, BATCHES[2])).collect()}
    assert after == before == _expected_pairs(2)
    # commit markers survive: a replayed folded batch stays a no-op
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
           dd.probe_and_append(_df(spark, BATCHES[1]), 1).collect()}
    assert got == _expected_pairs(1)
    # and the store keeps working incrementally post-compaction
    got2 = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in
            dd.probe_and_append(_df(spark, BATCHES[2]), 2).collect()}
    assert got2 == _expected_pairs(2)


def test_compact_refuses_uncommitted_batch(spark, work_dir):
    dd = _mk(spark, f"{work_dir}/ddstore_guard")
    dd.probe_and_append(_df(spark, BATCHES[0]), 0)
    # simulate a batch that crashed between linking and its marker
    sig = dd._signatures(_df(spark, BATCHES[1]))
    dd._stage_and_link(sig, "sigs", 1)
    with pytest.raises(RuntimeError, match="no commit marker"):
        dd.compact()
    dd._commit_batch(1)  # marker lands -> compaction proceeds
    dd.compact()


def test_probe_plan_broadcasts_batch_and_pushes_band_keys(spark, work_dir):
    # the scale contract: the store side is scanned with the batch's
    # band keys pushed into the parquet scan (row-group pruning) and
    # the batch side broadcast — never a corpus-wide shuffle join
    dd = _mk(spark, f"{work_dir}/ddstore_plan")
    dd.append(_df(spark, BATCHES[0]), 0)
    probe = dd.probe(_df(spark, BATCHES[1]))
    plan = probe._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    scans = [ln for ln in plan.splitlines()
             if "FileScan" in ln and "band_key" in ln]
    assert scans, plan
    for ln in scans:
        assert "In(band_key" in ln.split("PushedFilters: ")[1], ln


def test_string_ids_match_long_ids(spark, work_dir):
    # the bench.py shape (id_col="path"): the store's id columns are
    # strings, which no declared schema covers, so every read takes its
    # schema from a parquet footer — across segments and after compact
    def name(i):
        return f"doc/{i:03d}"  # order-preserving, so id_a < id_b maps through

    def sdf(batch):
        return spark.createDataFrame([(name(i), t) for i, t in batch],
                                     "path string, text string")

    def pairs(df):
        return {(r["id_a"], r["id_b"]): r["est_jaccard"]
                for r in df.collect()}

    longs = _mk(spark, f"{work_dir}/ddstore_longid")
    strs = _mk(spark, f"{work_dir}/ddstore_strid", id_col="path")
    for bid, batch in enumerate(BATCHES[:2]):
        longs.append(_df(spark, batch), bid)
        strs.append(sdf(batch), bid)
    want = {(name(a), name(b)): j for (a, b), j in
            pairs(longs.probe(_df(spark, BATCHES[2]))).items()}
    assert want == {(name(a), name(b)): j
                    for (a, b), j in _expected_pairs(2).items()}
    assert pairs(strs.probe(sdf(BATCHES[2]))) == want
    strs.compact()
    assert pairs(strs.probe(sdf(BATCHES[2]))) == want
    for t in ("bands", "sigs"):
        assert dict(strs.store.read(t).dtypes)["id"] == "string"
