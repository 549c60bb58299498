"""The materialization policy (plan_policy): checkpointed inputs are
measured from their stored blocks, gate decisions are logged, and every
pin an operator takes is freed when it returns — or raises."""

import glob
import logging
import os
import shutil
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from information_retrieval_spark import bpe, dedup, plan_policy
from information_retrieval_spark.streaming.dedup import IncrementalDeduper


def _stored(spark) -> dict:
    """RDD id -> stored bytes for every RDD the block manager holds."""
    return {r.id(): r.memSize() + r.diskSize()
            for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_estimated_bytes_measures_checkpoint_leaf(spark):
    # a joined checkpoint's LogicalRDD leaf inherits the join's inflated
    # stats; the estimate must be what the block manager actually holds
    a = spark.range(20000).select("id", (F.col("id") % 50).alias("k"))
    b = spark.range(50).select(F.col("id").alias("k"),
                               F.lit("x" * 40).alias("pad"))
    ck = a.join(b, "k").localCheckpoint(eager=True)
    rdd_id = ck._jdf.queryExecution().logical().rdd().id()
    try:
        stored = _stored(spark)[rdd_id]
        assert stored > 0
        assert plan_policy.estimated_bytes(ck) == stored
        assert plan_policy.estimated_bytes(ck.filter("id > 5")) == stored
    finally:
        plan_policy.release(ck)
    assert rdd_id not in _stored(spark)


def test_cut_spans_on_checkpoint_derives_grams_once(spark, monkeypatch):
    # the pipeline_curate shape: span surgery over a checkpointed input.
    # With the materialize gate at 1 byte the measured checkpoint takes
    # the gate, so both gram consumers scan the written relation and the
    # gram hash runs in no plan stage
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, f"{shared} doc{i} w{i} v{i}" if i % 2 else f"solo{i} x y z")
            for i in range(12)]
    ck = spark.createDataFrame(rows, "doc_id long, text string") \
        .localCheckpoint(eager=True)
    path = dedup._auto_cache_path(ck, "spangrams", 4, "doc_id", "text")
    shutil.rmtree(path, ignore_errors=True)
    try:
        plain = dedup.cut_duplicated_spans(ck, k=4)
        assert "irs_spangrams_" not in plain._jdf.queryExecution() \
            .executedPlan().toString()
        want = sorted(map(tuple, plain.collect()))
        assert any(r[3] > 0 for r in want)
        monkeypatch.setitem(plan_policy.GATES, "materialize", 1)
        cut = dedup.cut_duplicated_spans(ck, k=4)
        plan = cut._jdf.queryExecution().executedPlan().toString()
        assert "irs_spangrams_" in plan and "sha2(" not in plan, plan
        assert sorted(map(tuple, cut.collect())) == want
    finally:
        shutil.rmtree(path, ignore_errors=True)
        plan_policy.release(ck)


def test_checkpoint_caches_leave_no_temp_dirs(spark, monkeypatch):
    # every checkpoint of the same rows hashes differently, so a cache
    # keyed in the shared temp dir would leave one orphan per call; they
    # go under one per-process dir that is removed at interpreter exit
    rows = [(i, f"alpha beta gamma delta epsilon doc{i % 3}")
            for i in range(8)]
    src = spark.createDataFrame(rows, "doc_id long, text string")
    tmp = tempfile.gettempdir()
    before = set(glob.glob(os.path.join(tmp, "irs_*")))
    monkeypatch.setitem(plan_policy.GATES, "materialize", 1)
    paths = []
    for _ in range(2):
        ck = src.localCheckpoint(eager=True)
        try:
            paths.append(dedup._auto_cache_path(ck, "spangrams", 4,
                                                "doc_id", "text"))
            dedup.cut_duplicated_spans(ck, k=4).collect()
        finally:
            plan_policy.release(ck)
    assert set(glob.glob(os.path.join(tmp, "irs_*"))) == before
    proc_dir = dedup._process_cache_dir()
    assert paths[0] != paths[1]
    assert all(os.path.dirname(p) == proc_dir and os.path.isdir(p)
               for p in paths), paths
    # the per-process dir is gone once its interpreter exits
    out = subprocess.run(
        [sys.executable, "-c",
         "from information_retrieval_spark import dedup; "
         "print(dedup._process_cache_dir())"],
        capture_output=True, text=True, check=True).stdout.strip()
    assert out.startswith(tmp) and not os.path.exists(out)


@pytest.mark.parametrize("write_fails", [False, True])
def test_forward_index_pin_is_released(spark, synth_engine, monkeypatch,
                                       write_fails):
    store = synth_engine.index.store
    store.drop("doc_vec")
    monkeypatch.setitem(plan_policy.GATES, "pin", 0)
    if write_fails:
        def fail(df, name, *a, **kw):
            raise RuntimeError("write failed")
        monkeypatch.setattr(store, "write", fail)
    before = set(_stored(spark))
    try:
        if write_fails:
            with pytest.raises(RuntimeError, match="write failed"):
                synth_engine.build_forward_index(n_partitions=4)
        else:
            synth_engine.build_forward_index(n_partitions=4)
            assert store.exists("doc_vec")
        assert set(_stored(spark)) <= before
    finally:
        monkeypatch.undo()
        store.drop("doc_vec")


def test_bpe_train_releases_every_round(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["low lower lowest", "newer newest",
                                       "wider widest slow", "lowly new"])],
        "doc_id long, text string")
    before = set(_stored(spark))
    merges = bpe.train(df, 6, batch_max=1)  # one merge, one round
    assert merges.count() == 6
    assert set(_stored(spark)) <= before


def test_probe_and_append_releases_signatures(spark, tmp_path):
    dd = IncrementalDeduper(spark, str(tmp_path / "store"), num_hashes=8,
                            band_size=2, n=2)
    batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
         (3, "an entirely different text")], "doc_id long, text string")
    before = set(_stored(spark))
    pairs = {(r["id_a"], r["id_b"])
             for r in dd.probe_and_append(batch, 0).collect()}
    assert (1, 2) in pairs
    assert set(_stored(spark)) <= before


def test_repeated_probes_leave_no_signature_relation(spark, tmp_path):
    # probe's returned frame reads the batch signatures, so a checkpoint
    # of them could never be released (one stayed resident per probe);
    # they are held on the driver instead, freed with the frame
    dd = IncrementalDeduper(spark, str(tmp_path / "store"), num_hashes=8,
                            band_size=2, n=2)
    schema = "doc_id long, text string"
    dd.append(spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "an entirely different text")],
        schema), batch_id=0)
    before = set(_stored(spark))
    for i in range(3):
        batch = spark.createDataFrame(
            [(10 + i, "the quick brown fox jumps"),
             (20 + i, f"unrelated words number {i} here")], schema)
        got = {tuple(r) for r in dd.probe(batch).collect()}
        # the checkpointed-signature path probe_and_append runs
        sig = dd._signatures(batch).localCheckpoint(eager=True)
        try:
            want = {tuple(r) for r in dd.probe(batch, _batch_sigs=sig).collect()}
        finally:
            plan_policy.release(sig)
        assert got == want
        assert (1, 10 + i) in {(a, b) for a, b, _ in got}
    assert set(_stored(spark)) <= before


def test_gate_decisions_are_logged(spark, monkeypatch, caplog):
    df = spark.range(10)
    est = plan_policy.estimated_bytes(df)
    monkeypatch.setitem(plan_policy.GATES, "pin", 0)
    with caplog.at_level(logging.DEBUG, logger="information_retrieval_spark"):
        assert plan_policy.above(df, "pin")
    (rec,) = [r for r in caplog.records
              if r.name == "information_retrieval_spark"]
    assert rec.levelno == logging.DEBUG
    assert rec.getMessage() == f"gate=pin estimate={est} threshold=0 taken=True"
    # below the gate `pinned` hands back the input itself: no checkpoint
    monkeypatch.setitem(plan_policy.GATES, "pin", est + 1)
    with plan_policy.pinned(df, "pin") as p:
        assert p is df
