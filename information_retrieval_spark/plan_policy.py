"""When an operator materializes an intermediate relation, and for how
long. Gates compare `estimated_bytes` with `GATES` using `>=` (0 always
takes the materializing path) and log each decision at DEBUG.
`pinned`/`release` checkpoint and free at RDD level — a checkpoint's
`DataFrame.unpersist()` frees nothing, and a released checkpoint cannot
be recomputed, so never release one a returned lazy frame still reads.
`hold` is a call-scoped persist (recomputed if read after release);
`collected` keeps a small relation on the driver, freed with the last
frame that reads it.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager

from pyspark.sql import DataFrame

log = logging.getLogger("information_retrieval_spark")

# estimated input bytes from which each gate takes its materializing path
GATES = {
    # write a relation with several consumers (shingles, span grams) once
    "materialize": 2 << 30,
    # minhash band join over one representative per distinct signature
    "collapse": 2 << 30,
    # simhash hot-bucket histogram and re-banding
    "defend": 4 << 20,
    # checkpoint a range-partitioned write's input before bounds sampling
    "pin": 256 << 20,
}


def estimated_bytes(df: DataFrame) -> int:
    """Sum of the optimized plan's leaf sizes (root stats inflate through
    joins). A checkpoint (`LogicalRDD`) leaf counts its stored blocks:
    its plan stats are inherited guesses (2.4 MB stored, 147 GB claimed
    after a join)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    stored, total = None, 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() != "LogicalRDD":
            total += int(leaf.stats().sizeInBytes())
            continue
        if stored is None:
            infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
            stored = {r.id(): r.memSize() + r.diskSize() for r in infos}
        total += int(stored.get(leaf.rdd().id(), 0))
    return total


def above(df: DataFrame, gate: str) -> bool:
    est, limit = estimated_bytes(df), GATES[gate]
    log.debug("gate=%s estimate=%d threshold=%d taken=%s",
              gate, est, limit, est >= limit)
    return est >= limit


def release(df: DataFrame) -> None:
    """Free a `localCheckpoint` frame's blocks (no-op for other plans)."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)


@contextmanager
def pinned(df: DataFrame, gate: str):
    """Yield `df`, eagerly checkpointed when `above(df, gate)` and
    released on exit, the failure path included."""
    if not above(df, gate):
        yield df
        return
    ck = df.localCheckpoint(eager=True)
    try:
        yield ck
    finally:
        release(ck)


_HELD: dict[str, DataFrame] = {}


def hold(df: DataFrame, scope: str) -> DataFrame:
    """Cache `df` (the session's default level) until the next `hold`
    under `scope`, so a session calling an operator in a loop keeps one
    call's relations resident."""
    prev = _HELD.pop(scope, None)
    if prev is not None:
        try:
            prev.unpersist(False)
        except Exception:
            pass  # its session already stopped: nothing left to free
    _HELD[scope] = df = df.cache()
    return df


def collected(df: DataFrame) -> tuple[DataFrame, "pyarrow.Table"]:
    """`df` computed once (one Arrow collect job) and served from the
    driver, for a relation its consumers broadcast anyway: the frame,
    and the Arrow table it serves, for a caller that also reads the rows
    on the driver. It holds no executor blocks, so unlike a checkpoint
    it needs no release; unlike `hold` it keeps the partitioning AQE
    gave it (a cached plan keeps all its shuffle partitions, ~4x the
    tasks of each small read)."""
    table = df.toArrow()
    return df.sparkSession.createDataFrame(table, df.schema), table
