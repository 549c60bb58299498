"""Deterministic sampling and dataset-split operators.

Training-data pipelines need reproducible subsets: a sampled corpus, a
train/validation split, per-language quotas. All operators here derive
a uniform u in [0, 1) from sha256(seed || ':' || key) — the decision is
a pure function of (seed, row key), so it is:

- shuffle-free: a filter on a scan, no exchange at any scale;
- stable under repartitioning, retries and incremental growth (a row's
  fate never depends on which partition it landed in — unlike
  df.sample(), whose per-partition RNG reseeds with the split);
- bit-identical across Spark, DuckDB and Python (sha256 + exact-in-
  float64 division; the same cross-engine trick as the dedup/minhash
  family), so sampled gates keep exact oracles.

u = int(first 8 hex chars of sha256(seed || ':' || key)) / 2^32 — the
numerator is an exact 32-bit integer, the division is a single IEEE
operation, identical everywhere.
"""

from __future__ import annotations

import hashlib
import re
from contextlib import nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import plan_policy
from .build import pid_offsets

_U32 = float(1 << 32)

# both interpolate into SQL text: constrain to safe charsets (a quote in
# a seed would otherwise produce broken/injectable SQL — and Spark and
# DuckDB would diverge on escaping). ':' is excluded from seeds so
# the `seed || ':' || key` preimage stays unambiguous — seed 'exp:1'
# with key '2' must never hash the same bytes as seed 'exp' with
# key '1:2'.
_SEED_OK = re.compile(r"[A-Za-z0-9_.\-]+")
_IDENT_OK = re.compile(r"[A-Za-z0-9_.]+")


def uniform_expr(key_col: str, seed: str, dialect: str = "spark") -> str:
    """SQL for the deterministic uniform u in [0,1) of a key column.
    `seed` and `key_col` are validated against safe charsets (they are
    interpolated into SQL text); parity with `uniform_of` holds for
    every accepted seed by construction."""
    if _SEED_OK.fullmatch(seed) is None:
        raise ValueError(
            f"seed must match [A-Za-z0-9_.-]+ (interpolated into SQL; "
            f"':' reserved as the seed/key separator): {seed!r}")
    if _IDENT_OK.fullmatch(key_col) is None:
        raise ValueError(f"key_col must be a plain identifier: {key_col!r}")
    if dialect == "duckdb":
        h = f"sha256('{seed}:' || CAST({key_col} AS VARCHAR))"
        val = " + ".join(
            f"(strpos('0123456789abcdef', substr({h}, {k + 1}, 1)) - 1)"
            f" * {16 ** (7 - k)}" for k in range(8))
        return f"(({val}) / {_U32!r})"
    return (f"(conv(substring(sha2(concat('{seed}:', CAST({key_col} AS STRING)),"
            f" 256), 1, 8), 16, 10) / {_U32!r})")


def uniform_of(key, seed: str) -> float:
    """Pure-Python reference of uniform_expr."""
    h = hashlib.sha256(f"{seed}:{key}".encode()).hexdigest()[:8]
    return int(h, 16) / _U32


def hash_sample(df: DataFrame, rate: float, key_col: str = "doc_id",
                seed: str = "sample") -> DataFrame:
    """Deterministic Bernoulli(rate) sample keyed by `key_col`."""
    return df.filter(F.expr(uniform_expr(key_col, seed)) < F.lit(float(rate)))


def stratified_sample(df: DataFrame, rates: dict, strata_col: str,
                      default_rate: float = 0.0, key_col: str = "doc_id",
                      seed: str = "sample") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language quotas):
    keep a row iff u < rates.get(stratum, default_rate). Rebalancing a
    100 TB corpus is a single filtered scan — no shuffle, no count
    pass, and growing the corpus never resamples retained rows."""
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(float(r))).otherwise(rate)
    return df.filter(F.expr(uniform_expr(key_col, seed)) < rate)


def top_fraction_per_group(df: DataFrame, frac: float, group_col: str,
                           score_col: str, id_col: str = "doc_id",
                           approx: bool = False,
                           accuracy: int = 10000) -> DataFrame:
    """Quality-driven curation cut: keep the best ceil(frac·|group|)
    rows of every group by (score desc, id asc) — "top 30% per source
    by quality", the selection step that follows
    textstats.quality_scores in a filtering pipeline.

    Exact path: ONE exchange keyed by group_col — rank and group count
    are two window functions sharing the same partition spec, so they
    share the exchange and the sort. Deterministic and engine-portable:
    scores compare at their stored grain (textstats scores are 6-dp
    rounded), ties break on id asc, and the cut size is
    float64 ceil(frac · count) — the same IEEE product and ceil in
    Spark, DuckDB and Python.

    At 100 TB a single giant group makes the per-group sort the cost
    that matters; `approx=True` switches to a per-group
    percentile_approx threshold broadcast back onto the scan — no
    sort, no corpus shuffle (the group-keyed aggregate is map-side
    combinable), at the price of a boundary-fuzzy cut (keeps
    score >= threshold; the kept count deviates by the sketch error
    and score ties at the boundary are all kept)."""
    if not (0.0 < float(frac) <= 1.0):
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    if approx:
        thr = df.groupBy(group_col).agg(F.percentile_approx(
            score_col, 1.0 - float(frac), accuracy).alias("__thr"))
        return (df.join(F.broadcast(thr), group_col)
                .filter(F.col(score_col) >= F.col("__thr"))
                .drop("__thr"))
    from pyspark.sql import Window
    w = Window.partitionBy(group_col)
    wr = w.orderBy(F.desc(score_col), F.asc(id_col))
    return (df.withColumn("__rnk", F.row_number().over(wr))
            .withColumn("__cnt", F.count(F.lit(1)).over(w))
            .filter(F.col("__rnk")
                    <= F.ceil(F.lit(float(frac)) * F.col("__cnt")))
            .drop("__rnk", "__cnt"))


def _cumsum_partitions(batches):
    """mapInArrow: pass all columns through + (pid, before_local) — the
    partition-local EXCLUSIVE running sum of n_tokens (the prefix-sum
    analogue of build._number_partitions' row rank)."""
    import numpy as np
    import pyarrow as pa
    from pyspark import TaskContext
    pid = TaskContext.get().partitionId()
    run = 0
    for rb in batches:
        if rb.num_rows == 0:
            continue
        nt_idx = rb.schema.get_field_index("n_tokens")
        nt = rb.column(nt_idx).to_numpy(zero_copy_only=False).astype(np.int64)
        csum = np.cumsum(nt)
        before = np.empty_like(csum)
        before[0] = 0
        before[1:] = csum[:-1]
        before += run
        run += int(csum[-1])
        cols = [rb.column(i) for i in range(rb.num_columns)]
        yield pa.RecordBatch.from_arrays(
            cols + [pa.array(np.full(rb.num_rows, pid, dtype=np.int32)),
                    pa.array(before, type=pa.int64())],
            names=rb.schema.names + ["pid", "before_local"])


def shard_by_token_budget(df: DataFrame, budget_tokens: int,
                          id_col: str = "doc_id", tokens_col: str | None = None,
                          text_col: str = "text",
                          n_partitions: int | None = None) -> DataFrame:
    """Token-budget sharding: pack documents (ordered by id) into
    contiguous shards of ~`budget_tokens` tokens each — the standard
    step that turns a curated corpus into uniformly-sized training
    files. shard = floor(cum_before / budget) where cum_before is the
    sum of token counts over all ids < this id; a shard boundary never
    splits a document. Returns (id, n_tokens, shard).

    Token counts: `tokens_col` if given (a precomputed per-doc count),
    else the whitespace token count of `text_col` (the same expression
    as textstats.token_counts.n_ws_tokens — exactly reproducible in
    the DuckDB oracle).

    Scale shape (100 TB): a global ORDERED cumulative sum WITHOUT a
    global sort and WITHOUT a single-reducer window — the same
    two-phase trick as docID assignment (build.with_global_ordinals):
    range-partition by id, ONE Arrow kernel emits each partition's
    exclusive running sum, the P per-partition totals (P rows, not
    corpus rows) prefix-sum on the driver and come back as a literal
    pid -> offset lookup (build.pid_offsets) in the final projection:
    no offsets table, no join. The numbered relation is pinned by an eager
    localCheckpoint so the range boundaries (sampled, not stable
    across actions) are computed exactly once; the totals pass and the
    final projection both read the pinned copy.
    """
    if budget_tokens < 1:
        raise ValueError(f"budget_tokens must be >= 1: {budget_tokens}")
    spark = df.sparkSession
    if tokens_col is not None:
        n_tokens = F.col(tokens_col).cast("long")
    else:
        n_tokens = F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                                   lambda t: t != "")).cast("long")
    base = df.select(F.col(id_col), n_tokens.alias("n_tokens"))
    # The range partitioner's bounds-sampling job executes the child
    # plan a second time, and without `tokens_col` the child is a full
    # content scan + whitespace split. From the pin gate (`plan_policy`)
    # the (id, n_tokens) relation — two narrow columns, tiny at any
    # scale — is pinned until the numbered checkpoint supersedes it, so
    # both the sampling pass and the shuffle read it instead of
    # re-splitting the corpus. Below the gate the double pass over a
    # small (usually cached) input is cheaper than the checkpoint
    # barrier (A/B-measured at sf0.1).
    n = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    id_type = [f.dataType.simpleString() for f in base.schema.fields
               if f.name == id_col][0]
    with (plan_policy.pinned(base, "pin") if tokens_col is None
          else nullcontext(base)) as src:
        numbered = (src.repartitionByRange(n, id_col)
                    .sortWithinPartitions(id_col)
                    .mapInArrow(_cumsum_partitions,
                                schema=(f"{id_col} {id_type}, n_tokens long, "
                                        f"pid int, before_local long"))
                    .localCheckpoint(eager=True))
    totals = {r["pid"]: int(r["s"]) for r in
              numbered.groupBy("pid").agg(F.sum("n_tokens").alias("s")).collect()}
    # integer division (Spark DIV / DuckDB //): exact at any magnitude,
    # where floor(double/double) could misround near 2^53
    shard = F.expr(f"CAST(cum_before DIV {int(budget_tokens)} AS LONG)")
    return (numbered.select(id_col, "n_tokens", (
                pid_offsets(totals) + F.col("before_local")).alias("cum_before"))
            .select(id_col, "n_tokens", shard.alias("shard")))


def train_val_split(df: DataFrame, val_fraction: float,
                    key_col: str = "doc_id",
                    seed: str = "split") -> DataFrame:
    """Adds a 'split' column ('val' iff u < val_fraction else 'train').
    Disjoint and exhaustive by construction; membership is a pure
    function of (seed, key), so the split survives reprocessing,
    retries and incremental appends without leakage between sides."""
    u = F.expr(uniform_expr(key_col, seed))
    return df.withColumn(
        "split", F.when(u < F.lit(float(val_fraction)), F.lit("val"))
        .otherwise(F.lit("train")))


def token_budget_mix(df: DataFrame, budgets: dict,
                     strata_col: str = "lang", id_col: str = "doc_id",
                     text_col: str = "text", seed: str = "mix",
                     approx: bool = False) -> DataFrame:
    """Data MIXING: assemble a training corpus that hits a per-stratum
    TOKEN budget ("20B tokens of en, 5B of de, 2B of code") — the
    mixture-weights step between curation and training. Returns
    (id, stratum, n_tokens, cum_before, kept) for every doc whose
    stratum has a budget (other strata are out of the mix by
    definition); `kept` marks the selected docs.

    Selection is a deterministic hash-ordered greedy fill: docs order
    by (u, id) where u = sha256-uniform of (seed, id) — an unbiased
    within-stratum sample, replayable across engines/cluster sizes/
    retries — and a doc is kept while the tokens BEFORE it are under
    budget (so the budget is always reached when the stratum can fill
    it, overshooting by at most one doc). Adding corpus docs reshuffles
    which docs fall inside a FIXED budget (inherent: the budget is a
    prefix property, unlike hash_sample's pointwise rate).

    Exact path: ONE exchange keyed by stratum — cum_before is a window
    cumsum over the (u, id) order. At 10^12 docs a stratum's window
    sort is the cost that matters; `approx=True` switches to a
    threshold fill: keep u < budget/stratum_total_tokens (one map-side
    combinable aggregate broadcast back, no sort), which hits the
    budget in expectation with O(sqrt) deviation — the
    top_fraction_per_group trade, applied to tokens. cum_before is
    null on the approx path (it is the sort's output)."""
    if not budgets:
        raise ValueError("budgets must name at least one stratum")
    for s, b in budgets.items():
        if int(b) < 0:
            raise ValueError(f"budget must be >= 0 for stratum {s!r}: {b}")
    _ = uniform_expr(id_col, seed)  # validates seed/ident charsets
    ws = F.size(F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")),
                                 r"\s+"),
                         lambda t: t != ""))
    budget = F.create_map(*[x for s, b in sorted(budgets.items())
                            for x in (F.lit(s), F.lit(int(b)))])
    base = (df.filter(F.col(strata_col).isin(list(budgets)))
            .select(F.col(id_col).alias("id"),
                    F.col(strata_col).alias("stratum"),
                    ws.cast("long").alias("n_tokens"),
                    F.expr(uniform_expr(id_col, seed)).alias("__u")))
    b_of = budget[F.col("stratum")]
    if approx:
        tot = base.groupBy("stratum").agg(
            F.sum("n_tokens").alias("__tot"))
        return (base.join(F.broadcast(tot), "stratum")
                .select("id", "stratum", "n_tokens",
                        F.lit(None).cast("long").alias("cum_before"),
                        (F.col("__u") * F.col("__tot") < b_of)
                        .alias("kept")))
    from pyspark.sql import Window
    w = (Window.partitionBy("stratum").orderBy("__u", "id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("cum_before")
    out = base.select("id", "stratum", "n_tokens", cum, "__u")
    return out.select("id", "stratum", "n_tokens", "cum_before",
                      (F.col("cum_before") < b_of).alias("kept"))
