"""Incremental near-duplicate detection against a growing corpus.

The batch dedup operators (dedup.py) answer "which pairs within THIS
static corpus are near-duplicates". A training-data ingestion pipeline
asks, every batch, "which of these NEW documents near-duplicate
anything the corpus has EVER seen" — without re-running LSH over the
full history per batch. The reference has no incremental path at all
(its index is batch-rebuilt, IndexService.java:101-105); this module
mirrors streaming/incremental.py's LSM design for the dedup signature
state, in an io.TableStore:

    bands(id, band, band_key)   one row per doc per LSH band, per-batch
                                SEGMENT files sorted on band_key, so a
                                probe's `band_key IN (...)` pushdown
                                prunes parquet row groups
    sigs(id, minhash)           full signature arrays, id-sorted, for
                                the estimated-Jaccard annotation
    dup_pairs(id_a, id_b,       probe_and_append's recorded pairs, one
      est_jaccard, batch_id)    segment per batch

`id` takes the caller's `id_col` type, so these tables have no
TABLE_SCHEMAS entry: TableStore.read takes their schema from a parquet
footer, and no read runs a schema-inference job. Banding and the band
self-join are the batch operator's own (dedup.minhash_bands,
dedup.band_pairs).

Per-batch probe cost is O(|batch| bands + matched bucket rows), never
O(corpus): the NEW side is the small one, so it broadcasts into the
join against the store scan, and a small distinct band-key set is also
pushed into the scan as an IN filter. The store only APPENDS per-batch
segments with deterministic names + a commit marker written last — the
incremental indexer's idempotent-retry contract, so a crashed or
replayed foreachBatch converges.

Candidates (>=1 shared band) are annotated with the ESTIMATED Jaccard —
the fraction of agreeing minhash slots — the honest verification
currency at 10^12 docs (exact shingle-Jaccard would need every
historical shingle set kept hot; signature agreement needs only the
O(1)-per-doc sigs table). The minhash family is exact int64 arithmetic
shared by Spark / DuckDB / Python (dedup.minhash_coeffs), so the
pipeline keeps an exact cross-engine oracle (the dedup_incremental
gate of __spark_entry__.oracle_sql).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import plan_policy
from ..dedup import band_pairs, minhash_bands, minhash_signatures
from ..io import TableStore
from .segments import BatchSegments

# default streaming-source schema: the documents-table shape
# (TESTDATA.md); pass `schema=` to stream any other document relation
DEDUP_STREAM_SCHEMA = ("doc_id long, text string, lang string, "
                       "source string, n_chars long")

# above this many distinct band keys in a batch, skip the driver-side
# IN-list pushdown (the filter itself would be the bottleneck) and let
# the broadcast join alone do the matching
PROBE_PUSHDOWN_MAX_KEYS = 20_000


def _est_jaccard(a: str = "sig_a", b: str = "sig_b"):
    """Fraction of agreeing minhash slots — the standard unbiased
    estimator of Jaccard similarity from minhash signatures."""
    matches = F.aggregate(
        F.zip_with(F.col(a), F.col(b),
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, x: acc + x)
    return matches / F.size(F.col(a))


class IncrementalDeduper(BatchSegments):
    """Persisted LSH signature store + per-batch near-dup probe.

    Usage (batch-incremental):

        dd = IncrementalDeduper(spark, "/data/dedup_store",
                                num_hashes=64, band_size=8, n=3)
        pairs = dd.probe(batch_df)          # vs corpus-so-far + batch
        dd.append(batch_df, batch_id=7)     # admit batch into the store

    or one call, `probe_and_append(batch_df, batch_id)`, which also
    persists the pairs under the store (dup_pairs segments) so the
    probe result of a replayed batch is byte-identical. Streaming:
    `stream_from_directory` wires both into foreachBatch.
    """

    TABLES = ("bands", "sigs", "dup_pairs")
    SEGMENTED_TABLES = TABLES  # BatchSegments guard scans these

    def __init__(self, spark: SparkSession, store_dir: str,
                 num_hashes: int = 64, band_size: int = 8, n: int = 3,
                 seed: int = 7, id_col: str = "doc_id",
                 text_col: str = "text", threshold: float | None = None):
        if num_hashes % band_size:
            raise ValueError("band_size must divide num_hashes")
        self.spark = spark
        self.root = store_dir
        self.params = {"num_hashes": num_hashes, "band_size": band_size,
                       "n": n, "seed": seed}
        self.id_col, self.text_col = id_col, text_col
        self.threshold = threshold
        os.makedirs(store_dir, exist_ok=True)
        # tables resolve through TableStore so compact() inherits the
        # versioned manifest-pointer publish (crash-safe, concurrent-
        # reader-safe — the streaming/incremental.py machinery)
        self.store = TableStore(spark, store_dir)
        self._pin_params()

    # -- store layout ------------------------------------------------------
    def _pin_params(self) -> None:
        """Signatures are only comparable when built with identical
        (num_hashes, band_size, n, seed) — pin them in meta.json on
        first use and refuse a mismatched reopen (silently mixing
        families would yield garbage candidates, not an error)."""
        meta = os.path.join(self.root, "meta.json")
        if os.path.exists(meta):
            stored = json.load(open(meta))
            if stored != self.params:
                raise ValueError(
                    f"dedup store {self.root} was built with {stored}, "
                    f"reopened with {self.params} — signature families "
                    "are incompatible; use a fresh store_dir")
        else:
            tmp = meta + ".tmp"
            json.dump(self.params, open(tmp, "w"))
            os.rename(tmp, meta)

    # _marker / _stage_dir / _append_files / _stage_and_link /
    # _commit_batch and the uncommitted-batch compaction guard come
    # from BatchSegments — one shared contract with the incremental
    # indexer, not a parallel copy that could drift

    def _filled(self, table: str) -> bool:
        """True once `table` holds a compacted base or batch segments."""
        return self.store.exists(table) or self.store.has_segments(table)

    # -- signature construction -------------------------------------------
    def _signatures(self, df: DataFrame) -> DataFrame:
        p = self.params
        return minhash_signatures(df, self.id_col, self.text_col,
                                  num_hashes=p["num_hashes"], n=p["n"],
                                  seed=p["seed"])

    # -- the per-batch operations -----------------------------------------
    def probe(self, batch_df: DataFrame,
              _batch_sigs: DataFrame | None = None) -> DataFrame:
        """(id_a, id_b, est_jaccard) for every candidate pair with >=1
        shared LSH band where AT LEAST ONE side is in `batch_df` —
        batch-vs-store plus batch-vs-batch, ids ordered id_a < id_b.
        est_jaccard = fraction of agreeing minhash slots (rounded to 6
        places, the cross-engine-stable grain). Pure transform w.r.t.
        the store state at call time: run it BEFORE append()ing the
        same batch, or use probe_and_append."""
        p = self.params
        # materialize the SIGNATURES once, derive the banded relation
        # from them per consumer: the minhash aggregation runs once
        # total, and re-deriving the bands is a cheap explode over the
        # materialized batch rows (a second materialization costs more
        # than the recomputes). The batch side is the small one, so both
        # relations broadcast — which is why they are held on the driver
        # (`plan_policy.collected`): the returned lazy frame reads them,
        # so an executor checkpoint here could never be released.
        new_sig = _batch_sigs if _batch_sigs is not None \
            else plan_policy.collected(self._signatures(batch_df))
        new_banded = F.broadcast(
            minhash_bands(new_sig, p["num_hashes"], p["band_size"]))
        new_sig = F.broadcast(new_sig)

        # batch-vs-batch candidates (self-join on the broadcast side)
        cand = band_pairs(new_banded)

        if self._filled("bands"):
            store_banded = self.store.read("bands")
            keys = [row["band_key"] for row in
                    new_banded.select("band_key").distinct()
                    .limit(PROBE_PUSHDOWN_MAX_KEYS + 1).collect()]
            if len(keys) <= PROBE_PUSHDOWN_MAX_KEYS:
                # push the batch's key set into the store scan: segments
                # are band_key-sorted, so the IN filter prunes row
                # groups — the store is read O(matched buckets), not
                # O(corpus)
                store_banded = store_banded.filter(
                    F.col("band_key").isin(keys))
            old = store_banded.select(F.col("id").alias("id_old"),
                                      "band", "band_key")
            vs_old = (old.join(new_banded.select(
                F.col("id").alias("id_new"), "band", "band_key"),
                ["band", "band_key"])
                .filter(F.col("id_old") != F.col("id_new"))
                .select(F.least("id_old", "id_new").alias("id_a"),
                        F.greatest("id_old", "id_new").alias("id_b")))
            cand = cand.union(vs_old)
        cand = cand.distinct()

        # annotate with estimated Jaccard: candidates are FEW, so the
        # sigs lookups stay candidate-driven (store sigs are id-sorted
        # segments; the batch side is the broadcast new_sig)
        all_sigs = new_sig
        if self._filled("sigs"):
            all_sigs = self.store.read("sigs").unionByName(new_sig)
        sa = all_sigs.select(F.col("id").alias("id_a"),
                             F.col("minhash").alias("sig_a"))
        sb = all_sigs.select(F.col("id").alias("id_b"),
                             F.col("minhash").alias("sig_b"))
        out = (cand.join(sa, "id_a").join(sb, "id_b")
               .select("id_a", "id_b",
                       F.round(_est_jaccard(), 6).alias("est_jaccard")))
        if self.threshold is not None:
            out = out.filter(F.col("est_jaccard") >= self.threshold)
        return out

    def append(self, batch_df: DataFrame, batch_id: int,
               _batch_sigs: DataFrame | None = None) -> None:
        """Admit a batch into the store: bands + sigs segments under
        deterministic names, commit marker LAST; a replayed batch is a
        no-op, a crashed one converges on retry."""
        if os.path.exists(self._marker(batch_id)):
            return
        p = self.params
        sig = _batch_sigs if _batch_sigs is not None \
            else self._signatures(batch_df)
        bands = (minhash_bands(sig, p["num_hashes"], p["band_size"])
                 .repartitionByRange(1, "band_key")
                 .sortWithinPartitions("band_key"))
        self._stage_and_link(bands, "bands", batch_id)
        self._stage_and_link(
            sig.repartitionByRange(1, "id").sortWithinPartitions("id"),
            "sigs", batch_id)
        self._commit_batch(batch_id)

    def probe_and_append(self, batch_df: DataFrame,
                         batch_id: int) -> DataFrame:
        """The foreachBatch unit: probe, persist the pairs as a
        dup_pairs segment, then admit the batch — in that order, so the
        probe always sees the store WITHOUT the probed batch and a
        replay (marker present) just re-reads its recorded pairs."""
        if not os.path.exists(self._marker(batch_id)):
            sig = self._signatures(batch_df).localCheckpoint(eager=True)
            try:
                pairs = self.probe(batch_df, _batch_sigs=sig)
                # pairs segment first, marker last (inside append): a
                # crash anywhere replays the whole unit idempotently
                self._stage_and_link(
                    pairs.withColumn("batch_id",
                                     F.lit(batch_id).cast("long")),
                    "dup_pairs", batch_id)
                self.append(batch_df, batch_id, _batch_sigs=sig)
            finally:
                # sig's last reader (append) has run; the result below
                # reads the dup_pairs segment
                plan_policy.release(sig)
        return (self.store.read("dup_pairs")
                .filter(F.col("batch_id") == batch_id)
                .drop("batch_id"))

    def dup_pairs(self) -> DataFrame | None:
        """All recorded (id_a, id_b, est_jaccard, batch_id) rows."""
        return self.store.read("dup_pairs") if self._filled("dup_pairs") \
            else None

    # -- compaction --------------------------------------------------------
    def compact(self) -> None:
        """Fold the accumulated per-batch segment files into one sorted
        base per table — after 10^4 micro-batches a probe's store scan
        would otherwise open 10^4x more files, and the bands table's
        band_key sort (what makes the IN pushdown prune row groups)
        only holds WITHIN each segment. O(store), run occasionally;
        each swap is a versioned manifest-pointer flip (TableStore.
        publish), so a crash anywhere leaves a consistent, probe-safe
        store and batch commit markers survive — a replayed batch id
        stays a no-op after its segments were folded."""
        self._require_all_committed()
        n = max(1, int(self.spark.conf.get("spark.sql.shuffle.partitions",
                                           "8")) // 4)
        for table, key in (("bands", "band_key"), ("sigs", "id"),
                           ("dup_pairs", "batch_id")):
            if not self._filled(table):
                continue
            base = (self.store.read(table)
                    .repartitionByRange(n, key).sortWithinPartitions(key))
            self.store.write(base, f"tmp_{table}_new")
            self.store.publish(table, f"tmp_{table}_new")

    # -- streaming driver --------------------------------------------------
    def stream_from_directory(self, input_dir: str, checkpoint_dir: str,
                              available_now: bool = True,
                              schema: str = DEDUP_STREAM_SCHEMA,
                              max_files_per_trigger: int | None = None):
        """Structured Streaming ingestion: every new parquet file of
        documents in `input_dir` is probed against the corpus-so-far
        and admitted, one micro-batch at a time; duplicate pairs
        accumulate in the store's dup_pairs table.
        `max_files_per_trigger` bounds micro-batch size (and with
        availableNow splits a backlog into multiple batches)."""
        reader = self.spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        stream = reader.parquet(input_dir)
        writer = (stream.writeStream
                  .foreachBatch(lambda df, bid:
                                self.probe_and_append(df, bid))
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
