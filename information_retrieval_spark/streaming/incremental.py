"""Incremental index maintenance with Structured Streaming.

The reference is batch-only (SURVEY.md §2.4: no streaming); this module
is a Spark-first extension: new documents arrive as files in a
directory (or any streaming source), and each micro-batch is appended
to the live index with `foreachBatch`:

  new docs -> docIDs appended after the current N (arrival order, the
  streaming analogue of the reference's walk-order ids,
  IndexService.java:176; ranked with the SAME two-phase
  range-partition + prefix-sum trick as the batch build — no
  coalesce(1), no single-task window) -> the batch build's packed
  SPIMI kernel + fragment encoder (build.write_partials /
  build.write_postings) -> delta posting blocks appended to
  `postings` -> `dictionary` /
  `dictionary_r` / `bucket_max` get per-batch SEGMENT files appended
  (LSM-style): a micro-batch writes O(delta) bytes TOTAL — the batch's
  own vocabulary, never a rewrite of the full merged dictionary.
  Readers fold segments (build.Index.table groups duplicate term rows);
  `compact()` is the explicit maintenance operation that folds the
  segments into a fresh base and re-ranks the dense `term_ord`
  ordinals (Q16). Until a compaction, term_ord is valid AS OF the last
  compaction; QueryEngine.term_dict_pos detects the segmented state
  and computes the exact current ordinal with a rank query instead.

Idempotency & crash recovery (plain-parquet mode; an Iceberg deployment
replaces all of this with one transactional commit):

  - `applied/<batch_id>.done` markers make a replayed batch a NO-OP.
  - Each batch stages its deltas under `tmp_batch_<id>/` with a
    `meta.json` holding the PRE-batch stats (docID base, totals) — a
    retry after a partial failure recomputes from the same inputs,
    byte-identically, regardless of what the failed attempt already
    linked.
  - EVERY live-table mutation a batch makes is an APPEND of files with
    DETERMINISTIC names (`batch<id>_<i>.parquet`); a retry first
    removes that batch's files and re-links, so partial appends never
    double-count. (Round-2 rewrote dictionary/bucket_max per batch and
    needed hardlink snapshots to make retries deterministic; segments
    made that machinery unnecessary.)
  - The marker is written last. Tested: the same batch applied twice
    (and a replay after a simulated partial failure) yields an
    identical index (tests/test_streaming.py).

BM25 correctness under growth: query-time scores are always computed
from current tf/dl/avgdl/df, so they stay EXACT. Only the stored
block-max WAND bounds age: they were computed with the avgdl at encode
time, and tfnorm grows with avgdl. `stats.avgdl_enc_min` tracks the
smallest avgdl any live block was encoded under; the query engine
inflates stored bounds by max(1, avgdl_now / avgdl_enc_min), which is a
sound upper bound, so pruning remains exact-safe.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..build import (
    SEGMENTED_TABLES,
    TERM_ROLLUP_SCHEMA,
    Index,
    IndexConfig,
    doc_len_rows,
    doc_meta,
    doc_sha_rows,
    fold_term_rollup,
    term_bucket_rollup,
    with_global_ordinals,
    write_partials,
    write_postings,
)
from ..corpus import DOCUMENTS_SCHEMA
from .segments import BatchSegments
from ..io import TABLE_SCHEMAS, TableStore, arrow_rows


class IncrementalIndexer(BatchSegments):
    # batch bookkeeping (_marker/_stage_dir/_append_files/_commit_batch,
    # the uncommitted-batch compaction guard) comes from BatchSegments —
    # the contract is shared verbatim with streaming/dedup.py
    def __init__(self, spark: SparkSession, index_dir: str,
                 config: IndexConfig | None = None):
        self.spark = spark
        self.config = config or IndexConfig()
        self.store = TableStore(spark, index_dir)

    # -- one micro-batch -------------------------------------------------
    def append_batch(self, batch_df: DataFrame, batch_id: int = 0,
                     supersede: bool = False,
                     _fail_after: str | None = None) -> None:
        """Apply one micro-batch. `_fail_after` is a TEST-ONLY crash
        injection point ('links' | 'merges' | 'stats') used to prove
        retry convergence after partial failures.

        `supersede=True` makes the batch an UPSERT on (repo, path): any
        live doc whose key re-arrives (the same file at a new commit) is
        tombstoned in the same batch commit, so queries see exactly one
        version — the newest. The old version's postings are physically
        removed at the next compact(). Batch ids are one shared
        namespace across append_batch and delete_batch."""
        if os.path.exists(self._marker(batch_id)):
            return  # replayed batch (foreachBatch retry): NO-OP

        def crash_point(name):
            if _fail_after == name:
                raise RuntimeError(f"injected crash after {name}")

        # -- stage 0: pin pre-batch state (idempotent across retries) ----
        meta_path = self._stage_dir(batch_id, "meta.json")
        if os.path.exists(meta_path):
            meta = json.load(open(meta_path))
        else:
            os.makedirs(self._stage_dir(batch_id), exist_ok=True)
            stats = self.store.read("stats").collect()[0].asDict()
            meta = {"n_before": int(stats["n_docs"]),
                    "total_len_before": int(stats["total_len"]),
                    "avgdl_now": float(stats["avgdl"]) or 1.0,
                    "avgdl_enc_min": float(stats.get("avgdl_enc_min")
                                           or (float(stats["avgdl"]) or 1.0))}
            tmp = meta_path + ".tmp"
            json.dump(meta, open(tmp, "w"))
            os.rename(tmp, meta_path)
        n_before = meta["n_before"]

        # -- stage 1: deterministic deltas (overwrite -> retry-safe) -----
        # every delta is staged under tmp_batch_<id>/ through its own
        # TableStore (overwrite writes), so a retry recomputes in place;
        # the staged tables carry index table names, so their re-reads
        # use the declared schemas (no inference job per read)
        stage = TableStore(self.spark, self._stage_dir(batch_id))
        cfg = self.config

        # docID assignment: the same two-phase global rank as the batch
        # build (range-partition the doc_map columns, which ride the
        # shuffle as in the build, number rows per partition once,
        # prefix-sum the counts) — distributed, no coalesce(1)/Window
        # single-task stage, no re-join, and deterministic because
        # (repo, path) keys are unique
        order_tbl = f"tmp_batch_{batch_id}_dm_order"
        ranked = with_global_ordinals(
            self.store, doc_meta(batch_df), ["repo", "path"], "ord",
            order_tbl, 4)
        from pyspark.sql import Observation
        doc_map_delta = ranked.select(
            (F.col("ord") + F.lit(n_before)).cast("long").alias("docID"),
            "repo", "path", "commit", "lang")
        # n_delta rides the staging write as an Observation — one fewer
        # driver-synchronous job per micro-batch (retries recompute the
        # write, so the observed value is always this attempt's)
        obs_dm = Observation(f"dm_delta_{batch_id}")
        stage.write(doc_map_delta.observe(obs_dm, F.count(F.lit(1)).alias("n")),
                    "doc_map")
        n_delta = int(obs_dm.get["n"])
        self.store.drop(order_tbl)
        doc_map_delta = stage.read("doc_map").select("docID", "repo", "path")

        if supersede and self.store.exists("doc_map"):
            # keys re-ingested by this batch tombstone their LIVE docID.
            # The docID < n_before guard makes retries safe: a crashed
            # attempt may already have linked this batch's own doc_map
            # files, and its fresh docIDs (all >= n_before by the
            # prefix-sum assignment) must not self-tombstone.
            stage.write(self.store.read("doc_map")
                        .filter(F.col("docID") < F.lit(n_before))
                        .join(batch_df.select("repo", "path").distinct(),
                              ["repo", "path"])
                        .select("docID"), "tombstones")
            self._ensure_live_dir("tombstones")

        # the batch build's own SPIMI path: ONE kernel pass staged as
        # packed partials, then the fragment encoder for postings and the
        # kind=m / kind=s markers for doc_len / doc_sha (same semantics
        # as a full build: no row for a doc without kept terms / content)
        docs_with_id = batch_df.select("repo", "path", "content").join(
            doc_map_delta, ["repo", "path"])
        write_partials(stage, "partials", docs_with_id, cfg.docs_per_bucket)
        partials = stage.read("partials")
        write_postings(stage, "postings", partials.filter(F.col("kind") == "f"),
                       4, cfg, meta["avgdl_now"])
        # batch_len rides the doc_len staging write
        obs_dl = Observation(f"dl_delta_{batch_id}")
        stage.write(doc_len_rows(partials).observe(obs_dl, F.sum("dl").alias("s")),
                    "doc_len")
        batch_len = int(obs_dl.get["s"] or 0)
        stage.write(doc_sha_rows(partials), "doc_sha")

        # metadata SEGMENTS: the build's term-stat derivation over the
        # batch's blocks ONLY — O(batch vocabulary) rows, independent of
        # the live vocabulary. Readers fold duplicate term rows
        # (build._fold_dictionary etc); a segment's n_buckets counts the
        # batch's buckets, an upper bound after the fold (a delta bucket
        # may also exist in the base) that only feeds the WAND
        # driver-slice size gate, where an overestimate is safe.
        rolled = term_bucket_rollup(stage.read("postings"))
        stage.write(rolled.select("term", "bucket", "tmax", "n_blocks"),
                    "bucket_max")
        # ordinals are re-ranked at compaction
        stage.write(fold_term_rollup(rolled).withColumn(
            "term_ord", F.lit(None).cast("long")), "dictionary")
        stage.write(stage.read("dictionary").select("rterm", "term", "df"),
                    "dictionary_r")

        # -- stage 2: link ALL deltas into the live tables (append-only,
        # deterministic names -> retries converge) ------------------------
        data_tables = ["doc_map", "doc_sha", "postings", "doc_len"]
        if stage.exists("tombstones"):
            data_tables.append("tombstones")
        for table in data_tables:
            self._append_files(stage.path(table), table, batch_id)
        crash_point("links")
        for table in ("dictionary", "dictionary_r", "bucket_max"):
            self._append_files(stage.path(table), table, batch_id)
        crash_point("merges")

        # -- stage 3: stats (n_delta / batch_len observed during the
        # stage-1 writes — no standalone count/sum jobs here)
        n_new = n_before + n_delta
        total_len = meta["total_len_before"] + batch_len
        new_stats = arrow_rows(self.spark, [
            (n_new, total_len, float(total_len / n_new) if n_new else 0.0,
             cfg.k1, cfg.b, cfg.docs_per_block, cfg.docs_per_bucket,
             min(meta["avgdl_enc_min"], meta["avgdl_now"]))],
            TABLE_SCHEMAS["stats"])
        self.store.write(new_stats, "tmp_stats_new")
        self._swap("stats", "tmp_stats_new")
        crash_point("stats")

        # -- stage 4: commit marker + cleanup -----------------------------
        self._commit_batch(batch_id)

    def _ensure_live_dir(self, table: str) -> None:
        """First-touch init for a table born from segment appends
        (tombstones): write a schema'd EMPTY base so the directory is
        always readable — a bare `_SUCCESS` dir would fail schema
        inference if a crash landed between init and the first link.
        No-op once the table exists (overwriting later would delete
        linked segments)."""
        if not self.store.exists(table):
            self.store.write(
                arrow_rows(self.spark, [], TABLE_SCHEMAS[table]), table)

    # -- deletes -----------------------------------------------------------
    def delete_batch(self, keys_df: DataFrame | None = None,
                     batch_id: int = 0,
                     doc_ids: DataFrame | None = None,
                     _fail_after: str | None = None) -> None:
        """Delete documents from the live index: one tombstone segment
        (docID) appended under the same idempotent-batch contract as
        append_batch (deterministic file names, marker LAST — a replay
        or crash-retry converges). Batch ids share append_batch's
        namespace.

        `keys_df`: (repo, path) rows — resolved to docIDs by a
        METADATA-ONLY doc_map scan (content is never read; at 10^12
        docs this is the only table a delete touches). `doc_ids`:
        a (docID) relation, for callers that already resolved ids.

        Semantics (Lucene-style, documented in QueryEngine): queries
        exclude tombstoned docs immediately — set-returning queries by
        anti-join, BM25 inside the scoring kernel BEFORE the top-k cut
        — while dictionary stats / N / avgdl stay as-built until the
        next compact(), which removes the postings physically and
        recomputes stats from the surviving corpus. Deleting a key that
        was never indexed (or twice) is a no-op; re-appending a deleted
        key later creates a fresh docID (see append_batch supersede)."""
        if os.path.exists(self._marker(batch_id)):
            return  # replayed batch: NO-OP
        if doc_ids is not None:
            tomb = doc_ids.select(F.col("docID").cast("long").alias("docID"))
        elif keys_df is not None:
            tomb = (self.store.read("doc_map")
                    .join(keys_df.select("repo", "path").distinct(),
                          ["repo", "path"])
                    .select("docID"))
        else:
            raise ValueError("delete_batch needs keys_df= or doc_ids=")
        os.makedirs(self._stage_dir(batch_id), exist_ok=True)
        (tomb.distinct().write.mode("overwrite")
         .parquet(self._stage_dir(batch_id, "tombstones")))
        self._ensure_live_dir("tombstones")
        self._append_files(self._stage_dir(batch_id, "tombstones"),
                           "tombstones", batch_id)
        if _fail_after == "links":
            raise RuntimeError("injected crash after links")
        self._commit_batch(batch_id)

    # -- compaction --------------------------------------------------------
    SEGMENTED_TABLES = SEGMENTED_TABLES

    # compact() ships the pending-delete set to every encode task as a
    # sorted int64 array; this caps the driver/executor memory that
    # costs (32M ids = 256 MB). Deletes between compactions are a small
    # fraction of the corpus in any healthy schedule.
    TOMBSTONE_COMPACT_MAX = 1 << 25

    # _uncommitted_batch_ids / _require_all_committed: BatchSegments

    def compact(self) -> None:
        """Fold ALL pending LSM segments — data tables included — into
        fresh base tables: the major-compaction maintenance operation,
        cost O(index), paid once per compaction instead of letting every
        query pay for it forever (after 10^4 micro-batches a postings
        scan would otherwise open 10^4x more files, and per-batch block
        fragments for the same (term, bucket) would keep WAND bounds
        fragment-grained).

        What happens, in publish order (each swap is a versioned
        manifest-pointer flip — TableStore.publish — so EVERY
        intermediate crash state is a consistent, query-safe index):

        1. postings — accumulated batch fragments are shuffled as BLOCK
           rows and merged + re-cut by the fused fragment merge-encoder
           (build._make_fragment_encoder) into full, bucket-major,
           term-sorted blocks at the CURRENT avgdl, 8 MB row groups
           (same layout contract as the batch build,
           build._build_postings).
        2. bucket_max, dictionary, dictionary_r — recomputed FROM the
           compacted postings (once fragments merge, the segment-folded
           n_blocks / per-fragment WAND bounds are stale); term_ord is
           re-ranked dense, restoring the O(1) term_dict_pos path.
        3. doc_map, doc_len, doc_sha — content is unchanged; their
           segment files are rewritten into docID-sorted bases
           (row-group pruning).
        4. stats LAST: avgdl_enc_min resets to the current avgdl only
           after every live block is re-encoded under it. A crash
           before this point leaves the old, smaller enc_min, so the
           query engine's bound inflation stays an OVERESTIMATE (safe);
           flipping stats first could under-inflate stale fragments.

        Pending DELETES (tombstones from delete_batch / supersede) are
        resolved here too: the sorted drop set rides the fragment
        merge-encoder so tombstoned postings vanish during the same
        merge (never a separate pass), doc_map/doc_len/doc_sha are
        rewritten without them, dictionary/bucket_max re-derive (df/cf
        shrink), stats recompute N/total_len/avgdl over the survivors,
        and the tombstone table is cleared LAST — so every crash state
        still excludes deleted docs (via the then-live tombstones) and
        never under-inflates WAND bounds (enc_min is pre-lowered when
        deletes shrink avgdl).

        A crash mid-sequence is healed by simply calling compact()
        again — every step is idempotent (decode->encode of already-
        full blocks is a no-op roundtrip), and the leftover mixed state
        still answers queries correctly in the meantime.
        """
        if not any(self.store.has_segments(t) for t in self.SEGMENTED_TABLES):
            # no batch segments — but deletes folded by compact_minor
            # live in seg* files the glob above does not see, and they
            # still owe a physical removal
            if not (self.store.exists("tombstones")
                    and self.store.read("tombstones").limit(1).count()):
                return
        self._require_all_committed()
        # the doc-major forward index (QueryEngine.build_forward_index)
        # is DERIVED from the postings this compaction is about to
        # rewrite — drop it; callers rebuild it after compacting
        self.store.drop("doc_vec")
        cfg = self.config
        stats = self.store.read("stats").collect()[0].asDict()
        dpb = int(stats["docs_per_bucket"])
        n = cfg.n_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions"))

        # -- 0. pending deletes: resolve the drop set + the healed stats
        # BEFORE any re-encode, so the rebuilt blocks (and their WAND
        # bounds) are cut at the post-delete avgdl
        import numpy as np
        drop_ids, tomb_df = None, None
        n_docs_new = int(stats["n_docs"])
        total_len_new = int(stats["total_len"])
        if self.store.exists("tombstones"):
            tomb_df = self.store.read("tombstones").select("docID").distinct()
            # Arrow transfer, not .collect(): at the 32M-id cap a Row
            # list costs GBs of driver heap where the Arrow column is
            # the bare 8 bytes/id (+ the one np copy below)
            tomb_arrow = (tomb_df.limit(self.TOMBSTONE_COMPACT_MAX + 1)
                          .toArrow())
            if tomb_arrow.num_rows > self.TOMBSTONE_COMPACT_MAX:
                raise RuntimeError(
                    f"compact() refused: > {self.TOMBSTONE_COMPACT_MAX} "
                    "pending tombstones (the drop set ships to every "
                    "encode task as a sorted array). Compact more often, "
                    "or raise TOMBSTONE_COMPACT_MAX if the executors "
                    "have the memory.")
            if tomb_arrow.num_rows:
                drop_ids = np.sort(tomb_arrow.column("docID")
                                   .to_numpy(zero_copy_only=False)
                                   .astype(np.int64, copy=False))
                # surviving-corpus stats from the METADATA tables only
                # (one semi count + one small agg; a tombstone for a
                # docID that never existed contributes nothing)
                n_del = (self.store.read("doc_map").select("docID")
                         .join(F.broadcast(tomb_df), "docID", "semi").count())
                len_del = (self.store.read("doc_len")
                           .join(F.broadcast(tomb_df), "docID", "semi")
                           .agg(F.sum("dl")).collect()[0][0]) or 0
                n_docs_new -= int(n_del)
                total_len_new -= int(len_del)
            else:
                tomb_df = None
        avgdl_new = (float(total_len_new) / n_docs_new) if n_docs_new else 0.0
        avgdl = avgdl_new or 1.0
        enc_min_cur = float(stats.get("avgdl_enc_min")
                            or (float(stats["avgdl"]) or 1.0))
        if drop_ids is not None and 0.0 < avgdl < enc_min_cur:
            # deletes SHRANK avgdl below the recorded encode floor: the
            # blocks about to be re-encoded at the new, smaller avgdl
            # carry smaller stored WAND bounds, and a crash before the
            # final stats flip would leave queries inflating by the old
            # (too-large) floor — an UNDER-estimate. Lowering only
            # enc_min up front keeps every crash state over-inflated,
            # i.e. safe (the mirror of the flip-stats-last rule below).
            pre = arrow_rows(self.spark, [
                (int(stats["n_docs"]), int(stats["total_len"]),
                 float(stats["avgdl"]), cfg.k1, cfg.b,
                 cfg.docs_per_block, dpb, avgdl)], TABLE_SCHEMAS["stats"])
            self.store.write(pre, "tmp_stats_new")
            self._swap("stats", "tmp_stats_new")

        # -- 1. postings: block fragments -> full blocks (fused merge) --
        # The exchange moves BLOCK rows, not exploded posting rows: the
        # fragment merge-encoder (build._make_fragment_encoder) decodes,
        # docID-merges and re-cuts each (term, bucket) group AFTER the
        # shuffle, so compaction shuffles ~1 row per block fragment
        # instead of ~docs_per_block posting rows per block.
        write_postings(self.store, "tmp_postings_new",
                       self.store.read("postings"), n, cfg, avgdl,
                       drop_ids=drop_ids)
        self._swap("postings", "tmp_postings_new")

        # -- 2. metadata from the compacted postings — ONE postings scan
        # feeds both tables (the build-stage shape: df/cf partial sums
        # ride the WAND rollup, the dictionary folds it, no join)
        rolled = (term_bucket_rollup(self.store.read("postings"))
                  .repartitionByRange(n, "term")
                  .sortWithinPartitions("term", "bucket"))
        self.store.write(rolled, "tmp_term_rollup")
        rolled = self.store.read("tmp_term_rollup", schema=TERM_ROLLUP_SCHEMA)
        self.store.write(rolled.select("term", "bucket", "tmax", "n_blocks"),
                         "tmp_bucket_max_new")
        self._swap("bucket_max", "tmp_bucket_max_new")
        merged = fold_term_rollup(rolled)
        merged = with_global_ordinals(
            self.store, merged, ["term"], "term_ord", "tmp_compact_order", n)
        self.store.write(merged, "tmp_dictionary_new")
        self.store.drop("tmp_compact_order")
        self.store.drop("tmp_term_rollup")
        self._swap("dictionary", "tmp_dictionary_new")
        d_r = (self.store.read("dictionary").select("rterm", "term", "df")
               .repartitionByRange(n, "rterm").sortWithinPartitions("rterm"))
        self.store.write(d_r, "tmp_dictionary_r_new")
        self._swap("dictionary_r", "tmp_dictionary_r_new")

        # -- 3. doc_map / doc_len / doc_sha: segments -> sorted bases ---
        for tbl, key in (("doc_map", "docID"), ("doc_len", "docID"),
                         ("doc_sha", "docID")):
            base = self.store.read(tbl)
            if tomb_df is not None:
                base = base.join(F.broadcast(tomb_df), "docID", "left_anti")
            base = base.repartitionByRange(n, key).sortWithinPartitions(key)
            self.store.write(base, f"tmp_{tbl}_new")
            self._swap(tbl, f"tmp_{tbl}_new")

        # -- 4. stats last: every block now encoded at the (post-delete)
        # current avgdl, and N/total_len reflect the surviving corpus —
        # BM25 semantics heal to exactly what a fresh build of the live
        # docs would compute
        new_stats = arrow_rows(self.spark, [
            (n_docs_new, total_len_new, avgdl_new,
             cfg.k1, cfg.b, cfg.docs_per_block, dpb, avgdl)],
            TABLE_SCHEMAS["stats"])
        self.store.write(new_stats, "tmp_stats_new")
        self._swap("stats", "tmp_stats_new")

        # -- 5. tombstones clear LAST: every earlier crash state keeps
        # them applied (over the already-filtered tables the anti-join /
        # kernel exclusion is a no-op — consistent either way)
        if self.store.exists("tombstones"):
            self.store.write(
                arrow_rows(self.spark, [], TABLE_SCHEMAS["tombstones"]),
                "tmp_tombstones_new")
            self._swap("tombstones", "tmp_tombstones_new")

    def _publish_with_merged_segments(self, table: str, merged_dir: str,
                                      seg_files: list, max_id: int) -> None:
        """Stage a new table version = hardlinks of the untouched base
        files + the merged segment (named seg<max_id>_*, which the
        `batch*` segment glob no longer matches), then publish — one
        atomic pointer flip, reader-safe, no base bytes copied."""
        stage = f"tmp_{table}_minorstage"
        stage_path = os.path.join(self.store.root, stage)
        shutil.rmtree(stage_path, ignore_errors=True)
        os.makedirs(stage_path)
        seg_set = set(seg_files)
        live = self.store.path(table)
        for fp in glob.glob(os.path.join(live, "*.parquet")):
            if fp not in seg_set:
                os.link(fp, os.path.join(stage_path, os.path.basename(fp)))
        for i, fp in enumerate(sorted(
                glob.glob(os.path.join(merged_dir, "*.parquet")))):
            os.link(fp, os.path.join(stage_path,
                                     f"seg{max_id}_{i:05d}.parquet"))
        open(os.path.join(stage_path, "_SUCCESS"), "w").close()
        self.store.publish(table, stage)

    def compact_minor(self) -> None:
        """L0 segment merge — O(accumulated deltas), NOT O(index): the
        per-batch segment files of the DATA tables (postings, doc_map,
        doc_len) fold into one consolidated segment each, and the
        untouched base files are hardlinked into a fresh table version
        (TableStore.publish — atomic, reader-safe). Postings segments
        are decoded and re-cut, so same-(term, bucket) fragments from
        DIFFERENT batches merge into full blocks and the merged files
        are term-sorted (row-group pruning works on them); base blocks
        are not rewritten. This is the cheap steady-state maintenance
        op for a live index — run it every few batches and file counts
        stay O(1) per table instead of O(batches), with `compact()`
        (the O(index) major rebuild + dense term_ord re-rank) reserved
        for occasional full maintenance.

        Metadata segments (dictionary / dictionary_r / bucket_max) are
        deliberately left alone: readers fold them, and their per-term
        aggregates stay SAFE over the merged blocks — n_blocks only
        ever over-estimates (its single consumer is the WAND
        driver-slice size gate), and the merged blocks' stored WAND
        bounds are encoded at avgdl_now while query-time inflation
        divides by the UNCHANGED stats.avgdl_enc_min, so pruning bounds
        only ever over-estimate. stats is untouched for the same
        reason (base blocks still carry the old encode avgdl)."""
        self._require_all_committed()
        # minor folds leave postings segments in place (doc_term_vector
        # already ignores doc_vec while segments are pending), but the
        # derived forward index would go stale the moment a later
        # compact() clears them — drop it here too, same contract
        self.store.drop("doc_vec")
        stats = self.store.read("stats").collect()[0].asDict()
        avgdl = float(stats["avgdl"]) or 1.0
        for table in ("postings", "doc_map", "doc_len", "doc_sha",
                      "tombstones"):
            live = self.store.path(table)
            seg_files = sorted(glob.glob(os.path.join(live,
                                                      "batch*_*.parquet")))
            if not seg_files:
                continue
            max_id = max(int(os.path.basename(f).split("_")[0][5:])
                         for f in seg_files)
            merged_tbl = f"tmp_{table}_minor"
            src_df = self.store.read(table, files=seg_files)
            if table == "tombstones":
                # fold per-batch delete segments into one sorted, deduped
                # segment (physical removal stays compact()'s job)
                src_df = src_df.select("docID").distinct()
            if table == "postings":
                write_postings(self.store, merged_tbl, src_df, 4,
                               self.config, avgdl)
            else:
                merged = (src_df.repartitionByRange(1, "docID")
                          .sortWithinPartitions("docID"))
                self.store.write(merged, merged_tbl)
            self._publish_with_merged_segments(
                table, self.store.path(merged_tbl), seg_files, max_id)
            self.store.drop(merged_tbl)  # merged files live on as links

    def _swap(self, live: str, staged: str) -> None:
        """Versioned atomic swap (TableStore.publish): the manifest
        pointer flip is the single commit point, so a crash anywhere in
        the swap never loses the live table (ADVICE r3: the old
        drop+rename lost dictionary/dictionary_r/bucket_max on a crash
        between the two calls, and compaction has no replay marker to
        rebuild from), and a concurrent reader that resolved the old
        version keeps a readable table until the NEXT compaction."""
        self.store.publish(live, staged)

    # -- streaming driver --------------------------------------------------
    def stream_from_directory(self, input_dir: str, checkpoint_dir: str,
                              available_now: bool = True,
                              compact_every: int | None = None,
                              minor_compact_every: int | None = None):
        """File-source stream: every new parquet file of documents in
        `input_dir` is appended to the index, one micro-batch at a time.
        `compact_every`: full O(index) compaction every N batches;
        `minor_compact_every`: O(delta) segment merge every M batches
        (both run after the batch COMMITS, so a compaction crash never
        affects batch replay; major wins when both are due)."""
        stream = (self.spark.readStream
                  .schema(DOCUMENTS_SCHEMA)
                  .parquet(input_dir))

        def apply(df, bid):
            self.append_batch(df, bid)
            if compact_every and (bid + 1) % compact_every == 0:
                self.compact()
            elif minor_compact_every and \
                    (bid + 1) % minor_compact_every == 0:
                self.compact_minor()

        writer = (stream.writeStream
                  .foreachBatch(apply)
                  .option("checkpointLocation", checkpoint_dir))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def index(self) -> Index:
        idx = Index(store=self.store, config=self.config)
        idx.load_stats()
        return idx
