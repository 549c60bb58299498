"""SPIMI-style partition-parallel inverted-index build.

Pipeline (SURVEY.md §3.1 Spark lifecycle), each stage a checkpointed
table so the build is resumable (north_rule):

  stage 1  doc_map   — dense docID assignment over (repo, path) order
                       WITHOUT a global sort: range-repartition the slim
                       (repo, path) projection, sort within partitions,
                       then per-partition counts -> exclusive prefix sum
                       -> offset + local index. Only the two key columns
                       ever shuffle; content stays where it is.
                       (Replaces the reference's walk-order BiMap,
                       IndexService.java:173-177, which cannot distribute.)
  stage 2  partials  — docs ⋈ doc_map (AQE picks broadcast when small)
                       -> ONE map-side Arrow kernel: tokenize + per-doc
                       inversion + PACK into per-(term, bucket) fragment
                       rows (varbyte docIDs/tfs/dls/positions,
                       FRAGMENTS_SCHEMA) + a per-partition doc_len
                       marker row. This is SPIMI: the partition-local
                       inversion is the reference's in-memory inversion
                       (IndexService.java:215-233), the fragment files
                       its particle files (IndexService.java:258-288) —
                       no shuffle, memory bounded by the input split.
  stage 3  doc_len   — decoded from the packed markers: shuffle-free,
           + stats     row-group-pruned scan (rows only for docs with
                       >=1 kept term; an ABSENT row means dl = 0) +
                       global N / total_len / avgdl.
  stage 4  postings  — the build's ONE wide exchange: shuffle FRAGMENT
                       rows on (term, bucket) (~10-30x fewer rows than
                       per-posting, ~3-5 bytes/posting), sort fragments
                       within partitions, then a fused Arrow kernel
                       decodes + docID-merges + re-cuts each group into
                       fixed docs-per-block varbyte blocks with per-block
                       max tf and max BM25 tf-norm (the block-max WAND
                       skip structure). The `bucket = docID //
                       docs_per_bucket` key bounds any single group: a
                       Zipf head term is split across buckets
                       (skew-proof, replaces the reference's
                       single-writer k-way merge, IndexService.java:
                       290-419), and bucket-major block ids keep docIDs
                       globally ascending per term.
  stage 4.5 bucket_max — per-(term, docID-bucket) WAND bound rollup, so
                       queries never re-aggregate block metadata.
  stage 5  dictionary— term stats rollup (df summed from per-block doc
                       counts — no docFr backpatch pass, cf.
                       IndexService.java:397-407) + reversed-term column
                       + term_ord global ordinal (Q16,
                       IndexBody.java:86-88) via the same two-phase rank
                       trick as docIDs.
  stage 5b dictionary_r — the dictionary re-sorted by rterm (the
                       reference's reversed vocabulary,
                       IndexBody.java:142-162) for pruned suffix lookups.
  stage 6  lineage   — per-stage, per-partition row counts + merge
                       fan-in + per-stage wall_sec timing rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .codec import vb_encode, vb_encode_with_lengths
from .io import (FRAGMENTS_SCHEMA, POSTINGS_SCHEMA, TABLE_SCHEMAS, TableStore,
                 arrow_rows)

def _invert_arrow_batch(rb):
    """Tokenize + invert ONE Arrow record batch of (docID, content) rows.

    Token splitting / flattening / dictionary-encoding run in Arrow C++
    (pc.ascii_split_whitespace, pc.dictionary_encode); Python sees only
    the per-batch DISTINCT raw tokens (a few hundred strings) for the
    regex normalization, and all grouping is integer numpy.

    Returns None when the batch yields no postings, else the per-
    (doc, term) group arrays, sorted by (doc, term):
      (term_uniq  object[] distinct normalized terms of the batch,
       term_code  int64[n] index into term_uniq per group,
       docID      int64[n],
       tf         int32[n],
       dl         int32[n],
       pos_data   uint8[]  flat varbyte position-gap stream,
       pos_off    int64[n+1] per-group byte offsets into pos_data,
       is_first   bool[n]  marks each doc's first group)
    """
    import pyarrow.compute as pc

    from .functions.tokenize import _normalize_unique

    if rb.num_rows == 0:
        return None
    content = pc.fill_null(rb.column(rb.schema.get_field_index("content")), "")
    doc_ids = rb.column(rb.schema.get_field_index("docID")).to_numpy(
        zero_copy_only=False).astype(np.int64)
    # ascii_split_whitespace == Java's \s class [ \t\n\x0b\f\r] exactly
    # (utf8_split_whitespace would also split U+00A0/U+2028 — the
    # reference does not; tests/test_normalize.py pins the parity)
    lists = pc.ascii_split_whitespace(content)
    lengths = pc.list_value_length(lists).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = pc.list_flatten(lists)
    if len(flat) == 0:
        return None
    enc = pc.dictionary_encode(flat)
    raw_codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    raw_uniq = enc.dictionary.to_pandas()
    doc_idx = np.repeat(np.arange(len(lengths)), lengths)

    norm_uniq = _normalize_unique(raw_uniq).to_numpy(dtype=object)
    kept_uniq = norm_uniq != None  # noqa: E711
    term_of_raw = np.full(len(norm_uniq), -1, dtype=np.int64)
    term_codes, term_uniq = pd.factorize(pd.Series(norm_uniq[kept_uniq]))
    term_of_raw[kept_uniq] = term_codes

    tok_term = term_of_raw[raw_codes]
    kept = tok_term >= 0
    k_term = tok_term[kept]
    k_doc = doc_idx[kept]
    dl_per_doc = np.bincount(k_doc, minlength=len(lengths)).astype(np.int64)
    kept_starts = np.zeros(len(lengths), dtype=np.int64)
    kept_starts[1:] = np.cumsum(dl_per_doc[:-1])
    # position within doc over KEPT terms only (IndexService.java:221-225)
    pos = np.arange(len(k_term), dtype=np.int64) - np.repeat(kept_starts, dl_per_doc)
    if len(k_term) == 0:
        return None
    order = np.lexsort((k_term, k_doc))  # stable -> positions stay ascending
    g_doc, g_term, g_pos = k_doc[order], k_term[order], pos[order]
    new_group = np.ones(len(g_doc), dtype=bool)
    new_group[1:] = (g_doc[1:] != g_doc[:-1]) | (g_term[1:] != g_term[:-1])
    starts = np.flatnonzero(new_group)
    tf = np.diff(np.append(starts, len(g_doc))).astype(np.int32)

    # positions as per-row varbyte gap blobs (first value absolute per
    # row): encoded ONCE here on the map side, so the term shuffle and
    # the partials parquet carry ~1 byte/position instead of 4, and the
    # fragment encoder later just slices and CONCATENATES row blobs
    # (varbyte is value-independent) — no decode/re-encode after the
    # shuffle.
    pos_gaps = np.diff(g_pos, prepend=0)
    pos_gaps[starts] = g_pos[starts]
    pos_data, nb = vb_encode_with_lengths(pos_gaps)
    val_ends = np.cumsum(nb)
    row_ends = val_ends[np.append(starts[1:], len(g_pos)) - 1]
    offsets = np.empty(len(starts) + 1, dtype=np.int64)
    offsets[0] = 0
    offsets[1:] = row_ends
    # is_first marks each doc's FIRST (doc, term) group — rows are
    # sorted by (doc, term), so the pack's doc_len marker takes one
    # (docID, dl) per doc without a groupBy
    first = np.ones(len(starts), dtype=bool)
    first[1:] = g_doc[starts][1:] != g_doc[starts][:-1]
    return (np.asarray(term_uniq, dtype=object), g_term[starts],
            doc_ids[g_doc[starts]], tf,
            dl_per_doc[g_doc[starts]].astype(np.int32),
            np.frombuffer(pos_data, dtype=np.uint8), offsets, first)


def _make_spimi_packed(docs_per_bucket: int):
    """SPIMI kernel factory for the batch build and the streaming append:
    tokenize + invert each batch (_invert_arrow_batch), then PACK the
    whole partition's postings into per-(term, bucket) fragment rows
    (FRAGMENTS_SCHEMA).

    The pack is what keeps the build's one wide exchange byte-light at
    10^12 docs: the term shuffle moves one row per (term, bucket) per map
    partition — ~10-30x fewer rows than per-posting (bounded below by the
    partition's distinct-term count, Zipf tails keep it from the full
    docs-per-fragment factor) — with docIDs/tfs/dls varbyte-packed at
    ~3-5 bytes/posting instead of ~50 bytes of unpacked row overhead.
    Memory is bounded by the input split size (32 MB of content =>
    a few hundred MB of transient numpy), independent of corpus size.

    It also emits ONE kind="s" marker row per partition carrying every
    doc's content sha256 (64-char hex, fixed-width-packed in docID
    order) — the input_hint per-row invariant fingerprint, computed
    HERE because the kernel already holds the content bytes:
    this is what makes the whole build read the corpus exactly ONCE
    (stage 1 used to run a second full content scan just for sha2; at
    100 TB that second scan is 100 TB of avoidable reads). hashlib is a
    C routine over bytes already resident from tokenization — measured
    noise-level against the tokenize+invert cost — and it hex-matches
    the JVM's sha2() exactly (pinned by test_sha256_invariant). A NULL
    content row gets NO sha row, mirroring sha2(NULL) -> NULL.
    """

    def kernel(batches):
        import hashlib
        parts = []
        sha_docs: list = []
        sha_hex: list = []
        for rb in batches:
            if rb.num_rows:
                ids = rb.column(rb.schema.get_field_index("docID")) \
                    .to_numpy(zero_copy_only=False).astype(np.int64)
                texts = rb.column(
                    rb.schema.get_field_index("content")).to_pylist()
                keep = [j for j, s in enumerate(texts) if s is not None]
                if keep:
                    sha_docs.append(ids[keep])
                    sha_hex.append(np.array(
                        [hashlib.sha256(texts[j].encode("utf-8")).hexdigest()
                         for j in keep], dtype="S64"))
            r = _invert_arrow_batch(rb)
            if r is not None:
                parts.append(r)
        if parts:
            yield from _pack_fragments(parts, docs_per_bucket)
        if sha_docs:
            yield _sha_marker_batch(sha_docs, sha_hex)

    return kernel


def _sha_marker_batch(sha_docs: list, sha_hex: list):
    """One kind="s" FRAGMENTS_SCHEMA marker row: doc_gaps carries the
    partition's sorted docIDs (gap-coded, same layout as the kind="m"
    doc_len markers), pos_gaps the matching 64-char hex sha256 digests
    as one fixed-width byte blob (64 bytes/doc, no offsets needed)."""
    import pyarrow as pa

    ids = np.concatenate(sha_docs)
    hexes = np.concatenate(sha_hex)
    o = np.argsort(ids)
    ids, hexes = ids[o], hexes[o]
    gaps = np.diff(ids, prepend=0)
    if len(ids):
        gaps[0] = ids[0]
    return pa.RecordBatch.from_arrays(
        [pa.array([""], type=pa.string()),
         pa.array([-1], type=pa.int64()),
         pa.array([len(ids)], type=pa.int32()),
         pa.array([vb_encode(gaps)], type=pa.binary()),
         pa.array([b""], type=pa.binary()),
         pa.array([b""], type=pa.binary()),
         pa.array([hexes.tobytes()], type=pa.binary()),
         pa.array(["s"], type=pa.string())],
        names=["term", "bucket", "n_docs", "doc_gaps", "tfs", "dls",
               "pos_gaps", "kind"])


def _decode_sha_markers(batches):
    """mapInArrow: kind="s" marker rows -> (docID, sha256) rows. One
    flat varbyte decode for the docIDs; the hex digests are a single
    fixed-width frombuffer view per marker row (rows per batch = map
    partitions, a handful)."""
    import pyarrow as pa

    from .codec import flat_decode, segmented_cumsum

    for rb in batches:
        if rb.num_rows == 0:
            continue
        col = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}
        nd = col["n_docs"].to_numpy(zero_copy_only=False).astype(np.int64)
        g = flat_decode(col["doc_gaps"], rb.num_rows).astype(np.int64)
        if len(g) == 0:
            continue
        docs = segmented_cumsum(g, nd)
        hex_parts = [np.frombuffer(col["pos_gaps"][i].as_py(), dtype="S64")
                     for i in range(rb.num_rows)]
        hexes = np.concatenate(hex_parts)
        assert len(hexes) == len(docs), "sha marker blob/docID count mismatch"
        yield pa.RecordBatch.from_arrays(
            [pa.array(docs, type=pa.int64()),
             pa.array(hexes.astype("U64"))],
            names=["docID", "sha256"])


def _pack_fragments(parts, docs_per_bucket: int):
    """Pack per-batch (doc, term) group arrays into fragment rows + one
    doc_len marker row. All whole-array numpy: one factorize over the
    per-batch term dictionaries, one lexsort to term-major order, one
    byte-gather for the position blobs, one varbyte pass per column."""
    import pyarrow as pa
    import pyarrow.compute as pc

    # per-batch term codes -> one partition-global dictionary
    uniq_sizes = [len(p[0]) for p in parts]
    ubase = np.concatenate(([0], np.cumsum(uniq_sizes)))
    gcodes, guniq = pd.factorize(pd.Series(np.concatenate([p[0] for p in parts])))
    term_code = np.concatenate(
        [gcodes[ubase[i]: ubase[i + 1]][p[1]] for i, p in enumerate(parts)])
    doc = np.concatenate([p[2] for p in parts])
    tf = np.concatenate([p[3] for p in parts]).astype(np.int64)
    dl = np.concatenate([p[4] for p in parts]).astype(np.int64)
    pos_flat = np.concatenate([p[5] for p in parts])
    pbase = np.concatenate(([0], np.cumsum([len(p[5]) for p in parts])))
    row_start = np.concatenate([p[6][:-1] + pbase[i] for i, p in enumerate(parts)])
    row_len = np.concatenate([np.diff(p[6]) for p in parts])

    # term-major order; doc ascending within term => bucket ascending too
    order = np.lexsort((doc, term_code))
    td, d = term_code[order], doc[order]
    t, l = tf[order], dl[order]
    bk = d // docs_per_bucket

    # gather position blobs into the new row order (pure byte moves)
    ns, nl = row_start[order], row_len[order]
    total = int(nl.sum())
    if total:
        shift = np.cumsum(nl) - nl
        pos_sorted = pos_flat[np.repeat(ns - shift, nl) + np.arange(total)]
    else:
        pos_sorted = pos_flat[:0]
    row_byte_end = np.cumsum(nl)

    n = len(d)
    change = np.ones(n, dtype=bool)
    change[1:] = (td[1:] != td[:-1]) | (bk[1:] != bk[:-1])
    gs = np.flatnonzero(change)
    ge = np.append(gs[1:], n)

    def vb_col(vals):
        data, nb = vb_encode_with_lengths(vals)
        ends = np.cumsum(nb)
        off = np.zeros(len(gs) + 1, dtype=np.int32)
        off[1:] = ends[ge - 1]
        return _binary_array(off, data)

    gaps = np.diff(d, prepend=0)
    gaps[gs] = d[gs]
    pos_off = np.zeros(len(gs) + 1, dtype=np.int32)
    if total:
        pos_off[1:] = row_byte_end[ge - 1]
    names = ["term", "bucket", "n_docs", "doc_gaps", "tfs", "dls",
             "pos_gaps", "kind"]
    yield pa.RecordBatch.from_arrays(
        [pc.take(pa.array(np.asarray(guniq, dtype=object), type=pa.string()),
                 pa.array(td[gs])),
         pa.array(bk[gs], type=pa.int64()),
         pa.array((ge - gs).astype(np.int32), type=pa.int32()),
         vb_col(gaps), vb_col(t), vb_col(l),
         _binary_array(pos_off, pos_sorted.tobytes()),
         pa.array(np.full(len(gs), "f", dtype=object), type=pa.string())],
        names=names)

    # doc_len marker row: every doc appears in exactly one batch, and
    # is_first flags its first (doc, term) group there
    mdoc = np.concatenate([p[2][p[7]] for p in parts])
    mdl = np.concatenate([p[4][p[7]] for p in parts]).astype(np.int64)
    ms = np.argsort(mdoc)
    md, ml = mdoc[ms], mdl[ms]
    mgaps = np.diff(md, prepend=0)
    if len(md):
        mgaps[0] = md[0]
    yield pa.RecordBatch.from_arrays(
        [pa.array([""], type=pa.string()),
         pa.array([-1], type=pa.int64()),
         pa.array([len(md)], type=pa.int32()),
         pa.array([vb_encode(mgaps)], type=pa.binary()),
         pa.array([b""], type=pa.binary()),
         pa.array([vb_encode(ml)], type=pa.binary()),
         pa.array([b""], type=pa.binary()),
         pa.array(["m"], type=pa.string())],
        names=names)


def _binary_array(off32, data):
    """pa.binary() array from raw int32 offsets + a contiguous byte blob
    (no per-row Python bytes objects)."""
    import pyarrow as pa

    return pa.Array.from_buffers(
        pa.binary(), len(off32) - 1,
        [None, pa.py_buffer(off32.tobytes()), pa.py_buffer(data)])


def _decode_doclen_markers(batches):
    """mapInArrow: fragment marker rows (bucket == -1) -> (docID, dl)
    rows. One flat varbyte decode per column per batch."""
    import pyarrow as pa

    from .codec import flat_decode, segmented_cumsum

    for rb in batches:
        if rb.num_rows == 0:
            continue
        col = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}
        nd = col["n_docs"].to_numpy(zero_copy_only=False).astype(np.int64)
        g = flat_decode(col["doc_gaps"], rb.num_rows).astype(np.int64)
        if len(g) == 0:
            continue
        docs = segmented_cumsum(g, nd)
        dls = flat_decode(col["dls"], rb.num_rows).astype(np.int32)
        yield pa.RecordBatch.from_arrays(
            [pa.array(docs, type=pa.int64()),
             pa.array(dls, type=pa.int32())],
            names=["docID", "dl"])


def _make_fragment_encoder(cfg: "IndexConfig", avgdl: float,
                           drop_ids=None):
    """Arrow kernel factory: fragment rows (FRAGMENTS_SCHEMA — or
    POSTINGS_SCHEMA block rows, a superset) sorted by (term, bucket)
    within the partition -> full varbyte posting-block rows.

    `drop_ids` (optional SORTED np.int64 array): postings of these
    docIDs are dropped during the merge — the physical-delete half of
    tombstone compaction (streaming.IncrementalIndexer.compact). The
    filter runs on the flat decoded posting stream before grouping, so
    block cutting, gap re-encoding and per-block metadata all see only
    surviving postings; position payloads are dropped by byte range
    (per-posting bounds are already known from the varbyte terminator
    bits, so positions still never decode).

    The fused decode+merge+encode half of the packed build shuffle: the
    exchange and the partition sort handle only fragment rows (one per
    (term, bucket) per upstream partition), and this kernel merges each
    group's fragments back into one docID-ascending posting run and cuts
    blocks — with NO per-group (or per-block) Python loop:

      * flat buffer-level varbyte decode per column (codec.flat_decode);
      * position payloads are never decoded at all — per-posting byte
        boundaries come from the varbyte TERMINATOR bits in one
        vectorized pass (np.flatnonzero(bytes & 0x80); the profiled
        decode+re-encode alternative was ~45%% of kernel time), and
        block position blobs are pure byte slices;
      * one batch-global lexsort((docID, group)) merges every group's
        interleaved fragment runs at once (map partitions hold arbitrary
        docID subsets, so runs interleave after the shuffle);
      * per-block metadata (max tf, max BM25 tf-norm, cf, first/last
        doc) via np.maximum/np.add.reduceat at block starts;
      * ONE varbyte encode per output column per batch, sliced to
        per-block blobs at cumulative-length boundaries
        (vb_encode_with_lengths — same trick as the SPIMI pack).

    Group state never spans partitions (hash partitioning on
    (term, bucket)); the last group of each batch is held back and
    merged into the next batch when it continues there. Memory per group
    is bounded by docs_per_bucket postings."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codec import flat_decode, member, segmented_cumsum

    k1, b_, B = cfg.k1, cfg.b, cfg.docs_per_block
    blocks_per_bucket = cfg.blocks_per_bucket
    store_positions = cfg.store_positions
    avgdl_ = avgdl or 1.0
    out_names = ["term", "bucket", "block_id", "n_docs", "doc_gaps", "tfs",
                 "dls", "pos_gaps", "block_max_tf", "block_max_wand",
                 "block_first_doc", "block_last_doc", "cf"]
    empty8 = np.empty(0, dtype=np.uint8)

    def encode_groups(terms, buckets, sizes, d, t, l, blob, row_len):
        """Encode complete (term, bucket) groups into one block-row
        record batch. terms/buckets/sizes are per-GROUP (object / int64 /
        int64); d/t/l/row_len are per-POSTING in group-contiguous order
        (docIDs NOT yet merged within a group), blob the matching flat
        position-byte stream. Returns None when no group has postings
        (possible only under drop_ids)."""
        nz = sizes > 0
        if not nz.all():
            # a fully-dropped group emits no blocks (and must not feed
            # zero-length segments into the block math below)
            terms, buckets, sizes = terms[nz], buckets[nz], sizes[nz]
            if len(sizes) == 0:
                return None
        n = len(d)
        gid = np.repeat(np.arange(len(sizes)), sizes)
        order = np.lexsort((d, gid))
        if not np.array_equal(order, np.arange(n)):
            d, t, l = d[order], t[order], l[order]
            if len(blob):
                starts = np.cumsum(row_len) - row_len
                ns, nl = starts[order], row_len[order]
                shift = np.cumsum(nl) - nl
                blob = blob[np.repeat(ns - shift, nl) + np.arange(int(nl.sum()))]
                row_len = nl
        gstart = np.cumsum(sizes) - sizes
        within = np.arange(n) - np.repeat(gstart, sizes)
        bs = np.flatnonzero(within % B == 0)
        be = np.append(bs[1:], n)
        nblocks = ((sizes + B - 1) // B).astype(np.int64)
        bgid = np.repeat(np.arange(len(sizes)), nblocks)

        tfn = t * (k1 + 1.0) / (t + k1 * (1.0 - b_ + b_ * l / avgdl_))
        block_id = buckets[bgid] * blocks_per_bucket + within[bs] // B

        gaps = np.diff(d, prepend=0)
        gaps[bs] = d[bs]  # first docID absolute per block (independent decode)

        def vbc(vals):
            data, nb = vb_encode_with_lengths(vals)
            ends = np.cumsum(nb)
            off = np.zeros(len(bs) + 1, dtype=np.int32)
            off[1:] = ends[be - 1]
            return _binary_array(off, data)

        poff = np.zeros(len(bs) + 1, dtype=np.int32)
        if store_positions and len(blob):
            poff[1:] = np.cumsum(row_len)[be - 1]
            pos_col = _binary_array(poff, blob.tobytes())
        else:
            pos_col = _binary_array(poff, b"")
        cols = [pa.array(terms[bgid], type=pa.string()),
                pa.array(buckets[bgid], type=pa.int64()),
                pa.array(block_id, type=pa.int64()),
                pa.array((be - bs).astype(np.int32), type=pa.int32()),
                vbc(gaps), vbc(t), vbc(l), pos_col,
                pa.array(np.maximum.reduceat(t, bs).astype(np.int32),
                         type=pa.int32()),
                pa.array(np.maximum.reduceat(tfn, bs), type=pa.float64()),
                pa.array(d[bs], type=pa.int64()),
                pa.array(d[be - 1], type=pa.int64()),
                pa.array(np.add.reduceat(t, bs), type=pa.int64())]
        return pa.RecordBatch.from_arrays(cols, names=out_names)

    def kernel(batches):
        pend = None  # (term:str, bucket:int, d, t, l, blob, row_len)
        for rb in batches:
            if rb.num_rows == 0:
                continue
            n_rows = rb.num_rows
            col = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}
            nd = col["n_docs"].to_numpy(zero_copy_only=False).astype(np.int64)
            g = flat_decode(col["doc_gaps"], n_rows).astype(np.int64)
            if len(g) == 0:
                continue
            d = segmented_cumsum(g, nd)
            t = flat_decode(col["tfs"], n_rows).astype(np.int64)
            l = flat_decode(col["dls"], n_rows).astype(np.int64)
            if store_positions:
                # per-posting byte lengths WITHOUT decoding: varbyte
                # marks each value's final byte with the high bit
                parr = col["pos_gaps"]
                voff = np.frombuffer(parr.buffers()[1], dtype=np.int32)[
                    parr.offset: parr.offset + n_rows + 1].astype(np.int64)
                pdata = np.frombuffer(parr.buffers()[2], dtype=np.uint8)
                blob = pdata[voff[0]: voff[-1]]
                if len(blob):
                    val_ends = np.flatnonzero(blob & 0x80) + 1
                    rbe = val_ends[np.cumsum(t) - 1]
                    row_len = np.diff(rbe, prepend=0)
                else:
                    row_len = np.zeros(len(t), dtype=np.int64)
            else:
                blob = empty8
                row_len = np.zeros(len(t), dtype=np.int64)

            if drop_ids is not None:
                keep = ~member(drop_ids, d)
                if not keep.all():
                    if len(blob):
                        blob = blob[np.repeat(keep, row_len)]
                    row_len = row_len[keep]
                    # per-fragment-row posting counts shrink to the kept
                    # postings (rows may drop to 0 — their group still
                    # segments correctly, it just contributes nothing)
                    row_of = np.repeat(np.arange(n_rows), nd)
                    nd = np.bincount(row_of[keep],
                                     minlength=n_rows).astype(np.int64)
                    d, t, l = d[keep], t[keep], l[keep]

            term_enc = pc.dictionary_encode(col["term"])
            t_codes = term_enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            t_uniq = np.asarray(term_enc.dictionary.to_pylist(), dtype=object)
            bucket = col["bucket"].to_numpy(zero_copy_only=False).astype(np.int64)

            change = np.ones(n_rows, dtype=bool)
            change[1:] = (t_codes[1:] != t_codes[:-1]) | (bucket[1:] != bucket[:-1])
            fs = np.flatnonzero(change)
            fe = np.append(fs[1:], n_rows)
            pb = np.zeros(n_rows + 1, dtype=np.int64)
            pb[1:] = np.cumsum(nd)

            terms = t_uniq[t_codes[fs]]
            buckets = bucket[fs]
            sizes = pb[fe] - pb[fs]
            if pend is not None:
                if pend[0] == terms[0] and pend[1] == buckets[0]:
                    # pending group continues here: prepend its postings
                    sizes = sizes.copy()
                    sizes[0] += len(pend[2])
                    d = np.concatenate([pend[2], d])
                    t = np.concatenate([pend[3], t])
                    l = np.concatenate([pend[4], l])
                    blob = np.concatenate([pend[5], blob])
                    row_len = np.concatenate([pend[6], row_len])
                else:
                    out = encode_groups(
                        np.array([pend[0]], dtype=object),
                        np.array([pend[1]], dtype=np.int64),
                        np.array([len(pend[2])], dtype=np.int64),
                        pend[2], pend[3], pend[4], pend[5], pend[6])
                    if out is not None:
                        yield out
                pend = None
            # hold back the last group — it may continue in the next batch
            cut = len(d) - sizes[-1]
            bcut = int(np.sum(row_len[:cut])) if len(blob) else 0
            pend = (terms[-1], int(buckets[-1]), d[cut:], t[cut:], l[cut:],
                    blob[bcut:], row_len[cut:])
            if len(sizes) > 1:
                out = encode_groups(terms[:-1], buckets[:-1], sizes[:-1],
                                    d[:cut], t[:cut], l[:cut],
                                    blob[:bcut], row_len[:cut])
                if out is not None:
                    yield out
        if pend is not None:
            out = encode_groups(
                np.array([pend[0]], dtype=object),
                np.array([pend[1]], dtype=np.int64),
                np.array([len(pend[2])], dtype=np.int64),
                pend[2], pend[3], pend[4], pend[5], pend[6])
            if out is not None:
                yield out

    return kernel


# bump when the on-disk table layout OR the tokenizer semantics change
# (consumers key cache dirs on it; r4 added the irregular-stem lexicon,
# which changes the indexed vocabulary)
INDEX_FORMAT_VERSION = 6


def _number_partitions(batches):
    """mapInArrow: pass all columns through + (pid, local_idx) — the
    partition-local row number used by the two-phase global-rank trick
    (docID assignment, dictionary term ordinals)."""
    import pyarrow as pa
    from pyspark import TaskContext
    pid = TaskContext.get().partitionId()
    local = 0
    for rb in batches:
        idx = pa.array(np.arange(local, local + rb.num_rows, dtype=np.int64))
        local += rb.num_rows
        cols = [rb.column(i) for i in range(rb.num_columns)]
        yield pa.RecordBatch.from_arrays(
            cols + [pa.array(np.full(rb.num_rows, pid, dtype=np.int32)), idx],
            names=rb.schema.names + ["pid", "local_idx"])


def _schema_plus(df, extra: str) -> str:
    base = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                     for f in df.schema.fields)
    return f"{base}, {extra}"


def pid_counts_from_footers(store: "TableStore", name: str) -> dict | None:
    """Per-pid row counts from parquet footer statistics (each written
    file holds exactly one pid, so min==max in every row group) — a
    metadata read instead of a full counting job. Returns None if the
    stats don't confirm one-pid-per-file (caller falls back to a job)."""
    import glob

    import pyarrow.parquet as pq

    counts: dict = {}
    files = glob.glob(os.path.join(store.path(name), "*.parquet"))
    if not files:
        return None
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        pid_idx = md.schema.to_arrow_schema().get_field_index("pid")
        file_pid = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(pid_idx).statistics
            if st is None or not st.has_min_max or st.min != st.max:
                return None
            if file_pid is None:
                file_pid = st.min
            elif file_pid != st.min:
                return None
        if file_pid is None:
            continue  # empty file
        counts[int(file_pid)] = counts.get(int(file_pid), 0) + md.num_rows
    return counts


def pid_offsets(counts: dict) -> Column:
    """Exclusive prefix sum of per-partition `counts` (pid -> rows) as a
    literal lookup on the `pid` column: an array literal indexed by pid,
    applied in the projection that uses it. No offsets table, no join,
    and the rows keep their file order."""
    offsets, acc = [0] * (max(counts, default=0) + 1), 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return F.array(*[F.lit(o).cast("long") for o in offsets])[F.col("pid")]


def with_global_ordinals(store: "TableStore", df: DataFrame, sort_cols: list,
                         ord_name: str, staging: str,
                         n_partitions: int) -> DataFrame:
    """Global rank of `sort_cols` WITHOUT a global sort: range-partition,
    sort within partitions, number rows per partition ONCE (materialized
    to `staging` — range boundaries are not stable across actions),
    exclusive-prefix-sum the partition counts from the staging footers
    and add the offset (pid_offsets) in a narrow projection, which
    keeps the range-sorted file order. Two jobs: the range sampler and
    the staged write. Caller writes the result and drops `staging`."""
    d = (df.repartitionByRange(n_partitions, *sort_cols)
         .sortWithinPartitions(*sort_cols))
    schema = _schema_plus(d, "pid int, local_idx long")
    store.write(d.mapInArrow(_number_partitions, schema=schema), staging)
    numbered = store.read(staging, schema=schema)
    counts = pid_counts_from_footers(store, staging) or {
        r["pid"]: r["cnt"] for r in
        numbered.groupBy("pid").agg(F.count("*").alias("cnt")).collect()}
    return numbered.select(
        *df.columns,
        (pid_offsets(counts) + F.col("local_idx")).alias(ord_name))


@dataclass
class IndexConfig:
    docs_per_block: int = 128
    # bucket spans docs_per_block * blocks_per_bucket docIDs (=65536 at the
    # defaults): small enough that a Zipf head term splits into many encode
    # groups (parallelism + bounded memory), large enough that block ids
    # stay dense. At 10^12 docIDs a head term spans ~1.5e7 buckets.
    blocks_per_bucket: int = 512
    k1: float = 1.2
    b: float = 0.75
    n_partitions: int | None = None        # defaults to spark.sql.shuffle.partitions
    store_positions: bool = True

    @property
    def docs_per_bucket(self) -> int:
        return self.docs_per_block * self.blocks_per_bucket


# --- the SPIMI stages shared by the batch build and the streaming append ---

def doc_meta(docs: DataFrame) -> DataFrame:
    """The (repo, path, commit, lang) doc_map columns of an input
    documents frame, cast to the declared string columns."""
    return docs.select(*[F.col(c).cast("string").alias(c)
                         for c in ("repo", "path", "commit", "lang")])


def write_partials(store: TableStore, name: str, docs: DataFrame,
                   docs_per_bucket: int) -> None:
    """(docID, content) rows -> ONE map-side SPIMI pass
    (_make_spimi_packed) -> FRAGMENTS_SCHEMA rows, written
    partitionBy(kind): the doc_len / doc_sha markers land in their own
    tiny kind=m / kind=s files, so their scans file-prune past every
    fragment payload byte (partitionBy only splits each task's output
    file — no shuffle)."""
    partials = docs.select("docID", "content").mapInArrow(
        _make_spimi_packed(docs_per_bucket), schema=FRAGMENTS_SCHEMA)
    store.write(partials, name, partition_by=["kind"])


def doc_len_rows(partials: DataFrame) -> DataFrame:
    """(docID, dl) decoded from the kind="m" markers: a shuffle-free,
    file-pruned scan. Rows exist only for docs with >=1 kept term; an
    ABSENT row means dl = 0."""
    return (partials.filter(F.col("kind") == "m")
            .select("n_docs", "doc_gaps", "dls")
            .mapInArrow(_decode_doclen_markers, "docID long, dl int"))


def doc_sha_rows(partials: DataFrame) -> DataFrame:
    """(docID, sha256) decoded from the kind="s" markers: shuffle-free
    and file-pruned. A NULL-content doc has no row."""
    return (partials.filter(F.col("kind") == "s")
            .select("n_docs", "doc_gaps", "pos_gaps")
            .mapInArrow(_decode_sha_markers, "docID long, sha256 string"))


def write_postings(store: TableStore, name: str, frags: DataFrame, n: int,
                   cfg: IndexConfig, avgdl: float, drop_ids=None) -> None:
    """The ONE postings encode shape (batch build, streaming append,
    minor and major compaction): shuffle fragment rows — FRAGMENTS_SCHEMA
    or POSTINGS_SCHEMA block rows — on (term, bucket) into `n`
    partitions, sort within partitions, merge + re-cut each group with
    the fused fragment encoder (`drop_ids`: see _make_fragment_encoder)
    and write. The output rides the sorted run: each parquet file is
    term-ordered, so query-time term filters prune on row-group min/max
    stats without a second (range) shuffle of the encoded blocks. Small
    row groups are what make that pruning real — at the parquet default
    (128 MB) a whole file is one row group and `term IN (...)` reads
    everything."""
    enc = (frags.select("term", "bucket", "n_docs", "doc_gaps", "tfs",
                        "dls", "pos_gaps")
           .repartition(n, "term", "bucket")
           .sortWithinPartitions("term", "bucket")
           .mapInArrow(_make_fragment_encoder(cfg, avgdl, drop_ids=drop_ids),
                       schema=POSTINGS_SCHEMA))
    store.write(enc, name, options={"parquet.block.size": str(8 << 20)})


# --- segmented-table folds (streaming LSM state) ---------------------------
# The IncrementalIndexer appends per-batch SEGMENT files into the
# metadata tables (O(delta) bytes per batch) instead of rewriting them;
# readers fold duplicate term rows. A batch index (or a compacted
# streaming index) has no segments and reads pass through untouched.

# every table whose live directory receives those segment files
SEGMENTED_TABLES = ("postings", "doc_map", "doc_len", "doc_sha",
                    "dictionary", "dictionary_r", "bucket_max", "tombstones")

def _fold_dictionary(df: DataFrame) -> DataFrame:
    # term_ord: only the compacted base carries it (segments hold null),
    # so max() yields the as-of-last-compaction ordinal, null for terms
    # added since — see QueryEngine.term_dict_pos for the exact overlay.
    return (df.groupBy("term").agg(
        F.max("rterm").alias("rterm"),
        F.sum("df").alias("df"), F.sum("cf").alias("cf"),
        F.sum("n_blocks").alias("n_blocks"),
        F.sum("n_buckets").alias("n_buckets"),   # upper bound, as before
        F.max("max_block_wand").alias("max_block_wand"),
        F.max("term_ord").alias("term_ord"))
        .select("term", "rterm", "df", "cf", "n_blocks", "n_buckets",
                "max_block_wand", "term_ord"))


def _fold_dictionary_r(df: DataFrame) -> DataFrame:
    return (df.groupBy("rterm", "term").agg(F.sum("df").alias("df"))
            .select("rterm", "term", "df"))


def _fold_bucket_max(df: DataFrame) -> DataFrame:
    return (df.groupBy("term", "bucket").agg(
        F.max("tmax").alias("tmax"), F.sum("n_blocks").alias("n_blocks"))
        .select("term", "bucket", "tmax", "n_blocks"))


_SEGMENT_FOLDS = {
    "dictionary": _fold_dictionary,
    "dictionary_r": _fold_dictionary_r,
    "bucket_max": _fold_bucket_max,
}


# term_bucket_rollup's output, as staged in `tmp_term_rollup`
TERM_ROLLUP_SCHEMA = ("term string, bucket long, tmax double, n_blocks long, "
                      "df long, cf long")


def term_bucket_rollup(postings: DataFrame) -> DataFrame:
    """The per-(term, docID-bucket) metadata rollup EVERY dictionary /
    bucket_max derivation goes through: WAND threshold max, block count,
    df/cf partial sums — one aggregate over the postings metadata
    columns only (no binary columns ride the shuffle). Shared by the
    batch build (stages 4.5 + 5, incl. the resume fallback) and the
    streaming major compaction so the term-stat semantics can never
    drift between a fresh build and a compacted index."""
    return (postings.select("term", "bucket", "block_max_wand",
                            "n_docs", "cf")
            .groupBy("term", "bucket")
            .agg(F.max("block_max_wand").alias("tmax"),
                 F.count("*").alias("n_blocks"),
                 F.sum("n_docs").cast("long").alias("df"),
                 F.sum("cf").cast("long").alias("cf")))


def fold_term_rollup(rolled: DataFrame) -> DataFrame:
    """term_bucket_rollup -> dictionary rows (term stats + rterm twin
    column; term_ord is assigned by the caller's ordinal pass)."""
    return (rolled.groupBy("term")
            .agg(F.sum("df").alias("df"),
                 F.sum("cf").alias("cf"),
                 F.sum("n_blocks").alias("n_blocks"),
                 F.count("*").alias("n_buckets"),
                 F.max("tmax").alias("max_block_wand"))
            .withColumn("rterm", F.reverse(F.col("term")))
            .select("term", "rterm", "df", "cf", "n_blocks", "n_buckets",
                    "max_block_wand"))


@dataclass
class Index:
    store: TableStore
    config: IndexConfig
    stats: dict = field(default_factory=dict)

    @property
    def spark(self) -> SparkSession:
        return self.store.spark

    def table(self, name: str) -> DataFrame:
        df = self.store.read(name)
        if name in _SEGMENT_FOLDS and self.store.has_segments(name):
            return _SEGMENT_FOLDS[name](df)
        return df

    def is_segmented(self) -> bool:
        """True while streaming segments are pending compaction (term_ord
        is then only valid as of the last compaction)."""
        return self.store.has_segments("dictionary")

    def load_stats(self) -> dict:
        if not self.stats:
            row = self.store.read("stats").collect()[0]
            self.stats = row.asDict()
        return self.stats


class IndexBuilder:
    def __init__(self, spark: SparkSession, index_dir: str,
                 config: IndexConfig | None = None, use_iceberg: bool = False):
        self.spark = spark
        self.config = config or IndexConfig()
        self.store = TableStore(spark, index_dir, use_iceberg=use_iceberg)
        self._lineage_rows: list = []
        self._stats: dict | None = None  # set when a build writes stats

    # ------------------------------------------------------------------
    def build(self, docs: DataFrame, resume: bool = True) -> Index:
        """Build (or resume building) the index over a documents DataFrame
        with columns (repo, path, commit, lang, content)."""
        if not resume:
            self.store.drop_all()
        self._lineage_rows = []
        self._stats = None
        self.stage_times: dict = {}

        def run(name, done, fn, *args):
            if done:
                return
            import time
            t0 = time.time()
            fn(*args)
            self.stage_times[name] = round(time.time() - t0, 3)
            self._lineage_rows.append(
                (name, -1, 0, f"wall_sec={self.stage_times[name]}"))

        run("doc_map", self.store.exists("doc_map"), self._build_doc_map, docs)
        run("partials", self.store.exists("partials"), self._build_partials, docs)
        run("doc_len", self.store.exists("doc_len") and self.store.exists("stats"),
            self._build_doc_len_stats)
        run("doc_sha", self.store.exists("doc_sha"), self._build_doc_sha)
        run("postings", self.store.exists("postings"), self._build_postings)
        run("bucket_max", self.store.exists("bucket_max"), self._build_bucket_max)
        run("dictionary", self.store.exists("dictionary"), self._build_dictionary)
        run("dictionary_r", self.store.exists("dictionary_r"),
            self._build_dictionary_r)
        self._write_lineage()

        idx = Index(store=self.store, config=self.config,
                    stats=dict(self._stats or {}))
        idx.load_stats()
        return idx

    # ------------------------------------------------------------------
    def _n_partitions(self) -> int:
        return self.config.n_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions"))

    # zstd kind=f fragment bytes per postings-encode task
    POSTINGS_TASK_BYTES = 3 << 19

    def _postings_partitions(self) -> int:
        """Partition count for the postings encode shuffle: WAVE-BALANCED,
        not core-count-sized. The encode kernel's per-(term,bucket) work
        is high-variance (Zipf head terms carry dense blocks), so at
        n_partitions == 2*cores the stage runs in 2 task waves and one
        heavy partition stalls half the machine for the whole last wave
        — measured 35.5s -> 28.7s (medians of >=4 pinned 8-core runs at
        1M docs) by cutting finer. Target >=8 tasks/core, capped by the
        kind=f fragment byte size (POSTINGS_TASK_BYTES per task) so small
        corpora don't fragment into empty files."""
        import glob
        n = self._n_partitions()
        par = self.spark.sparkContext.defaultParallelism
        pat = os.path.join(self.store.path("partials"), "kind=f", "*.parquet")
        part_bytes = sum(os.path.getsize(fp) for fp in glob.glob(pat))
        return max(n, min(8 * par, part_bytes // self.POSTINGS_TASK_BYTES + 1))

    def _record_lineage(self, stage: str, df_name: str, detail: str = "") -> None:
        """Per-partition row counts of a committed stage output, read from
        the parquet file footers — metadata only, no Spark job, no data
        scan (matters at 10^12 rows: lineage bookkeeping must not re-read
        the tables it describes)."""
        import glob

        import pyarrow.parquet as pq

        files = sorted(glob.glob(os.path.join(self.store.path(df_name),
                                              "**", "*.parquet"),
                                 recursive=True))
        for i, fp in enumerate(files):
            n = pq.ParquetFile(fp).metadata.num_rows
            self._lineage_rows.append((stage, i, int(n), detail))

    # -- stage 1: docID assignment -------------------------------------
    def _build_doc_map(self, docs: DataFrame) -> None:
        """Dense docID = global rank of (repo, path), without a global sort.

        Range-partition the corpus on the keys, count per partition,
        exclusive-prefix-sum the counts, then docID = offset +
        partition-local row_number. The result is invariant to where the
        range boundaries fall (rank within a range partition + offset of
        everything before it IS the global rank).

        ONE wide exchange for the whole stage, and NO content bytes: the
        narrow meta columns (commit, lang — ~100 bytes/row) RIDE the
        range shuffle with the keys, so the round-3 shape's second
        corpus-sized exchange + shuffle-hash join no longer exists — and
        since round 5 the sha256 fingerprint is computed inside the SPIMI
        kernel (stage 2 already holds the content) and stored in the
        separate doc_sha table, so THIS stage's scan is column-pruned to
        the four metadata strings and never reads content at all. The
        whole build reads the corpus exactly once (at 100 TB the old
        shape's second content scan was 100 TB of avoidable reads).

        THREE jobs total via with_global_ordinals (the same footer-count
        two-phase rank the dictionary's term_ord uses): the range sampler
        pass, the staged numbered write, and the final write. Partition
        counts come from the staging table's parquet FOOTERS — metadata
        only, no counting job — the staging table is read back with the
        schema its writer declared (no inference job), and the offsets
        are a literal pid lookup in the final projection (no offsets
        table, no broadcast job). The staged parquet pins the numbered
        rows, so the offsets can never be applied to rows from a
        different range-boundary draw (the round-4 shape pinned with two
        eager localCheckpoints + a collect: two extra corpus-meta
        materializations and two extra driver jobs, which at 8 saturated
        cores was pure serial time — measured stage efficiency 0.52).
        """
        n = self._n_partitions()
        meta = doc_meta(docs)
        final = with_global_ordinals(self.store, meta, ["repo", "path"],
                                     "docID", "tmp_doc_order", n)
        acc = sum((pid_counts_from_footers(self.store, "tmp_doc_order")
                   or {}).values())
        doc_map = final.select("docID", "repo", "path", "commit", "lang")
        # permutation invariant rides the write as an Observation — no
        # separate validation job (round 1 ran a second doc_map scan)
        from pyspark.sql import Observation
        obs = Observation("doc_map_invariant")
        doc_map = doc_map.observe(
            obs, F.count(F.lit(1)).alias("c"), F.max("docID").alias("m"),
            F.sum(F.col("docID").cast("decimal(38,0)")).alias("s"))
        self.store.write(doc_map, "doc_map")
        agg = obs.get
        self.store.drop("tmp_doc_order")
        if not acc:  # footer stats unavailable: trust the observed count
            acc = int(agg["c"])
        self._validate_doc_ids(acc, agg)
        self._record_lineage("doc_map", "doc_map")
        self._n_docs = acc

    def _table_rows_from_footers(self, name: str) -> int:
        """Total row count of a written table from parquet footers —
        metadata only, no Spark job."""
        import glob

        import pyarrow.parquet as pq
        return sum(pq.ParquetFile(fp).metadata.num_rows for fp in
                   glob.glob(os.path.join(self.store.path(name), "*.parquet")))

    def _validate_doc_ids(self, n: int, agg) -> None:
        """Permutation invariant over the written doc_map: docIDs must be
        exactly {0..n-1}. count + max + sum together reject any
        collision/gap from a mis-applied offset (guards the
        range-boundary-reseed bug class — see _build_doc_map)."""
        ok = (int(agg["c"]) == n
              and (n == 0 or int(agg["m"]) == n - 1)
              and int(agg["s"] or 0) == n * (n - 1) // 2)
        if not ok:
            raise RuntimeError(
                f"docID assignment invariant violated: n={n}, count={agg['c']}, "
                f"max={agg['m']}, sum={agg['s']} — corrupt doc_map")

    # -- stage 2: SPIMI partials ---------------------------------------
    def _build_partials(self, docs: DataFrame) -> None:
        """Map-side SPIMI: tokenize + per-doc inversion + fragment
        packing fused into ONE Arrow kernel with NO shuffle
        (write_partials).

        A document lives entirely inside one partition, so the
        (term, docID) aggregation the reference does under a lock
        (IndexService.java:215-233) is partition-local here — the only
        wide exchange in the whole build is the later (term, bucket)
        fragment shuffle before block encoding, and the pack is what
        keeps that exchange byte-light (see _make_spimi_packed). The
        kernel is batch-vectorized numpy: regex normalization runs once
        per DISTINCT raw token per batch, and the (doc, term) grouping
        is one stable lexsort.
        """
        doc_ids = self.store.read("doc_map").select("docID", "repo", "path")
        base = docs.select("repo", "path", "content").join(doc_ids, ["repo", "path"])
        write_partials(self.store, "partials", base, self.config.docs_per_bucket)
        self._record_lineage("partials", "partials", detail="postings_emitted")

    # -- stage 3: doc_len + stats --------------------------------------
    def _build_doc_len_stats(self) -> None:
        """ONE job: doc_len write with an attached Observation that yields
        total_len as a side effect of the same pass. Each map partition
        of stage 2 wrote ONE doc_len marker row (kind == "m") carrying its
        docs' (docID, dl) varbyte-packed, so this is a shuffle-free scan
        that FILE-prunes to the tiny kind=m partition and never touches
        fragment payloads (doc_len_rows).

        doc_len holds only docs with >=1 kept term; a doc absent from the
        table has dl = 0 (consumers left-join doc_map + coalesce). BM25's
        N still counts ALL docs (reference: N = docId.size(),
        IndexService.java:176) — it comes from doc_map, not from here."""
        from pyspark.sql import Observation

        obs = Observation("doc_len_stats")
        doc_len = doc_len_rows(self.store.read("partials")).observe(
            obs, F.sum("dl").alias("total_len"))
        self.store.write(doc_len, "doc_len")
        total_len = int(obs.get["total_len"] or 0)
        n_docs = getattr(self, "_n_docs", None)
        if n_docs is None:  # resume path: doc_map exists, stats lost
            n_docs = self._table_rows_from_footers("doc_map")
        avgdl = (total_len / n_docs) if n_docs else 0.0
        # every block is encoded under this avgdl: avgdl_enc_min = avgdl
        row = (n_docs, total_len, float(avgdl), float(self.config.k1),
               float(self.config.b), self.config.docs_per_block,
               self.config.docs_per_bucket, float(avgdl))
        self.store.write(arrow_rows(self.spark, [row], TABLE_SCHEMAS["stats"]),
                         "stats")
        # later stages and the returned Index use the row written here
        # instead of a collect job on the stats table
        self._stats = dict(zip(StructType.fromDDL(TABLE_SCHEMAS["stats"]).names,
                               row))
        self._record_lineage("doc_len", "doc_len")

    # -- stage 3b: per-doc content fingerprints --------------------------
    def _build_doc_sha(self) -> None:
        """doc_sha(docID, sha256): the input_hint per-row invariant
        fingerprint — a SHUFFLE-FREE, file-pruned scan of the kind="s"
        marker rows the SPIMI kernel emitted during the single corpus
        pass (doc_sha_rows), so no second content read."""
        self.store.write(doc_sha_rows(self.store.read("partials")), "doc_sha")
        self._record_lineage("doc_sha", "doc_sha")

    # -- stage 4: block encode -----------------------------------------
    def _build_postings(self) -> None:
        """Shuffle the packed fragments once by (term,
        bucket-of-docID-range), sort within partitions, and stream the
        sorted run through the fused fragment merge-encoder
        (write_postings): the exchange and the partition sort move one
        row per (term, bucket) per map partition — ~10-30x fewer rows
        than per-posting, ~3-5 bytes/posting on the wire instead of ~50 —
        and the kernel decodes, docID-merges and re-cuts each group in
        numpy.

        This is the k-way merge of the reference (IndexService.java:
        290-419) re-expressed as Spark's sort-merge shuffle; the bucket
        key bounds any single group so Zipf head terms spread across
        tasks (skew-proof). The kernel is stateful across record batches
        (a group may span batches) but never across partitions (hash
        partitioning on the group key guarantees that).
        """
        stats = self._stats or self.store.read("stats").collect()[0].asDict()
        partials = self.store.read("partials")
        write_postings(self.store, "postings",
                       partials.filter(F.col("kind") == "f"),
                       self._postings_partitions(), self.config,
                       float(stats["avgdl"]) or 1.0)
        self._record_lineage("postings", "postings",
                             detail=f"merge_fan_in={partials.rdd.getNumPartitions()}")

    # -- stage 4.5: per-(term, bucket) WAND skip metadata ----------------
    def _build_bucket_max(self) -> None:
        """bucket_max(term, bucket, tmax, n_blocks): the block-max WAND
        threshold structure rolled up one level, materialized at BUILD
        time so a query never re-aggregates posting-block metadata (the
        round-1 engine ran that agg per query — VERDICT.md #2). Metadata
        only: input is postings MINUS all binary columns, output is one
        row per (term, docID-bucket). Sorted by term so a query-term
        filter prunes parquet row groups.

        ONE postings scan feeds ALL term metadata: the per-(term, bucket)
        rollup also carries df/cf partial sums into the term-sorted
        `tmp_term_rollup` staging table, which the dictionary stage folds
        by term (and then drops) — the old shape scanned + aggregated the
        postings metadata a second time for df/cf and joined it back,
        two avoidable jobs of pure serial overhead on a saturated host."""
        rolled = term_bucket_rollup(self.store.read("postings"))
        n = self._n_partitions()
        rolled = (rolled.repartitionByRange(n, "term")
                  .sortWithinPartitions("term", "bucket"))
        self.store.write(rolled, "tmp_term_rollup")
        # public projection: a shuffle-free narrow rewrite of the staged
        # rollup (file order — term-sorted — is preserved)
        bm = (self.store.read("tmp_term_rollup", schema=TERM_ROLLUP_SCHEMA)
              .select("term", "bucket", "tmax", "n_blocks"))
        self.store.write(bm, "bucket_max")
        self._record_lineage("bucket_max", "bucket_max")

    # -- stage 5: dictionary -------------------------------------------
    def _build_dictionary(self) -> None:
        """Term stats fold over the bucket_max stage's term rollup — no
        second postings scan, no join (df/cf partial sums rode the same
        aggregate that produced the WAND maxima). The postings fallback
        covers resume from an index whose rollup staging was already
        dropped (older layout or a crash between the two stages)."""
        if self.store.exists("tmp_term_rollup"):
            src = self.store.read("tmp_term_rollup", schema=TERM_ROLLUP_SCHEMA)
        else:  # resume fallback: re-derive the rollup from postings
            src = term_bucket_rollup(self.store.read("postings"))
        dictionary = fold_term_rollup(src)
        # term_ord: the term's ordinal in the sorted dictionary — the
        # reference's getTermDictPos surface (IndexBody.java:86-88);
        # assigned with the same no-global-sort two-phase rank trick as
        # docIDs, and the final files stay term-sorted for pushdown.
        final = with_global_ordinals(self.store, dictionary, ["term"],
                                     "term_ord", "tmp_dict_order",
                                     self._n_partitions())
        self.store.write(final, "dictionary")
        self.store.drop("tmp_dict_order")
        self.store.drop("tmp_term_rollup")
        self._record_lineage("dictionary", "dictionary")

    # -- stage 5b: reversed dictionary ------------------------------------
    def _build_dictionary_r(self) -> None:
        """dictionary_r(rterm, term, df): the dictionary re-sorted by the
        REVERSED term — the Spark shape of the reference's second reversed
        vocabulary (IndexBody.java:142-162). A suffix/joker lookup
        `rterm startswith reverse(suffix)` prunes parquet row groups here;
        on the term-sorted dictionary the same filter scans everything."""
        d = self.store.read("dictionary").select("rterm", "term", "df")
        n = self._n_partitions()
        d = d.repartitionByRange(n, "rterm").sortWithinPartitions("rterm")
        self.store.write(d, "dictionary_r")
        self._record_lineage("dictionary_r", "dictionary_r")

    # -- stage 6: lineage ----------------------------------------------
    def _write_lineage(self) -> None:
        if not self._lineage_rows:
            return
        df = arrow_rows(self.spark, self._lineage_rows, TABLE_SCHEMAS["lineage"])
        mode = "append" if self.store.exists("lineage") else "overwrite"
        self.store.write(df, "lineage", mode=mode)
