"""Table storage layer.

The engine's persistent state is a set of relational tables (SURVEY.md
§1.1: the index IS the persisted tables — no separate cache layer like
the reference's Java-serialized index.bin, CacheManager.java:33-47),
each with the schema declared once in TABLE_SCHEMAS below. Readers
use the declared schema — or, for a table whose column types follow
its caller (the dedup store's `id`), the Spark schema recorded in a
parquet footer — so opening a table never runs a parquet
schema-inference job (one 1-task Spark job per read otherwise).

On a cluster these are Iceberg tables (`spark.read.format("iceberg")`);
the sandbox has no Iceberg runtime jar, so TableStore writes plain
parquet directories with a `_SUCCESS` marker — the layout and the
engine code above this layer are identical either way. Completed-stage
detection via `_SUCCESS` is what makes the build resumable: a re-run
skips every stage whose output committed (north_rule resumability).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Packed map-side fragments: one row per (term, docID-bucket) per input
# partition instead of one row per posting. Column names and payload
# layout deliberately match POSTINGS_SCHEMA's data columns, so the same
# buffer-level decode serves both (fragments ARE un-blocked postings).
# Rows with kind == "m" (and bucket == -1) are per-partition doc_len
# markers: doc_gaps carries the partition's sorted docIDs (gap-coded),
# dls their kept-term counts. Rows with kind == "s" are the matching
# sha256 markers (pos_gaps = fixed-width 64-char hex digests in docID
# order — see build._sha_marker_batch). The table is written
# partitionBy(kind), so the marker scans file-prune to the tiny kind=m /
# kind=s files and never touch fragment payload bytes (at 10^12 docs
# the fragment table is TB-scale, the markers GB-scale).
FRAGMENTS_SCHEMA = ("term string, bucket long, n_docs int, "
                    "doc_gaps binary, tfs binary, dls binary, "
                    "pos_gaps binary, kind string")

POSTINGS_SCHEMA = (
    "term string, bucket long, block_id long, n_docs int, "
    "doc_gaps binary, tfs binary, dls binary, pos_gaps binary, "
    "block_max_tf int, block_max_wand double, "
    "block_first_doc long, block_last_doc long, cf long"
)

# The one declaration of every index table's columns, in file order.
# Writers produce exactly these (tests/test_streaming.py compares them
# with the parquet footers after a build, an append, a delete and both
# compactions); TableStore.read uses them instead of inferring a schema.
TABLE_SCHEMAS = {
    "doc_map": "docID long, repo string, path string, commit string, "
               "lang string",
    "doc_len": "docID long, dl int",
    "doc_sha": "docID long, sha256 string",
    # avgdl_enc_min: smallest avgdl any live posting block was encoded
    # under (streaming/incremental.py); a fresh build writes avgdl
    "stats": "n_docs long, total_len long, avgdl double, k1 double, "
             "b double, docs_per_block int, docs_per_bucket long, "
             "avgdl_enc_min double",
    "partials": FRAGMENTS_SCHEMA,  # kind is the partition column
    "postings": POSTINGS_SCHEMA,
    "bucket_max": "term string, bucket long, tmax double, n_blocks long",
    "dictionary": "term string, rterm string, df long, cf long, "
                  "n_blocks long, n_buckets long, max_block_wand double, "
                  "term_ord long",
    "dictionary_r": "rterm string, term string, df long",
    "tombstones": "docID long",
    "lineage": "stage string, partition_id int, rows_out long, "
               "detail string",
    # doc-major forward index (QueryEngine.build_forward_index)
    "doc_vec": "docID long, term string, tf int",
}


def arrow_rows(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A few driver-side rows as a DataFrame through Arrow: the JVM reads
    the batch directly, where `createDataFrame(<list>)` parallelizes a
    Python RDD and starts Python workers to decode it (~0.5 s even for
    one row)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    st = StructType.fromDDL(schema)
    table = pa.Table.from_pylist([dict(zip(st.names, r)) for r in rows],
                                 schema=to_arrow_schema(st))
    return spark.createDataFrame(table, st)


def committed(path: str) -> bool:
    """True once a Spark write at `path` has finished (`_SUCCESS`)."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def footer_schema(path: str) -> StructType | None:
    """The schema Spark wrote into the footer of parquet file `path`, or
    of the first one in directory `path`: what a schema-inference job
    would find, read without a job. None if there is no such file."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = glob.glob(os.path.join(path, "*.parquet"))
        if not files:
            return None
        path = min(files)
    raw = (pq.read_schema(path).metadata or {}).get(
        b"org.apache.spark.sql.parquet.row.metadata")
    return StructType.fromJson(json.loads(raw)) if raw else None


def materialize_once(rel: DataFrame, path: str) -> DataFrame:
    """Write `rel` as parquet at `path` unless a finished write is there,
    and return a scan of it read with `rel.schema`. The write goes to a
    session-unique sibling dir and is published by an atomic rename, so
    sessions racing on one POSIX/NFS path never interleave (the loser
    reads the winner's copy); a crashed writer's partial dir is cleared
    first. An object store should publish through its catalog instead."""
    if not committed(path):
        tmp = f"{path}.tmp.{uuid.uuid4().hex[:12]}"
        rel.write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)  # a crashed writer's output
        try:
            os.rename(tmp, path)
        except OSError:  # lost the publish race: another session won
            shutil.rmtree(tmp, ignore_errors=True)
    return rel.sparkSession.read.schema(rel.schema).parquet(path)


class TableStore:
    """Relational-table persistence with two backends:

    - parquet directories (sandbox default): `_SUCCESS` markers gate
      stage completion for resumability.
    - Iceberg (``use_iceberg=True``): tables live under
      ``<catalog>.<namespace>.<name>``; commits are transactional, so
      `_SUCCESS`-style markers are replaced by catalog existence. Needs
      iceberg-spark-runtime on the classpath plus a catalog config, e.g.

          spark.sql.catalog.local = org.apache.iceberg.spark.SparkCatalog
          spark.sql.catalog.local.type = hadoop
          spark.sql.catalog.local.warehouse = /path/to/warehouse

      The sandbox ships no Iceberg jar; the writer/reader call contract
      is pinned by tests/test_io_iceberg.py against mocks so the branch
      cannot rot silently.
    """

    def __init__(self, spark: SparkSession, root: str, use_iceberg: bool = False,
                 catalog: str = "local", namespace: str = "irs"):
        self.spark = spark
        self.root = root
        self.use_iceberg = use_iceberg  # flip when iceberg-spark-runtime is on the classpath
        self.catalog = catalog
        self.namespace = namespace
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        """Resolved directory of a table. Tables that have been through
        `publish()` resolve via their manifest pointer to the current
        `<name>@v<N>` version directory; everything else is the plain
        `<root>/<name>` directory."""
        m = self._manifest_file(name)
        if os.path.exists(m):
            with open(m) as f:
                return os.path.join(self.root, json.load(f)["current"])
        return os.path.join(self.root, name)

    def _manifest_file(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.manifest.json")

    def publish(self, name: str, staged: str) -> None:
        """Atomically swap table `name` to the contents of staged table
        `staged` — the crash-safe, concurrent-reader-safe replacement
        for drop+rename (which loses the table if the process dies
        between the two calls, and yanks files out from under a reader
        mid-scan):

        1. the staged dir is renamed to `<name>@v<N+1>` (a leftover
           orphan at that path from a previously crashed publish is
           removed first),
        2. the manifest pointer is written via tmp + os.replace — the
           ONE atomic commit point; a crash before it leaves the old
           version live, after it the new one,
        3. the previous-previous version is deleted. The immediately
           previous version is RETAINED until the next publish, so a
           reader that resolved its file list just before the swap
           keeps a readable table (bounded-grace concurrency, the
           plain-parquet stand-in for an Iceberg snapshot commit).
        """
        if self.use_iceberg:
            # ONE transactional commit (Iceberg CREATE OR REPLACE swaps
            # the table pointer atomically; readers on the old snapshot
            # keep reading it) — never DROP-then-RENAME, which loses the
            # table if the process dies between the two statements
            self.spark.sql(
                f"CREATE OR REPLACE TABLE {self.ident(name)} "
                f"AS SELECT * FROM {self.ident(staged)}")
            self.spark.sql(f"DROP TABLE IF EXISTS {self.ident(staged)}")
            return
        m = self._manifest_file(name)
        version, prev = 0, None
        if os.path.exists(m):
            with open(m) as f:
                info = json.load(f)
            version, prev = info["version"], info["current"]
        elif os.path.exists(os.path.join(self.root, name)):
            prev = name  # pre-versioning plain dir becomes the grace copy
        new_dir = f"{name}@v{version + 1}"
        tgt = os.path.join(self.root, new_dir)
        if os.path.exists(tgt):  # orphan of a publish that crashed pre-commit
            shutil.rmtree(tgt)
        os.rename(os.path.join(self.root, staged), tgt)
        tmp = m + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version + 1, "current": new_dir,
                       "previous": prev}, f)
        os.replace(tmp, m)  # atomic commit point
        # sweep EVERY version except current + immediately-previous (not
        # just the old manifest's 'previous': a crash between a past
        # commit and its sweep would otherwise leak that version forever)
        keep = {new_dir, prev}
        for p in glob.glob(os.path.join(self.root, f"{name}@v*")):
            if os.path.basename(p) not in keep:
                shutil.rmtree(p, ignore_errors=True)
        if version >= 1:
            # the pre-versioning plain dir was the grace copy for v1's
            # readers only; from v2 on it is two generations stale
            shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)

    def ident(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def exists(self, name: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self.ident(name))
        return committed(self.path(name))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: list | None = None, sort_by: list | None = None,
              options: dict | None = None) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        for key, val in (options or {}).items():
            w = w.option(key, val)
        if self.use_iceberg:
            w.format("iceberg").saveAsTable(self.ident(name))
        else:
            w.parquet(self.path(name))

    def read(self, name: str, schema: str | StructType | None = None,
             files: list | None = None) -> DataFrame:
        """Table `name` (or only its parquet `files`), read with `schema`,
        else the declared TABLE_SCHEMAS entry, else the schema in a
        parquet footer; only a table with none of these (no file Spark
        wrote) is left to schema inference."""
        if self.use_iceberg:
            return self.spark.read.format("iceberg").table(self.ident(name))
        paths = files or [self.path(name)]
        schema = schema or TABLE_SCHEMAS.get(name) or footer_schema(paths[0])
        reader = self.spark.read if schema is None \
            else self.spark.read.schema(schema)
        return reader.parquet(*paths)

    def refresh(self, name: str) -> None:
        """Invalidate Spark's cached data and file listing for a table.
        The cache manager matches cached relations by plan, i.e. by
        path (or table name), so without this a relation cached before
        segment files were appended to the same directory keeps serving
        the pre-append rows to every later reader in the session."""
        if self.use_iceberg:
            self.spark.catalog.refreshTable(self.ident(name))
        else:
            self.spark.catalog.refreshByPath(self.path(name))

    def has_segments(self, name: str) -> bool:
        """True if the table dir holds streaming LSM segment files
        (`batch<N>_*.parquet`, appended by IncrementalIndexer) pending
        compaction. An Iceberg deployment has no segment state: merges
        are transactional MERGE INTO commits."""
        if self.use_iceberg:
            return False
        return bool(glob.glob(os.path.join(self.path(name), "batch*_*.parquet")))

    def drop(self, name: str) -> None:
        if self.use_iceberg:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.ident(name)}")
            return
        for p in ([self.path(name), os.path.join(self.root, name)]
                  + glob.glob(os.path.join(self.root, f"{name}@v*"))):
            if os.path.exists(p):
                shutil.rmtree(p)
        m = self._manifest_file(name)
        if os.path.exists(m):
            os.remove(m)

    def drop_all(self) -> None:
        if self.use_iceberg:
            for name in TABLE_SCHEMAS:
                self.drop(name)
            return
        if os.path.exists(self.root):
            shutil.rmtree(self.root)
        os.makedirs(self.root, exist_ok=True)
