"""SparkSession factory tuned for the index-build workload.

Local-mode settings stand in for cluster settings: ``local[N]`` threads
model N executor cores (the sandbox's two-parallelism scaling rule),
``spark.sql.shuffle.partitions`` is sized to the corpus, and AQE is on
so skewed term partitions get split at runtime on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "information-retrieval-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "IRS_SHUFFLE_PARTITIONS", str(max(8, 2 * _parallelism_of(master)))))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # zstd over snappy: this host (like most dense nodes) is memory-
        # bandwidth-bound before it is CPU-bound, so trading compression
        # CPU (scales with cores) for bytes moved (does not) improves both
        # wall time and the N->4N scaling efficiency
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.io.compression.codec", "zstd")
        # smaller input splits: at the default 128 MB a ~1 GB corpus packs
        # into ~9 fat scan tasks — 9 tasks over 8 cores is a 2-wave
        # straggler pattern that showed up as SUPERLINEAR stage growth
        # with corpus size. 32 MB keeps scan stages wave-balanced at every
        # parallelism level (a real cluster tunes this per executor count).
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # local[N] packs N task threads into ONE JVM: size the heap for all
        # of them (a real cluster sizes per-executor memory instead)
        .config("spark.driver.memory", os.environ.get("IRS_DRIVER_MEM", "48g"))
        # doc_map-sized dimension joins should broadcast in local mode (one
        # copy per JVM); a multi-executor deployment would tune this down
        .config("spark.sql.autoBroadcastJoinThreshold", str(256 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession, parallelism: int | None = None) -> None:
    """Spawn + warm the session's Python UDF workers (imports of
    numpy/pandas and of this package happen once per worker). A
    one-time session cost on any cluster — benchmarks call this so build
    timings measure the build, not interpreter start-up."""
    from pyspark.sql import functions as F

    n = parallelism or spark.sparkContext.defaultParallelism
    noop = F.pandas_udf(_warm_noop, "long")
    spark.range(4 * n, numPartitions=4 * n).select(F.sum(noop(F.col("id")))).collect()


def _warm_noop(x):
    """The warm-up UDF. Module level, so it is pickled by reference:
    each worker imports the package to run it, which installs
    `zipcache` there before the first timed kernel."""
    return x


def _parallelism_of(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local["):-1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 8
