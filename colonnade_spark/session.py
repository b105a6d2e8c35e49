"""SparkSession factory with the configs this engine assumes."""

from __future__ import annotations

import os

# glibc malloc tuning: without this, every >128 KB numpy temporary is an
# mmap/munmap pair → page-fault storm (93% sys time observed) and the mm lock
# serializes all executor python workers. Must be set before the JVM starts
# so python workers inherit it. On a real cluster: spark.executorEnv.* .
_MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(1 << 30),
    "MALLOC_TRIM_THRESHOLD_": str(1 << 30),
    "MALLOC_MMAP_MAX_": "0",
}


def _apply_malloc_env() -> None:
    for k, v in _MALLOC_ENV.items():
        os.environ.setdefault(k, v)


def get_spark(app: str = "colonnade_spark", cores: int | None = None,
              shuffle_partitions: int | None = None, driver_mem: str = "48g",
              ui: bool = False, io_codec: str = "lz4"):
    _apply_malloc_env()
    from pyspark.sql import SparkSession

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = SparkSession.builder
    for k, v in _MALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    return (
        builder
        .master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # shuffle/broadcast block codec.  lz4 default: the round-4 zstd
        # switch cost ~1.5 s per latency-bound query (zstd context setup on
        # every tiny shuffle/broadcast stream — measured on
        # embedding_neardup_lsh, 2.3 s lz4 vs 4.0 s zstd interleaved), and
        # after the staged-v2 layout + probe gating the encode staging win
        # inverted too (local[8] best wall 9.9 s lz4 vs 11.4 s zstd).  On a
        # REAL cluster with network-bound shuffle, pass io_codec="zstd":
        # ~45% smaller shuffle blocks cut fetch bytes where that matters.
        # JVM-fixed: set at session creation, not mutable per job.
        .config("spark.io.compression.codec", io_codec)
        # input split size: Spark's own bytesPerCore rule only kicks in
        # when a single scan is bigger than cores x 128 MB, so a ~500 MB
        # input at local[4] otherwise splits into six file-sized tasks —
        # 1.5 waves, a quarter of the cores idle in the tail (measured on
        # the encode ladder's corpus scan).  32 MB splits pack low-core
        # sessions evenly at negligible overhead for high-core ones; on a
        # real cluster with fast sequential storage RAISE this (512 MB-1 GB,
        # guide §6) via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "32m"))
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # cap arrow transfer batches by BYTES too: a batch of giant binary
        # cells/fragments can overflow 32-bit binary offsets long before
        # 8192 rows (the JVM default is effectively unlimited)
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(256 << 20))
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.log.level", "WARN")
        .getOrCreate()
    )


def partition_for_python(df, *keys):
    """Give a Python stage (pandas/Arrow UDF, ``mapInArrow`` kernel) one
    task per core: the engine's single partitioning policy for every
    frame that feeds Python.

    With ``keys``: ``df.repartition(n, *keys)`` with
    ``n = defaultParallelism``, for the keyed pair/block kernels.  The
    count must be explicit: a count-free ``repartition(*keys)`` lets AQE
    coalesce the exchange by shuffle BYTES, and AQE cannot see Python
    CPU, so a ~25 MB text exchange collapses to 1-2 tasks and serializes
    the kernel (10.4 s vs 1.4 s on the ngram kernel at sf1.0).
    Interleaved A/B at sf0.1 and on a 10x corpus: 1x defaultParallelism
    beat 2x on every kernel query (each extra task wave costs ~5-15 ms of
    Arrow/task overhead once the hash partitioning already balances the
    buckets; embedding pairs 1.26 -> 1.01 s), and 1/2x was slower again
    (kernel CPU under-parallelized).  Buckets skewed enough to leave
    straggler tasks of seconds would favour 2-4x; this is the one place
    to change.

    Without keys: ``df.repartition(n)`` only when ``df`` has fewer than
    ``n`` partitions, else ``df`` unchanged.  A small parquet file is one
    split, which would run the whole stage on one task; at scale the scan
    supplies the splits and no shuffle is added.  Call it on an
    exchange-free frame (a scan plus narrow operators): the partition-count
    probe then starts no Spark job.

    Whether to call this at all stays the caller's decision: it pays only
    where Python or heavy per-row JVM work (regex, JSON parsing) follows.
    In front of a large-vocabulary aggregation it hurts: splitting
    ``top_terms``'s one scan split 32 ways stops map-side combining and
    took it 0.7 -> 7.7 s, so that query does not use it."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if keys:
        return df.repartition(n, *keys)
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
