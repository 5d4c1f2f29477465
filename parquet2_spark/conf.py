"""Recommended Spark configuration for running the engine at scale.

The engine itself needs nothing exotic — these are the settings a
1000-executor / 100 TB deployment should start from, with the reasoning
kept next to each knob. ``apply(builder)`` folds them into a
SparkSession builder; anything the operator already set wins.
"""

from __future__ import annotations

RECOMMENDED: dict[str, str] = {
    # AQE re-plans at runtime: coalesces small shuffle partitions and
    # splits skewed ones — our salting bounds skew at write time, AQE
    # catches what sampling missed.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow everywhere; batch size is the page size feeding encode UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    # Python workers are reused across tasks — imports and the C codec
    # .so load are paid once per executor core.
    "spark.python.worker.reuse": "true",
    # Workers fork from parquet2_spark.daemon, which stops pyspark's
    # per-task importlib.invalidate_caches() from re-reading pyspark.zip,
    # py4j and the spark-core jar unless one changed on disk (measured:
    # a noop mapInArrow task on local[4] costs 0.02 worker CPU-s, against
    # 0.20-0.25 under pyspark.daemon). The executors' interpreter must
    # import the module before any task runs; files from addPyFile arrive
    # too late, so a cluster needs the package installed or on
    # spark.executorEnv.PYTHONPATH. If it cannot be imported, the first
    # Python task fails at once (ModuleNotFoundError naming the module).
    "spark.python.daemon.module": "parquet2_spark.daemon",
    # one scan task ≈ one comfortable in-memory page run; chunks-table
    # payload rows are MB-scale, so the default 128 MB is right.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # shuffle partitions: set ≈ 4-8× total cores at submit time (capped
    # by the planned partition-group count); at 100 TB the encode shuffle
    # moves the whole dataset once — AQE coalescing handles the long
    # tail, but too FEW partitions leaves one giant sorted run per slot
    # (measured: 8× beats 1× at every core count on the bench box).
    # "spark.sql.shuffle.partitions": "<4-8x total cores>",
    # lz4-compressed shuffle: the encode shuffle moves the whole dataset
    # once — raw shuffle blocks starve the encode kernels of memory
    # bandwidth (measured: lz4 is faster at every core count, and lifts
    # 1→4-core scaling efficiency 0.70 → 0.92 on the bench box).
    "spark.shuffle.compress": "true",
    "spark.io.compression.codec": "lz4",
    # keep large numpy temporaries on the worker heap (page-fault storms
    # under concurrency otherwise; see BASELINE.md methodology).
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "1073741824",
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "268435456",
}


def apply(builder):
    for k, v in RECOMMENDED.items():
        if k not in builder._options:
            builder = builder.config(k, v)
    return builder


def session(app_name: str = "parquet2-spark", master: str | None = None):
    """A new session with the recommended settings. A session already
    active in this process is returned as it is: its settings are the
    operator's, and ``getOrCreate`` would overwrite them."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    return apply(b).getOrCreate()
