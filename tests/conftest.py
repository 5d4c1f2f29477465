from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("parquet2_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # workers fork from the engine's daemon (the one conf.RECOMMENDED
        # key this fixture takes), so tests/test_daemon.py runs under it
        .config("spark.python.daemon.module", "parquet2_spark.daemon")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
