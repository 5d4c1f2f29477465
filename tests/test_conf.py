"""``conf``: the recommended settings never override the operator's."""

from __future__ import annotations

from pyspark.sql import SparkSession

from parquet2_spark import conf


def test_apply_keeps_operator_settings():
    # a builder holds options only; no JVM starts here
    b = (
        SparkSession.builder.config("spark.io.compression.codec", "zstd")
        .config("spark.python.daemon.module", "pyspark.daemon")
    )
    opts = conf.apply(b)._options
    assert opts["spark.io.compression.codec"] == "zstd"
    assert opts["spark.python.daemon.module"] == "pyspark.daemon"
    for k, v in conf.RECOMMENDED.items():
        if k not in ("spark.io.compression.codec", "spark.python.daemon.module"):
            assert opts[k] == v


def test_session_returns_the_active_session_unchanged(spark):
    before = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert conf.session("other") is spark
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == before
