"""Physical-plan assertions: the scale story must be visible in explain().

The hot-host table in encode planning must be broadcast, not shuffled.
That the metadata queries never read a payload byte is counted through a
logging filesystem instead (tests/test_lookup_prune.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet2_spark.operators.encode_job import EncodeConfig, plan_partitions
from parquet2_spark.sources import webgen


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hot_host_join_is_broadcast(spark):
    # one hot host (every url shares it) forces a non-empty hot table —
    # r6 collects it eagerly and re-broadcasts a literal frame, so the
    # join only exists when there is something to salt
    df = webgen.webpages_df(spark, 1500, partitions=4).withColumn(
        "url", F.concat(F.lit("https://hot.example.com/"), F.col("url"))
    )
    planned, _ = plan_partitions(df, EncodeConfig(target_rows=200))
    plan = _plan(planned)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
