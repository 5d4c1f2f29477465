"""Physical-plan audit (PLANS.md): the scale-critical plan properties are
asserted, not just claimed — broadcast of small sides, no join and no
chunk-file scan in a decode plan (the decoder reads the chunk files)."""

from __future__ import annotations

import contextlib
import io
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet2_spark.operators import decode_job, dedup
from parquet2_spark.operators.encode_job import EncodeConfig, encode, plan_partitions
from parquet2_spark.sources import webgen


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def snap(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plan_snap"))
    encode(spark, webgen.webpages_df(spark, 4000, partitions=4), d,
           EncodeConfig(target_rows=1000, page_rows=200))
    return d


def test_encode_planner_broadcasts_hot_hosts(spark):
    # hot-host salting must never shuffle the data: when hot hosts exist
    # the (eagerly collected) hot table joins as a BROADCAST literal;
    # when none exist (this 4-host input, r6) the join vanishes from the
    # plan entirely — either way no shuffle-side join is acceptable
    df = webgen.webpages_df(spark, 4000, partitions=4)
    planned, _ = plan_partitions(df, EncodeConfig(target_rows=1000))
    plan = _explain(planned)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    if "Join" in plan:
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # a SKEWED input (one hot host) must still produce the broadcast join
    hot_df = webgen.webpages_df(spark, 4000, partitions=4).withColumn(
        "url", F.concat(F.lit("https://hot.example.com/"), F.col("url"))
    )
    planned2, _ = plan_partitions(hot_df, EncodeConfig(target_rows=1000))
    plan2 = _explain(planned2)
    assert "BroadcastHashJoin" in plan2 or "BroadcastNestedLoopJoin" in plan2


def _executions(spark) -> list:
    """Executed SQL queries (works with the UI disabled)."""
    xs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [xs.apply(i) for i in range(xs.size())]


def _one_query(spark, df) -> str:
    """The physical plan of the one query ``df.collect()`` runs."""
    before = {e.executionId() for e in _executions(spark)}
    df.collect()
    (query,) = [e.physicalPlanDescription() for e in _executions(spark)
                if e.executionId() not in before]
    return query


def test_decode_projection_reads_no_chunk_file_in_the_jvm(spark, snap):
    df = decode_job.decode(spark, snap, columns=["url"])
    query = _one_query(spark, df)
    assert "Join" not in query
    # no file scan: the decoder opens every chunk file itself
    assert not re.search(r"ReadSchema: ", query)
    assert df.p2s_decode_metrics["parts_read"].value == len(os.listdir(os.path.join(snap, "chunks")))


def test_key_range_prunes_in_the_decoder(spark, snap):
    lo, hi = "https://host001", "https://host004"
    df = decode_job.decode(spark, snap, key_range=("url", lo, hi))
    assert "Join" not in _explain(df)
    # the one query has no file scan: the zone maps are tested by the
    # decoder on each chunk file's metadata rows
    assert not re.search(r"ReadSchema: ", _one_query(spark, df))
    # the decoder opened only the files whose zone map meets the range
    cdir = os.path.join(snap, "chunks")
    want = 0
    for f in os.listdir(cdir):
        if not f.endswith(".parquet"):
            continue
        path = os.path.join(cdir, f)
        for r in pq.read_table(path, columns=["column", "min_bin", "max_bin"]).to_pylist():
            if r["column"] == "url" and r["max_bin"] >= lo.encode() and r["min_bin"] <= hi.encode():
                want += 1
    assert df.p2s_decode_metrics["parts_read"].value == want


def test_lsh_census_broadcast_and_smj_candidates(spark):
    docs = spark.createDataFrame(
        [(i, f"text number {i} with words {i * 3}") for i in range(300)],
        "doc_id long, text string",
    )
    plan = _explain(dedup.minhash_lsh_pairs(docs))
    assert "BroadcastHashJoin" in plan  # hot-bucket census
    assert "SortMergeJoin" in plan  # big-big candidate self-join
