#!/usr/bin/env python
"""Capture .explain("formatted") before/after plans for every query the
round-6 optimization touched → plans/r06/<name>_{before,after}.txt.

"before" plans come from the round-start plan shapes: the encode
planner's old lazy-broadcast shape and the stats NDV direct-merge shape
are reproduced inline below, byte-for-byte from the round-start source
(git show 18c9fc2). The decode "before" plan (groupBy exchange) has no
code path left to produce it; plans/r06/decode_web_before.txt is the
archived capture and is not regenerated.
"""
from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench as B  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

OUT = os.path.join(REPO, "plans", "r06")


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write(name: str, text: str) -> None:
    with open(os.path.join(OUT, name), "w") as fh:
        fh.write(text)
    print("wrote", name)


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    spark = B.session(B.CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    B._warm_workers(spark)
    web = B.ensure_web_input(spark)
    df = spark.read.parquet(web)

    from parquet2_spark.operators import decode_job
    from parquet2_spark.operators.encode_job import EncodeConfig, encode, plan_partitions

    cfg = EncodeConfig(
        target_rows=max(1024, B.WEB_ROWS // (B.CPUS * 4)),
        page_rows=4096,
        host_sample_fraction=0.1,
    )

    # ---- encode_web: the planned/arranged frame (the main job's input)
    planned, n_parts = plan_partitions(df, cfg)
    arranged = planned.repartition("_part_id").sortWithinPartitions(
        F.col("_part_id").asc(), F.col("url").asc_nulls_last()
    )
    write("encode_web_after.txt", explain(arranged))

    # round-start shape: lazy hot-host broadcast whose subquery
    # (sample scan + groupBy) re-executes inside the main job
    host = F.substring_index(F.substring_index(F.col("url"), "/", 3), "//", -1)
    with_host = df.withColumn("_host", host)
    sampled = with_host.sample(fraction=0.1, seed=42)
    counts = sampled.groupBy("_host").count().withColumn(
        "count", (F.col("count") / F.lit(0.1)).cast("long")
    )
    hot = counts.filter(F.col("count") > cfg.target_rows).withColumn(
        "_salt_k", F.ceil(F.col("count") / cfg.target_rows).cast("int")
    )
    salted_old = (
        with_host.join(F.broadcast(hot.select("_host", "_salt_k")), "_host", "left")
        .withColumn(
            "_salt",
            F.when(
                F.col("_salt_k").isNotNull(),
                F.pmod(F.xxhash64(F.col("url")), F.col("_salt_k")),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "_part_id",
            F.pmod(F.xxhash64(F.col("_host"), F.col("_salt")), F.lit(n_parts)).cast("long"),
        )
        .drop("_salt_k", "_salt", "_host")
    )
    arranged_old = salted_old.repartition("_part_id").sortWithinPartitions(
        F.col("_part_id").asc(), F.col("url").asc_nulls_last()
    )
    write("encode_web_before.txt", explain(arranged_old))

    # ---- decode_web / validate_web: decode plan (after only; the
    # archived before-plan is kept as captured)
    snap = "/tmp/p2s_prof/plans_snap"
    import shutil

    shutil.rmtree(snap, ignore_errors=True)
    encode(spark, df, snap, cfg, resume=False)
    write("decode_web_after.txt", explain(decode_job.decode(spark, snap)))

    # ---- stats_web: NDV merge (before: round-start direct path inline)
    write("stats_web_after.txt", explain(decode_job.stats(spark, snap)))

    import pandas as pd
    from parquet2_spark.plans import hll as hll_mod

    chunks = decode_job.chunks_df(spark, snap)
    base = chunks.groupBy("column", "codecs").agg(
        F.count("*").alias("n_chunks"), F.sum("n_rows").alias("rows"),
        F.sum("null_count").alias("nulls"), F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"), F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"), F.min("min_bin").alias("min_bin"),
        F.max("max_bin").alias("max_bin"), F.min("min_dbl").alias("min_dbl"),
        F.max("max_dbl").alias("max_dbl"), F.max("ndv").alias("ndv_hint"),
    )

    def final_raw(pdf):
        miss = bool(((pdf["n_rows"] > 0) & pdf["ndv_hll"].isna()).any())
        sk = None if miss else hll_mod.merge(pdf["ndv_hll"])
        est = None if sk is None else hll_mod.estimate(sk)
        return pd.DataFrame(
            {"column": [pdf["column"].iloc[0]], "ndv_est": pd.array([est], dtype="Int64")}
        )

    sk_old = (
        chunks.select("column", "n_rows", "ndv_hll")
        .repartition(8, "column")
        .groupBy("column")
        .applyInPandas(final_raw, "column string, ndv_est long")
    )
    stats_old = base.join(F.broadcast(sk_old), ["column"], "left").orderBy("column", "codecs")
    write("stats_web_before.txt", explain(stats_old))

    # ---- page_index_rows: row_range planning frame
    # after: grouped two-pass prefix; before: round-start global window
    from pyspark.sql import Window

    lin = decode_job.lineage(snap)
    first = lin["columns"][0]
    meta = (
        decode_job.chunks_df(spark, snap)
        .filter(F.col("column") == first)
        .select("part_id", "n_rows")
    )
    w_old = Window.orderBy("part_id").rowsBetween(Window.unboundedPreceding, -1)
    before_rr = (
        meta.withColumn("base", F.coalesce(F.sum("n_rows").over(w_old), F.lit(0)))
        .filter((F.col("base") < 300) & (F.col("base") + F.col("n_rows") > 100))
    )
    write("row_range_planning_before.txt", explain(before_rr))
    grp_meta = meta.withColumn("_grp", F.floor(F.col("part_id") / F.lit(decode_job._RR_GROUP)))
    off_df = spark.createDataFrame([(0, 0)], "`_grp` long, `_goff` long")
    w_new = Window.partitionBy("_grp").orderBy("part_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    after_rr = (
        grp_meta.join(F.broadcast(off_df), "_grp")
        .withColumn("base", F.col("_goff") + F.coalesce(F.sum("n_rows").over(w_new), F.lit(0)))
        .filter((F.col("base") < 300) & (F.col("base") + F.col("n_rows") > 100))
    )
    write("row_range_planning_after.txt", explain(after_rr))

    # ---- rt_auto_lineitem: plan UNCHANGED (the optimization is inside
    # the mapInArrow UDF — per-task codec memoization); captured for
    # completeness so the claim is checkable
    import __spark_entry__ as E

    qs = E.queries()
    rt = qs["rt_auto_lineitem"](spark, B.SF_DIR)
    p = explain(rt)
    write("rt_auto_lineitem_before.txt", p + "\n(plan unchanged by r6 — the change is per-task codec memoization inside the MapInArrow UDF)\n")
    write("rt_auto_lineitem_after.txt", p)

    spark.stop()


if __name__ == "__main__":
    main()
