"""Exchange-free (local-merge) range-layout compaction.

The plan: bucket ← overlapping chunk files from zone maps (metadata
only), one FUSED Arrow task per bucket reads + page-prunes + merges +
sorts + encodes its runs in place — the payload never crosses a shuffle
and never enters the JVM. These tests pin (1) result equivalence with
the shuffle plan, (2) the auto fan-out fallback, (3) null / timestamp
key handling.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet2_spark.operators import decode_job, table, validate
from parquet2_spark.operators.encode_job import EncodeConfig

HOSTS = ["alpha", "beta", "delta", "epsilon", "gamma", "kappa", "theta", "zeta"]


def _corpus(spark, n, voff=0):
    hs = F.array(*[F.lit(h) for h in HOSTS])
    return spark.range(n).select(
        F.concat(F.lit("https://www."),
                 F.element_at(hs, (F.col("id") % 8 + 1).cast("int")),
                 F.lit(".example.com/p/"),
                 F.format_string("%06d", F.col("id") + voff)).alias("url"),
        (F.col("id") + voff).alias("v"))


def _cfg(**kw):
    base = dict(target_rows=1000, page_rows=250, sort_by="url", key="v",
                host_from_key=False)
    base.update(kw)
    return EncodeConfig(**base)


def _build(spark, tdir, layout=True):
    """Three appends; deltas range-laid-out when ``layout`` (the input
    shape whose partitions are range-local)."""
    kw = {"range_layout_on": "url"} if layout else {}
    for i in range(3):
        table.append(spark, _corpus(spark, 2000, voff=2000 * i), tdir,
                     _cfg(), **kw)
    return _corpus(spark, 6000)


class TestLocalMergeCompaction:
    def test_matches_shuffle_path_bit_identical(self, spark, tmp_path):
        """Same bounds, same bucket routing, same sort → the local-merge
        snapshot is BYTE-identical to the shuffle snapshot."""
        ld, sd = str(tmp_path / "local"), str(tmp_path / "shuf")
        src = _build(spark, ld)
        _build(spark, sd)
        cc = _cfg(target_rows=2000, page_rows=500)
        lin_l = table.compact(spark, ld, cc, range_layout_on="url",
                              local_merge=True)
        lin_s = table.compact(spark, sd, cc, range_layout_on="url",
                              local_merge=False)
        assert lin_l["compaction_path"] == "local_merge"
        assert lin_s["compaction_path"] == "shuffle"
        assert lin_l["rows"] == 6000
        assert lin_l["enc_bytes"] == lin_s["enc_bytes"]
        rep = validate.digest_frames(src, decode_job.decode(spark, ld))
        assert rep["bit_identical"], rep
        # disjoint binary spans on the layout key
        ch = decode_job.chunks_df(spark, ld).filter(F.col("column") == "url")
        spans = sorted((r["min_bin"], r["max_bin"]) for r in ch.collect())
        assert len(spans) == 3
        for (_, ahi), (blo, _) in zip(spans, spans[1:]):
            assert ahi < blo

    def test_auto_falls_back_on_unlayouted_inputs(self, spark, tmp_path):
        """Appends NOT laid out by range: every input partition spans the
        whole key space, plan fan-out blows past the limit, and the auto
        mode takes the shuffle plan (which reads each byte once)."""
        td = str(tmp_path / "fb")
        src = _build(spark, td, layout=False)
        lin = table.compact(spark, td, _cfg(), range_layout_on="url")
        assert lin["compaction_path"] == "shuffle"
        rep = validate.digest_frames(src, decode_job.decode(spark, td))
        assert rep["bit_identical"], rep

    def test_fanout_is_rows_weighted(self, spark, tmp_path):
        """A SMALL un-laid-out delta (spans every bucket) among large
        bucket-local partitions must not veto the fused plan: re-reading
        a tiny file per bucket is cheap in bytes. The weighted fan-out
        stays near 1 where the unweighted pair/file count would read
        ~half the bucket count."""
        from parquet2_spark.operators import merge_compact

        td = str(tmp_path / "w")
        table.append(spark, _corpus(spark, 6000), td, _cfg())
        # grids exist only after the first snapshot: one layout pass
        # (12 buckets) makes the big partitions bucket-local
        table.compact(spark, td, _cfg(target_rows=500), range_layout_on="url")
        # two tiny wide deltas: 60 rows each across the whole url space
        table.append(spark, _corpus(spark, 60, voff=6000), td, _cfg())
        table.append(spark, _corpus(spark, 60, voff=6060), td, _cfg())
        from parquet2_spark.operators import decode_job as dj

        lin = dj.lineage(td)
        n_parts = max(1, -(-lin["rows"] // 500))
        bounds = dj.range_bounds(spark, td, "url", n_parts)
        snaps = table.snapshot_dirs(td)
        plan_df = merge_compact.plan(spark, snaps, "url", bounds)
        wf = merge_compact.fanout(plan_df)
        # unweighted (the old metric): pairs / files — inflated by the
        # tiny wide files, which carry ~1% of the rows each
        row = plan_df.agg(F.count(F.lit(1)).alias("p"),
                          F.countDistinct("snap", "part_id").alias("f")).collect()[0]
        uf = row["p"] / row["f"]
        assert wf < uf, (wf, uf)
        assert wf < merge_compact.FANOUT_LIMIT, wf
        # and the auto mode takes the fused plan — result equivalence
        # still pinned by row equality
        before = sorted(r["v"] for r in decode_job.decode(spark, td)
                        .select("v").collect())
        lin_c = table.compact(spark, td, _cfg(target_rows=500),
                              range_layout_on="url")
        assert lin_c["compaction_path"] == "local_merge"
        after = sorted(r["v"] for r in decode_job.decode(spark, td)
                       .select("v").collect())
        assert before == after

    def test_null_keys_route_to_bucket0(self, spark, tmp_path):
        """NULLs in the layout column land in bucket 0 under BOTH plans
        (coalesce(bucket, 0) semantics) and survive the round trip."""
        td = str(tmp_path / "nulls")
        batches = []
        for i in range(3):
            b = _corpus(spark, 2000, voff=2000 * i).withColumn(
                "url", F.when(F.col("v") % 17 == 0, F.lit(None))
                        .otherwise(F.col("url")))
            batches.append(b)
            table.append(spark, b, td, _cfg(),
                         **({"range_layout_on": "url"} if i else {}))
        src = batches[0]
        for b in batches[1:]:
            src = src.unionByName(b)
        lin = table.compact(spark, td, _cfg(target_rows=2000),
                            range_layout_on="url", local_merge=True)
        assert lin["compaction_path"] == "local_merge"
        assert lin["rows"] == 6000
        rep = validate.digest_frames(src, decode_job.decode(spark, td))
        assert rep["bit_identical"], rep
        # the null rows live in the FIRST partition (nulls-first layout)
        ch = decode_job.chunks_df(spark, td).filter(F.col("column") == "url")
        nulls = {r["part_id"]: r["null_count"] for r in ch.collect()}
        first = min(nulls)
        assert nulls[first] > 0
        assert all(v == 0 for p, v in nulls.items() if p != first)

    def test_timestamp_layout_key(self, spark, tmp_path):
        """Temporal primary: grid bounds are epoch-micros ints; the merge
        task compares decoded timestamps in zone units."""
        td = str(tmp_path / "ts")
        batches = []
        for i in range(3):
            b = spark.range(2000).select(
                F.timestamp_micros(
                    (F.col("id") + 2000 * i) * 60_000_000).alias("ts"),
                (F.col("id") + 2000 * i).alias("v"))
            batches.append(b)
            table.append(spark, b, td,
                         _cfg(sort_by="ts", key="v"),
                         **({"range_layout_on": "ts"} if i else {}))
        src = batches[0]
        for b in batches[1:]:
            src = src.unionByName(b)
        lin = table.compact(spark, td, _cfg(sort_by="ts", key="v",
                                            target_rows=2000),
                            range_layout_on="ts", local_merge=True)
        assert lin["compaction_path"] == "local_merge"
        rep = validate.digest_frames(src, decode_job.decode(spark, td))
        assert rep["bit_identical"], rep
        ch = decode_job.chunks_df(spark, td).filter(F.col("column") == "ts")
        spans = sorted((r["min_num"], r["max_num"]) for r in ch.collect())
        for (_, ahi), (blo, _) in zip(spans, spans[1:]):
            assert ahi < blo

    def test_null_key_merge_ignores_plan_row_order(self, spark, tmp_path):
        """Plan rows reach a bucket in shuffle order. Bucket 0's null keys
        tie under a sort on the nullable key alone, so their order must not
        follow the arrival order: the same plan in two row orders writes
        byte-identical chunk files."""
        from pathlib import Path

        from parquet2_spark.operators import merge_compact, snapshot

        td = str(tmp_path / "t")
        for i in range(3):
            b = _corpus(spark, 2000, voff=2000 * i).withColumn(
                "url", F.when(F.col("v") % 17 == 0, F.lit(None))
                        .otherwise(F.col("url")))
            table.append(spark, b, td, _cfg(),
                         **({"range_layout_on": "url"} if i else {}))
        lin = decode_job.lineage(td)
        bounds = decode_job.range_bounds(spark, td, "url", 3)
        plan_df = merge_compact.plan(spark, table.snapshot_dirs(td), "url", bounds).drop("w")
        rows = sorted(plan_df.collect())
        assert len({(r["snap"], r["part_id"]) for r in rows if r["bucket"] == 0}) > 1
        out = {}
        for name, order in (("fwd", rows), ("rev", rows[::-1])):
            d = str(tmp_path / name)
            # one input partition: the repartition by bucket keeps this order
            ordered = spark.createDataFrame(order, plan_df.schema).coalesce(1)
            merge_compact.encode_fused(
                spark, ordered, "url", bounds, ["url"], len(bounds) + 1,
                lin["schema"], lin["columns"], _cfg(), d,
            )
            out[name] = {
                f.name: f.read_bytes()
                for f in sorted(Path(snapshot.chunks_dir(d)).glob("*.parquet"))
            }
        assert out["fwd"] and out["fwd"] == out["rev"]
