"""Filesystem-agnostic metadata plane (pyarrow.fs): the same encode /
resume / table-commit code must run against any FileSystem, not just a
shared POSIX mount. SubTreeFileSystem stands in for a remote FS here —
it exercises every fsio call path (no os.* fallbacks possible) while
remaining physically inspectable."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyarrow import fs as pafs
from pyspark.sql import functions as F

from parquet2_spark import fsio
from parquet2_spark.operators import decode_job
from parquet2_spark.operators.encode_job import EncodeConfig, committed_parts, encode


@pytest.fixture()
def subtree(tmp_path):
    root = str(tmp_path)
    return pafs.SubTreeFileSystem(root, pafs.LocalFileSystem()), root


class TestFsioUnit:
    def test_roundtrip_ops(self, subtree):
        fs, root = subtree
        fsio.mkdirs(fs, "a/b")
        assert fsio.is_dir(fs, "a/b")
        fsio.write_bytes_atomic(fs, "a/b/x.bin", b"payload")
        assert fsio.read_bytes(fs, "a/b/x.bin") == b"payload"
        fsio.write_json_atomic(fs, "a/b/m.json", {"k": 1})
        assert fsio.read_json(fs, "a/b/m.json") == {"k": 1}
        assert fsio.listdir(fs, "a/b") == ["m.json", "x.bin"]
        assert fsio.exists(fs, "a/b/x.bin") and not fsio.exists(fs, "a/b/nope")
        # physically where we expect (under the subtree root)
        assert os.path.exists(os.path.join(root, "a/b/x.bin"))

    def test_write_parquet_atomic_stages_in_tmp_dir(self, subtree):
        fs, root = subtree
        fsio.mkdirs(fs, "chunks")
        fsio.mkdirs(fs, "_tmp")
        t = pa.table({"x": [1, 2, 3]})
        fsio.write_parquet_atomic(fs, "chunks/p.parquet", t, tmp_dir="_tmp")
        import pyarrow.parquet as pq

        got = pq.read_table(os.path.join(root, "chunks/p.parquet"))
        assert got.equals(t)
        # no temp leftovers inside the Spark-scanned dir
        assert fsio.listdir(fs, "chunks") == ["p.parquet"]

    def test_resolve_uri_and_default(self):
        fs, p = fsio.resolve("/plain/path")
        assert isinstance(fs, pafs.LocalFileSystem) and p == "/plain/path"
        fs2, p2 = fsio.resolve("file:///plain/path")
        assert isinstance(fs2, pafs.LocalFileSystem) and p2 == "/plain/path"


class TestEncodeThroughFilesystem:
    def test_encode_resume_decode(self, spark, subtree):
        fs, root = subtree
        df = spark.range(800).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), F.col("id")).alias("s"),
        )
        cfg = EncodeConfig(
            target_rows=200, page_rows=64, sort_by="k", key="k",
            host_from_key=False, filesystem=fs,
        )
        # path is SUBTREE-RELATIVE: only meaningful through the fs object
        lin = encode(spark, df, "snapA", cfg)
        assert lin["rows"] == 800
        assert committed_parts("snapA", fs) == set(range(lin["n_partitions_committed"]))

        # resume: second run skips every committed partition
        lin2 = encode(spark, df, "snapA", cfg)
        assert lin2["resumed_partitions_skipped"] == lin["n_partitions_committed"]

        # metadata plane reads through the same fs
        assert decode_job.lineage("snapA", filesystem=fs)["rows"] == 800
        decode_job.check_integrity("snapA", filesystem=fs)

        # data plane: Spark reads the physical location (URI world);
        # metadata already verified through the fs abstraction above
        out = decode_job.decode(spark, os.path.join(root, "snapA"))
        assert out.count() == 800
        got = sorted((r["k"], r["s"]) for r in out.collect())
        assert got == [(i, f"v{i}") for i in range(800)]

    def test_torn_snapshot_detected_through_fs(self, spark, subtree):
        fs, root = subtree
        df = spark.range(100).select(F.col("id").alias("k"))
        cfg = EncodeConfig(target_rows=50, key="k", host_from_key=False, filesystem=fs)
        encode(spark, df, "snapB", cfg)
        # remove a data file, keep its marker → torn
        victim = fsio.listdir(fs, "snapB/chunks")[0]
        fs.delete_file(f"snapB/chunks/{victim}")
        with pytest.raises(FileNotFoundError, match="torn"):
            decode_job.check_integrity("snapB", filesystem=fs)


class TestTableThroughFilesystem:
    def test_append_and_manifest(self, spark, subtree):
        from parquet2_spark.operators import table as table_mod

        fs, root = subtree
        df1 = spark.range(100).select(F.col("id").alias("k"))
        df2 = spark.range(100, 200).select(F.col("id").alias("k"))
        cfg = EncodeConfig(target_rows=64, key="k", host_from_key=False, filesystem=fs)
        table_mod.append(spark, df1, "tbl", cfg)
        table_mod.append(spark, df2, "tbl", cfg)
        man = table_mod.read_manifest("tbl", fs)
        assert man["current"] == 2 and len(man["snapshots"]) == 2
        assert table_mod.is_table("tbl", fs)
        lin = decode_job.lineage("tbl", filesystem=fs)
        assert lin["rows"] == 200
        # physical check + data-plane decode by local path
        out = decode_job.decode(spark, os.path.join(root, "tbl"))
        assert out.count() == 200


class TestMetadataQueriesThroughFilesystem:
    """decode(row_range=...), stats, quantiles and the bin-pack and range
    compactions read the chunk files' metadata through the filesystem
    object: a path only it can resolve works, and gives what the same
    call on the physical path gives."""

    @pytest.fixture(scope="class")
    def store(self, spark, tmp_path_factory):
        from parquet2_spark.operators import table as table_mod

        root = str(tmp_path_factory.mktemp("store"))
        fs = pafs.SubTreeFileSystem(root, pafs.LocalFileSystem())
        df = spark.range(3000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v"), (F.col("id") % 97).cast("string")).alias("s"),
        )
        cfg = EncodeConfig(
            target_rows=400, page_rows=100, sort_by="k", key="k",
            host_from_key=False, filesystem=fs,
        )
        encode(spark, df, "snap", cfg)
        # two appends of well-sized partitions (bin-pack keepers) and a
        # small one (the tail)
        for lo, hi in ((0, 1400), (1400, 2800), (2800, 3000)):
            table_mod.append(spark, df.filter((F.col("k") >= lo) & (F.col("k") < hi)), "tbl", cfg)
        return fs, root, cfg

    def test_row_range(self, spark, store):
        fs, root, _ = store
        via = decode_job.decode(spark, "snap", filesystem=fs, row_range=(390, 1210)).collect()
        phys = decode_job.decode(spark, os.path.join(root, "snap"), row_range=(390, 1210)).collect()
        assert len(via) == 820 and sorted(via) == sorted(phys)

    def test_stats(self, spark, store):
        fs, root, _ = store
        for d in ("snap", "tbl"):
            via = decode_job.stats(spark, d, filesystem=fs).collect()
            assert via and via == decode_job.stats(spark, os.path.join(root, d)).collect()

    def test_quantiles(self, spark, store):
        fs, root, _ = store
        for d in ("snap", "tbl"):
            phys = os.path.join(root, d)
            assert decode_job.quantiles(spark, d, "k", [0.1, 0.5, 0.9], filesystem=fs) == (
                decode_job.quantiles(spark, phys, "k", [0.1, 0.5, 0.9])
            )
            assert decode_job.range_bounds(spark, d, "s", 4, filesystem=fs) == (
                decode_job.range_bounds(spark, phys, "s", 4)
            )

    @pytest.mark.parametrize(
        "kw, path",
        [({}, "binpack"), ({"range_layout_on": "k", "local_merge": True}, "local_merge")],
        ids=["binpack", "range"],
    )
    def test_compact(self, spark, store, kw, path):
        import shutil
        from dataclasses import replace

        from parquet2_spark.operators import table as table_mod

        fs, root, cfg = store
        name = f"tbl_{path}"
        phys = os.path.join(root, f"{name}_local")
        shutil.copytree(os.path.join(root, "tbl"), os.path.join(root, name))
        shutil.copytree(os.path.join(root, "tbl"), phys)
        via = table_mod.compact(spark, name, cfg, **kw)
        local = table_mod.compact(spark, phys, replace(cfg, filesystem=None), **kw)
        assert via["compaction_path"] == local["compaction_path"] == path
        skip = {"snapshot", "created_unix", "wall_s"}
        assert {k: v for k, v in via.items() if k not in skip} == (
            {k: v for k, v in local.items() if k not in skip}
        )
        assert via.get("binpack_kept", 1) > 0
        rows = sorted(decode_job.decode(spark, name, filesystem=fs).collect())
        assert len(rows) == 3000 and rows == sorted(decode_job.decode(spark, phys).collect())
        ((_, a),) = table_mod.snapshot_dirs(os.path.join(root, name))
        ((_, b),) = table_mod.snapshot_dirs(phys)
        files = sorted(os.listdir(os.path.join(a, "chunks")))
        assert files == sorted(os.listdir(os.path.join(b, "chunks")))
        for f in files:
            with open(os.path.join(a, "chunks", f), "rb") as x, open(os.path.join(b, "chunks", f), "rb") as y:
                assert x.read() == y.read(), f

    def test_torn_snapshot_fails_metadata_queries(self, spark, subtree):
        fs, _ = subtree
        df = spark.range(100).select(F.col("id").alias("k"))
        encode(spark, df, "snapT", EncodeConfig(target_rows=50, key="k", host_from_key=False, filesystem=fs))
        fs.delete_file(f"snapT/chunks/{fsio.listdir(fs, 'snapT/chunks')[0]}")
        with pytest.raises(FileNotFoundError, match="torn"):
            decode_job.stats(spark, "snapT", filesystem=fs)
        with pytest.raises(FileNotFoundError, match="torn"):
            decode_job.quantiles(spark, "snapT", "k", [0.5], filesystem=fs)


class TestCopyFileAtomic:
    def test_same_fs_local(self, tmp_path):
        fs = pafs.LocalFileSystem()
        src = str(tmp_path / "src.bin")
        data = os.urandom(1 << 20) * 3
        open(src, "wb").write(data)
        dst = str(tmp_path / "out" / "dst.bin")
        fsio.mkdirs(fs, str(tmp_path / "out"))
        tmpd = str(tmp_path / "_tmp"); fsio.mkdirs(fs, tmpd)
        fsio.copy_file_atomic(fs, src, fs, dst, tmp_dir=tmpd)
        assert open(dst, "rb").read() == data
        assert not os.listdir(tmpd), "tmp staging must be cleaned by the rename"

    def test_cross_fs_streams(self, tmp_path):
        # subtree -> subtree with DIFFERENT prefixes: same type_name but
        # prefix-relative paths, so the fast path must NOT engage; the
        # stream fallback still copies bytes exactly
        a = tmp_path / "a"; b = tmp_path / "b"
        a.mkdir(); b.mkdir()
        fsa = pafs.SubTreeFileSystem(str(a), pafs.LocalFileSystem())
        fsb = pafs.SubTreeFileSystem(str(b), pafs.LocalFileSystem())
        data = os.urandom(300_000)
        (a / "x.bin").write_bytes(data)
        fsio.copy_file_atomic(fsa, "x.bin", fsb, "y.bin")
        assert (b / "y.bin").read_bytes() == data
