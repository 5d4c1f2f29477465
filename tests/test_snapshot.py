"""The snapshot module: the run splitter, the chunk-then-marker commit,
and the guard against env-var switches in the package."""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pytest

from parquet2_spark import fsio
from parquet2_spark.operators import snapshot


def _batch(keys, start=0):
    return pa.record_batch(
        {
            "k": pa.array(keys, pa.int64()),
            "v": pa.array(range(start, start + len(keys)), pa.int64()),
        }
    )


def _runs(batches):
    return [
        (t.column("k").to_pylist(), t.column("v").to_pylist())
        for t in snapshot.split_runs(iter(batches), "k")
    ]


class TestSplitRuns:
    def test_run_spans_batch_boundaries(self):
        out = _runs([_batch([1, 1], 0), _batch([1, 2], 2), _batch([2, 2, 3], 4)])
        assert out == [
            ([1, 1, 1], [0, 1, 2]),
            ([2, 2, 2], [3, 4, 5]),
            ([3], [6]),
        ]

    def test_empty_batches_are_skipped(self):
        out = _runs(
            [_batch([]), _batch([5, 5], 0), _batch([]), _batch([5, 7], 2), _batch([])]
        )
        assert out == [([5, 5, 5], [0, 1, 2]), ([7], [3])]

    def test_single_run(self):
        out = _runs([_batch([4] * 3, 0), _batch([4] * 2, 3)])
        assert out == [([4] * 5, [0, 1, 2, 3, 4])]

    def test_empty_stream(self):
        assert _runs([]) == [] and _runs([_batch([])]) == []

    def test_runs_are_zero_copy_slices(self):
        rb = _batch([1, 1, 2])
        t1, t2 = snapshot.split_runs(iter([rb]), "k")
        assert t1.column("k").chunk(0).buffers()[1].address == rb.column(0).buffers()[1].address

    @pytest.mark.parametrize(
        "batches",
        [
            [_batch([1, 2, 1])],  # inside one batch
            [_batch([1, 1]), _batch([2]), _batch([1])],  # across batches
            [_batch([3, 1]), _batch([]), _batch([2, 3])],
        ],
    )
    def test_repeated_key_raises(self, batches):
        with pytest.raises(ValueError, match="reappears"):
            _runs(batches)


class TestCommitOrder:
    """A marker is written only once its chunk file is in place."""

    def _check_marker_after_chunk(self, monkeypatch):
        seen = []
        real = fsio.write_json_atomic

        def checked(fs, path, obj, indent=None):
            chunk = snapshot.chunk_path(os.path.dirname(os.path.dirname(path)), obj["part_id"])
            assert os.path.exists(chunk), "marker written before its chunk file"
            seen.append(obj)
            real(fs, path, obj, indent)

        monkeypatch.setattr(fsio, "write_json_atomic", checked)
        return seen

    def test_commit_table(self, tmp_path, monkeypatch):
        seen = self._check_marker_after_chunk(monkeypatch)
        w = snapshot.PartWriter(str(tmp_path / "snap"))
        t = pa.table({"n_rows": [3, 3]})
        wall = w.commit_table(7, t, 3, 0.0, 0.0, 12)
        assert [sorted(m) for m in seen] == [
            ["cpu_s", "file", "n_parts", "part_id", "rows", "wall_s"]
        ]
        assert seen[0]["file"] == "part-000007.parquet" and seen[0]["wall_s"] == wall
        assert seen[0]["n_parts"] == 12
        assert snapshot.planned_parts(str(tmp_path / "snap"), {7}) == 12
        assert snapshot.committed_parts(str(tmp_path / "snap")) == {7}
        assert snapshot.torn_parts(str(tmp_path / "snap")) == []

    def test_commit_copy_and_torn_parts(self, tmp_path, monkeypatch):
        src = tmp_path / "src.parquet"
        src.write_bytes(b"not really parquet")
        seen = self._check_marker_after_chunk(monkeypatch)
        snap = str(tmp_path / "snap")
        w = snapshot.PartWriter(snap)
        w.commit_copy(2, fsio.resolve(str(src))[0], str(src), 5, 0.0, {"binpack_copied_from": 9})
        assert seen[0]["binpack_copied_from"] == 9 and seen[0]["rows"] == 5
        assert w.is_committed(2) and not w.is_committed(3)
        # a marker whose chunk file is gone is a torn partition
        os.remove(snapshot.chunk_path(snap, 2))
        assert snapshot.torn_parts(snap) == [2]


def _web_rows(n):
    return [(f"https://h{i % 5}.com/p/{i}", i % 7, f"text {i}") for i in range(n)]


class TestSplitterPathsCheckContiguity:
    """A repeated part_id reaching the encode's partition task fails the
    job instead of writing one partition as two."""

    def test_encode_path_raises(self, spark, tmp_path, monkeypatch):
        from pyspark.sql import functions as F

        from parquet2_spark.operators import encode_job

        df = spark.createDataFrame(_web_rows(400), "url string, n int, text string")

        def interleaved(df, cfg):
            pid = (F.monotonically_increasing_id() % 2).cast("long")
            return df.coalesce(1).withColumn("_part_id", pid), 2

        monkeypatch.setattr(encode_job, "plan_partitions", interleaved)
        cfg = encode_job.EncodeConfig(shuffle=False, host_from_key=False)
        with pytest.raises(Exception, match="reappears"):
            encode_job.encode(spark, df, str(tmp_path / "snap"), cfg)


def _package_sources():
    pkg = os.path.dirname(os.path.dirname(snapshot.__file__))
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                with open(p, encoding="utf-8") as fh:
                    yield os.path.relpath(p, pkg), fh.read()


def _call_args(src: str, start: int) -> str:
    """The source text of the call whose ``(`` is at ``start``."""
    depth = 0
    for i in range(start, len(src)):
        depth += {"(": 1, ")": -1}.get(src[i], 0)
        if depth == 0:
            return src[start:i + 1]
    return src[start:]


def test_layout_literals_live_in_snapshot_module():
    owners = {
        name for name, src in _package_sources() if '"_commits"' in src or "part-{" in src
    }
    assert owners == {"operators/snapshot.py"}
    # the chunk-file schema and every chunk-file read live there too
    reads = re.compile(r"read\.parquet\(|pq\.read_table\(|ParquetFile\(")
    readers = {
        name for name, src in _package_sources()
        if name.startswith("operators/") and reads.search(src)
    }
    schemas = {
        name for name, src in _package_sources()
        if name.startswith("operators/") and any(
            '"payload"' in _call_args(src, m.end() - 1)
            for m in re.finditer(r"pa\.schema\(", src)
        )
    }
    assert readers == {"operators/snapshot.py"}
    assert schemas == {"operators/snapshot.py"}


def test_package_reads_no_environment_variables():
    """Behaviour is set by config objects, never by env-var switches."""
    pat = re.compile(r"\bos\.environ\b|\bgetenv\b|\bfrom os import\b[^\n]*\benviron\b")
    hits = [
        f"{name}:{i}: {line.strip()}"
        for name, src in _package_sources()
        for i, line in enumerate(src.splitlines(), 1)
        if pat.search(line)
    ]
    assert hits == [], json.dumps(hits, indent=1)
