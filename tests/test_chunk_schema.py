"""One chunk-file schema: ``snapshot.CHUNK_PA_SCHEMA`` types every chunk
read, so a field an older chunk file lacks reads as null, in a decode
and in the metadata frame (``decode_job.chunks_frame``), and readers need
no per-field guards."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet2_spark.operators import decode_job, snapshot, table
from parquet2_spark.operators.encode_job import EncodeConfig

# fields added to the chunk file after its first version
LATER_FIELDS = [
    "page_nulls", "bounds_order", "bloom", "ndv_hll", "qgrid", "min_dbl", "max_dbl", "ndv",
]
N = 400  # rows per snapshot: one partition of 8 pages


def test_metric_schema_is_derived_from_the_chunk_schema():
    chunk = snapshot.CHUNK_PA_SCHEMA
    metric = snapshot.METRICS_PA_SCHEMA
    assert metric.names[-1] == "wall_s"
    assert [chunk.field(n) for n in metric.names[:-1]] == list(metric)[:-1]
    assert {"payload", "bloom", "ndv_hll", "qgrid", "page_mins"}.isdisjoint(metric.names)


def test_typed_readers_fill_missing_fields_with_null(spark, tmp_path):
    snap = str(tmp_path / "snap")
    os.makedirs(snapshot.chunks_dir(snap))
    path = snapshot.chunk_path(snap, 3)
    pq.write_table(pa.table({"column": ["a"], "n_rows": [5]}), path)
    t = snapshot.read_chunk_file(None, path)
    assert t.schema == snapshot.CHUNK_PA_SCHEMA
    assert t.column("bloom").to_pylist() == [None]
    row = decode_job.chunks_df(spark, snap).first()
    assert (row["part_id"], row["column"], row["n_rows"], row["qgrid"]) == (3, "a", 5, None)
    empty = decode_job.chunks_frame(spark, [])
    assert empty.count() == 0 and empty.schema == decode_job.chunks_df(spark, snap).schema


def _rows(lo: int) -> list[tuple]:
    # opt is null on every other 50-row page: pages alternate all-null /
    # null-free, so the page null index has something to skip
    return [(k, f"s{k:04d}", k * 0.5, None if (k // 50) % 2 == 0 else "x")
            for k in range(lo, lo + N)]


@pytest.fixture(scope="module")
def mixed_table(spark, tmp_path_factory):
    """Two snapshots; the first one's chunk files are rewritten without
    the later fields, as an older encoder wrote them."""
    tdir = str(tmp_path_factory.mktemp("legacy") / "t")
    cfg = EncodeConfig(page_rows=50, sort_by="k", key="k", shuffle=False)
    for lo in (0, N):
        df = spark.createDataFrame(_rows(lo), "k long, s string, x double, opt string")
        table.append(spark, df.coalesce(1), tdir, cfg)
    old = dict(table.snapshot_dirs(tdir))[1]
    for f in glob.glob(os.path.join(old, "chunks", "*.parquet")):
        pq.write_table(pq.read_table(f).drop_columns(LATER_FIELDS), f, compression="none")
    return tdir, _rows(0) + _rows(N)


def _read(spark, tdir, **kw):
    df = decode_job.decode(spark, tdir, **kw)
    got = sorted(tuple(r) for r in df.collect())
    return got, df.p2s_decode_metrics["pages_skipped"].value


@pytest.mark.parametrize(
    "kw, keep",
    [
        ({}, lambda r: True),
        ({"key_eq": ("k", 123)}, lambda r: r[0] == 123),
        ({"key_eq": ("k", 555)}, lambda r: r[0] == 555),
        ({"key_range": ("k", 100, 149)}, lambda r: 100 <= r[0] <= 149),
        ({"key_range": ("k", 350, 450)}, lambda r: 350 <= r[0] <= 450),
        ({"not_null": "opt"}, lambda r: r[3] is not None),
        ({"is_null": "opt"}, lambda r: r[3] is None),
    ],
    ids=["full", "key_eq_old", "key_eq_new", "key_range_old", "key_range_both",
         "not_null", "is_null"],
)
def test_mixed_snapshots_read_exactly(spark, mixed_table, kw, keep):
    tdir, rows = mixed_table
    got, _ = _read(spark, tdir, **kw)
    assert got == sorted(r for r in rows if keep(r))


def test_current_snapshot_still_skips_pages(spark, mixed_table):
    tdir, _ = mixed_table
    # the null index exists only in snapshot 2: its 4 null-free pages go
    _, skipped = _read(spark, tdir, is_null="opt")
    assert skipped == 4
    # zone maps prune snapshot 1's partition; 7 of snapshot 2's 8 pages go
    got, skipped = _read(spark, tdir, key_range=("k", 500, 520))
    assert [r[0] for r in got] == list(range(500, 521)) and skipped == 7


def test_stats_over_mixed_snapshots(spark, mixed_table):
    tdir, _ = mixed_table
    rows = decode_job.stats(spark, tdir).collect()
    assert {r["column"] for r in rows} == {"k", "s", "x", "opt"}
    assert sum(r["rows"] for r in rows if r["column"] == "k") == 2 * N
    # snapshot 1's chunks carry no sketch: the estimate is withheld
    assert all(r["ndv_est"] is None for r in rows)
    # the float zone map comes from snapshot 2 only
    x = [r for r in rows if r["column"] == "x"]
    assert min(r["min_dbl"] for r in x if r["min_dbl"] is not None) == N * 0.5
    assert max(r["max_dbl"] for r in x if r["max_dbl"] is not None) == (2 * N - 1) * 0.5
    assert all(r["min_dbl"] is None for r in rows if r["column"] == "s")
