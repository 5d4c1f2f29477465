"""What every writer leaves behind besides its chunk files.

Each writer task (encode, bin-pack keeper copy, fused range-compaction
merge) writes its partitions' metric rows to ``_metrics/job-<id>/``
itself, on whatever filesystem the snapshot lives on: the rows, apart
from ``wall_s``, are exactly the metric columns of the chunk files the
job committed. An encode resumed over a snapshot whose committed
partitions were planned under another partition count refuses to mix
the two mappings.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet2_spark import fsio
from parquet2_spark.operators import snapshot, table
from parquet2_spark.operators.encode_job import EncodeConfig, encode, plan_partitions
from parquet2_spark.sources import webgen

METRIC_COLS = snapshot.METRICS_PA_SCHEMA.names[:-1]  # all but wall_s


def _rows(t) -> set[tuple]:
    d = t.select(METRIC_COLS).to_pydict()
    return set(zip(*(d[c] for c in METRIC_COLS)))


def _chunk_rows(snap_dir: str, fs=None, parts=None) -> set[tuple]:
    """Metric columns of the snapshot's chunk files, ``part_id`` taken
    from the filename (a copied keeper's embedded one is stale)."""
    fs, root = fsio.resolve(snap_dir, fs)
    out = set()
    cdir = snapshot.chunks_dir(root)
    for f in fsio.listdir(fs, cdir):
        pid = int(f[len("part-"):-len(".parquet")])
        if parts is not None and pid not in parts:
            continue
        t = snapshot.read_chunk_file(fs, fsio.join(cdir, f), METRIC_COLS)
        out |= {(pid, *r[1:]) for r in _rows(t)}
    return out


def _metric_jobs(snap_dir: str, fs=None) -> dict[str, set[tuple]]:
    """The ``_metrics`` rows of each writer job, without ``wall_s``."""
    fs, root = fsio.resolve(snap_dir, fs)
    mdir = fsio.join(root, snapshot.METRICS)
    return {
        job: _rows(pq.read_table(fsio.join(mdir, job), filesystem=fs))
        for job in fsio.listdir(fs, mdir)
    }


def _assert_metrics_match_chunks(snap_dir: str, fs=None) -> dict[str, set[tuple]]:
    jobs = _metric_jobs(snap_dir, fs)
    assert jobs
    assert set().union(*jobs.values()) == _chunk_rows(snap_dir, fs)
    return jobs


def _cfg(**kw):
    return EncodeConfig(target_rows=100, page_rows=50, **kw)


def _digests(snap_dir: str) -> dict[str, str]:
    cdir = os.path.join(snap_dir, "chunks")
    return {
        f: hashlib.sha256(open(os.path.join(cdir, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(cdir))
    }


def _drop_parts(snap_dir: str, parts) -> None:
    for pid in parts:
        os.remove(snapshot.chunk_path(snap_dir, pid))
        os.remove(os.path.join(snap_dir, snapshot.COMMITS, f"{pid}.json"))


@pytest.fixture(scope="module")
def pages(spark):
    return webgen.webpages_df(spark, 1000, partitions=2)


def test_encode_metrics_local(spark, tmp_path, pages):
    snap = str(tmp_path / "snap")
    lin = encode(spark, pages, snap, _cfg(bloom_columns=("url",)))
    jobs = _assert_metrics_match_chunks(snap)
    assert len(jobs) == 1 and lin["metrics"] == snapshot.METRICS
    assert len(set().union(*jobs.values())) == lin["n_partitions_committed"] * len(lin["columns"])


def test_encode_metrics_subtree_filesystem(spark, tmp_path, pages):
    """A snapshot only the pyarrow filesystem can address gets its
    ``_metrics`` too: the tasks write them through that filesystem."""
    base = tmp_path / "fs_root"
    base.mkdir()
    fs = pafs.SubTreeFileSystem(str(base), pafs.LocalFileSystem())
    lin = encode(spark, pages, "snap", _cfg(filesystem=fs))
    assert lin["metrics"] == snapshot.METRICS
    _assert_metrics_match_chunks("snap", fs)
    assert not os.path.exists("snap")  # every write went through fs


@pytest.mark.parametrize("frac", [1.0, 0.001])
def test_planning_counts_every_row(spark, frac):
    """``n_parts`` comes from the exact row count, also where the host
    sample or the input is empty and AQE drops the planning stage, and
    the count observed in it, from the plan."""
    df = spark.range(5).select(
        F.format_string("https://h%d.com/%d", F.col("id") % 2, F.col("id")).alias("url")
    )
    cfg = EncodeConfig(target_rows=2, host_sample_fraction=frac)
    assert plan_partitions(df, cfg)[1] == 3
    assert plan_partitions(df.filter("id < 0"), cfg)[1] == 1


def test_a_job_that_commits_nothing_leaves_readable_metrics(spark, tmp_path, pages):
    snap = str(tmp_path / "snap")
    encode(spark, pages.limit(0), snap, _cfg())
    t = pq.read_table(os.path.join(snap, snapshot.METRICS))
    assert t.num_rows == 0 and t.schema.names == snapshot.METRICS_PA_SCHEMA.names


def test_resume_is_bit_identical_and_metrics_cover_it(spark, tmp_path, pages):
    snap = str(tmp_path / "snap")
    encode(spark, pages, snap, _cfg())
    want = _digests(snap)
    assert len(want) == 10
    before = set(_metric_jobs(snap))
    _drop_parts(snap, (1, 4, 7))
    lin = encode(spark, pages, snap, _cfg(), resume=True)
    assert lin["resumed_partitions_skipped"] == 7
    assert _digests(snap) == want
    jobs = _assert_metrics_match_chunks(snap)
    (new,) = set(jobs) - before
    assert jobs[new] == _chunk_rows(snap, parts={1, 4, 7})


def test_resume_over_a_changed_input_raises(spark, tmp_path, pages):
    """Resuming under another partition mapping would keep the old
    mapping's committed parts and encode the rest under the new one,
    losing or duplicating rows: it raises, naming both counts."""
    snap = str(tmp_path / "snap")
    encode(spark, pages, snap, _cfg())
    _drop_parts(snap, (1, 4, 7))
    more = webgen.webpages_df(spark, 1200, partitions=2)
    with pytest.raises(ValueError, match=r"planned as 10 partitions, this input plans 12"):
        encode(spark, more, snap, _cfg(), resume=True)


def _corpus(spark, n, voff=0):
    return spark.range(n).select(
        F.format_string(
            "https://www.h%02d.example.com/p/%06d",
            (F.col("id") % 8).cast("int"), F.col("id") + voff,
        ).alias("url"),
        (F.col("id") + voff).alias("v"),
    )


def _table_cfg(**kw):
    base = dict(target_rows=1000, page_rows=250, sort_by="url", key="v",
                host_from_key=False)
    base.update(kw)
    return EncodeConfig(**base)


def _current_snapshot(tdir: str) -> str:
    (_sid, sdir), = table.snapshot_dirs(tdir)
    return sdir


def test_binpack_keeper_copies_write_metrics(spark, tmp_path):
    td = str(tmp_path / "t")
    table.append(spark, _corpus(spark, 4000), td, _table_cfg())
    table.append(spark, _corpus(spark, 300, voff=4000), td, _table_cfg())
    lin = table.compact(spark, td, _table_cfg())
    assert lin["compaction_path"] == "binpack" and lin["binpack_kept"] == 4
    # the tail encode and the keeper copies: one job each
    jobs = _assert_metrics_match_chunks(_current_snapshot(td))
    assert len(jobs) == 2


def test_local_merge_compaction_writes_metrics(spark, tmp_path):
    td = str(tmp_path / "t")
    cfg = EncodeConfig(target_rows=500, page_rows=125, sort_by="v",
                       key="v", host_from_key=False)
    base = spark.range(8000).select(
        F.when(F.col("id") >= 4800, F.lit(99_999)).otherwise(F.col("id")).alias("v"),
        F.col("id").alias("doc_id"),
    )
    table.append(spark, base, td, cfg, range_layout_on="v")
    lin = table.compact(spark, td, cfg, range_layout_on="v", local_merge=True)
    assert lin["compaction_path"] == "local_merge"
    _assert_metrics_match_chunks(_current_snapshot(td))
    # a spread delta under sticky bounds: merged buckets and verbatim
    # keeper buckets commit in the same action, into one job
    delta = spark.range(500).select(
        (F.col("id") * 9 % 4800).alias("v"), (F.col("id") + 8000).alias("doc_id"),
    )
    table.append(spark, delta, td, cfg, range_layout_on="v")
    lin = table.compact(spark, td, cfg, range_layout_on="v", local_merge=True)
    assert lin["compaction_path"] == "local_merge" and lin["layout_kept"] > 0, lin
    jobs = _assert_metrics_match_chunks(_current_snapshot(td))
    assert len(jobs) == 1
    assert len({r[0] for r in set().union(*jobs.values())}) == lin["n_partitions_committed"]
