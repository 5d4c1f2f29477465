"""Point lookups prune in one pass, then scan only the surviving chunk
files: ``decode(key_eq=…)`` / ``decode(key_in=…)`` list exactly the files
whose key chunk passes the zone map and the bloom probe, computed here
independently from the chunk parquet with pyarrow and the numpy bloom."""

from __future__ import annotations

import contextlib
import io
import json
import os
from urllib.parse import urlparse

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet2_spark.operators import decode_job, snapshot, table
from parquet2_spark.operators.encode_job import EncodeConfig, encode
from parquet2_spark.plans import bloom
from parquet2_spark.sources import webgen

N = 4000


def _cfg(bloom_cols=("url",)):
    return EncodeConfig(target_rows=500, page_rows=200, bloom_columns=bloom_cols)


def _urls(lo: int, hi: int) -> list[str]:
    return webgen.generate_pandas(np.arange(lo, hi, dtype=np.uint64))["url"].tolist()


def _hashes(spark, vals) -> np.ndarray:
    row = spark.range(1).select(*[F.xxhash64(F.lit(v)) for v in vals]).first()
    return np.array(list(row), dtype=np.int64).view(np.uint64)


def _key_rows(snap_dir: str, col: str):
    """(chunk file path, the key column's chunk row) per chunk file."""
    cdir = os.path.join(snap_dir, "chunks")
    for f in sorted(os.listdir(cdir)):
        if not f.endswith(".parquet"):
            continue
        path = os.path.realpath(os.path.join(cdir, f))
        for r in pq.read_table(path).to_pylist():
            if r["column"] == col:
                yield path, r


def _survivors(snap_dir: str, col: str, lo: str, hi: str, hashes) -> set[str]:
    """Files whose ``col`` chunk may hold a value in [lo, hi] hashing to
    one of ``hashes``: zone map first, then the bloom (null = keep)."""
    out = set()
    for path, r in _key_rows(snap_dir, col):
        if r["max_bin"] is not None and r["max_bin"] < lo.encode():
            continue
        if r["min_bin"] is not None and r["min_bin"] > hi.encode():
            continue
        if r["bloom"] is not None and not bloom.might_contain(r["bloom"], hashes).any():
            continue
        out.add(path)
    return out


def _files(df) -> set[str]:
    return {os.path.realpath(urlparse(f).path) for f in df.inputFiles()}


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def snap(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lookup_snap"))
    encode(spark, webgen.webpages_df(spark, N, partitions=4), d, _cfg())
    return d


@pytest.fixture(scope="module")
def urls():
    return _urls(0, N)


def test_key_eq_hit_lists_only_survivors(spark, snap, urls):
    hit = urls[1234]
    want = _survivors(snap, "url", hit, hit, _hashes(spark, [hit]))
    n_files = len(os.listdir(os.path.join(snap, "chunks")))
    assert want and len(want) < n_files
    df = decode_job.decode(spark, snap, key_eq=("url", hit))
    assert _files(df) == want
    rows = df.collect()
    assert [r["url"] for r in rows] == [hit]


def test_key_eq_miss_lists_no_files_and_stays_typed(spark, snap, urls):
    # a value with no surviving chunk at all (zone map or bloom rules out
    # every partition)
    for i in range(100):
        miss = f"{urls[77]}-absent-{i}"
        if not _survivors(snap, "url", miss, miss, _hashes(spark, [miss])):
            break
    else:
        pytest.fail("no probe value is ruled out by every bloom")
    df = decode_job.decode(spark, snap, key_eq=("url", miss))
    assert df.inputFiles() == []
    assert df.collect() == []
    assert df.schema == decode_job.decode(spark, snap).schema


def test_key_in_lists_only_survivors(spark, snap, urls):
    vals = [urls[5], urls[2100], urls[3999], "https://absent.example/x"]
    want = _survivors(snap, "url", min(vals), max(vals), _hashes(spark, vals))
    df = decode_job.decode(spark, snap, key_in=("url", vals))
    assert _files(df) == want
    assert sorted(r["url"] for r in df.collect()) == sorted(vals[:3])


def test_key_eq_plan_has_no_python_eval(spark, snap, urls):
    plan = _explain(decode_job.decode(spark, snap, key_eq=("url", urls[9])))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_key_eq_page_metrics(spark, snap, urls):
    # pages read/skipped are those of the surviving partitions' page
    # indexes only — the prune moved, the page-level skip did not
    hit = urls[2222]
    survivors = _survivors(snap, "url", hit, hit, _hashes(spark, [hit]))
    read = skipped = 0
    for path, r in _key_rows(snap, "url"):
        if path in survivors:
            keep = decode_job._page_keep_for_range(
                json.loads(r["page_mins"]), json.loads(r["page_maxs"]), hit, hit,
                r["bounds_order"],
            )
            n_pages = len(json.loads(r["page_rows"]))
            read += len(keep)
            skipped += n_pages - len(keep)
    df = decode_job.decode(spark, snap, key_eq=("url", hit))
    assert len(df.collect()) == 1
    m = df.p2s_decode_metrics
    assert (m["pages_read"].value, m["pages_skipped"].value) == (read, skipped)
    assert read >= 1


@pytest.fixture(scope="module")
def lookup_table(spark, tmp_path_factory):
    """Three snapshots over disjoint page ids; the middle one is encoded
    without bloom filters, so its url chunks carry a null bloom."""
    tdir = str(tmp_path_factory.mktemp("lookup_table") / "t")
    spans = [(0, 1500), (1500, 3000), (3000, 4500)]
    for k, (lo, hi) in enumerate(spans):
        df = webgen.webpages_range_df(spark, lo, hi, partitions=2)
        table.append(spark, df, tdir, _cfg(() if k == 1 else ("url",)))
    return tdir, dict(table.snapshot_dirs(tdir)), _urls(0, 4500)


def _table_survivors(spark, sdirs, sids, vals):
    hashes = _hashes(spark, vals)
    out = set()
    for sid in sids:
        out |= _survivors(sdirs[sid], "url", min(vals), max(vals), hashes)
    return out


def test_table_key_eq_as_of_keeps_null_bloom_partitions(spark, lookup_table):
    tdir, sdirs, urls = lookup_table
    hit = urls[2000]  # lives in snapshot 2, which has no blooms
    want = _table_survivors(spark, sdirs, [1, 2], [hit])
    assert any(p.startswith(os.path.realpath(sdirs[2])) for p in want)
    df = decode_job.decode(spark, tdir, key_eq=("url", hit), as_of=2)
    assert _files(df) == want
    assert [r["url"] for r in df.collect()] == [hit]


def test_table_key_eq_since(spark, lookup_table):
    tdir, sdirs, urls = lookup_table
    hit = urls[4000]
    want = _table_survivors(spark, sdirs, [2, 3], [hit])
    df = decode_job.decode(spark, tdir, key_eq=("url", hit), since=1)
    assert _files(df) == want
    assert [r["url"] for r in df.collect()] == [hit]
    # a value from snapshot 1 is outside the window: no snapshot-1 file
    # is listed and no row comes back
    old = urls[10]
    df = decode_job.decode(spark, tdir, key_eq=("url", old), since=1)
    assert _files(df) == _table_survivors(spark, sdirs, [2, 3], [old])
    assert df.collect() == []


def test_table_key_in_as_of(spark, lookup_table):
    tdir, sdirs, urls = lookup_table
    vals = [urls[3], urls[1600], urls[4400]]  # the last is past as_of=2
    want = _table_survivors(spark, sdirs, [1, 2], vals)
    df = decode_job.decode(spark, tdir, key_in=("url", vals), as_of=2)
    assert _files(df) == want
    assert sorted(r["url"] for r in df.collect()) == sorted(vals[:2])


@pytest.mark.parametrize(
    "kwargs",
    [
        {"key_eq": ("nope", 1)},
        {"key_in": ("nope", [1, 2])},
        {"key_range": ("nope", 1, 2)},
        {"key_ranges": [("url", "a", "b"), ("nope", 1, 2)]},
        {"not_null": "nope"},
        {"is_null": ["nope"]},
    ],
    ids=["key_eq", "key_in", "key_range", "key_ranges", "not_null", "is_null"],
)
def test_unknown_predicate_column_fails_before_any_job(spark, snap, kwargs):
    sc = spark.sparkContext
    group = "p2s-unknown-predicate-column"
    sc.setJobGroup(group, "decode with an unknown predicate column")
    try:
        with pytest.raises(KeyError, match=r"not in snapshot schema: \['nope'\] \(have \["):
            decode_job.decode(spark, snap, **kwargs)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_table_lookup_lists_snapshots_once(spark, lookup_table, monkeypatch):
    """A manifest swap between the prune and the scan (a compaction
    commits one new snapshot id) must not turn a hit into a miss: both
    phases read the snapshot list resolved once."""
    tdir, sdirs, urls = lookup_table
    hit = urls[3300]
    real = decode_job._lookup_survivors

    def prune_then_swap(*args):
        out = real(*args)
        monkeypatch.setattr(table, "snapshot_dirs", lambda *a, **k: [])
        return out

    monkeypatch.setattr(decode_job, "_lookup_survivors", prune_then_swap)
    df = decode_job.decode(spark, tdir, key_eq=("url", hit), as_of=3)
    assert [r["url"] for r in df.collect()] == [hit]


def test_survivor_file_gone_between_phases_raises(spark, snap, urls, tmp_path, monkeypatch):
    """A surviving chunk file deleted after the prune raises instead of
    reading as zero rows."""
    import shutil

    d = str(tmp_path / "snap")
    shutil.copytree(snap, d)
    real = decode_job._lookup_survivors

    def prune_then_delete(*args):
        out = real(*args)
        for pid in out:
            os.remove(snapshot.chunk_path(d, pid))
        return out

    monkeypatch.setattr(decode_job, "_lookup_survivors", prune_then_delete)
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        decode_job.decode(spark, d, key_eq=("url", urls[1234])).collect()


def test_key_in_with_row_range_reads_the_intersection(spark, snap, urls):
    window = decode_job.decode(spark, snap, row_range=(600, 2100))
    inside = {r["url"] for r in window.collect()}
    vals = sorted(inside)[:2] + [u for u in urls if u not in inside][:2]
    df = decode_job.decode(spark, snap, row_range=(600, 2100), key_in=("url", vals))
    assert _files(df) <= _files(window)
    assert sorted(r["url"] for r in df.collect()) == sorted(vals[:2])
