"""Every predicate read is one pass that opens only the surviving chunk
files: ``decode(key_eq=…)`` / ``decode(key_in=…)`` read exactly the files
whose key chunk passes the zone map and the bloom probe, computed here
independently from the chunk parquet with pyarrow and the numpy bloom,
and counted by the decoder's ``parts_read`` accumulator."""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet2_spark.operators import decode_job, table
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


def _survivors(snap_dir: str, col: str, lo=None, hi=None, hashes=None, test=None) -> set[str]:
    """Files whose ``col`` chunk may hold a value in [lo, hi] (None = open
    side; str/bytes bounds against the binary zone map, ints against the
    numeric one) hashing to one of ``hashes`` and passing ``test(row)``:
    zone map first, then the bloom (null = keep)."""
    lo, hi = (v.encode() if isinstance(v, str) else v for v in (lo, hi))
    stat = "bin" if isinstance(lo, bytes) or isinstance(hi, bytes) else "num"
    out = set()
    for path, r in _key_rows(snap_dir, col):
        if lo is not None and r[f"max_{stat}"] is not None and r[f"max_{stat}"] < lo:
            continue
        if hi is not None and r[f"min_{stat}"] is not None and r[f"min_{stat}"] > hi:
            continue
        if hashes is not None and r["bloom"] is not None and not bloom.might_contain(r["bloom"], hashes).any():
            continue
        if test is not None and not test(r):
            continue
        out.add(path)
    return out


def _read(df) -> tuple[list, int]:
    """A decode frame's rows, and the chunk files its decoder opened."""
    rows = df.collect()
    return rows, df.p2s_decode_metrics["parts_read"].value


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
    rows, parts = _read(decode_job.decode(spark, snap, key_eq=("url", hit)))
    assert parts == len(want)
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
    assert _read(df) == ([], 0)
    assert df.schema == decode_job.decode(spark, snap).schema


def test_key_in_lists_only_survivors(spark, snap, urls):
    vals = [urls[5], urls[2100], urls[3999], "https://absent.example/x"]
    want = _survivors(snap, "url", min(vals), max(vals), _hashes(spark, vals))
    rows, parts = _read(decode_job.decode(spark, snap, key_in=("url", vals)))
    assert parts == len(want)
    assert sorted(r["url"] for r in rows) == sorted(vals[:3])


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
    rows, parts = _read(decode_job.decode(spark, tdir, key_eq=("url", hit), as_of=2))
    assert parts == len(want)
    assert [r["url"] for r in rows] == [hit]


def test_table_key_eq_since(spark, lookup_table):
    tdir, sdirs, urls = lookup_table
    hit = urls[4000]
    want = _table_survivors(spark, sdirs, [2, 3], [hit])
    rows, parts = _read(decode_job.decode(spark, tdir, key_eq=("url", hit), since=1))
    assert parts == len(want)
    assert [r["url"] for r in rows] == [hit]
    # a value from snapshot 1 is outside the window: no snapshot-1 file
    # is read and no row comes back
    old = urls[10]
    rows, parts = _read(decode_job.decode(spark, tdir, key_eq=("url", old), since=1))
    assert parts == len(_table_survivors(spark, sdirs, [2, 3], [old]))
    assert rows == []


def test_table_key_in_as_of(spark, lookup_table):
    tdir, sdirs, urls = lookup_table
    vals = [urls[3], urls[1600], urls[4400]]  # the last is past as_of=2
    want = _table_survivors(spark, sdirs, [1, 2], vals)
    rows, parts = _read(decode_job.decode(spark, tdir, key_in=("url", vals), as_of=2))
    assert parts == len(want)
    assert sorted(r["url"] for r in rows) == sorted(vals[:2])


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
    """A manifest swap while decode() builds its read (a compaction
    commits one new snapshot id) must not turn a hit into a miss: the
    integrity check, the lineage and the scan share the snapshot list
    resolved once."""
    tdir, sdirs, urls = lookup_table
    hit = urls[3300]
    real = decode_job.check_integrity

    def check_then_swap(*args, **kwargs):
        listing = real(*args, **kwargs)
        monkeypatch.setattr(table, "snapshot_dirs", lambda *a, **k: [])
        monkeypatch.setattr(table, "read_manifest", lambda *a, **k: {"snapshots": []})
        return listing

    monkeypatch.setattr(decode_job, "check_integrity", check_then_swap)
    df = decode_job.decode(spark, tdir, key_eq=("url", hit), as_of=3)
    assert [r["url"] for r in df.collect()] == [hit]


@pytest.mark.parametrize(
    "window", [{"as_of": 3}, {"as_of": 2, "since": 1}, {"since": 3}],
    ids=["as_of", "since", "empty_since"],
)
def test_decode_reads_the_manifest_once(spark, lookup_table, monkeypatch, window):
    tdir, sdirs, urls = lookup_table
    calls = []
    real = table.read_manifest

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(table, "read_manifest", counted)
    df = decode_job.decode(spark, tdir, key_eq=("url", urls[1600]), **window)
    assert len(calls) == 1
    want = [] if window.get("since") == 3 else [urls[1600]]
    assert [r["url"] for r in df.collect()] == want
    assert len(calls) == 1


def test_survivor_file_gone_between_phases_raises(spark, snap, urls, tmp_path):
    """A surviving chunk file deleted after decode() returns its frame
    raises at collect instead of reading as zero rows."""
    import shutil

    d = str(tmp_path / "snap")
    shutil.copytree(snap, d)
    hit = urls[1234]
    df = decode_job.decode(spark, d, key_eq=("url", hit))
    gone = _survivors(d, "url", hit, hit, _hashes(spark, [hit]))
    assert gone
    for path in gone:
        os.remove(path)
    with pytest.raises(Exception, match="PATH_NOT_FOUND|FILE_NOT_EXIST|does not exist"):
        df.collect()


def test_key_in_with_row_range_reads_the_intersection(spark, snap, urls):
    rows, window_parts = _read(decode_job.decode(spark, snap, row_range=(600, 2100)))
    inside = {r["url"] for r in rows}
    vals = sorted(inside)[:2] + [u for u in urls if u not in inside][:2]
    df = decode_job.decode(spark, snap, row_range=(600, 2100), key_in=("url", vals))
    rows, parts = _read(df)
    assert 1 <= parts <= window_parts
    assert sorted(r["url"] for r in rows) == sorted(vals[:2])


# Range and null predicates read in the same one pass: the exact file
# count on snapshots laid out by range, where zone maps rule partitions out.

LAID = 4096


def _micros(ts) -> int:
    return int(np.datetime64(ts, "us").astype(np.int64))


@pytest.fixture(scope="module")
def src():
    """The laid-out snapshots' rows, sorted by url; ``opt`` is null on
    the lower part of the url space."""
    pdf = webgen.generate_pandas(np.arange(LAID, dtype=np.uint64)).sort_values("url")
    cut = pdf["url"].iloc[1500]
    pdf["opt"] = pdf["lang"].where(pdf["url"] >= cut, None)
    return pdf.reset_index(drop=True), cut


def _laid_out(spark, d: str, col: str, cut: str) -> str:
    df = webgen.webpages_df(spark, LAID, partitions=4).withColumn(
        "opt", F.when(F.col("url") >= F.lit(cut), F.col("lang"))
    )
    encode(spark, df.repartitionByRange(16, col), d,
           EncodeConfig(shuffle=False, page_rows=256, bloom_columns=("url",)))
    return d


@pytest.fixture(scope="module")
def url_snap(spark, tmp_path_factory, src):
    return _laid_out(spark, str(tmp_path_factory.mktemp("url_laid")), "url", src[1])


@pytest.fixture(scope="module")
def ts_snap(spark, tmp_path_factory, src):
    return _laid_out(spark, str(tmp_path_factory.mktemp("ts_laid")), "warc_ts", src[1])


def _all_files(snap_dir: str) -> set[str]:
    return _survivors(snap_dir, "url")


@pytest.mark.parametrize("as_bytes", [False, True], ids=["str", "bytes"])
def test_key_range_url_lists_only_survivors(spark, url_snap, src, as_bytes):
    urls = src[0]["url"].tolist()
    lo, hi = urls[1000], urls[1015]
    want = _survivors(url_snap, "url", lo, hi)
    assert want and len(want) < len(_all_files(url_snap))
    if as_bytes:
        lo, hi = lo.encode(), hi.encode()
    rows, parts = _read(decode_job.decode(spark, url_snap, key_range=("url", lo, hi)))
    assert parts == len(want)
    assert sorted(r["url"] for r in rows) == urls[1000:1016]


@pytest.mark.parametrize("as_int", [False, True], ids=["datetime", "int_micros"])
def test_key_range_ts_lists_only_survivors(spark, ts_snap, src, as_int):
    ts = np.sort(src[0]["warc_ts"].to_numpy().astype("datetime64[us]"))
    t_lo, t_hi = _micros(ts[2000]), _micros(ts[2300])
    want = _survivors(ts_snap, "warc_ts", t_lo, t_hi)
    assert want and len(want) < len(_all_files(ts_snap))
    lo, hi = (t_lo, t_hi) if as_int else (ts[2000].item(), ts[2300].item())
    rows, parts = _read(decode_job.decode(spark, ts_snap, key_range=("warc_ts", lo, hi)))
    assert parts == len(want)
    assert len(rows) == ((ts >= ts[2000]) & (ts <= ts[2300])).sum()


def test_key_ranges_list_the_intersection(spark, url_snap, src):
    pdf = src[0]
    urls = pdf["url"].tolist()
    t_lo = _micros(np.sort(pdf["warc_ts"].to_numpy())[2000])
    ranges = [("url", urls[500], urls[2500]), ("warc_ts", t_lo, None)]
    want = _survivors(url_snap, "url", urls[500], urls[2500]) & _survivors(url_snap, "warc_ts", t_lo)
    rows, parts = _read(decode_job.decode(spark, url_snap, key_ranges=ranges))
    assert parts == len(want)
    sel = pdf.iloc[500:2501]
    assert sorted(r["url"] for r in rows) == sorted(
        sel["url"][sel["warc_ts"].to_numpy().astype("datetime64[us]").astype(np.int64) >= t_lo]
    )


def test_not_null_lists_only_partitions_with_values(spark, url_snap, src):
    want = _survivors(url_snap, "opt", test=lambda r: r["null_count"] < r["n_rows"])
    assert want and len(want) < len(_all_files(url_snap))
    rows, parts = _read(decode_job.decode(spark, url_snap, columns=["url"], not_null="opt"))
    assert parts == len(want)
    assert sorted(r["url"] for r in rows) == src[0]["url"].tolist()[1500:]


def test_is_null_drops_only_null_free_partitions(spark, url_snap, src):
    want = _all_files(url_snap) - _survivors(url_snap, "opt", test=lambda r: r["null_count"] == 0)
    assert want and len(want) < len(_all_files(url_snap))
    rows, parts = _read(decode_job.decode(spark, url_snap, columns=["url", "opt"], is_null="opt"))
    assert parts == len(want)
    assert sorted(r["url"] for r in rows) == src[0]["url"].tolist()[:1500]
    assert all(r["opt"] is None for r in rows)


def test_table_key_range_as_of_and_since(spark, lookup_table):
    tdir, sdirs, urls = lookup_table
    ts = webgen.generate_pandas(np.arange(0, 4500, dtype=np.uint64))["warc_ts"].to_numpy()
    ts = ts.astype("datetime64[us]").astype(np.int64)
    t_lo, t_hi = int(ts[1600]), int(ts[1700])  # inside snapshot 2
    for kw, sids in (({"as_of": 2}, [1, 2]), ({"since": 1}, [2, 3])):
        window = set().union(*(_survivors(sdirs[sid], "url") for sid in sids))
        want = set().union(*(_survivors(sdirs[sid], "warc_ts", t_lo, t_hi) for sid in sids))
        assert want and want < window
        rows, parts = _read(decode_job.decode(spark, tdir, key_range=("warc_ts", t_lo, t_hi), **kw))
        assert parts == len(want)
        lo_id = 0 if "as_of" in kw else 1500
        exp = [u for u, t in zip(urls[lo_id:lo_id + 3000], ts[lo_id:lo_id + 3000]) if t_lo <= t <= t_hi]
        assert sorted(r["url"] for r in rows) == sorted(exp)


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """Snapshot 1 predates column ``extra``; snapshot 2 adds it with
    nulls, snapshot 3 without any."""
    tdir = str(tmp_path_factory.mktemp("evolved") / "t")
    frames = [
        webgen.webpages_range_df(spark, 0, 1000, partitions=2),
        webgen.webpages_range_df(spark, 1000, 2000, partitions=2).withColumn(
            "extra", F.when(F.length("url") % 2 == 1, F.length("url"))
        ),
        webgen.webpages_range_df(spark, 2000, 3000, partitions=2).withColumn(
            "extra", F.length("url")
        ),
    ]
    for df in frames:
        table.append(spark, df, tdir, _cfg(()))
    src = frames[0].withColumn("extra", F.lit(None).cast("int"))
    src = src.unionByName(frames[1]).unionByName(frames[2])
    return tdir, dict(table.snapshot_dirs(tdir)), src.select("url", "extra").collect()


def test_evolved_is_null_keeps_partitions_older_than_the_column(spark, evolved):
    tdir, sdirs, src = evolved
    old = _survivors(sdirs[1], "url")
    want = old | _survivors(sdirs[2], "extra", test=lambda r: r["null_count"] != 0)
    assert not want & _survivors(sdirs[3], "url")  # snapshot 3 is null-free
    rows, parts = _read(decode_job.decode(spark, tdir, columns=["url", "extra"], is_null="extra"))
    assert parts == len(want)
    assert sorted(r["url"] for r in rows) == sorted(r["url"] for r in src if r["extra"] is None)
    assert {r["url"] for r in rows} >= set(_urls(0, 1000))


@pytest.mark.parametrize("pred", ["not_null", "key_range"])
def test_evolved_positive_predicates_drop_older_partitions(spark, evolved, pred):
    tdir, sdirs, src = evolved
    if pred == "not_null":
        kw = {"not_null": "extra"}
        test, keep = (lambda r: r["null_count"] < r["n_rows"]), (lambda v: v is not None)
        want = set().union(*(_survivors(sdirs[s], "extra", test=test) for s in (2, 3)))
    else:
        kw = {"key_range": ("extra", 0, 50)}
        keep = lambda v: v is not None and v <= 50  # noqa: E731
        want = set().union(*(_survivors(sdirs[s], "extra", 0, 50) for s in (2, 3)))
    rows, parts = _read(decode_job.decode(spark, tdir, columns=["url", "extra"], **kw))
    assert parts == len(want)
    assert not want & _survivors(sdirs[1], "url")
    assert sorted(r["url"] for r in rows) == sorted(r["url"] for r in src if keep(r["extra"]))


def _read_kwargs(src, kind: str) -> dict:
    urls = src[0]["url"].tolist()
    return {
        "full": {},
        "key_eq": {"key_eq": ("url", urls[7])},
        "key_in": {"key_in": ("url", urls[5:8])},
        "key_range": {"key_range": ("url", urls[1000], urls[1015])},
        "key_ranges": {"key_ranges": [("url", urls[1000], urls[2000]), ("opt", "a", None)]},
        "not_null": {"not_null": "opt"},
        "is_null": {"is_null": "opt"},
        "row_range": {"row_range": (100, 300)},
    }[kind]


@pytest.mark.parametrize("kind", ["key_range", "key_ranges", "not_null", "is_null"])
def test_range_and_null_decode_plans_have_no_join(spark, url_snap, src, kind):
    assert "Join" not in _explain(decode_job.decode(spark, url_snap, **_read_kwargs(src, kind)))


# Spark jobs started by decode(...) plus collect(), per predicate kind:
# the one decode action (chunk reads are typed, so no schema-inference
# job, and probe hashes are computed in Python, so no hash job);
# row_range adds the jobs of its prefix-sum pass
JOBS_PER_READ = {
    "full": 1, "key_eq": 1, "key_in": 1, "key_range": 1, "key_ranges": 1,
    "not_null": 1, "is_null": 1, "row_range": 5,
}


def _marker_job(spark, name: str) -> int:
    """Id of a one-task job run in a job group of its own."""
    sc = spark.sparkContext
    group = f"p2s-jobs-marker-{name}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, name)
    try:
        sc.parallelize([0], 1).count()
        (job_id,) = sc.statusTracker().getJobIdsForGroup(group)
        return job_id
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs(spark, name: str, fn) -> int:
    """Spark jobs started while ``fn()`` runs, on any thread: the gap
    between the ids of two marker jobs that bracket the call (a job
    group would miss the jobs of threads the call starts itself)."""
    before = _marker_job(spark, f"{name}-before")
    fn()
    return _marker_job(spark, f"{name}-after") - before - 1


@pytest.mark.parametrize("kind", sorted(JOBS_PER_READ))
def test_jobs_per_read(spark, url_snap, src, kind):
    kw = _read_kwargs(src, kind)
    n = _jobs(spark, f"read-{kind}", lambda: decode_job.decode(spark, url_snap, **kw).collect())
    assert n == JOBS_PER_READ[kind]


def test_jobs_per_write(spark, tmp_path):
    """An encode is one planning query (the hot-host counts, with the row
    count observed on the same scan) and one action (a discard sink: the
    tasks write their own ``_metrics``); under AQE each query is a map
    stage job plus a result job. ``table.append`` adds no job."""
    df = webgen.webpages_df(spark, N, partitions=4)
    got = {
        "encode": _jobs(spark, "encode", lambda: encode(spark, df, str(tmp_path / "snap"), _cfg())),
        "append": _jobs(spark, "append", lambda: table.append(spark, df, str(tmp_path / "t"), _cfg())),
    }
    assert got == {"encode": 4, "append": 4}


def test_metadata_reads_start_no_inference_jobs(spark, lookup_table):
    """stats(), quantiles(), a row_range read and the compaction plan
    over a 3-snapshot table read the chunk files' metadata through
    ``chunks_frame``, typed: no job per snapshot for schema inference
    (untyped reads started 9, 4 and 17 jobs here). The plan reads one
    frame over all its snapshots, so it runs as many jobs over 1
    snapshot as over 3; a union of per-snapshot parquet scans ran 2
    jobs plus 4 per snapshot. No count is above that of the parquet
    scans the frame replaced (``SCANS``)."""
    from parquet2_spark.operators import merge_compact

    SCANS = {"stats": 6, "quantiles": 1, "row_range": 5, "plan1": 6, "plan2": 10, "plan3": 14}
    tdir, sdirs, urls = lookup_table
    snaps = sorted(sdirs.items())
    bounds = [urls[1000].encode(), urls[3000].encode()]
    got = {
        "stats": _jobs(spark, "stats", lambda: decode_job.stats(spark, tdir).collect()),
        "quantiles": _jobs(
            spark, "quantiles", lambda: decode_job.quantiles(spark, tdir, "warc_ts", [0.5])
        ),
        "row_range": _jobs(
            spark, "row_range",
            lambda: decode_job.decode(spark, sdirs[1], row_range=(100, 300)).collect(),
        ),
        **{
            f"plan{n}": _jobs(
                spark, f"plan{n}",
                lambda n=n: merge_compact.plan(spark, snaps[:n], "url", bounds).collect(),
            )
            for n in (1, 2, 3)
        },
    }
    assert got == {"stats": 6, "quantiles": 1, "row_range": 5, "plan1": 6, "plan2": 6, "plan3": 6}
    assert got["plan1"] == got["plan3"]
    assert all(got[k] <= SCANS[k] for k in SCANS)


def _executions(spark) -> list:
    """Executed SQL queries (works with the UI disabled)."""
    xs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [xs.apply(i) for i in range(xs.size())]


def _decode_scans(spark, snap_dir: str, kw: dict) -> list[str]:
    """The ReadSchema of every file scan in the queries a read runs."""
    before = {e.executionId() for e in _executions(spark)}
    decode_job.decode(spark, snap_dir, **kw).collect()
    plans = [e.physicalPlanDescription() for e in _executions(spark)
             if e.executionId() not in before]
    assert plans
    return [m for p in plans for m in re.findall(r"ReadSchema: [^\n]*", p)]


@pytest.mark.parametrize("kind", sorted(JOBS_PER_READ))
def test_no_decode_query_reads_payload(spark, url_snap, src, kind):
    """The JVM reads no chunk file: no decode query holds a file scan,
    row_range's prefix sums included (they read the row counts through
    ``chunks_frame``). The decoder reads every chunk file itself."""
    assert _decode_scans(spark, url_snap, _read_kwargs(src, kind)) == []


def _part_rows(snap_dir: str) -> list[tuple[str, int]]:
    """(chunk file, rows) per partition, in part id order."""
    return [(path, r["n_rows"]) for path, r in _key_rows(snap_dir, "url")]


def _read_survivors(spark, snap_dir: str, src, kind: str) -> set[str]:
    """The chunk files a read of ``kind`` must open, recomputed here."""
    urls = src[0]["url"].tolist()
    if kind == "full":
        return _all_files(snap_dir)
    if kind == "key_eq":
        return _survivors(snap_dir, "url", urls[7], urls[7], _hashes(spark, [urls[7]]))
    if kind == "key_in":
        vals = urls[5:8]
        return _survivors(snap_dir, "url", min(vals), max(vals), _hashes(spark, vals))
    if kind == "key_range":
        return _survivors(snap_dir, "url", urls[1000], urls[1015])
    if kind == "key_ranges":
        return _survivors(snap_dir, "url", urls[1000], urls[2000]) & _survivors(snap_dir, "opt", "a")
    if kind == "not_null":
        return _survivors(snap_dir, "opt", test=lambda r: r["null_count"] < r["n_rows"])
    if kind == "is_null":
        return _all_files(snap_dir) - _survivors(snap_dir, "opt", test=lambda r: r["null_count"] == 0)
    base, out = 0, set()  # row_range (100, 300)
    for path, n in _part_rows(snap_dir):
        if base < 300 and base + n > 100:
            out.add(path)
        base += n
    return out


@pytest.mark.parametrize("kind", sorted(JOBS_PER_READ))
def test_pruned_payloads_are_never_read(spark, url_snap, src, kind, tmp_path):
    """Every chunk file a read prunes gets a garbage payload (its
    metadata rows intact): decoding one would raise, yet every predicate
    kind returns the rows of the intact snapshot and opens exactly the
    survivors."""
    import shutil

    d = str(tmp_path / "snap")
    shutil.copytree(url_snap, d)
    keep = _read_survivors(spark, d, src, kind)
    pruned = _all_files(d) - keep
    assert keep and (pruned or kind == "full")
    for path in pruned:
        t = pq.read_table(path)
        junk = pa.array([b"\x00garbage"] * t.num_rows, pa.binary())
        t = t.set_column(t.schema.get_field_index("payload"), "payload", junk)
        pq.write_table(t, path, compression="none")
    kw = _read_kwargs(src, kind)
    want = sorted(map(tuple, decode_job.decode(spark, url_snap, **kw).collect()))
    rows, parts = _read(decode_job.decode(spark, d, **kw))
    assert want and sorted(map(tuple, rows)) == want
    assert parts == len(keep)


def test_key_eq_compiles_no_code_after_warm_up(spark, url_snap, src):
    """The read plan does not depend on the probed value: after one
    warm-up lookup, lookups of five other values compile no new code."""
    urls = src[0]["url"].tolist()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    assert len(decode_job.decode(spark, url_snap, key_eq=("url", urls[3])).collect()) == 1
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    for u in urls[500:3000:500]:
        assert [r["url"] for r in decode_job.decode(spark, url_snap, key_eq=("url", u)).collect()] == [u]
    assert codegen.METRIC_COMPILATION_TIME().getCount() == before



@pytest.mark.parametrize("kind", ["full", "key_eq", "key_range"])
def test_decoder_reads_through_the_given_filesystem(spark, url_snap, src, kind, tmp_path):
    """A ``filesystem=`` object travels to the executors, and the decoder
    opens the survivors' chunk files through it. The snapshot exists only
    under that filesystem, at a path that names nothing outside it."""
    import shutil

    from pyarrow import fs as pafs

    base = str(tmp_path / "fs_view")
    shutil.copytree(url_snap, os.path.join(base, "snap"))
    fs = pafs.SubTreeFileSystem(base, pafs.LocalFileSystem())
    kw = _read_kwargs(src, kind)
    want = sorted(map(tuple, decode_job.decode(spark, url_snap, **kw).collect()))
    rows, parts = _read(decode_job.decode(spark, "snap", filesystem=fs, **kw))
    assert want and sorted(map(tuple, rows)) == want
    assert parts == len(_read_survivors(spark, url_snap, src, kind))


def test_scheme_pyarrow_cannot_open_fails_at_decode(spark):
    """A Hadoop-only URI fails when decode() is called, on the driver,
    with a message naming ``filesystem=``; no job starts."""
    sc = spark.sparkContext
    sc.setJobGroup("p2s-s3a", "s3a")
    try:
        with pytest.raises(ValueError, match="filesystem="):
            decode_job.decode(spark, "s3a://bucket/snap")
        assert len(sc.statusTracker().getJobIdsForGroup("p2s-s3a")) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_integrity_check_lists_each_dir_once(spark, snap, urls, tmp_path, monkeypatch):
    """The integrity check is the markers minus the listed chunk files: a
    decode stats no chunk file or marker on its own, the listing it
    returns is what the decoder reads, and a torn snapshot still raises."""
    import shutil

    from parquet2_spark import fsio

    calls = []
    real = fsio.exists

    def counted(fs, path):
        calls.append(path)
        return real(fs, path)

    monkeypatch.setattr(fsio, "exists", counted)
    ((sid, sdir, ids, sizes),) = decode_job.check_integrity(snap)
    files = sorted(os.listdir(os.path.join(snap, "chunks")))
    assert (sid, sdir) == (None, snap)
    assert [f"part-{p:06d}.parquet" for p in ids.tolist()] == files
    assert sizes.tolist() == [os.path.getsize(os.path.join(snap, "chunks", f)) for f in files]
    assert [r["url"] for r in decode_job.decode(spark, snap, key_eq=("url", urls[9])).collect()] == [urls[9]]
    assert all(p.endswith(table.MANIFEST) for p in calls)

    d = str(tmp_path / "snap")
    shutil.copytree(snap, d)
    os.remove(os.path.join(d, "chunks", files[2]))
    with pytest.raises(FileNotFoundError, match=r"is torn: committed partitions missing data files: \[2\]"):
        decode_job.decode(spark, d)


def _logging_fs(log: str):
    """A local filesystem that appends one line to ``log`` per file it
    opens for random access and one per read of such a file. The
    decoder's tasks run in other processes, so the log is a file."""
    import io

    from pyarrow import fs as pafs

    def note(line: str) -> None:
        with open(log, "a") as f:
            f.write(line + "\n")

    class LoggedFile(io.FileIO):
        def read(self, n=-1):
            at = self.tell()
            b = super().read(n)
            note(f"read\t{self.name}\t{at}\t{len(b)}")
            return b

    class Handler(pafs.FileSystemHandler):
        def __init__(self):
            self.local = pafs.LocalFileSystem()

        def equals(self, other):
            return isinstance(other, Handler)

        def get_type_name(self):
            return "logging"

        def normalize_path(self, path):
            return path

        def get_file_info(self, paths):
            return self.local.get_file_info(paths)

        def get_file_info_selector(self, selector):
            return self.local.get_file_info(selector)

        def open_input_file(self, path):
            note(f"open\t{path}")
            return pa.PythonFile(LoggedFile(path, "r"), mode="r")

        def open_input_stream(self, path):
            return self.local.open_input_stream(path)

        def create_dir(self, path, recursive):
            self.local.create_dir(path, recursive=recursive)

        def delete_dir(self, path):
            self.local.delete_dir(path)

        def delete_dir_contents(self, path, missing_dir_ok=False):
            self.local.delete_dir_contents(path, missing_dir_ok=missing_dir_ok)

        def delete_root_dir_contents(self):
            raise NotImplementedError

        def delete_file(self, path):
            self.local.delete_file(path)

        def move(self, src, dest):
            self.local.move(src, dest)

        def copy_file(self, src, dest):
            self.local.copy_file(src, dest)

        def open_output_stream(self, path, metadata):
            return self.local.open_output_stream(path, metadata=metadata)

        def open_append_stream(self, path, metadata):
            return self.local.open_append_stream(path, metadata=metadata)

    return pafs.PyFileSystem(Handler())


def _payload_span(path: str) -> tuple[int, int]:
    """Byte range of a chunk file's ``payload`` column chunk."""
    rg = pq.ParquetFile(path).metadata.row_group(0)
    (col,) = [rg.column(j) for j in range(rg.num_columns) if rg.column(j).path_in_schema == "payload"]
    start = col.dictionary_page_offset if col.has_dictionary_page else col.data_page_offset
    return start, start + col.total_compressed_size


@pytest.mark.parametrize("kind", ["full", "key_eq"])
def test_each_chunk_file_is_opened_once(spark, url_snap, src, kind, tmp_path):
    """The decoder opens every listed chunk file exactly once, and reads
    the payload of the survivors only. The footer read (the one that
    ends at the end of the file) is not a payload read."""
    log = str(tmp_path / "io.log")
    df = decode_job.decode(spark, url_snap, filesystem=_logging_fs(log), **_read_kwargs(src, kind))
    rows, parts = _read(df)
    want = sorted(map(tuple, decode_job.decode(spark, url_snap, **_read_kwargs(src, kind)).collect()))
    assert want and sorted(map(tuple, rows)) == want
    lines = [ln.split("\t") for ln in open(log).read().splitlines()]
    opened = [os.path.realpath(p) for op, p, *_ in lines if op == "open"]
    files = _all_files(url_snap)
    assert sorted(opened) == sorted(files)
    payload_read = set()
    for op, p, *at in lines:
        p = os.path.realpath(p)
        if op != "read" or p not in files:
            continue
        lo, hi = _payload_span(p)
        off, n = int(at[0]), int(at[1])
        if off < hi and off + n > lo and off + n < os.path.getsize(p):
            payload_read.add(p)
    assert payload_read == _read_survivors(spark, url_snap, src, kind)
    assert parts == len(payload_read)


def test_metadata_frame_never_reads_payload(spark, url_snap, lookup_table, tmp_path):
    """The metadata queries read the chunk files through ``chunks_frame``
    and a filesystem that logs every open and read: each opens every
    listed chunk file, and none reads a byte of a ``payload`` column
    chunk. The footer read (the one that ends at the end of the file) is
    not a payload read."""
    from parquet2_spark.operators import merge_compact

    tdir, sdirs, urls = lookup_table
    calls = {
        "chunks_df": lambda fs: decode_job.chunks_df(spark, url_snap, filesystem=fs).collect(),
        "stats": lambda fs: decode_job.stats(spark, url_snap, filesystem=fs).collect(),
        "quantiles": lambda fs: decode_job.quantiles(spark, url_snap, "warc_ts", [0.5], filesystem=fs),
        "row_counts": lambda fs: decode_job.chunks_frame(
            spark, decode_job.check_integrity(url_snap, filesystem=fs), ["column", "n_rows"], fs
        ).collect(),
        "plan": lambda fs: merge_compact.plan(
            spark, sorted(sdirs.items()), "url", [urls[1000].encode()], filesystem=fs
        ).collect(),
    }
    table_files = set().union(*(_all_files(d) for d in sdirs.values()))
    for name, call in calls.items():
        log = str(tmp_path / f"{name}.log")
        call(_logging_fs(log))
        lines = [ln.split("\t") for ln in open(log).read().splitlines()]
        opened = {os.path.realpath(p) for op, p, *_ in lines if op == "open"}
        assert opened == (table_files if name == "plan" else _all_files(url_snap)), name
        payload_read = []
        for op, p, *at in lines:
            if op != "read" or not p.endswith(".parquet"):
                continue
            p = os.path.realpath(p)
            lo, hi = _payload_span(p)
            off, n = int(at[0]), int(at[1])
            if off < hi and off + n > lo and off + n < os.path.getsize(p):
                payload_read.append((p, off, n))
        assert payload_read == [], name


@pytest.mark.parametrize("kind", ["full", "key_eq", "row_range"])
def test_decode_tasks_follow_the_file_split_rule(spark, url_snap, src, kind):
    """A read has as many tasks as Spark's parquet scan of the chunk files
    it lists: all 16 files here (4 tasks), or a row range's files."""
    listed = _read_survivors(spark, url_snap, src, kind) if kind == "row_range" else _all_files(url_snap)
    scan = spark.read.parquet(*sorted(listed)).rdd.getNumPartitions()
    tasks = decode_job.decode(spark, url_snap, **_read_kwargs(src, kind)).rdd.getNumPartitions()
    assert tasks == scan
    assert scan == (4 if kind != "row_range" else len(listed))
