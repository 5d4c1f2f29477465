"""Split-block bloom filter unit tests (reference src/bloom_filter parity)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet2_spark.operators import decode_job
from parquet2_spark.operators.encode_job import EncodeConfig, encode
from parquet2_spark.plans import bloom

RNG = np.random.default_rng(11)


def test_no_false_negatives():
    keys = RNG.integers(0, 1 << 63, size=5000).astype(np.uint64)
    bits = bloom.build(keys, fpp=0.01)
    assert bloom.might_contain(bits, keys).all()


def test_false_positive_rate_reasonable():
    keys = RNG.integers(0, 1 << 62, size=10000).astype(np.uint64)
    other = RNG.integers(1 << 62, 1 << 63, size=10000).astype(np.uint64)
    bits = bloom.build(keys, fpp=0.01)
    fp = bloom.might_contain(bits, other).mean()
    assert fp < 0.05, fp


def test_definitely_absent_is_definite():
    keys = np.array([1, 2, 3], dtype=np.uint64)
    bits = bloom.build(keys, n_blocks=4)
    probe = np.arange(1000, dtype=np.uint64)
    got = bloom.might_contain(bits, probe)
    assert got[1] and got[2] and got[3]


def test_sizing_monotone():
    assert bloom.optimal_num_blocks(100) <= bloom.optimal_num_blocks(100_000)
    assert bloom.optimal_num_blocks(0) == 1


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(
        st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=1, max_size=400),
        st.integers(min_value=1, max_value=64),
    )
    @settings(max_examples=200, deadline=None)
    def test_property_never_false_negative(keys, n_blocks):
        h = np.array(keys, dtype=np.uint64)
        bits = bloom.build(h, n_blocks=n_blocks)
        assert bloom.might_contain(bits, h).all()

except ImportError:  # pragma: no cover
    pass


def test_bloom_build_tree_merge_matches_flat(spark):
    from parquet2_spark.operators.stats_query import bloom_build, bloom_probe

    df = spark.range(5000).select(F.concat(F.lit("k"), F.col("id")).alias("key")).repartition(20)
    flat = bloom_build(df, "key", n_blocks=64, fanin=1000)   # driver merge only
    tree = bloom_build(df, "key", n_blocks=64, fanin=4)      # executor OR level
    assert flat == tree
    probes = spark.createDataFrame([("k17",), ("absent-key",)], "key string")
    got = {r["key"]: r["might_contain"] for r in bloom_probe(spark, probes, "key", tree).collect()}
    assert got["k17"] is True


# (ddl, encode-side values, probe values): a probe value means what the
# engine's lookups take it to mean — naive datetimes are UTC instants,
# and the encode side holds those instants as tz-aware values
_UTC = dt.timezone.utc
PROBE_TYPES = [
    ("string", ["a", "", "ünïcödé"], None),
    ("binary", [b"\x00\xff", b"", b"abc"], None),
    ("int", [0, -5, 2**31 - 1], None),
    ("bigint", [0, -1, 2**62], None),
    ("double", [0.0, -0.0, float("nan"), 1.5, -2.25e300], None),
    ("decimal(12,2)", [Decimal("1.50"), Decimal("-3.25"), Decimal("9999999999.99")], None),
    ("boolean", [True, False], None),
    ("date", [dt.date(2020, 1, 1), dt.date(1969, 12, 31)], None),
    (
        "timestamp",
        [dt.datetime(2020, 3, 8, 7, 30, tzinfo=_UTC), dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=_UTC)],
        [dt.datetime(2020, 3, 8, 7, 30), dt.datetime(1969, 12, 31, 23, 59, 59, 999999)],
    ),
    ("timestamp_ntz", [dt.datetime(2020, 3, 8, 2, 30), dt.datetime(1999, 1, 1, 0, 0, 0, 1)], None),
]


@pytest.fixture
def new_york(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield
    spark.conf.set("spark.sql.session.timeZone", prev)


def _u64(xs) -> list[int]:
    return np.array(list(xs), dtype=np.int64).view(np.uint64).tolist()


@pytest.mark.parametrize("ddl,stored,probe", PROBE_TYPES, ids=[t[0] for t in PROBE_TYPES])
def test_probe_hash_matches_stored_hash(spark, new_york, ddl, stored, probe):
    """decode's probe hashes (key_eq: a typed literal, key_in: the typed
    probe frame, both over local relations) equal the encode-side
    ``F.xxhash64`` of the column holding the same values, and hashing
    starts no Spark job."""
    probe = stored if probe is None else probe
    col = spark.createDataFrame([(v,) for v in stored], f"x {ddl}")
    want = _u64(r[0] for r in col.select(F.xxhash64("x")).collect())
    sc = spark.sparkContext
    group = f"p2s-probe-hash-{ddl}"
    sc.setJobGroup(group, "probe hashes")
    try:
        one = decode_job._local(spark, [0], "int")
        eq = [int(decode_job._hashes(one, decode_job._typed_lit(v, ddl))[0]) for v in probe]
        frame = decode_job._probe_frame(spark, probe, ddl)
        inn = decode_job._hashes(frame, F.col("__p2s_probe")).tolist()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert eq == want
    assert inn == want


def test_lookups_find_rows_of_every_probe_type(spark, new_york, tmp_path):
    """key_eq and key_in on a bloom column of each type find their rows."""
    n = 40
    ddl = ", ".join(f"`c{i}` {t[0]}" for i, t in enumerate(PROBE_TYPES))
    vals = [[t[1][r % len(t[1])] for t in PROBE_TYPES] for r in range(n)]
    rows = [tuple([r] + v) for r, v in enumerate(vals)]
    df = spark.createDataFrame(rows, f"id bigint, {ddl}")
    cols = tuple(f"c{i}" for i in range(len(PROBE_TYPES)))
    snap = str(tmp_path / "snap")
    encode(spark, df, snap, EncodeConfig(shuffle=False, sort_by=None, page_rows=8, bloom_columns=cols))
    for i, (ddl_i, stored, probe) in enumerate(PROBE_TYPES):
        probe = stored if probe is None else probe
        ks = [0, len(stored) - 1]
        for k in ks:
            got = sorted(r["id"] for r in decode_job.decode(
                spark, snap, columns=["id"], key_eq=(f"c{i}", probe[k])).collect())
            assert got == [r for r in range(n) if vals[r][i] == stored[k]], (ddl_i, k)
        got = sorted(r["id"] for r in decode_job.decode(
            spark, snap, columns=["id"], key_in=(f"c{i}", [probe[k] for k in ks])).collect())
        assert got == [r for r in range(n) if any(vals[r][i] == stored[k] for k in ks)], ddl_i
