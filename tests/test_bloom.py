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


def _stored_hashes(spark, vals, ddl) -> list[int]:
    """The encode side's ``F.xxhash64`` of a column of ``ddl`` holding ``vals``."""
    col = spark.createDataFrame([(v,) for v in vals], f"x {ddl}")
    return _u64(r[0] for r in col.select(F.xxhash64("x")).collect())


@pytest.mark.parametrize("ddl,stored,probe", PROBE_TYPES, ids=[t[0] for t in PROBE_TYPES])
def test_probe_hash_matches_stored_hash(spark, new_york, ddl, stored, probe):
    """``bloom.probe_hashes`` of the probe values, one at a time (as key_eq
    hashes) and as one list (as key_in does), equals the encode-side
    ``F.xxhash64`` of the column holding the same values."""
    probe = stored if probe is None else probe
    want = _stored_hashes(spark, stored, ddl)
    assert [int(bloom.probe_hashes([v], ddl)[0]) for v in probe] == want
    assert bloom.probe_hashes(probe, ddl).tolist() == want


def _text(n: int, seed: int) -> str:
    """``n`` characters mixing 1- to 4-byte UTF-8 sequences."""
    rng = np.random.default_rng(seed)
    return "".join(rng.choice(list("az09/._-äéñ€中😀"), n).tolist())


EDGE_VALUES = [
    # lengths 0-100 walk the 32-byte stripe loop and the 8-, 4- and
    # 1-byte tails; the non-ASCII characters make byte length differ
    # from the character count
    ("string", ["a" * n for n in range(101)] + [_text(n, n) for n in range(101)]),
    ("binary", [bytes(range(n % 256)) * (1 + n // 256) for n in range(101)]),
    ("int", [0, 1, -1, 2**31 - 1, -(2**31), 65536]),
    ("bigint", [0, 1, -1, 2**63 - 1, -(2**63), 2**32, -(2**32) - 1]),
    ("double", [0.0, -0.0, float("nan"), float("inf"), -float("inf"), 5e-324, -1.5]),
    ("float", [0.0, -0.0, float("nan"), 1.5, -3.25, float("inf")]),
    (
        "decimal(30,4)",
        [Decimal("0"), Decimal("1.0001"), Decimal("-1.0001"), Decimal("0.0127"),
         Decimal("0.0128"), Decimal("-0.0128"), Decimal("-0.0129"),
         Decimal("12345678901234567890123456.7891"),
         Decimal("-99999999999999999999999999.9999")],
    ),
    ("date", [dt.date(1969, 12, 31), dt.date(1900, 3, 1), dt.date(1, 1, 1), dt.date(9999, 12, 31)]),
    (
        "timestamp",
        [dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=_UTC),
         dt.datetime(1900, 1, 1, 0, 0, 0, 1, tzinfo=_UTC),
         dt.datetime(1583, 6, 1, 12, tzinfo=_UTC)],
    ),
    ("timestamp_ntz", [dt.datetime(1969, 12, 31, 23, 59, 59), dt.datetime(1850, 6, 1, 12, 0, 0, 5)]),
]


@pytest.mark.parametrize("ddl,vals", EDGE_VALUES, ids=[t[0] for t in EDGE_VALUES])
def test_probe_hash_edge_values(spark, new_york, ddl, vals):
    """The port agrees with Spark at the edges of every hash path: each
    tail length of the byte hash, integer extremes, signed zeros and NaN,
    wide decimals (hashed as bytes), pre-1970 dates and timestamps; as a
    key_in list and one value at a time."""
    want = _stored_hashes(spark, vals, ddl)
    assert bloom.probe_hashes(vals, ddl).tolist() == want
    assert [int(bloom.probe_hashes([v], ddl)[0]) for v in vals] == want


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.lists(st.text(max_size=100), max_size=30), st.lists(st.binary(max_size=100), max_size=30))
    @settings(max_examples=25, deadline=None)
    def test_property_probe_hash_matches_spark(spark, strs, bins):
        assert bloom.probe_hashes(strs, "string").tolist() == _stored_hashes(spark, strs, "string")
        assert bloom.probe_hashes(bins, "binary").tolist() == _stored_hashes(spark, bins, "binary")

except ImportError:  # pragma: no cover
    pass


@pytest.mark.parametrize(
    "ddl,value",
    [("int", 1.0), ("int", True), ("timestamp", dt.date(2020, 1, 1)), ("date", dt.datetime(2020, 1, 1)),
     ("string", b"a"), ("binary", "a"), ("decimal(12,2)", Decimal("1.005")), ("decimal(12,2)", 10**10),
     ("int", 2**31), ("float", 0.1), ("float", 2**24 + 1), ("double", 2**53 + 1),
     ("string collate UTF8_LCASE", "a"), ("array<int>", [1])],
)
def test_probe_of_a_foreign_type_has_no_hash(ddl, value):
    """A value whose Python type is not the column's own, or that the type
    cannot hold exactly, has no hash: the lookup must not prune on it."""
    assert bloom.probe_hashes([value], ddl) is None


@pytest.mark.parametrize(
    "ddl,value,equal",
    [("double", 10, 10.0), ("float", -3, -3.0), ("decimal(12,2)", 7, Decimal("7.00")),
     ("decimal(30,4)", -7, Decimal("-7"))],
)
def test_int_probe_hashes_as_the_value_it_equals(ddl, value, equal):
    """Spark compares an int with a float or decimal column as the value
    it equals, so the int probes that value's bloom bits."""
    assert bloom.probe_hashes([value], ddl).tolist() == bloom.probe_hashes([equal], ddl).tolist()


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


@pytest.fixture(scope="module")
def int_snap(spark, tmp_path_factory):
    """4 partitions of 10 rows with a bloom on int ``k``: every zone map
    is [0, 9], and only partition 0 holds ``k == 1`` (id 5)."""
    snap = str(tmp_path_factory.mktemp("int_bloom") / "snap")
    df = spark.range(0, 40, numPartitions=4).select(
        F.col("id"),
        F.expr("CASE WHEN id % 10 = 0 THEN 0 WHEN id % 10 = 9 THEN 9 WHEN id = 5 THEN 1 ELSE 2 END")
        .cast("int").alias("k"),
    )
    encode(spark, df, snap, EncodeConfig(shuffle=False, sort_by=None, bloom_columns=("k",)))
    return snap


def _lookup(spark, snap, **kw) -> tuple[list, int]:
    df = decode_job.decode(spark, snap, columns=["id"], **kw)
    ids = sorted(r["id"] for r in df.collect())
    return ids, df.p2s_decode_metrics["parts_read"].value


def test_key_eq_never_truncates_the_probe(spark, int_snap):
    """The equality residual compares in the wider type: ``1.5`` on an int
    column matches no row, ``1`` and ``1.0`` match the ``k == 1`` row."""
    assert _lookup(spark, int_snap, key_eq=("k", 1.5))[0] == []
    assert _lookup(spark, int_snap, key_eq=("k", 1))[0] == [5]
    assert _lookup(spark, int_snap, key_eq=("k", 1.0))[0] == [5]


def test_foreign_probe_keeps_every_partition_and_finds_its_rows(spark, int_snap):
    """An int probe reads the one partition whose bloom holds it; a float
    probe on the int column has no hash, so every partition is read, and
    the residual still finds exactly the matching rows. (A float key_in on
    an int column used to fail building its probe frame.)"""
    assert _lookup(spark, int_snap, key_eq=("k", 1)) == ([5], 1)
    assert _lookup(spark, int_snap, key_eq=("k", 1.0)) == ([5], 4)
    assert _lookup(spark, int_snap, key_in=("k", [1.5, 9.5]))[0] == []
    assert _lookup(spark, int_snap, key_in=("k", [1, 2])) == (
        sorted([5] + [i for i in range(40) if i % 10 not in (0, 9) and i != 5]), 4)
    assert _lookup(spark, int_snap, key_in=("k", [1.0, 3])) == ([5], 4)
    assert _lookup(spark, int_snap, key_in=("k", [1, 3])) == ([5], 1)


def test_key_in_finds_nan_rows_on_nan_only_partitions(spark, tmp_path):
    """Spark's ``isin`` holds NaN == NaN, so a key_in listing NaN returns
    the NaN rows, also from a partition that holds only NaN: the list's
    [min, max] envelope must neither filter rows nor prune that
    partition's zone map."""
    snap = str(tmp_path / "snap")
    df = spark.range(0, 40, numPartitions=4).select(
        F.col("id"), F.expr("IF(id >= 30, double('NaN'), double(id % 3))").alias("x")
    )
    encode(spark, df, snap, EncodeConfig(shuffle=False, sort_by=None, bloom_columns=("x",)))
    ids, _ = _lookup(spark, snap, key_in=("x", [1.0, float("nan")]))
    assert ids == [i for i in range(30) if i % 3 == 1] + list(range(30, 40))
