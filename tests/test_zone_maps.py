"""The two zone-map tests keep the same chunks: the decoder's Python test
(``decode_job._zone_test``) and the Catalyst one (``prune_by_range``),
over one matrix of chunk rows and bounds."""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

from pyspark.sql import functions as F

from parquet2_spark.operators import decode_job

INF, NAN = math.inf, math.nan
BIG = 2**53 + 1  # loses its last bit as a double
DAY = 86_400_000_000


def _micros(*ymd) -> int:
    return (dt.datetime(*ymd) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


# (column, min_num, max_num, min_dbl, max_dbl, min_bin, max_bin) per chunk row
ROWS = [
    ("i", 0, 10, None, None, None, None),
    ("i", 20, 30, None, None, None, None),
    ("i", -5, -1, None, None, None, None),
    ("i", None, None, None, None, None, None),
    ("i", BIG, BIG + 2, None, None, None, None),
    ("f", None, None, 0.5, 9.5, None, None),
    ("f", None, None, 10.0, 20.0, None, None),
    ("f", None, None, INF, -INF, None, None),  # all-NaN chunk, written inverted
    ("f", None, None, None, None, None, None),
    ("f", None, None, -INF, -1.0, None, None),
    ("f", None, None, 1.0, NAN, None, None),
    ("f", None, None, float(BIG + 3), float(BIG + 3), None, None),
    ("b", 0, 0, None, None, None, None),
    ("b", 1, 1, None, None, None, None),
    ("b", 0, 1, None, None, None, None),
    ("d", 18000, 18100, None, None, None, None),
    ("d", 19000, 19010, None, None, None, None),
    ("ts", _micros(2020, 1, 1), _micros(2020, 1, 2), None, None, None, None),
    ("ts", _micros(2021, 6, 1), _micros(2021, 7, 1), None, None, None, None),
    ("ntz", _micros(2020, 1, 1), _micros(2020, 1, 2), None, None, None, None),
    ("ntz", _micros(2021, 6, 1), _micros(2021, 7, 1), None, None, None, None),
    ("s", None, None, None, None, b"apple", b"banana"),
    ("s", None, None, None, None, b"m", b"zz"),
    ("s", None, None, None, None, b"\xff\x00", b"\xff\xff"),
    ("s", None, None, None, None, "über".encode(), "ünd".encode()),
    ("s", None, None, None, None, None, None),
    ("dec", None, None, 1.25, 3.75, None, None),
    ("dec", None, None, 10.0, 10.0, None, None),
]

UTC = dt.timezone.utc
CASES = [
    ("i", 5, 15), ("i", 15, 19), ("i", None, -3), ("i", 25, None),
    ("i", 10.5, None), ("i", None, 0.0), ("i", Decimal("9.99"), Decimal("20")),
    ("i", float(BIG + 3), None), ("i", BIG + 3, None), ("i", None, -6.5),
    ("f", 1, 5), ("f", 0, 0), ("f", 9.6, 9.9), ("f", None, -2), ("f", 21, None),
    ("f", Decimal("9.5"), None), ("f", None, Decimal("0.5")), ("f", BIG + 2, BIG + 2),
    ("f", NAN, None), ("f", None, NAN),
    ("b", True, True), ("b", False, False), ("b", True, None), ("b", None, False),
    ("d", dt.date(2019, 4, 1), dt.date(2019, 6, 1)), ("d", dt.date(2022, 1, 1), None),
    ("d", 19005, None),
    ("ts", dt.datetime(2021, 6, 15, 12, tzinfo=UTC), None),
    ("ts", dt.datetime(2020, 1, 1, 12), dt.datetime(2020, 1, 3)),
    ("ts", _micros(2020, 1, 3), _micros(2021, 5, 31)),
    ("ts", None, dt.datetime(2020, 1, 1, 1, tzinfo=dt.timezone(dt.timedelta(hours=2)))),
    ("ntz", dt.datetime(2021, 7, 1), dt.datetime(2022, 1, 1)),
    ("ntz", None, _micros(2020, 1, 1) - DAY),
    ("s", "b", "c"), ("s", b"apple", b"apple"), ("s", "n", None), ("s", None, "a"),
    ("s", b"\xff", None), ("s", b"\xfe\xff", b"\xff\x00"), ("s", "ü", None),
    ("s", None, "zz"), ("s", b"\xff\xff\x01", None),
    ("dec", Decimal("3.75"), Decimal("10")), ("dec", Decimal("3.7500000000000001"), None),
    ("dec", None, Decimal("1.2")),
]

FIELDS = ["column", "min_num", "max_num", "min_dbl", "max_dbl", "min_bin", "max_bin"]


def test_python_and_catalyst_zone_tests_keep_the_same_chunks(spark):
    df = spark.createDataFrame(
        [(pid, *r) for pid, r in enumerate(ROWS)],
        "part_id long, column string, min_num long, max_num long, "
        "min_dbl double, max_dbl double, min_bin binary, max_bin binary",
    )
    keeps = [decode_job._zone_keep(c, lo, hi) for c, lo, hi in CASES]
    got = df.select(
        "part_id", *[F.coalesce(k, F.lit(False)).alias(f"k{i}") for i, k in enumerate(keeps)]
    ).collect()
    catalyst = [{r["part_id"] for r in got if r[f"k{i}"] and ROWS[r["part_id"]][0] == c}
                for i, (c, _, _) in enumerate(CASES)]
    python = [
        {pid for pid, r in enumerate(ROWS)
         if r[0] == c and decode_job._zone_test(lo, hi)(dict(zip(FIELDS, r)))}
        for c, lo, hi in CASES
    ]
    for case, a, b in zip(CASES, catalyst, python):
        assert a == b, case
    # the matrix both keeps and prunes
    pruned = sum(sum(r[0] == c for r in ROWS) - len(k) for (c, _, _), k in zip(CASES, python))
    assert pruned > len(CASES) // 2 and sum(map(len, python)) > len(CASES)


def test_no_bound_is_no_test():
    assert decode_job._zone_test() is None and decode_job._zone_keep("i") is None
