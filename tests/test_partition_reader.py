"""The partition reader shared by decode and the fused compaction:
page-index pruning (``_page_space``/``_page_keep``), chunk decode
(``_decode_part``), the one-copy guard, and the invalid-utf-8 bound that
used to skip pages holding matching rows."""

from __future__ import annotations

import datetime as dt
import json
import os
import re

import pyarrow as pa
import pytest

from parquet2_spark import blob
from parquet2_spark.functions import selector
from parquet2_spark.operators import decode_job
from parquet2_spark.operators.encode_job import EncodeConfig, encode


def test_page_space_units_and_invalid_utf8():
    assert decode_job._page_space(b"abc") == "abc"
    assert decode_job._page_space("abc") == "abc"
    assert decode_job._page_space("abc€".encode()) == "abc€"
    # a prefix cut mid-codepoint has no order-faithful text form: open side
    assert decode_job._page_space(b"abc\xe2") is None
    assert decode_job._page_space(None) is None
    assert decode_job._page_space(dt.date(1970, 1, 3)) == 2
    assert decode_job._page_space(dt.datetime(1970, 1, 1, 0, 0, 1)) == 1_000_000
    import numpy as np

    v = decode_job._page_space(np.int64(7))
    assert v == 7 and type(v) is int


def _index_table(mins, maxs, rows, nulls, order="asc"):
    """One-column chunk table carrying just the page index."""
    return pa.table(
        {
            "column": ["k"],
            "page_mins": [json.dumps(mins)],
            "page_maxs": [json.dumps(maxs)],
            "page_rows": [json.dumps(rows)],
            "page_nulls": [json.dumps(nulls)],
            "bounds_order": [order],
        }
    )


class TestPageKeep:
    tbl = _index_table(
        [0, 100, 200, None], [99, 199, 299, None], [100, 100, 100, 100], [0, 0, 10, 100], "unord"
    )

    def test_range_and_not_null_and(self):
        keep = decode_job._page_keep(self.tbl, [("k", 150, None)], ["k"], [])
        assert keep == {1, 2}  # page 3 has no stats but is all-null

    def test_is_null(self):
        assert decode_job._page_keep(self.tbl, [], [], ["k"]) == {2, 3}

    def test_every_page_survives_is_none(self):
        assert decode_job._page_keep(self.tbl, [("k", None, None)], [], []) is None
        assert decode_job._page_keep(self.tbl, [], [], []) is None

    def test_absent_column_prunes_nothing(self):
        assert decode_job._page_keep(self.tbl, [("other", 0, 1)], ["other"], []) is None

    def test_invalid_utf8_side_is_open(self):
        t = _index_table(["abb0", "abb5", "abc€0", "abc€5"], ["abb4", "abb9", "abc€4", "abc€9"],
                         [5, 5, 5, 5], [0, 0, 0, 0])
        assert decode_job._page_keep(t, [("k", "abc", None)], [], []) == {2, 3}
        assert decode_job._page_keep(t, [("k", b"abc\xe2", None)], [], []) is None
        assert decode_job._page_keep(t, [("k", None, b"abb4")], [], []) == {0}


def _chunk_table(cols: dict[str, list[pa.Array]]):
    payloads = [blob.encode_chunk(pages)[0] for pages in cols.values()]
    return pa.table({"column": list(cols), "payload": payloads})


class TestDecodePart:
    pages = [pa.array(range(i * 100, (i + 1) * 100), pa.int64()) for i in range(3)]
    tbl = _chunk_table({"a": pages, "b": [p.cast(pa.int32()) for p in pages]})
    expected = {"a": pa.int64(), "b": pa.int64(), "c": pa.string()}

    def test_whole_chunk_typed_and_filled(self):
        out = decode_job._decode_part(self.tbl, ["a", "b", "c"], self.expected)
        assert out.column("a").to_pylist() == list(range(300))
        assert out.column("b").type == pa.int64()  # cast to the expected type
        assert out.column("b").to_pylist() == list(range(300))
        assert out.column("c").null_count == 300  # column added later

    def test_keep_decodes_only_those_pages(self):
        out = decode_job._decode_part(self.tbl, ["a", "b"], self.expected, keep={0, 2})
        assert out.column("a").to_pylist() == list(range(100)) + list(range(200, 300))

    def test_every_page_pruned_is_none(self):
        assert decode_job._decode_part(self.tbl, ["a"], self.expected, keep=set()) is None

    def test_row_span_wins_over_keep(self):
        out = decode_job._decode_part(
            self.tbl, ["a"], self.expected, keep={0}, row_span=(150, 160)
        )
        assert out.column("a").to_pylist() == list(range(150, 160))


def test_pick_outer_cheapest_within_slack():
    speed = selector.speed_profile()
    assert selector.pick_outer({"lz4": 140, "zstd": 100}, speed) == "lz4"
    assert selector.pick_outer({"lz4": 151, "zstd": 100}, speed) == "zstd"
    assert selector.pick_outer({"brotli": 100, "zstd": 103}) == "zstd"
    assert selector.pick_outer({"brotli": 100, "zstd": 104}) == "brotli"


@pytest.fixture(scope="module")
def utf8_snap(spark, tmp_path_factory):
    """800 sorted keys in one partition of 8 pages: 400 ``abb…`` below
    400 ``abc€…`` (``€`` is ``e2 82 ac`` in utf-8)."""
    rows = [(f"abc€{i:04d}", i) for i in range(400)] + [
        (f"abb{i:04d}", 400 + i) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "url string, id long").coalesce(1)
    snap = str(tmp_path_factory.mktemp("snap_utf8"))
    encode(spark, df, snap, EncodeConfig(page_rows=100, shuffle=False))
    return snap, rows


def _read(spark, snap, key_range):
    out = decode_job.decode(spark, snap, key_range=key_range)
    got = sorted(r["url"] for r in out.collect())
    m = out.p2s_decode_metrics
    return got, m["pages_read"].value, m["pages_skipped"].value


def test_invalid_utf8_bound_reads_matching_pages(spark, utf8_snap):
    snap, rows = utf8_snap
    bound = b"abc\xe2"  # a byte prefix cut inside the 3-byte "€"
    want = sorted(u for u, _ in rows if u.encode() >= bound)
    got, read, skipped = _read(spark, snap, ("url", bound, None))
    assert len(want) == 400 and got == want
    assert (read, skipped) == (8, 0)


def test_str_bound_still_prunes_pages(spark, utf8_snap):
    snap, rows = utf8_snap
    got, read, skipped = _read(spark, snap, ("url", "abc", None))
    assert got == sorted(u for u, _ in rows if u >= "abc")
    assert (read, skipped) == (4, 4)


def test_non_utf8_page_stats_do_not_prune_matching_pages(spark, tmp_path):
    """Bytes that are not valid utf-8 store no page stat: written with
    U+FFFD, the ``\\xf5`` pages sorted below a 4-byte code point and a
    range above it skipped every page holding its rows."""
    rows = [(b"a%03d" % i,) for i in range(100)] + [(b"\xf5%03d" % i,) for i in range(100)]
    df = spark.createDataFrame(rows, "b binary").coalesce(1)
    snap = str(tmp_path / "snap")
    encode(spark, df, snap, EncodeConfig(sort_by="b", page_rows=50, shuffle=False))
    out = decode_job.decode(spark, snap, key_range=("b", "😀".encode(), None))
    got = sorted(bytes(r["b"]) for r in out.collect())
    assert got == sorted(b for (b,) in rows if b >= "😀".encode())
    assert len(got) == 100
    assert out.p2s_decode_metrics["pages_skipped"].value == 2


def test_replacement_char_page_stat_reads_as_missing():
    """Snapshots already on disk hold the U+FFFD stat: it prunes nothing."""
    t = _index_table(["a0", "a5", "\ufffd0", "\ufffd5"], ["a4", "a9", "\ufffd4", "\ufffd9"],
                     [5, 5, 5, 5], [0, 0, 0, 0])
    assert decode_job._page_keep(t, [("k", "😀", None)], [], []) == {2, 3}
    assert decode_job._page_keep(t, [("k", None, "a4")], [], []) == {0, 2, 3}


def test_page_prune_and_chunk_decode_live_in_decode_job():
    """One partition reader: outside blob.py, only decode_job.py calls
    the chunk-decode functions or the page-range prune."""
    pat = re.compile(
        r"\b(decode_chunk|decode_chunk_rows|iter_chunk_pages|_page_keep_for_range)\b\s*\("
        r"|\bimport\b[^\n]*\b(decode_chunk|decode_chunk_rows|iter_chunk_pages"
        r"|_page_keep_for_range)\b"
    )
    pkg = os.path.dirname(blob.__file__)
    callers = set()
    for dirpath, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                with open(p, encoding="utf-8") as fh:
                    if pat.search(fh.read()):
                        callers.add(os.path.relpath(p, pkg))
    assert callers - {"blob.py"} == {"operators/decode_job.py"}
