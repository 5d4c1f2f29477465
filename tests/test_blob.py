"""Page/chunk blob round-trips across the type × null × codec matrix.

Mirrors the reference's pyarrow-fixture matrix (tests/write_pyarrow.py:
basic_nullable/basic_required × codecs; expected arrays hardcoded in
tests/it/main.rs) — FIXTURES.md F2.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from parquet2_spark import blob
from parquet2_spark.functions import selector as sel
from parquet2_spark.functions import stats as stats_mod

RNG = np.random.default_rng(3)

# F2 fixture columns (reference tests/write_pyarrow.py:8-71)
F2 = {
    "int64": pa.array([0, 1, None, 3, None, 5, 6, 7, None, 9], type=pa.int64()),
    "float64": pa.array([0.0, 1.0, None, 3.0, None, 5.0, 6.0, 7.0, None, 9.0]),
    "string": pa.array(["Hello", None, "aa", "", None, "abc", None, None, "def", "aaa"]),
    "bool": pa.array([True, None, False, False, None, True, None, None, True, True]),
    "timestamp": pa.array(
        [0, 1, None, 3, None, 5, 6, 7, None, 9], type=pa.timestamp("us")
    ),
    "int32": pa.array([0, 1, None, 3, None, 5, 6, 7, None, 9], type=pa.int32()),
    "binary": pa.array([b"aa", None, b"cc", b"dd", None, b"ff", None, None, b"ii", b"jj"]),
}


@pytest.mark.parametrize("name", list(F2))
def test_page_roundtrip_f2_nullable(name):
    arr = F2[name]
    page, meta = blob.encode_page(arr)
    out, consumed = blob.decode_page(page)
    assert consumed == len(page)
    assert out.cast(arr.type).equals(arr)
    assert meta.n == 10 and meta.null_count == arr.null_count


@pytest.mark.parametrize("name", list(F2))
def test_page_roundtrip_f2_required(name):
    arr = F2[name].drop_null()
    page, _ = blob.encode_page(arr)
    out, _ = blob.decode_page(page)
    assert out.cast(arr.type).equals(arr)


@pytest.mark.parametrize(
    "codec",
    [sel.PLAIN, sel.DICT, sel.RLE_FOR, sel.DELTA],
    ids=["plain", "dict", "rle_for", "delta"],
)
def test_page_forced_codec_native(codec):
    arr = pa.array(RNG.integers(0, 50, size=5000), type=pa.int64())
    page, meta = blob.encode_page(arr, codec=codec)
    assert meta.codec == sel.CODEC_NAMES[codec]
    out, _ = blob.decode_page(page)
    assert out.equals(arr)


@pytest.mark.parametrize(
    "codec",
    [sel.PLAIN, sel.DICT, sel.DELTA_BYTE_ARRAY, sel.FSST],
    ids=["plain", "dict", "front", "fsst"],
)
def test_page_forced_codec_binary(codec):
    words = ["the web ", "page text ", "of lang ", "en ", "https://x.co/"]
    vals = ["".join(words[int(i)] for i in RNG.integers(0, 5, size=8)) for _ in range(800)]
    arr = pa.array(vals, type=pa.string())
    page, meta = blob.encode_page(arr, codec=codec)
    assert meta.codec == sel.CODEC_NAMES[codec]
    out, _ = blob.decode_page(page)
    assert out.equals(arr)


def test_page_all_null():
    arr = pa.array([None] * 100, type=pa.string())
    page, _ = blob.encode_page(arr)
    out, _ = blob.decode_page(page)
    assert out.null_count == 100 and len(out) == 100


def test_page_empty():
    arr = pa.array([], type=pa.int64())
    page, _ = blob.encode_page(arr)
    out, _ = blob.decode_page(page)
    assert len(out) == 0


def test_selector_picks_constant():
    arr = pa.array(["en"] * 10000)
    page, meta = blob.encode_page(arr)
    assert meta.codec == "constant"
    assert len(page) < 64
    out, _ = blob.decode_page(page)
    assert out.equals(arr)


def test_selector_picks_dict_or_rle_for_langs():
    langs = ["en"] * 45 + ["de"] * 20 + ["fr"] * 15 + ["pt"] * 10 + ["zh"] * 10
    vals = [langs[int(i)] for i in RNG.integers(0, 100, size=20000)]
    arr = pa.array(vals)
    page, meta = blob.encode_page(arr)
    assert meta.codec == "dict"
    assert len(page) < 20000 * 0.35
    out, _ = blob.decode_page(page)
    assert out.equals(arr)


def test_pick_by_measure_cost_aware():
    from parquet2_spark.functions import selector as sel

    cfg = sel.SelectorConfig(speed_slack=0.02)
    # cheaper codec within slack wins over a marginally smaller expensive one
    assert sel.pick_by_measure({sel.FSST: 1000, sel.PLAIN: 1015}, cfg) == sel.PLAIN
    # outside the slack the smaller one wins regardless of cost
    assert sel.pick_by_measure({sel.FSST: 1000, sel.PLAIN: 1200}, cfg) == sel.FSST
    # chosen size is never worse than best * (1 + slack)
    for sizes in ({sel.DICT: 50, sel.DELTA_BYTE_ARRAY: 49, sel.PLAIN: 200},
                  {sel.RLE_FOR: 10, sel.PLAIN: 10}):
        c = sel.pick_by_measure(sizes, cfg)
        assert sizes[c] <= min(sizes.values()) * (1 + cfg.speed_slack)


def test_selector_picks_delta_for_sorted_ts():
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        RNG.integers(0, 86_400_000_000, size=10000)
    ).astype("timedelta64[us]")
    arr = pa.array(ts, type=pa.timestamp("us"))
    page, meta = blob.encode_page(arr)
    assert meta.codec == "delta"
    assert len(page) < 10000 * 4.5  # ~24-bit deltas ≪ 8 bytes/row
    out, _ = blob.decode_page(page)
    assert out.equals(arr)


def test_outer_zstd_applied_to_big_text():
    text = ["some repetitive web page boilerplate " * 20] * 500
    arr = pa.array(text)
    page, meta = blob.encode_page(arr)
    assert meta.outer == "zstd" or meta.codec == "constant"  # constant wins here
    out, _ = blob.decode_page(page)
    assert out.equals(arr)


def test_outer_skipped_when_no_gain():
    data = [RNG.bytes(100) for _ in range(100)]  # incompressible
    arr = pa.array(data, type=pa.binary())
    page, meta = blob.encode_page(arr)
    assert meta.outer is None
    out, _ = blob.decode_page(page)
    assert out.equals(arr)


# ---------------------------------------------------------------- chunk
def test_chunk_multi_page_roundtrip():
    pages = [
        pa.array(RNG.integers(0, 10, size=1000), type=pa.int64()),
        pa.array(RNG.integers(5, 15, size=500), type=pa.int64()),
        pa.array([None, 1, 2] * 100, type=pa.int64()),
    ]
    buf, meta = blob.encode_chunk(pages)
    assert meta.n_rows == 1800 and meta.n_pages == 3
    assert meta.page_rows == [1000, 500, 300]
    out = blob.decode_chunk(buf)
    assert out.equals(pa.concat_arrays([p.cast(pa.int64()) for p in pages]))
    assert meta.min == 0 and meta.max == 14


def test_chunk_page_filter_skips_decode():
    pages = [pa.array([i * 100 + j for j in range(100)], type=pa.int64()) for i in range(5)]
    buf, meta = blob.encode_chunk(pages)
    got = list(blob.iter_chunk_pages(buf, page_filter=lambda i, fr: i in (1, 3)))
    assert [fr for fr, _ in got] == [0, 100, 200, 300, 400]
    assert [a is None for _, a in got] == [True, False, True, False, True]
    assert got[1][1].to_pylist() == list(range(100, 200))


def test_chunk_stats_reduce_matches_pages():
    pages = [pa.array([1, 2, None]), pa.array([None, None, None], type=pa.int64())]
    buf, meta = blob.encode_chunk(pages)
    assert meta.null_count == 4
    assert meta.min == 1 and meta.max == 2
    out = blob.decode_chunk(buf)
    assert out.to_pylist() == [1, 2, None, None, None, None]


def test_stats_compute_and_reduce():
    a = stats_mod.compute(pa.array([3, 1, None, 1, 5]))
    assert (a.n, a.null_count, a.min, a.max, a.ndv) == (5, 1, 1, 5, 3)
    b = stats_mod.compute(pa.array([None, 10], type=pa.int64()))
    chunk = stats_mod.reduce([a, b])
    assert (chunk.n, chunk.null_count, chunk.min, chunk.max) == (7, 2, 1, 10)
    s = stats_mod.compute(pa.array(["bb", "aa", None]))
    assert s.min == b"aa" and s.max == b"bb" and s.raw_bytes == 4


def test_list_float_roundtrip_with_nulls():
    vals = [None if i % 17 == 0 else [float(x) for x in RNG.standard_normal(int(RNG.integers(0, 20)))] for i in range(400)]
    arr = pa.array(vals, type=pa.list_(pa.float32()))
    page, meta = blob.encode_page(arr)
    assert meta.codec == "list_floats"
    out, _ = blob.decode_page(page)
    assert out.equals(arr)
    buf, _ = blob.encode_chunk([arr.slice(0, 200), arr.slice(200, 200)])
    assert blob.decode_chunk(buf).equals(arr)


def test_byte_stream_split_selected_for_floats():
    arr = pa.array(RNG.standard_normal(8000), type=pa.float64())
    page, meta = blob.encode_page(arr)
    assert meta.codec in ("byte_stream_split", "plain")
    out, _ = blob.decode_page(page)
    assert out.equals(arr)  # bitwise float equality via arrow equals


def test_decode_chunk_chunked_zero_copy_assembly():
    """combine=False returns the pages as ChunkedArray chunks with values
    identical to the flattened decode (the zero-copy decode path used by
    the decode job's Arrow exchange)."""
    arr = pa.array([f"v{i:06d}" * 3 for i in range(1000)])
    pages = [arr.slice(i, 250) for i in range(0, 1000, 250)]
    buf, meta = blob.encode_chunk(pages)
    assert meta.n_pages == 4
    flat = blob.decode_chunk(buf)
    chunked = blob.decode_chunk(buf, combine=False)
    assert isinstance(chunked, pa.ChunkedArray)
    assert chunked.num_chunks == 4
    assert chunked.combine_chunks().equals(flat)
    # row-interval variant agrees too
    part = blob.decode_chunk_rows(buf, 100, 500, combine=False)
    assert part.combine_chunks().equals(flat.slice(100, 500)) or part.equals(
        flat.slice(100, 500)
    )
    # single page stays a plain Array (no pointless wrapper)
    one, _ = blob.encode_chunk([arr])
    assert isinstance(blob.decode_chunk(one, combine=False), pa.Array)


def test_encode_page_fills_caller_reuse_dict():
    # a dict passed in with codec=None comes back holding the measured
    # candidate bytes (page rows <= sample_values: the full-sample case)
    langs = ["en", "de", "fr", "pt", "zh"]
    arr = pa.array([langs[int(i)] for i in RNG.integers(0, 5, size=600)])
    st = stats_mod.compute(arr, full=True)
    code = blob.type_code_of(arr.type)
    kind = blob.TYPES[code][2]
    candidates = sel.shortlist(st, kind, False, sel.DEFAULT)
    assert len(candidates) > 1
    reuse: dict = {}
    blob.encode_page(arr, sel.DEFAULT, _reuse=reuse)
    assert reuse
    assert set(reuse) <= set(candidates) - {blob.FSST}
    for c, (enc, _z, outer, level) in reuse.items():
        assert enc == blob._encode_values(code, kind, arr, c, cfg=sel.DEFAULT)
        assert (outer, level) == (sel.DEFAULT.outer, sel.DEFAULT.outer_level)
