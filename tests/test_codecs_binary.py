"""Round-trips + golden semantics for plain/dict/strings/fsst/block codecs."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from parquet2_spark.codecs import barray, block, delta, dictionary, fsst, plain, strings

RNG = np.random.default_rng(7)


def _rand_binarr(n, lo=0, hi=40, alphabet=b"abcdefgh://."):
    vals = []
    for _ in range(n):
        ln = int(RNG.integers(lo, hi + 1))
        vals.append(bytes(RNG.choice(np.frombuffer(alphabet, np.uint8), size=ln)))
    return barray.from_pylist(vals)


# ---------------------------------------------------------------- barray
def test_barray_pylist_roundtrip():
    vals = [b"Hello", b"", b"worlds", b"\x00\xff"]
    arr = barray.from_pylist(vals)
    assert barray.to_pylist(arr) == vals


def test_barray_arrow_roundtrip():
    import pyarrow as pa

    src = pa.array([b"aa", b"", b"ccc"], type=pa.binary())
    arr = barray.from_arrow(src)
    assert barray.to_pylist(arr) == [b"aa", b"", b"ccc"]
    back = barray.to_arrow(arr)
    assert back.equals(src)


def test_barray_arrow_sliced_offset():
    import pyarrow as pa

    src = pa.array([b"xx", b"yy", b"zz", b"ww"], type=pa.binary()).slice(1, 2)
    arr = barray.from_arrow(src)
    assert barray.to_pylist(arr) == [b"yy", b"zz"]


def test_barray_rejects_nulls():
    import pyarrow as pa

    with pytest.raises(ValueError):
        barray.from_arrow(pa.array([b"a", None]))


# ---------------------------------------------------------------- plain
@pytest.mark.parametrize("dtype", [np.int64, np.int32, np.float64, np.float32, np.uint8])
def test_plain_native_roundtrip(dtype):
    vals = RNG.integers(0, 100, size=1000).astype(dtype)
    out = plain.decode_native(plain.encode_native(vals), np.dtype(dtype))
    np.testing.assert_array_equal(out, vals)


def test_plain_binary_roundtrip():
    arr = _rand_binarr(500)
    assert barray.equal(plain.decode_binary(plain.encode_binary(arr)), arr)


def test_plain_binary_empty_and_empties():
    for vals in [[], [b""], [b"", b"", b""]]:
        arr = barray.from_pylist(vals)
        assert barray.to_pylist(plain.decode_binary(plain.encode_binary(arr))) == vals


# ---------------------------------------------------------------- dictionary
def test_dict_binary_roundtrip_low_cardinality():
    langs = [b"en", b"de", b"fr", b"pt", b"zh"]
    vals = [langs[i] for i in RNG.integers(0, 5, size=5000)]
    arr = barray.from_pylist(vals)
    buf = dictionary.encode_binary(arr)
    assert len(buf) < 2200  # ~2-3 bits/code after RLE/bitpack
    assert barray.to_pylist(dictionary.decode_binary(buf)) == vals


def test_dict_binary_repetitive_runs_use_rle():
    vals = [b"en"] * 9000 + [b"de"] * 1000
    arr = barray.from_pylist(vals)
    buf = dictionary.encode_binary(arr)
    assert len(buf) < 50  # two RLE runs
    assert barray.to_pylist(dictionary.decode_binary(buf)) == vals


def test_dict_native_roundtrip():
    vals = RNG.integers(0, 7, size=10000).astype(np.int64) * 1_000_003
    buf = dictionary.encode_native(vals)
    assert len(buf) < 6000
    np.testing.assert_array_equal(dictionary.decode_native(buf, np.dtype(np.int64)), vals)


def test_dict_empty():
    arr = barray.from_pylist([])
    assert barray.to_pylist(dictionary.decode_binary(dictionary.encode_binary(arr))) == []


# ---------------------------------------------------------------- strings
def test_delta_length_golden_semantics():
    # reference delta_length_byte_array/mod.rs basic: lengths then values
    arr = barray.from_pylist([b"aa", b"bbb", b"a", b"aa", b"b"])
    buf = strings.encode_delta_length(arr)
    lens, pos = delta.decode_consumed(memoryview(buf))
    assert lens.tolist() == [2, 3, 1, 2, 1]
    assert bytes(memoryview(buf)[pos:]) == b"aabbbaaab"
    assert barray.equal(strings.decode_delta_length(buf), arr)


def test_delta_byte_array_golden_semantics():
    # reference delta_byte_array/mod.rs basic: Hello/Helicopter →
    # prefixes [0,3], suffix lengths [5,7], values b"Helloicopter"
    arr = barray.from_pylist([b"Hello", b"Helicopter"])
    buf = strings.encode_delta_byte_array(arr)
    pl, pos = delta.decode_consumed(memoryview(buf))
    sl, pos2 = delta.decode_consumed(memoryview(buf)[pos:])
    assert pl.tolist() == [0, 3]
    assert sl.tolist() == [5, 7]
    assert bytes(memoryview(buf)[pos + pos2 :]) == b"Helloicopter"
    assert barray.to_pylist(strings.decode_delta_byte_array(buf)) == [b"Hello", b"Helicopter"]


def test_delta_byte_array_sorted_urls():
    hosts = [f"https://host{h:04d}.example.com/".encode() for h in range(20)]
    vals = sorted(
        hosts[int(RNG.integers(0, 20))]
        + bytes(RNG.choice(np.frombuffer(b"abcdef", np.uint8), size=12))
        for _ in range(3000)
    )
    arr = barray.from_pylist(vals)
    buf = strings.encode_delta_byte_array(arr)
    raw = sum(len(v) for v in vals)
    assert len(buf) < raw * 0.55  # front coding must beat raw on sorted urls
    assert barray.to_pylist(strings.decode_delta_byte_array(buf)) == vals


def test_delta_byte_array_long_common_prefix_capped():
    vals = [b"x" * 200, b"x" * 200 + b"y", b"x" * 199]
    arr = barray.from_pylist(vals)
    assert barray.to_pylist(strings.decode_delta_byte_array(strings.encode_delta_byte_array(arr))) == vals


@given(st.lists(st.binary(max_size=20), max_size=60))
@settings(max_examples=40, deadline=None)
def test_strings_hypothesis(vals):
    arr = barray.from_pylist(vals)
    assert barray.to_pylist(strings.decode_delta_byte_array(strings.encode_delta_byte_array(arr))) == vals
    assert barray.to_pylist(strings.decode_delta_length(strings.encode_delta_length(arr))) == vals


# ---------------------------------------------------------------- fsst
def test_fsst_roundtrip_webtext():
    words = [b"the", b"quick", b"brown", b"fox", b"jumps", b"https://", b".com", b"compression"]
    text = b" ".join(words[int(i)] for i in RNG.integers(0, len(words), size=20000))
    buf = fsst.encode(text)
    assert len(buf) < len(text) * 0.6  # must actually compress repetitive text
    assert fsst.decode(buf) == text


def test_fsst_escape_heavy():
    data = bytes(RNG.integers(0, 256, size=5000).astype(np.uint8))  # incompressible
    assert fsst.decode(fsst.encode(data)) == data


def test_fsst_ff_runs():
    data = b"\xff" * 17 + b"ab\xff\xff" + b"\xff" * 3
    assert fsst.decode(fsst.encode(data)) == data


def test_fsst_empty():
    assert fsst.decode(fsst.encode(b"")) == b""


@given(st.binary(max_size=500))
@settings(max_examples=40, deadline=None)
def test_fsst_hypothesis(data):
    assert fsst.decode(fsst.encode(data)) == data


def test_fsst_table_reuse_and_decode_vectorized():
    sample = b"hello world, hello web, hello compression " * 100
    table = fsst.train(sample)
    payload = fsst.encode_with_table(sample, table)
    assert fsst.decode_with_table(payload, table) == sample
    assert len(payload) < len(sample) * 0.5


def _web_like_sample(n: int) -> bytes:
    hosts = [b"example.com", b"news.site.org", b"shop.co.uk", b"wiki.net"]
    paths = [b"/index.html", b"/a/b?q=1", b"/search?page=", b"/2024/05/article-"]
    parts = []
    for i in range(n):
        parts.append(
            b"https://" + hosts[int(RNG.integers(0, 4))]
            + paths[int(RNG.integers(0, 4))] + str(int(RNG.integers(0, 10**6))).encode()
        )
    return b"\n".join(parts)


@pytest.mark.parametrize("kind", ["random", "web"])
def test_fsst_native_matches_numpy(kind):
    """The two greedy encoders (C kernel, numpy) are byte-identical."""
    from parquet2_spark.codecs import native

    if native.get() is None:
        pytest.skip("native accelerator not built")
    for seed in range(4):
        rng = np.random.default_rng(seed)
        if kind == "random":
            sample = bytes(rng.integers(0, 256, size=20_000, dtype=np.uint8))
            data = bytes(rng.integers(0, 256, size=5_000, dtype=np.uint8))
        else:
            sample = _web_like_sample(2_000)
            data = _web_like_sample(500)
        table = fsst.train(sample)
        for buf in (data, sample[:4_096], b"\xff" * 9, b"x"):
            assert native.fsst_encode(buf, table.symbols) == fsst.encode_with_table_numpy(
                buf, table
            ), (kind, seed, len(buf))


# ---------------------------------------------------------------- block
@pytest.mark.parametrize("name", [None, "snappy", "gzip", "zstd", "lz4", "brotli"])
def test_block_roundtrip(name):
    if name is not None and not block.available(name):
        pytest.skip(f"{name} not built into pyarrow")
    data = b"web page text " * 4096
    comp = block.compress(data, name)
    if name is not None:
        assert len(comp) < len(data)
    assert block.decompress(comp, name, len(data)) == data


class TestHadoopLz4Interop:
    """Foreign-blob interop: hadoop-ecosystem writers frame LZ4 as
    ([be32 raw_len][be32 comp_len][lz4 raw block])*; decompress
    auto-detects it, like the reference's try_decompress_hadoop
    fallback (src/compression.rs:231-287)."""

    def _hadoop_frame(self, chunks: list[bytes]) -> bytes:
        import struct
        import pyarrow as pa

        raw = pa.Codec("lz4_raw")
        out = b""
        for c in chunks:
            comp = raw.compress(c, asbytes=True)
            out += struct.pack(">II", len(c), len(comp)) + comp
        return out

    def test_single_and_multi_block(self):
        data = b"the quick brown fox jumps over the lazy dog " * 200
        for chunks in ([data], [data[:3000], data[3000:]]):
            framed = self._hadoop_frame(chunks)
            assert block.decompress(framed, "lz4", len(data)) == data

    def test_own_frame_format_still_roundtrips(self):
        data = b"own-format payload " * 500
        assert block.decompress(block.compress(data, "lz4"), "lz4", len(data)) == data

    def test_garbage_still_raises(self):
        with pytest.raises(Exception):
            block.decompress(b"\x00\x01\x02\x03" * 10, "lz4", 64)

    def test_wrong_raw_size_rejected(self):
        data = b"x" * 1000
        framed = self._hadoop_frame([data])
        with pytest.raises(Exception):
            block.decompress(framed, "lz4", 999)
