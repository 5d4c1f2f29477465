"""Round-trips + golden semantics for plain/dict/strings/fsst/block codecs."""

from __future__ import annotations

import hashlib

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


# sha256 of fsst.train(...).serialize() per input, recorded from the
# Counter/heapq trainer the vectorized one replaced: same symbols, same
# order
TRAIN_DIGESTS = {
    "web-url-8192-g3": "afd9109a876799d7dcaa773925b85befcd66cd756bfadc162255409d1189d508",
    "web-url-8192-g4": "7e8727649981d9d1d9ad38cd208ed83fc474c6f3c92a612b2a6587e8d78960df",
    "web-url-32768-g3": "344e3505ae298f4e6466224714a0aa23d8884d76632dcce9c4a70c5d105fb8bd",
    "web-url-32768-g4": "0cf4f67cfc8861b14cca426b03d0c15fe846e5c77d472198346e1245fb5db2fc",
    "web-html-8192-g3": "cf31438e8f3dc9baced5b591c05655cff02d3ede8d61fb9f3efc60fc10794c68",
    "web-html-8192-g4": "67b55b86d6a3de2bae944d27cdfb6b86cdebe0c1e8bcee17c4136352a30fd766",
    "web-html-32768-g3": "020c59897c83fba6be85792bdea2dbb2f4a73a68709128e3248ba9f397a90117",
    "web-html-32768-g4": "850dcbc2675062604e55ea7c8534c2fc483d044dfac18decbcd545367be2d4fe",
    "web-text-8192-g3": "ed40aa8fa78aef39b6ef9199d92c27de7d5ccaa63fff4c7f36bb021188cec8de",
    "web-text-8192-g4": "597bfcf28abaa913b4bef9b2697e69b6ad650c915d12f495a29e352ef82fe41c",
    "web-text-32768-g3": "479503af7892aa8c1bb845417f2d11683dbc8e9d604a41a572756db31ac042e2",
    "web-text-32768-g4": "7d9b89b5675fb6229f85e325377568a7338b497c479646ef2db289e4236059ae",
    "random": "c891e6a4f994da00bb320084150a523618580a0b7c850e9f38a436e8d54649bb",
    "abc": "88699d8d2980045f975ec5a0f7a598142bb2eb077b0735159d576fd6d788a7f9",
    "ff": "b40da4d316831532a6c2515b5eed34ba71a3a5b9f068f700327841c10cedb533",
    "zero": "6fc8c6364b779b2776c0f1fe2ace1fea0d28dbe15c0b05635abdb2b9a9b4160a",
    "ab": "5ac3f035b57ec2cd12fa2c520ab62b4fa7482ae8118421bf0c3db4a80f81d636",
}


def _train_cases():
    from parquet2_spark.sources import webgen

    b = webgen.generate_batch(np.arange(2000), seed=7)
    for col in ("url", "html", "text"):
        arr = b.column(b.schema.get_field_index(col)).drop_null()
        data = bytes(barray.from_arrow(arr)[1])
        for cap in (8192, 32768):
            for gens in (3, 4):
                yield f"web-{col}-{cap}-g{gens}", data[:cap], gens
    rng = np.random.default_rng(11)
    yield "random", bytes(rng.integers(0, 256, 20000, dtype=np.uint8)), 4
    yield "abc", bytes(rng.choice(np.frombuffer(b"abc", np.uint8), 20000)), 4
    yield "ff", b"\xff" * 5000, 4
    yield "zero", b"\x00" * 5000, 4
    yield "ab", b"ab" * 3000, 4


@pytest.mark.parametrize("accelerated", [True, False])
def test_fsst_train_golden(accelerated, monkeypatch):
    """The trainer's symbol tables are pinned byte for byte, with the C
    encoder and with its numpy fallback (``train`` encodes the sample
    every generation)."""
    from parquet2_spark.codecs import native

    if not accelerated:
        monkeypatch.setattr(native, "_TRIED", True)
        monkeypatch.setattr(native, "_LIB", None)
    elif native.get() is None:
        pytest.skip("native accelerator not built")
    got = {
        name: hashlib.sha256(fsst.train(data, generations=g).serialize()).hexdigest()
        for name, data, g in _train_cases()
    }
    assert got == TRAIN_DIGESTS


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
