"""Split-block bloom filter unit tests (reference src/bloom_filter parity)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

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


def test_catalyst_probe_matches_numpy(spark):
    """``might_contain_col`` (the JVM-side probe behind key_eq) agrees
    with the numpy ``might_contain`` on random blooms from one block to
    thousands, at three fpp settings, for member hashes, random
    non-members and the int64 edge values — under ANSI arithmetic, where
    any long overflow in the probe would raise instead of wrapping."""
    rng = np.random.default_rng(20261017)
    edges = np.array([0, -1, -(1 << 63), (1 << 63) - 1, 1, -2], dtype=np.int64)
    blooms, probes = [], []
    cases = [(ndv, fpp, None) for ndv in (1, 40, 2500, 60000) for fpp in (0.01, 0.1, 0.3)]
    cases += [(30, 0.01, 1), (300, 0.01, 5000)]  # explicit block counts
    for case, (ndv, fpp, n_blocks) in enumerate(cases):
        keys = rng.integers(-(1 << 63), (1 << 63) - 1, size=ndv, dtype=np.int64, endpoint=True)
        if case % 2:
            keys = np.concatenate([keys, edges[:3]])  # edge values as members
        bits = bloom.build(keys.view(np.uint64), n_blocks=n_blocks, fpp=fpp)
        others = rng.integers(-(1 << 63), (1 << 63) - 1, size=300, dtype=np.int64, endpoint=True)
        h = np.concatenate([rng.choice(keys, size=min(len(keys), 200), replace=False),
                            others, edges])
        want = bloom.might_contain(bits, h.view(np.uint64))
        blooms.append((case, bits))
        probes += [(case, int(x), bool(w)) for x, w in zip(h, want)]
    # a null bloom keeps every probe
    blooms.append((-1, None))
    probes += [(-1, int(x), True) for x in edges]

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        b = spark.createDataFrame(blooms, "case int, bloom binary")
        p = spark.createDataFrame(probes, "case int, h long, want boolean")
        got = (
            p.join(F.broadcast(b), "case")
            .select("want", bloom.might_contain_col("bloom", "h").alias("got"))
            .groupBy("want", "got").count().collect()
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    counts = {(r["want"], r["got"]): r["count"] for r in got}
    assert sum(counts.values()) == len(probes)
    assert counts.get((True, False), 0) == 0 and counts.get((False, True), 0) == 0, counts
    # both outcomes are exercised: members and some definite misses
    assert counts.get((True, True), 0) > 0 and counts.get((False, False), 0) > 0
