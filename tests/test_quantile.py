"""Per-chunk quantile grids → table-level quantiles / range bounds."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet2_spark.operators import decode_job
from parquet2_spark.operators.encode_job import EncodeConfig, encode
from parquet2_spark.plans import quantile as q_mod


class TestSketchMath:
    def test_grid_is_order_statistics(self):
        v = np.arange(1000)[::-1].copy()  # unsorted input
        g = q_mod.grid_from_values(v, k=4)
        assert g == {"n": 1000, "g": [0, 250, 500, 749, 999]}

    def test_single_grid_estimate_exact_on_grid_points(self):
        v = np.arange(0, 128_000)
        g = q_mod.grid_from_values(v)
        est = q_mod.estimate([g], None, [0.0, 0.25, 0.5, 1.0])
        for e, want in zip(est, [0, 32_000, 64_000, 127_999]):
            assert abs(e - want) <= len(v) / q_mod.K + 1

    def test_merge_bounded_rank_error(self):
        rng = np.random.default_rng(7)
        chunks = [rng.integers(0, 1_000_000, size=n) for n in (5000, 20000, 1000)]
        grids = [q_mod.grid_from_values(c) for c in chunks]
        allv = np.sort(np.concatenate(chunks))
        N = len(allv)
        for q in (0.1, 0.5, 0.9, 0.99):
            est = q_mod.estimate(grids, None, [q])[0]
            rank = np.searchsorted(allv, est) / N
            assert abs(rank - q) <= 1.5 / q_mod.K + 0.01, (q, rank)

    def test_cdf_inverts_estimate(self):
        v = np.arange(0, 100_000)
        g = q_mod.grid_from_values(v)
        cs = q_mod.cdf([g], None, [25_000, 50_000, 75_000, -1, 200_000])
        for c, want in zip(cs, [0.25, 0.5, 0.75, 0.0, 1.0]):
            assert abs(c - want) <= 1.5 / q_mod.K + 0.01, (c, want)

    def test_cdf_merged_grids_weighted(self):
        # two grids, one 3x the weight of the other, disjoint ranges:
        # everything <= 999 is exactly the light grid's quarter share
        g1 = q_mod.grid_from_values(np.arange(0, 1000))
        g2 = q_mod.grid_from_values(np.arange(10_000, 13_000))
        c = q_mod.cdf([g1, g2], None, [5000])[0]
        assert abs(c - 0.25) <= 0.02

    def test_cdf_byte_grids(self):
        vals = np.array([b"a%03d" % i for i in range(1000)], dtype="S8")
        g = q_mod.grid_from_bytes(vals)
        cs = q_mod.cdf([g], None, [b"a249", b"a499", b"zzz"])
        for c, want in zip(cs, [0.25, 0.5, 1.0]):
            assert abs(c - want) <= 1.5 / q_mod.K + 0.01, (c, want)

    def test_partial_summary_roundtrip(self):
        rng = np.random.default_rng(11)
        chunks = [rng.normal(size=4000) for _ in range(20)]
        grids = [q_mod.grid_from_values(c) for c in chunks]
        direct = q_mod.estimate(grids, None, [0.25, 0.5, 0.75])
        # two-level: partial summaries of chunk halves, then estimate
        s1, t1 = q_mod.merge_to_summary(grids[:10])
        s2, t2 = q_mod.merge_to_summary(grids[10:])
        twolevel = q_mod.estimate([s1, s2], [t1, t2], [0.25, 0.5, 0.75])
        allv = np.sort(np.concatenate(chunks))
        for d, t in zip(direct, twolevel):
            # both within rank tolerance of each other via the exact CDF
            rd = np.searchsorted(allv, d) / len(allv)
            rt = np.searchsorted(allv, t) / len(allv)
            assert abs(rd - rt) < 0.02

    def test_empty_and_nan_only(self):
        assert q_mod.grid_from_values(np.array([])) == {"n": 0, "g": []}
        assert q_mod.grid_from_values(np.array([np.nan, np.nan])) == {"n": 0, "g": []}
        assert np.isnan(q_mod.estimate([], None, [0.5])[0])

    def test_nan_values_excluded_from_grid_and_weight(self):
        v = np.concatenate([np.arange(100.0), np.full(100, np.nan)])
        g = q_mod.grid_from_values(v, k=4)
        assert g == {"n": 100, "g": [0.0, 25.0, 50.0, 74.0, 99.0]}
        # a NaN-heavy chunk merged with a clean one must not skew ranks
        clean = q_mod.grid_from_values(np.arange(100.0, 200.0), k=4)
        (med,) = q_mod.estimate([g, clean], None, [0.5])
        assert 85 <= med <= 115  # true median of the 200 eligible values ~100


class TestEngineQuantiles:
    @pytest.fixture(scope="class")
    def snap(self, spark, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("snap_q"))
        df = spark.range(20_000).select(
            F.col("id").alias("k"),
            (F.col("id") * F.col("id")).alias("sq"),  # skewed distribution
            F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000).alias("ts"),
            F.concat(F.lit("s"), F.col("id")).alias("s"),
        )
        encode(spark, df, d, EncodeConfig(target_rows=2048, page_rows=512,
                                          sort_by="k", key="k", host_from_key=False))
        return d

    def test_quantiles_within_rank_tolerance(self, spark, snap):
        est = decode_job.quantiles(spark, snap, "sq", [0.1, 0.5, 0.9])
        for q, e in zip([0.1, 0.5, 0.9], est):
            want = (q * 20_000) ** 2  # exact quantile of id^2
            rank = (e ** 0.5) / 20_000
            assert abs(rank - q) < 0.02, (q, e)

    def test_timestamp_units_are_micros(self, spark, snap):
        (med,) = decode_job.quantiles(spark, snap, "ts", [0.5])
        assert abs(med - (1_700_000_000_000_000 + 10_000 * 1_000_000)) < 200 * 1_000_000

    def test_range_bounds_split_evenly(self, spark, snap):
        bounds = decode_job.range_bounds(spark, snap, "k", 4)
        assert len(bounds) == 3
        for want, got in zip([5000, 10000, 15000], bounds):
            assert abs(got - want) < 20_000 * 0.02

    def test_string_column_yields_byte_prefixes(self, spark, snap):
        # strings carry byte grids since round 5 — estimates are
        # truncated byte prefixes in lexicographic order
        est = decode_job.quantiles(spark, snap, "s", [0.25, 0.75])
        assert all(isinstance(e, bytes) for e in est)
        assert est[0] <= est[1]

    def test_ungridded_type_raises(self, spark, tmp_path):
        d = str(tmp_path / "boolsnap")
        df = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("flag"))
        encode(spark, df, d, EncodeConfig(target_rows=250, key="k",
                                          sort_by="k", host_from_key=False))
        with pytest.raises(ValueError):
            decode_job.quantiles(spark, d, "flag", [0.5])

    def test_two_stage_path_agrees(self, spark, snap, monkeypatch):
        direct = decode_job.quantiles(spark, snap, "k", [0.25, 0.75])
        monkeypatch.setattr(decode_job, "_committed_partition_count",
                            lambda *a, **k: None)  # force the big-table shape
        big = decode_job.quantiles(spark, snap, "k", [0.25, 0.75])
        for d, b in zip(direct, big):
            assert abs(d - b) <= 20_000 * 2 / q_mod.K

    def test_grids_disabled_detected(self, spark, tmp_path):
        d = str(tmp_path / "noq")
        df = spark.range(500).select(F.col("id").alias("k"))
        encode(spark, df, d, EncodeConfig(target_rows=250, key="k", sort_by="k",
                                          host_from_key=False, quantile_grid=False))
        with pytest.raises(ValueError):
            decode_job.quantiles(spark, d, "k", [0.5])


class TestQuantilePlannedLayout:
    def test_range_bounds_drive_pruned_appends(self, spark, tmp_path):
        """The planning loop at scale: snapshot 1's grids give range
        split points; the next batch lays out with repartitionByRange on
        those bounds + shuffle=False, producing DISJOINT per-partition
        zone maps — a key_range decode then prunes to ~1/4 of the
        partitions (checked via the chunks-table zone maps)."""
        from pyspark.sql import functions as F

        from parquet2_spark.operators import decode_job

        d1 = str(tmp_path / "s1")
        base = spark.range(8_000).select(
            F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("s"))
        encode(spark, base, d1, EncodeConfig(target_rows=1000, page_rows=250,
                                             sort_by="k", key="k",
                                             host_from_key=False))
        bounds = decode_job.range_bounds(spark, d1, "k", 4)
        assert len(bounds) == 3

        # lay out the NEXT batch (same distribution) on those bounds
        nxt = spark.range(8_000).select(
            (F.col("id")).alias("k"), F.concat(F.lit("w"), F.col("id")).alias("s"))
        # engine path: bucket by the SKETCH bounds (no sampling scan over
        # the data — the bucket column has 4 values, so the range
        # partitioner's sample is trivial), one partition per bucket
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + (F.col("k") > F.lit(float(b))).cast("int")
        laid = (
            nxt.withColumn("_b", bucket)
            .repartitionByRange(4, "_b")
            .sortWithinPartitions("k")
            .drop("_b")
        )
        d2 = str(tmp_path / "s2")
        encode(spark, laid, d2, EncodeConfig(target_rows=2000, page_rows=500,
                                             sort_by="k", key="k",
                                             host_from_key=False, shuffle=False))
        ch = decode_job.chunks_df(spark, d2).filter(F.col("column") == "k")
        spans = [(r["min_num"], r["max_num"]) for r in ch.collect()]
        # disjoint zone maps: sorted spans must not overlap
        spans.sort()
        for (alo, ahi), (blo, bhi) in zip(spans, spans[1:]):
            assert ahi < blo or ahi <= blo  # no interleaving
        # and a quarter-range decode touches exactly one partition's rows
        out = decode_job.decode(spark, d2, columns=["k"], key_range=("k", 0, 1999))
        assert out.count() == 2000


class TestQuantileProperties:
    def test_rank_error_bound_hypothesis(self):
        """Property: for ANY partition of ANY data into chunks, every
        estimate's rank error is within the theoretical bound: the sum of
        per-chunk cell masses plus ½ value per chunk, over N."""
        from hypothesis import example, given, settings, strategies as st

        @settings(max_examples=40, deadline=None)
        @example([[-1, 0, 0, 0]] * 8, 0.17)  # ties: the ½-value slack binds
        @given(
            st.lists(
                st.lists(st.integers(-10**12, 10**12), min_size=1, max_size=400),
                min_size=1,
                max_size=8,
            ),
            st.floats(0.01, 0.99),
        )
        def check(chunks, q):
            grids = [q_mod.grid_from_values(np.asarray(c, dtype=np.int64))
                     for c in chunks]
            est = q_mod.estimate(grids, None, [q])[0]
            allv = np.sort(np.concatenate([np.asarray(c) for c in chunks]))
            N = len(allv)
            lo = np.searchsorted(allv, est, side="left") / N
            hi = np.searchsorted(allv, est, side="right") / N
            # one cell plus ½ value per chunk (see plans/quantile.py)
            bound = sum(max(1, len(c)) / q_mod.K for c in chunks) / N + len(chunks) / (2 * N)
            assert lo - bound <= q <= hi + bound, (q, lo, hi, bound)

        check()


def test_int64_precision_preserved():
    """Keys beyond 2^53 (hash-like 64-bit ids) must not round through
    float64 — split points land on exact stored values."""
    base = 2**60
    v = np.arange(base, base + 4000, dtype=np.int64)
    g1 = q_mod.grid_from_values(v[:2000])
    g2 = q_mod.grid_from_values(v[2000:])
    (med,) = q_mod.estimate([g1, g2], None, [0.5])
    assert isinstance(med, int)
    assert abs(med - (base + 2000)) <= 4000 / q_mod.K + 1
    # a float64 round-trip would have quantized to multiples of 256 here
    assert med % 256 != 0 or med in set(v.tolist())


class TestRangeLayoutCompaction:
    def test_compact_range_layout(self, spark, tmp_path):
        """compact(range_layout_on=) lays the rewrite out by sketch-derived
        range bounds: disjoint per-partition zone maps on the column,
        same rows (digest), batch keys preserved."""
        from parquet2_spark.operators import table, validate

        tdir = str(tmp_path / "tblr")
        cfg = EncodeConfig(target_rows=1000, page_rows=250, sort_by="k",
                           key="k", host_from_key=False)
        a = spark.range(4000).select(
            F.col("id").alias("k"), F.concat(F.lit("a"), F.col("id")).alias("s"))
        b = spark.range(4000, 8000).select(
            F.col("id").alias("k"), F.concat(F.lit("b"), F.col("id")).alias("s"))
        table.append(spark, a, tdir, cfg, batch_key="A")
        table.append(spark, b, tdir, cfg, batch_key="B")
        src = a.unionByName(b)

        lin = table.compact(spark, tdir, EncodeConfig(
            target_rows=2000, page_rows=500, sort_by="k", key="k",
            host_from_key=False), range_layout_on="k")
        assert lin["rows"] == 8000
        man = table.read_manifest(tdir)
        assert len(man["snapshots"]) == 1
        assert man["snapshots"][0]["compacted_batch_keys"] == ["A", "B"]
        # disjoint zone maps on k
        ch = decode_job.chunks_df(spark, tdir).filter(F.col("column") == "k")
        spans = sorted((r["min_num"], r["max_num"]) for r in ch.collect())
        assert len(spans) == 4
        for (_, ahi), (blo, _) in zip(spans, spans[1:]):
            assert ahi < blo
        # rows bit-identical
        rep = validate.digest_frames(src, decode_job.decode(spark, tdir))
        assert rep["bit_identical"], rep
        # a quarter-range read decodes exactly one partition's rows
        got = decode_job.decode(spark, tdir, columns=["k"], key_range=("k", 0, 1999))
        assert got.count() == 2000

    def test_append_range_layout_incremental(self, spark, tmp_path):
        """append(range_layout_on=) lays each DELTA out by the table's
        existing distribution: the new snapshot's zone maps are disjoint,
        the first (grid-less... actually gridful) append stays normal,
        and rows stay digest-identical."""
        from parquet2_spark.operators import table, validate

        tdir = str(tmp_path / "tbla")
        cfg = EncodeConfig(target_rows=1000, page_rows=250, sort_by="k",
                           key="k", host_from_key=False)
        a = spark.range(4000).select(
            F.col("id").alias("k"), F.concat(F.lit("a"), F.col("id")).alias("s"))
        # first append: no table yet -> normal layout
        table.append(spark, a, tdir, cfg, range_layout_on="k")
        # second append: same distribution, laid out by snapshot 1's grids
        b = spark.range(4000).select(
            F.col("id").alias("k"), F.concat(F.lit("b"), F.col("id")).alias("s"))
        lin = table.append(spark, b, tdir, cfg, range_layout_on="k")
        assert lin["rows"] == 4000
        man = table.read_manifest(tdir)
        snap2 = man["snapshots"][-1]["dir"]
        import os
        ch = decode_job.chunks_df(spark, os.path.join(tdir, snap2)).filter(
            F.col("column") == "k")
        spans = sorted((r["min_num"], r["max_num"]) for r in ch.collect())
        assert len(spans) == 4
        for (_, ahi), (blo, _) in zip(spans, spans[1:]):
            assert ahi < blo  # disjoint within the delta snapshot
        rep = validate.digest_frames(a.unionByName(b),
                                     decode_job.decode(spark, tdir))
        assert rep["bit_identical"], rep

    def test_quantiles_windows_as_of_since(self, spark, tmp_path):
        """as_of= and since= windows: planner quantiles match exactly the
        snapshot set decode would read."""
        from parquet2_spark.operators import table

        tdir = str(tmp_path / "tblw")
        cfg = EncodeConfig(target_rows=500, key="k", sort_by="k",
                           host_from_key=False)
        table.append(spark, spark.range(1000).select(F.col("id").alias("k")),
                     tdir, cfg)
        table.append(spark,
                     spark.range(10_000, 11_000).select(F.col("id").alias("k")),
                     tdir, cfg)
        (m_all,) = decode_job.quantiles(spark, tdir, "k", [0.5])
        (m_old,) = decode_job.quantiles(spark, tdir, "k", [0.5], as_of=1)
        (m_new,) = decode_job.quantiles(spark, tdir, "k", [0.5], since=1)
        assert abs(m_old - 500) <= 1000 / q_mod.K + 1
        assert abs(m_new - 10_500) <= 1000 / q_mod.K + 1
        assert 900 <= m_all <= 10_100  # straddles the gap between batches


class TestRangeLayoutAdviceFixes:
    """Round-5 ADVICE regressions: temporal layout columns, NULLs in the
    layout column, and a batch that introduces the layout column."""

    def test_range_layout_on_timestamp_column(self, spark, tmp_path):
        """Grids store epoch-micros ints for timestamps; the bucket
        comparison must route them through the unit-aware literal path
        (a bare F.lit(int) > timestamp fails analysis)."""
        from parquet2_spark.operators import table, validate

        tdir = str(tmp_path / "tblts")
        cfg = EncodeConfig(target_rows=1000, page_rows=250, sort_by="ts",
                           key="ts", host_from_key=False)
        mk = lambda voff: spark.range(4000).select(
            F.timestamp_micros(F.col("id") * 60_000_000).alias("ts"),
            (F.col("id") + voff).alias("v"))
        table.append(spark, mk(0), tdir, cfg)
        # delta from the SAME time distribution → grids split it 4 ways
        lin = table.append(spark, mk(10_000), tdir, cfg,
                           range_layout_on="ts")
        assert lin["rows"] == 4000
        man = table.read_manifest(tdir)
        import os
        ch = decode_job.chunks_df(
            spark, os.path.join(tdir, man["snapshots"][-1]["dir"])
        ).filter(F.col("column") == "ts")
        spans = sorted((r["min_num"], r["max_num"]) for r in ch.collect())
        assert len(spans) == 4
        for (_, ahi), (blo, _) in zip(spans, spans[1:]):
            assert ahi < blo  # range layout actually engaged, disjoint
        rep = validate.digest_frames(
            mk(0).unionByName(mk(10_000)), decode_job.decode(spark, tdir))
        assert rep["bit_identical"], rep

    def test_range_layout_on_date_column(self, spark, tmp_path):
        from parquet2_spark.operators import table

        tdir = str(tmp_path / "tbldt")
        cfg = EncodeConfig(target_rows=500, sort_by="d", key="d",
                           host_from_key=False)
        mk = lambda lo, hi: spark.range(lo, hi).select(
            F.date_from_unix_date((F.col("id") % 3000).cast("int")).alias("d"),
            F.col("id").alias("v"))
        table.append(spark, mk(0, 2000), tdir, cfg)
        lin = table.append(spark, mk(2000, 4000), tdir, cfg,
                           range_layout_on="d")
        assert lin["rows"] == 2000
        assert decode_job.decode(spark, tdir).count() == 4000

    def test_range_layout_null_column_routes_to_bucket_zero(self, spark, tmp_path):
        """NULLs in the layout column must not poison _part_id (int(None)
        TypeError in the encoder) — they land in bucket 0."""
        from parquet2_spark.operators import table, validate

        tdir = str(tmp_path / "tblnull")
        cfg = EncodeConfig(target_rows=1000, sort_by="k", key="v",
                           host_from_key=False)
        a = spark.range(4000).select(F.col("id").alias("k"),
                                     (F.col("id") * 2).alias("v"))
        table.append(spark, a, tdir, cfg)
        # delta where k is NULL on a slice (schema-evolved-style all-null)
        b = spark.range(4000, 8000).select(
            F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id"))
             .alias("k"),
            (F.col("id") * 2).alias("v"))
        lin = table.append(spark, b, tdir, cfg, range_layout_on="k")
        assert lin["rows"] == 4000
        rep = validate.digest_frames(a.unionByName(b),
                                     decode_job.decode(spark, tdir))
        assert rep["bit_identical"], rep

    def test_range_layout_new_column_falls_back(self, spark, tmp_path):
        """A batch that INTRODUCES the layout column (additive evolution)
        has no table grids for it — the documented fallback must engage
        (quantiles() raises KeyError, not ValueError, here)."""
        from parquet2_spark.operators import table

        tdir = str(tmp_path / "tblnew")
        cfg = EncodeConfig(target_rows=1000, key="k", host_from_key=False)
        table.append(spark, spark.range(2000).select(F.col("id").alias("k")),
                     tdir, cfg)
        b = spark.range(2000, 4000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("newcol"))
        lin = table.append(spark, b, tdir, cfg, range_layout_on="newcol")
        assert lin["rows"] == 2000  # no crash; normal layout
        assert decode_job.decode(spark, tdir).count() == 4000


class TestStringQuantileGrids:
    """Byte grids (truncated-prefix order statistics, reference ByteIndex
    semantics) + range layout on string keys — the host-locality layout a
    web corpus actually wants."""

    HOSTS = ["alpha", "beta", "delta", "epsilon", "gamma", "kappa",
             "theta", "zeta"]

    def _corpus(self, spark, n, voff=0):
        hs = F.array(*[F.lit(h) for h in self.HOSTS])
        return spark.range(n).select(
            F.concat(F.lit("https://www."),
                     F.element_at(hs, (F.col("id") % 8 + 1).cast("int")),
                     F.lit(".example.com/p/"),
                     F.col("id").cast("string")).alias("url"),
            (F.col("id") + voff).alias("v"))

    def test_byte_grid_math(self):
        vals = np.array([f"k{i:05d}".encode() for i in range(1000)],
                        dtype="S24")
        g = q_mod.grid_from_bytes(vals, k=4)
        assert g["t"] == "b" and g["n"] == 1000
        est = q_mod.estimate([g], None, [0.0, 0.5, 1.0])
        assert est == [b"k00000", b"k00500", b"k00999"]

    def test_byte_grid_merge_and_summary(self):
        a = q_mod.grid_from_bytes(
            np.array([f"a{i:04d}".encode() for i in range(500)], dtype="S24"))
        b = q_mod.grid_from_bytes(
            np.array([f"b{i:04d}".encode() for i in range(500)], dtype="S24"))
        (med,) = q_mod.estimate([a, b], None, [0.5])
        assert med.startswith(b"a04") or med.startswith(b"b00")
        # partial summary round-trips through JSON-safe base64
        import json as _json
        s, t = q_mod.merge_to_summary([a, b])
        _json.dumps(s)  # must be JSON-serializable
        (med2,) = q_mod.estimate([s], [t], [0.5])
        assert abs((med2 < b"b") - (med < b"b")) <= 1

    def test_string_quantiles_cdf_positions(self, spark, tmp_path):
        import tempfile
        df = self._corpus(spark, 8000)
        snap = str(tmp_path / "squrl")
        encode(spark, df, snap,
               EncodeConfig(target_rows=1000, page_rows=250, sort_by="url",
                            key="v", host_from_key=False))
        qs = [0.1, 0.25, 0.5, 0.75, 0.9]
        est = decode_job.quantiles(spark, snap, "url", qs)
        n = df.count()
        for q, e in zip(qs, est):
            assert isinstance(e, bytes)
            colb = F.col("url").cast("binary")
            lt = df.filter(colb < F.lit(e)).count() / n
            sw = df.filter(colb.startswith(F.lit(e))).count() / n
            # tie/truncation-aware: target inside [count(<p), count(<p)+
            # count(prefix-extends p)] widened by the grid tolerance
            assert lt <= q + 0.02, (q, e, lt)
            assert lt + sw >= q - 0.02, (q, e, lt + sw)

    def test_append_range_layout_on_url(self, spark, tmp_path):
        from parquet2_spark.operators import table, validate

        tdir = str(tmp_path / "tblurl")
        cfg = EncodeConfig(target_rows=1000, page_rows=250, sort_by="url",
                           key="v", host_from_key=False)
        a = self._corpus(spark, 4000)
        table.append(spark, a, tdir, cfg)
        b = self._corpus(spark, 4000, voff=10_000)
        lin = table.append(spark, b, tdir, cfg, range_layout_on="url")
        assert lin["rows"] == 4000
        man = table.read_manifest(tdir)
        import os
        ch = decode_job.chunks_df(
            spark, os.path.join(tdir, man["snapshots"][-1]["dir"])
        ).filter(F.col("column") == "url")
        spans = sorted((bytes(r["min_bin"]), bytes(r["max_bin"]))
                       for r in ch.collect())
        assert len(spans) == 4
        for (_, ahi), (blo, _) in zip(spans, spans[1:]):
            assert ahi < blo  # disjoint binary spans within the delta
        rep = validate.digest_frames(a.unionByName(b),
                                     decode_job.decode(spark, tdir))
        assert rep["bit_identical"], rep

    def test_compact_range_layout_on_url_prunes_host_read(self, spark, tmp_path):
        from parquet2_spark.operators import table, validate

        tdir = str(tmp_path / "tblurlc")
        cfg = EncodeConfig(target_rows=1000, page_rows=250, sort_by="url",
                           key="v", host_from_key=False)
        a = self._corpus(spark, 4000)
        b = self._corpus(spark, 4000, voff=10_000)
        table.append(spark, a, tdir, cfg, batch_key="A")
        table.append(spark, b, tdir, cfg, batch_key="B")
        lin = table.compact(
            spark, tdir,
            EncodeConfig(target_rows=2000, page_rows=500, sort_by="url",
                         key="v", host_from_key=False),
            range_layout_on="url")
        assert lin["rows"] == 8000
        # quarter-range host read touches exactly one partition: the
        # first two hosts are 1/4 of the mass (8 hosts, uniform)
        got = decode_job.decode(
            spark, tdir, columns=["url", "v"],
            key_range=("url", b"https://www.alpha",
                       b"https://www.beta.example.com/z"))
        assert got.count() == 2000
        ch = decode_job.chunks_df(spark, tdir).filter(F.col("column") == "url")
        spans = sorted((bytes(r["min_bin"]), bytes(r["max_bin"]))
                       for r in ch.collect())
        assert len(spans) == 4
        for (_, ahi), (blo, _) in zip(spans, spans[1:]):
            assert ahi < blo
        src = a.unionByName(b)
        rep = validate.digest_frames(src, decode_job.decode(spark, tdir))
        assert rep["bit_identical"], rep


class TestCompositeLayoutAndDrift:
    def test_composite_range_layout_host_ts(self, spark, tmp_path):
        """(host, ts) composite — grid buckets on host, time-ordered
        within: quarter-range host read touches 1 partition and its rows
        come back ts-sorted (the natural crawl layout)."""
        from parquet2_spark.operators import table

        hosts = ["aaa", "bbb", "ccc", "ddd"]
        hs = F.array(*[F.lit(h) for h in hosts])
        mk = lambda n, off: spark.range(n).select(
            F.element_at(hs, (F.col("id") % 4 + 1).cast("int")).alias("h"),
            F.timestamp_micros((F.col("id") * 7919) % 100_000_000).alias("t"),
            (F.col("id") + off).alias("v"))
        tdir = str(tmp_path / "tblcomp")
        cfg = EncodeConfig(target_rows=1000, page_rows=250,
                           sort_by=("h", "t"), key="v", host_from_key=False)
        table.append(spark, mk(4000, 0), tdir, cfg, batch_key="A")
        table.append(spark, mk(4000, 10_000), tdir, cfg, batch_key="B")
        table.compact(spark, tdir,
                      EncodeConfig(target_rows=2000, page_rows=500,
                                   sort_by=("h", "t"), key="v",
                                   host_from_key=False),
                      range_layout_on=("h", "t"))
        # disjoint primary spans
        ch = decode_job.chunks_df(spark, tdir).filter(F.col("column") == "h")
        spans = sorted((bytes(r["min_bin"]), bytes(r["max_bin"]))
                       for r in ch.collect())
        # a 4-value primary is knife-edge for exact quantile ties — the
        # invariants that matter: multiple DISJOINT buckets (primary
        # clustering held) and exact reads
        assert 3 <= len(spans) <= 4, spans
        for (_, ahi), (blo, _) in zip(spans, spans[1:]):
            assert ahi < blo
        # one-host read: exact rows, ts-ordered within its bucket
        got = decode_job.decode(spark, tdir, columns=["h", "t"],
                                key_range=("h", b"ccc", b"ccc"))
        rows = got.collect()
        assert len(rows) == 2000 and {r["h"] for r in rows} == {"ccc"}
        ts = [r["t"] for r in rows]
        assert ts == sorted(ts)  # secondary sort held inside the bucket

    def test_layout_drift_metric_and_compact_requalizes(self, spark, tmp_path):
        """Repeated skewed deltas laid out by the table's HISTORICAL
        grids drift from equal-weight; layout_drift() exposes it from
        lineage metadata only, and compact(range_layout_on=) re-derives
        bounds from the merged grids and re-equalizes."""
        from parquet2_spark.operators import table

        tdir = str(tmp_path / "tbldrift")
        cfg = EncodeConfig(target_rows=1000, sort_by="k", key="v",
                           host_from_key=False)
        base = spark.range(4000).select(F.col("id").alias("k"),
                                        F.col("id").alias("v"))
        table.append(spark, base, tdir, cfg)
        d0 = table.layout_drift(tdir)
        assert d0 is not None and d0 <= 1.2  # balanced base
        # skewed delta: all mass in the top quartile of the OLD range —
        # historical bounds put ~everything in the last bucket
        skew = spark.range(4000).select(
            (F.col("id") % 1000 + 3000).alias("k"),
            (F.col("id") + 50_000).alias("v"))
        table.append(spark, skew, tdir, cfg, range_layout_on="k")
        d1 = table.layout_drift(tdir)
        assert d1 is not None and d1 > 1.5, d1  # drifted
        table.compact(spark, tdir,
                      EncodeConfig(target_rows=1000, sort_by="k", key="v",
                                   host_from_key=False),
                      range_layout_on="k")
        d2 = table.layout_drift(tdir)
        assert d2 is not None and d2 <= 1.3, d2  # re-equalized
