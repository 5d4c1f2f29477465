"""The benchmark's workloads and the cycle each of them runs.

A workload is an encode profile. Every workload runs the same closed loop
with one client; one cycle of it has two phases:

- ``ingest``: ``encode_job.encode`` of the seeded web table into a fresh
  snapshot directory;
- ``read``: on that snapshot, one full decode to a noop sink, then a
  ``key_eq`` lookup of a url that is there.

Each Spark action costs 1-4 s on a 4-core box whatever the input size,
and the first of each kind several times that, so an untraced run
(set-up, warm-up, a measured cycle or two) has room for little else. A
``full`` pipeline, the one traced runs use, adds to every cycle
``decode_job.stats`` and the other lookup kinds (``key_eq`` on an absent
url, which only the bloom filter rules out, and ``key_range`` on url and
on warc_ts). It also has a third phase, ``maintain()``, that runs once:
on a fresh copy of a base table it appends a disjoint delta laid out on
url, runs a plain (binpack) compaction, a vacuum and the range
(local-merge) compaction, operations that cost 2-14 s each.

A run is driven in four steps: ``prepare()`` generates the seeded inputs
(and, when full, appends the base table), ``cycle()`` runs one round of
timed operations, ``verify()`` is the digest check of the last round's
output (outside the timed region), and ``metrics()`` reduces the
recorded operations to the end-to-end numbers.

Every operation writes into a fresh directory, so an encode can never
silently turn into a resume. Every operation checks its own result; a
failed check or an exception marks the operation failed.
"""

from __future__ import annotations

import datetime
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from parquet2_spark.functions.selector import SelectorConfig
from parquet2_spark.operators import decode_job, encode_job, table, validate
from parquet2_spark.operators.encode_job import EncodeConfig
from parquet2_spark.sources import webgen

from . import layers, procmon
from .layers import LOOKUP_KINDS


@dataclass(frozen=True)
class Sizes:
    rows: int = 4096  # ingest input and read snapshot
    target_rows: int = 256  # rows per partition: 16 tasks on 4 slots
    page_rows: int = 4096
    base_rows: int = 4096  # the table the maintain phase starts from
    delta_rows: int = 256  # small enough that the stored layout is reused
    range_rows: int = 16  # rows a url range lookup returns
    replay_chunks: int = 4  # partitions replayed through the kernels


# the smoke test's scale: same shapes, same metric names
TINY = Sizes(rows=1024, target_rows=128, page_rows=512, base_rows=1024,
             delta_rows=64, range_rows=8, replay_chunks=2)


def profile(name: str, sizes: Sizes) -> EncodeConfig:
    """The encode profile a workload is named after. Both are bench.py's:
    ``default`` is its default profile with a url bloom filter, ``speed``
    its decode-bound profile (outer codec measured between lz4 and zstd,
    with slack for the faster one)."""
    cfg = EncodeConfig(target_rows=sizes.target_rows, page_rows=sizes.page_rows,
                       host_sample_fraction=0.1, bloom_columns=("url",))
    if name == "speed":
        cfg.selector = SelectorConfig(outer_candidates=("lz4", "zstd"), outer_slack=0.5)
    return cfg


PROFILES = ("default", "speed")


@dataclass
class Source:
    """One seeded input: parquet files for the engine to read, the same
    rows as a driver-side Arrow table for expected values, and their size
    in one file written by pyarrow with dictionary encoding and snappy:
    the reference the encoded size must not exceed."""

    path: str
    lo: int
    hi: int
    table: pa.Table
    ref_bytes: int

    @property
    def rows(self) -> int:
        return self.hi - self.lo


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    sizes: Sizes
    tracer: object
    plant_mismatch: bool = False
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    _n: int = 0

    def fresh(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n:04d}")

    def id_base(self) -> int:
        # disjoint id ranges per seed; ids stay far below the 12-digit
        # url field and keep warc_ts within year 9999
        return (self.seed % 1000) * 10_000_000

    def op_done(self, checks: dict) -> bool:
        """Count one operation; ``checks`` maps a description to whether
        it held."""
        self.attempted += 1
        bad = [what for what, ok in checks.items() if not ok]
        if bad:
            self.failed += 1
            self.failures.extend(bad)
        return not bad

    def op_failed(self, what: str) -> None:
        """Count one operation that raised."""
        self.op_done({what: False})


def make_sources(ctx: Ctx, cuts: list[int], tag: str) -> list[Source]:
    """Sources for the contiguous id ranges ``[cuts[i], cuts[i+1])``,
    generated on the driver by ``webgen.generate_batch`` and written by
    pyarrow with its defaults, one file per core. The rows come from
    webgen's one default crawl universe (vocabulary and hosts), so the
    run seed picks which pages, not what kind of pages."""
    out = []
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
        tbl = pa.Table.from_batches([webgen.generate_batch(np.arange(lo, hi, dtype=np.uint64))])
        # Spark reads a UTC-adjusted timestamp as TIMESTAMP, the type
        # webgen's Spark frames carry
        ts = tbl.column("warc_ts").cast(pa.timestamp("us", tz="UTC"))
        utc = tbl.set_column(1, "warc_ts", ts)
        path = ctx.fresh(tag)
        os.makedirs(path)
        step = -(-utc.num_rows // ctx.cores)
        for j in range(0, utc.num_rows, step):
            pq.write_table(utc.slice(j, step), os.path.join(path, f"part-{j:06d}.parquet"))
        ref = pa.BufferOutputStream()
        pq.write_table(tbl, ref, compression="snappy", use_dictionary=True)
        out.append(Source(path, lo, hi, tbl, ref.getvalue().size))
    return out


def remove(path: str | None) -> None:
    if path:
        shutil.rmtree(path, ignore_errors=True)


def digest_matches(ctx: Ctx, source_df, decoded_df) -> bool:
    """``validate.digest_frames`` bit-identity of decoded vs source. With
    ``plant_mismatch`` one source cell is altered first, which must fail."""
    if ctx.plant_mismatch:
        from pyspark.sql import functions as F

        first = source_df.select("url").orderBy("url").first()["url"]
        source_df = source_df.withColumn(
            "lang", F.when(F.col("url") == first, F.lit("xx")).otherwise(F.col("lang"))
        )
    return bool(validate.digest_frames(source_df, decoded_df)["bit_identical"])


def snapshot_checks(lin: dict, src_rows: int, ref_bytes: int) -> dict:
    """The checks every fresh encode must pass."""
    return {
        f"rows {lin['rows']} != {src_rows}": lin["rows"] == src_rows,
        f"resumed {lin['resumed_partitions_skipped']} partitions on a fresh encode":
            lin["resumed_partitions_skipped"] == 0,
        f"enc_bytes {lin['enc_bytes']} > pyarrow reference {ref_bytes}":
            lin["enc_bytes"] <= ref_bytes,
        "committed != planned partitions":
            lin["n_partitions_committed"] == lin["n_partitions_planned"],
    }


class LookupMix:
    """Seeded lookup keys with their expected results, computed from the
    driver-side copy of the snapshot's rows."""

    def __init__(self, src: Source, seed: int, range_rows: int):
        self.urls = src.table.column("url").to_pylist()
        self.sorted_urls = sorted(self.urls)
        self.ts = src.table.column("warc_ts").cast(pa.int64()).to_numpy()
        self.hi = src.hi
        self.range_rows = range_rows
        self.rng = np.random.default_rng(seed)

    def next(self) -> list[tuple]:
        """One round: (kind, decode kwargs, check(rows) -> bool), one of
        each of ``layers.LOOKUP_KINDS`` in that order."""
        n, w = len(self.urls), self.range_rows
        hit = self.urls[int(self.rng.integers(n))]
        # same host and path shape, an id past the table's range: zone
        # maps cannot rule it out, only the bloom filter can
        miss = f"{hit[:-12]}{self.hi + int(self.rng.integers(1, 1_000_000)):012d}"
        j = int(self.rng.integers(n - w))
        u_lo, u_hi = self.sorted_urls[j], self.sorted_urls[j + w - 1]
        t_lo = int(self.ts[int(self.rng.integers(n))])
        t_hi = t_lo + 15_000_000
        n_ts = int(((self.ts >= t_lo) & (self.ts <= t_hi)).sum())

        def micros(v):
            return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=v)

        return [
            ("key_eq_hit", {"key_eq": ("url", hit)},
             lambda rows: len(rows) == 1 and rows[0]["url"] == hit),
            ("key_eq_miss", {"key_eq": ("url", miss)}, lambda rows: len(rows) == 0),
            ("range_url", {"key_range": ("url", u_lo, u_hi)},
             lambda rows: len(rows) == w and all(u_lo <= r["url"] <= u_hi for r in rows)),
            ("range_ts", {"key_range": ("warc_ts", micros(t_lo), micros(t_hi))},
             lambda rows: len(rows) == n_ts),
        ]


@contextmanager
def timed(rec: dict):
    """Record the wall time and the CPU time of the JVM and its workers
    spent in the block into ``rec``."""
    t0, c0 = time.perf_counter(), procmon.tree_cpu_s()
    yield rec
    rec["wall"] = time.perf_counter() - t0
    rec["cpu"] = procmon.tree_cpu_s() - c0


def _median(xs):
    return statistics.median(xs) if xs else None


class Pipeline:
    """One workload: the ingest and read cycle under one encode profile;
    ``full`` adds the traced-only operations."""

    def __init__(self, ctx: Ctx, profile_name: str, full: bool):
        self.ctx = ctx
        self.full = full
        s = ctx.sizes
        self.cfg = profile(profile_name, s)
        # maintain keys and sorts on url with no host bucketing: the
        # sticky-layout shape
        self.table_cfg = EncodeConfig(target_rows=s.target_rows, page_rows=s.page_rows,
                                      sort_by="url", key="url", host_from_key=False,
                                      selector=self.cfg.selector)
        self.snap: str | None = None
        self.tdir: str | None = None

    # ------------------------------------------------------------ set-up
    def prepare(self) -> None:
        """Generate the inputs (disjoint id ranges: the ingest table and,
        when full, the maintain base and two deltas, whose base table it
        also appends)."""
        ctx, s = self.ctx, self.ctx.sizes
        b = ctx.id_base()
        cuts = [b, b + s.rows]
        if self.full:
            cuts += [cuts[-1] + s.base_rows]
            cuts += [cuts[-1] + s.delta_rows, cuts[-1] + 2 * s.delta_rows]
        self.src, *self.parts = make_sources(ctx, cuts, "src")
        self.df, *self.part_dfs = (ctx.spark.read.schema(webgen.SCHEMA).parquet(p.path)
                                   for p in [self.src, *self.parts])
        self.mix = LookupMix(self.src, ctx.seed, s.range_rows)
        if not self.full:
            return
        self.template = ctx.fresh("maintain-template")
        lin = table.append(ctx.spark, self.part_dfs[0], self.template, self.table_cfg)
        n = self.parts[0].rows
        ctx.op_done({f"base table holds {lin['rows']} rows, expected {n}": lin["rows"] == n})

    # ------------------------------------------------------------ one cycle
    def cycle(self) -> list[dict]:
        out: list[dict] = []
        snap = self.ctx.fresh("ingest-snap")
        self._ingest(snap, out)
        self._read(snap, out)
        remove(self.snap)
        self.snap = snap
        return out

    def _ingest(self, snap: str, out: list) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span("ingest.encode") as a, timed({"kind": "encode"}) as rec:
            lin = encode_job.encode(ctx.spark, self.df, snap, self.cfg, resume=False)
            if tr.enabled:
                a.update(layers.snapshot_artifacts(snap))
        ctx.op_done(snapshot_checks(lin, self.src.rows, self.src.ref_bytes))
        out.append({**rec, "raw": lin["raw_bytes"], "enc": lin["enc_bytes"]})

    def _read(self, snap: str, out: list) -> None:
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        raw = out[-1]["raw"]
        with tr.span("read.scan"), timed({"kind": "scan", "raw": raw}) as rec:
            with tr.span("decode_job.build"):
                df = decode_job.decode(spark, snap)
            with tr.span("decode_job.exec"):
                df.write.format("noop").mode("overwrite").save()
        ctx.op_done({})
        out.append(rec)

        if self.full:
            with tr.span("read.stats"):
                rows = decode_job.stats(spark, snap).collect()
            n = sum(r["rows"] for r in rows if r["column"] == "url")
            ctx.op_done({f"stats counts {n} url rows, expected {self.src.rows}":
                         n == self.src.rows})

        lookups = self.mix.next()
        for kind, kwargs, check in lookups if self.full else lookups[:1]:
            with tr.span("read.lookup", kind=kind) as a, timed({"kind": kind}) as rec:
                with tr.span("decode_job.build"):
                    df = decode_job.decode(spark, snap, **kwargs)
                with tr.span("decode_job.exec"):
                    got = df.collect()
                if tr.enabled:
                    m = df.p2s_decode_metrics
                    a["pages_read"] = m["pages_read"].value
                    a["pages_skipped"] = m["pages_skipped"].value
            ctx.op_done({f"{kind} lookup {kwargs} returned {len(got)} wrong rows":
                         check(got)})
            out.append(rec)

    def maintain(self) -> None:
        """Append, binpack compaction, vacuum, then the range compaction,
        on a fresh copy of the base table. The range compaction needs a
        laid-out table to take the local-merge plan: a first one lays
        the table out on url and a second delta is appended the same way
        before the timed one."""
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        tdir = self.tdir = ctx.fresh("maintain-table")
        shutil.copytree(self.template, tdir)
        ledger = layers.WriteLedger(tdir)
        base, delta, delta2 = self.parts
        with tr.span("maintain.cycle") as cyc:
            with tr.span("maintain.append"):
                lin = table.append(spark, self.part_dfs[1], tdir, self.table_cfg,
                                   range_layout_on="url")
            ledger.update()
            ctx.op_done({
                f"append wrote {lin['rows']} rows, expected {delta.rows}":
                    lin["rows"] == delta.rows,
                "append resumed on a fresh dir": lin["resumed_partitions_skipped"] == 0,
            })
            rows = base.rows + delta.rows
            with tr.span("maintain.compact_binpack") as a:
                lin = table.compact(spark, tdir, self.table_cfg)
                a.update(layers.binpack_artifacts(tdir))
            ledger.update()
            ctx.op_done({f"binpack compaction kept {lin['rows']} rows, expected {rows}":
                         lin["rows"] == rows})
            self._vacuum(tdir)
            cyc.update(files_written=ledger.files, bytes_written=ledger.bytes,
                       live_bytes=layers.tree_bytes(tdir))

        table.compact(spark, tdir, self.table_cfg, range_layout_on="url")
        table.append(spark, self.part_dfs[2], tdir, self.table_cfg, range_layout_on="url")
        with tr.span("maintain.compact_range"):
            lin = table.compact(spark, tdir, self.table_cfg, range_layout_on="url")
        self._vacuum(tdir)
        path = lin.get("compaction_path")
        rows += delta2.rows
        ctx.op_done({
            f"range compaction kept {lin['rows']} rows, expected {rows}": lin["rows"] == rows,
            f"range compaction took the {path} plan": path == "local_merge",
        })

    def _vacuum(self, tdir: str) -> None:
        with self.ctx.tracer.span("maintain.vacuum"):
            table.vacuum(tdir)
        n_snaps = len(table.read_manifest(tdir)["snapshots"])
        self.ctx.op_done({f"{n_snaps} snapshots after compaction": n_snaps == 1})

    # ------------------------------------------------------------ checks
    def verify(self) -> None:
        """Digest the last cycle's snapshot, and the maintained table if
        there is one, against their sources."""
        ctx = self.ctx
        dec = decode_job.decode(ctx.spark, self.snap)
        ctx.op_done({f"decoded {self.snap} differs from its source":
                     digest_matches(ctx, self.df, dec)})
        if self.tdir is None:
            return
        src = self.part_dfs[0]
        for df in self.part_dfs[1:]:
            src = src.unionByName(df)
        dec = decode_job.decode(ctx.spark, self.tdir)
        ctx.op_done({f"decoded {self.tdir} differs from its sources":
                     digest_matches(ctx, src, dec)})

    # ------------------------------------------------------------ reduce
    def metrics(self, samples: list[dict]) -> dict:
        """The per-phase end-to-end metrics over the recorded operations.
        Throughput and lookup cost are per CPU second of the JVM and its
        workers, which host noise moves far less than wall time."""

        def per_cpu(kind):
            return _median([s["raw"] / 1e6 / s["cpu"] for s in samples if s["kind"] == kind])

        enc = [s for s in samples if s["kind"] == "encode"]
        return {
            "ingest.encode_mb_per_cpu_s": per_cpu("encode"),
            "ingest.enc_ratio": _median([s["enc"] / s["raw"] for s in enc]),
            "ingest.size_vs_ref": _median([s["enc"] / self.src.ref_bytes for s in enc]),
            "read.scan_mb_per_cpu_s": per_cpu("scan"),
            "read.lookup_cpu_ms": _median(
                [s["cpu"] * 1e3 for s in samples if s["kind"] in LOOKUP_KINDS]),
        }
