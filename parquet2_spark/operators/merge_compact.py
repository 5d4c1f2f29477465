"""Exchange-free ("local merge") range-layout compaction.

Standard compaction routes every ROW through a cluster-wide exchange:
decode job → JVM rows → hash/range shuffle on the bucket → encode UDF.
At 100 TB the exchange IS the job — the payload crosses the network
once and the JVM↔Arrow boundary twice. But when the inputs are already
range-laid-out (``append(range_layout_on=…)`` deltas, or a previous
range compaction being re-compacted with fresh appends), each input
partition overlaps only a handful of output buckets, and compaction is
really a per-bucket merge of a few sorted runs.

This module plans ``bucket ← overlapping input chunk files`` from CHUNK
ZONE MAPS ONLY (the metadata frame ``decode_job.chunks_frame`` over every
snapshot's chunk files — no payload bytes are read during planning),
then runs ONE FUSED Arrow task per output bucket that reads just its
overlapping chunk files directly from the store through decode's
partition reader (``decode_job._page_keep`` and
``_decode_part``, the same page pruning and chunk decode ``decode()``
runs): it prunes to the bucket's pages via the PAGE INDEX (inputs are
key-sorted, so a bucket's rows are a contiguous page span — pages
outside it are never decoded), merges + sorts, and ENCODES the output
partition in the same task via ``_encode_partition_arrow``. The
payload therefore NEVER enters the JVM: it goes chunk file → Arrow →
chunk file inside one Python worker. The only thing Spark moves is
metadata — plan rows in (bucket ids + part ids, grouped by an exchange
over a few thousand rows) and chunk metric rows out. NDV sketches
cannot be re-hashed without the JVM (probe-time uses Spark's
``xxhash64``), so the output chunk's sketch is the HLL register-max
MERGE of its input chunks' sketches: per-chunk it over-approximates
(inputs include rows routed to sibling buckets) but the table-level
union — what ``stats()`` reports — is unchanged, because every input
row lands in some bucket. Split-block blooms are NOT mergeable across
different sizings, so tables with ``bloom_columns`` fall back to the
shuffle plan (gated in table._local_merge_compact).

Reference parity: the reference has no table maintenance at all (one
file per writer, reference/src/write/mod.rs) — this is beyond-reference
surface shaped by Iceberg's rewrite_data_files, restricted to
metadata-only planning (no sampling scan, no driver-side file list).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import fsio
from . import snapshot

# fall back to the shuffle path when the average input file overlaps
# more than this many output buckets: the local plan re-reads a file's
# BYTES once per overlapping bucket (a parquet cell is not
# sub-sliceable; the page index only saves the DECODE), so at high
# fan-out — un-laid-out inputs whose every partition spans the whole
# key space — the exchange, which reads each input byte exactly once,
# is cheaper
FANOUT_LIMIT = 3.0

# bucket-of-value above this many split points goes through a
# vectorized np.searchsorted pandas UDF over the broadcast bounds
# (O(log n)/row) instead of the chained ``(col > bound)`` Catalyst
# expression (O(#bounds) codegen terms per row): the chain is fine at
# 16-64 buckets but blows JVM method-size limits and analysis time at
# the 10^4-10^6 buckets a 100 TB table needs — the same discipline as
# the reference's page-index binary search (src/indexes/intervals.rs).
# Below the threshold the expression path stays (codegen'd, no Python
# boundary for a handful of compares).
SEARCHSORTED_MIN_BOUNDS = 64


def searchsorted_bucket_bytes(col, bounds: list):
    """Bucket Column for BYTE split points: count of bounds strictly
    below the (full, untruncated) binary value, NULL → 0 — exactly the
    chained ``(col > lit)`` expression's semantics, via one
    np.searchsorted over the NUL-padded fixed-width bound array.

    Ties need care: values are compared through their BYTES_PREFIX-wide
    truncation, and NUL padding makes ``b`` and ``b + NUL*`` compare
    equal — for a value whose padded prefix equals a bound (callers
    guarantee bounds are ≤ BYTES_PREFIX and never NUL-terminated, the
    grid-point invariant), ``value > bound`` holds iff the value is
    strictly longer than the bound, resolved vectorized from the raw
    lengths."""
    from ..plans.quantile import BYTES_PREFIX

    bpad = np.array([bytes(b) for b in bounds], dtype=f"S{BYTES_PREFIX}")
    blen = np.array([len(bytes(b)) for b in bounds], dtype=np.int64)
    # NULL routes to bucket 0 through the smallest bound: no bound is
    # strictly below bounds[0], so searchsorted lands at 0 — and the
    # UDF input series then needs no null mask at all
    col = F.coalesce(col, F.lit(bytes(bounds[0])))

    @F.pandas_udf("int")
    def _bucket(s: pd.Series) -> pd.Series:
        v = s.to_numpy()
        vlen = np.fromiter((len(x) for x in v), count=len(v), dtype=np.int64)
        vpad = np.asarray(v, dtype=f"S{BYTES_PREFIX}")  # truncates at the prefix
        lo = np.searchsorted(bpad, vpad, side="left").astype(np.int64)
        hi = np.searchsorted(bpad, vpad, side="right").astype(np.int64)
        tie = hi > lo
        out = lo
        if tie.any():
            out[tie] = np.where(vlen[tie] > blen[lo[tie]], hi[tie], lo[tie])
        return pd.Series(out.astype(np.int32))

    return _bucket(col)


def searchsorted_bucket_long(col, bounds: list):
    """Bucket Column for INTEGER split points over a long-typed column
    (zone-map units): count of bounds strictly below the value, NULL →
    0. Exact int64 — no float round-trip that would corrupt hash-like
    keys beyond 2^53."""
    barr = np.array([int(b) for b in bounds], dtype=np.int64)
    col = F.coalesce(col, F.lit(int(bounds[0])))

    @F.pandas_udf("int")
    def _bucket(s: pd.Series) -> pd.Series:
        v = s.to_numpy()
        if v.dtype != np.int64:  # defensive: never compare through float
            v = v.astype(np.int64)
        return pd.Series(np.searchsorted(barr, v, side="left").astype(np.int32))

    return _bucket(col)


def _bounds_searchsorted_safe(bounds: list) -> bool:
    """May the byte searchsorted path run? Grid-derived bounds always
    qualify (≤ BYTES_PREFIX bytes, never NUL-terminated — grid_from_bytes
    strips trailing NULs); arbitrary caller bounds that violate either
    invariant fall back to the exact expression chain."""
    from ..plans.quantile import BYTES_PREFIX

    return all(
        len(bytes(b)) <= BYTES_PREFIX and not bytes(b).endswith(b"\x00")
        for b in bounds
    )


def plan(
    spark: SparkSession,
    snaps: list[tuple[int, str]],
    primary: str,
    bounds: list,
    filesystem=None,
) -> DataFrame | None:
    """One row per (bucket, snapshot dir, part_id) overlap, computed from
    chunk zone maps. Returns None when the bounds' type has no exact
    stats column to plan from (decimal keys → shuffle path)."""
    b0 = bounds[0] if bounds else 0
    if isinstance(b0, (bytes, bytearray)):
        sc_min, sc_max = F.col("min_bin"), F.col("max_bin")
        lits = [F.lit(bytes(b)) for b in bounds]
    elif isinstance(b0, (int, np.integer)) and not isinstance(b0, bool):
        sc_min, sc_max = F.col("min_num"), F.col("max_num")
        lits = [F.lit(int(b)) for b in bounds]
    elif isinstance(b0, float):
        sc_min, sc_max = F.col("min_dbl"), F.col("max_dbl")
        lits = [F.lit(float(b)) for b in bounds]
    else:
        return None

    def span(stat):
        # bucket-of-value, EXACTLY the _range_layout expression: the
        # count of split points strictly below the value. NULL stats
        # (all-null chunk, or the primary column absent from an older
        # snapshot) route to bucket 0 — nulls-first layout. Above
        # SEARCHSORTED_MIN_BOUNDS the chained expression gives way to
        # the vectorized searchsorted UDF (identical bucket ids,
        # asserted in tests) so a 10^4+-bucket plan doesn't blow
        # Catalyst codegen.
        if len(bounds) >= SEARCHSORTED_MIN_BOUNDS:
            if isinstance(b0, (bytes, bytearray)) and _bounds_searchsorted_safe(
                bounds
            ):
                return searchsorted_bucket_bytes(stat, bounds)
            if isinstance(b0, (int, np.integer)) and not isinstance(b0, bool):
                return searchsorted_bucket_long(stat, bounds)
        e = F.lit(0)
        for lt in lits:
            e = e + (stat > lt).cast("int")
        return F.coalesce(e, F.lit(0))

    from . import decode_job
    from .table import SNAP_SHIFT

    # one metadata frame over every snapshot's chunk files; its part ids
    # are namespaced by snapshot id, so a partition is one part_id here
    listing = decode_job.check_integrity(None, filesystem=filesystem, _snaps=snaps)
    meta = decode_job.chunks_frame(
        spark, listing,
        ["column", "min_bin", "max_bin", "min_num", "max_num", "min_dbl", "max_dbl",
         "null_count", "n_rows"],
        filesystem,
    )
    parts = meta.select("part_id").distinct()
    prim = meta.filter(F.col("column") == primary)
    j = (
        parts.join(prim, "part_id", "left")
        .withColumn("b_lo", span(sc_min))
        .withColumn("b_hi", span(sc_max))
    )
    # back to (snapshot dir, part id in it): the file a bucket task opens
    snap_of = F.create_map(*[x for sid, sdir in snaps for x in (F.lit(int(sid)), F.lit(sdir))])
    snap = F.element_at(snap_of, F.shiftrightunsigned("part_id", SNAP_SHIFT)).alias("snap")
    pid = F.col("part_id").bitwiseAND(F.lit((1 << SNAP_SHIFT) - 1)).alias("part_id")
    w = F.coalesce(F.col("n_rows"), F.lit(1)).alias("w")
    spanned = j.select(
        F.explode(F.sequence(F.col("b_lo"), F.col("b_hi"))).alias("bucket"), snap, pid, w,
    )
    # a chunk whose values sit above bucket 0 but which CONTAINS
    # nulls also feeds bucket 0 (zone maps cover non-null values
    # only; null rows are bucket-0 rows)
    null_extra = j.filter(
        (F.coalesce(F.col("null_count"), F.lit(1)) > 0) & (F.col("b_lo") > 0)
    ).select(F.lit(0).alias("bucket"), snap, pid, w)
    return spanned.unionByName(null_extra).distinct()


def fanout(plan_df: DataFrame) -> float:
    """ROWS-WEIGHTED average output buckets per input file — tiny
    aggregates over metadata rows (scalars to the driver, never a file
    list). Weighting matters for the auto-fallback decision: the cost
    of re-reading a file once per overlapping bucket is proportional to
    the file's SIZE, so a handful of small delta files overlapping many
    buckets must not veto a plan whose big laid-out partitions are all
    bucket-local (unweighted, 3 tiny wide files among 30 local ones
    read as fan-out 3.9 and forced the shuffle plan; byte-wise the
    fused plan re-reads ~5% extra).

    ONE Spark job: per-file bucket counts and the file weight reduce in
    a single two-level agg (``w`` is constant per (snap, part_id) —
    it is that partition's primary-chunk row count from the plan)."""
    row = (
        plan_df.groupBy("snap", "part_id")
        .agg(F.count(F.lit(1)).alias("_nb"), F.first("w").alias("_w"))
        .agg(
            F.sum(F.col("_nb") * F.col("_w")).alias("pairs_w"),
            F.sum("_w").alias("files_w"),
        )
        .collect()[0]
    )
    return float(row["pairs_w"] or 0) / max(1, int(row["files_w"] or 0))


def split_keepers(plan_df: DataFrame, eligible_snaps: list[str]):
    """(keep_df, merge_df): incremental re-layout. A bucket is a KEEPER
    — its single input partition carried over VERBATIM at IO speed, no
    decode — when (1) the bucket's input set is exactly one partition,
    (2) that partition overlaps no other bucket (its zone-map span sits
    inside the bucket, and it feeds no null-extra row), and (3) its
    snapshot carries the table's full column set (a narrow pre-evolution
    chunk file would plant missing columns). Everything else merges
    through the fused path. Only meaningful under STICKY (reused)
    bounds: fresh bounds shift every boundary, so no old partition is
    bucket-pure and the split degenerates to all-merge.

    Two windows over the metadata plan rows (KBs) — no payload IO."""
    from pyspark.sql import Window

    if not eligible_snaps:
        return plan_df.limit(0), plan_df
    w_part = Window.partitionBy("snap", "part_id")
    w_buck = Window.partitionBy("bucket")
    ann = (
        plan_df
        .withColumn("_nb", F.size(F.collect_set("bucket").over(w_part)))
        .withColumn("_np", F.count(F.lit(1)).over(w_buck))
    )
    is_keep = (
        (F.col("_nb") == 1)
        & (F.col("_np") == 1)
        & F.col("snap").isin(list(eligible_snaps))
    )
    return (
        ann.filter(is_keep).drop("_nb", "_np"),
        ann.filter(~is_keep).drop("_nb", "_np"),
    )


def encode_fused(
    spark: SparkSession,
    plan_df: DataFrame,
    primary: str,
    bounds: list,
    sort_cols: list[str],
    n_parts: int,
    schema_map: dict[str, str],
    columns: list[str],
    cfg,
    snapshot_dir: str,
    n_resumed: int = 0,
    keep_df: DataFrame | None = None,
) -> dict:
    """Run the fused per-bucket merge+encode job and finalize lineage.

    One ``applyInArrow`` group per bucket: read overlapping chunk files
    through decode's partition reader (page-pruned to the bucket's key
    span, decoded, schema-filled and typed exactly as ``decode()`` reads
    them), residual-filter exactly, merge, sort, and encode via the SAME
    partition encoder the shuffle path uses — chunk bytes, commit markers
    and each task's ``_metrics`` rows are written as side effects; only
    metric rows return to Spark."""
    from ..plans import hll
    from ..schema import df_to_pa_schema, spark_type_to_pa
    from .decode_job import _decode_part, _page_keep
    from .encode_job import _encode_partition_arrow, commit_metrics_action

    t0 = time.time()
    ddl = ", ".join(f"`{c}` {schema_map[c]}" for c in columns)
    empty_df = spark.createDataFrame([], ddl)
    target_schema = df_to_pa_schema(empty_df)
    expected_pa = {
        f.name: spark_type_to_pa(f.dataType, ts_tz="UTC")
        for f in empty_df.schema.fields
    }
    byte_key = isinstance(bounds[0], (bytes, bytearray)) if bounds else False
    filesystem = cfg.filesystem

    def _cmp_space(arr: "pa.ChunkedArray"):
        # decoded values → the bounds' comparison space: binary for byte
        # prefixes (utf-8 byte order == string order; a prefix cut
        # mid-codepoint is not valid utf-8, so never compare as str),
        # int64 zone units for temporal keys, pass-through otherwise
        if byte_key:
            return arr.cast(pa.binary())
        t = arr.type
        if pa.types.is_timestamp(t):
            return arr.cast(pa.int64())
        if pa.types.is_date32(t):
            return arr.cast(pa.int32()).cast(pa.int64())
        return arr

    def merge_encode(tbl: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        b = int(tbl.column("bucket")[0].as_py())
        lo = bounds[b - 1] if b > 0 else None
        hi = bounds[b] if b < len(bounds) else None
        runs = []
        sketches: dict[str, list] = {c: [] for c in columns}
        sketch_miss: set[str] = set()
        # plan rows arrive in shuffle order: reading them sorted fixes the
        # order of tied rows (bucket 0's nulls), so the bytes are stable
        for snap, pid in sorted(zip(
            tbl.column("snap").to_pylist(), tbl.column("part_id").to_pylist()
        )):
            fs, root = fsio.resolve(snap, filesystem)
            ct = snapshot.read_chunk_file(fs, snapshot.chunk_path(root, pid))
            names = ct.column("column").to_pylist()
            row_of = {name: i for i, name in enumerate(names)}

            # input NDV sketches (merged below; see module doc): a chunk
            # with non-null values but no sketch poisons the column — the
            # merged sketch would silently under-cover
            for c in columns:
                i = row_of.get(c)
                if i is None:
                    continue  # older snapshot: column decodes all-null
                s = ct.column("ndv_hll")[i].as_py()
                if s is not None:
                    sketches[c].append(s)
                elif int(ct.column("null_count")[i].as_py() or 0) < int(
                    ct.column("n_rows")[i].as_py() or 0
                ):
                    sketch_miss.add(c)

            # bucket b > 0 is the range (lo, hi] plus not-null on the
            # primary: inputs are primary-sorted, so its rows form one
            # contiguous page run and everything outside is never decoded.
            # Bucket 0 with nulls present reads the whole chunk: null rows
            # sort LAST, and head value-pages plus a tail null-run is not
            # one interval.
            pi = row_of.get(primary)
            if b == 0 and (pi is None or int(ct.column("null_count")[pi].as_py() or 0)):
                keep = None
            else:
                keep = _page_keep(ct, [(primary, lo, hi)], [primary] if b > 0 else [], [])
            t = _decode_part(ct, columns, expected_pa, keep)
            if t is None:
                continue  # every page pruned — no rows from this file
            if lo is not None or hi is not None:
                v = _cmp_space(t.column(primary))
                mask = None
                if lo is not None:
                    mask = pc.greater(v, lo)
                if hi is not None:
                    m2 = pc.less_equal(v, hi)
                    mask = m2 if mask is None else pc.and_kleene(mask, m2)
                # nulls belong to bucket 0 exactly (coalesce(bucket, 0))
                mask = pc.fill_null(mask, b == 0)
                if pc.all(mask).as_py() is not True:
                    t = t.filter(mask)
            if t.num_rows:
                runs.append(t)
        if not runs:
            # plan overlap with zero surviving rows: the shuffle path
            # would simply not produce this partition — emit no chunk
            return snapshot.METRICS_PA_SCHEMA.empty_table()
        merged = pa.concat_tables(runs, promote_options="none")
        keys = [c for c in sort_cols if c in merged.schema.names]
        if keys:
            idx = pc.sort_indices(
                merged,
                sort_keys=[(c, "ascending") for c in keys],
                null_placement="at_end",
            )
            merged = merged.take(idx)
        merged = merged.append_column(
            "_part_id", pa.array(np.full(merged.num_rows, b, dtype=np.int64))
        )
        ndv_override = {
            c: (hll.merge(sketches[c]) if c not in sketch_miss else None)
            for c in columns
        }
        return _encode_partition_arrow(
            merged, cfg, snapshot_dir, columns, target_schema,
            n_parts, presorted=True, ndv_override=ndv_override,
        )

    # NOT groupBy().applyInArrow: the plan rows are a few KB, so AQE
    # coalesces the groupBy's shuffle to ONE partition (advisory size is
    # data-based and blind to the heavy per-group IO+encode inside the
    # UDF) — measured: all buckets ran sequentially in a single task.
    # An explicit user repartition is never AQE-coalesced; 4× buckets
    # keeps hash collisions (two buckets serialized in one task) rare at
    # small bucket counts, capped so a million-bucket table doesn't
    # schedule 4M near-empty tasks.
    k = min(4 * max(1, n_parts), max(n_parts, 4096))
    arranged = plan_df.repartition(k, F.col("bucket"))
    job = snapshot.metrics_job()

    def buckets(batches):
        import pyarrow.compute as pc

        bl = [rb for rb in batches if rb.num_rows]
        if not bl:
            return
        t = pa.Table.from_batches(bl)
        for b in sorted(set(t.column("bucket").to_pylist())):
            yield merge_encode(t.filter(pc.equal(t.column("bucket"), b)))

    def run_buckets(batches):
        return snapshot.metric_task(snapshot_dir, filesystem, job, buckets(batches))

    metrics_df = arranged.mapInArrow(run_buckets, snapshot.METRICS_DDL)
    if keep_df is not None:
        # keeper buckets ride the SAME single action: their copy tasks
        # and the merge tasks are partitions of one metric-row frame,
        # so commit/lineage semantics are identical to the pure plan. A
        # keeper takes its bucket id, the id the fused path would write.
        keepers = keep_df.select(
            F.col("snap").alias("src_snap"),
            F.col("part_id").alias("src_pid"),
            F.col("bucket").cast("long").alias("new_pid"),
            F.to_json(
                F.struct(
                    F.concat_ws("#", "snap", F.col("part_id").cast("string")).alias(
                        "layout_copied_from"
                    )
                )
            ).alias("marker"),
        )
        metrics_df = metrics_df.unionByName(
            snapshot.copy_keepers(keepers, snapshot_dir, filesystem, job)
        )
    return commit_metrics_action(
        spark, metrics_df, snapshot_dir, cfg, columns, empty_df, n_parts, t0,
        n_resumed, job,
    )
