"""Bin-pack compaction: rewrite only the partitions that need it.

Plain ``compact()`` decodes EVERY row of EVERY snapshot and re-encodes
the lot — correct, but at 100 TB it pays full decode + full encode for
data that is already perfectly laid out: a table built from large
appends consists mostly of partitions the encode job already sized at
``cfg.target_rows`` with full codec selection. Re-encoding those
reproduces the same bytes at ~100 MB/s/core; copying them moves at
disk/network speed.

This module implements Iceberg's ``rewrite_data_files`` *binpack*
strategy for our chunk-file layout:

- **keepers** — partitions whose row count lies in
  ``[min_frac, max_frac] × target_rows`` (and whose snapshot carries the
  table's full column set) are carried over VERBATIM: each task copies
  the partition's self-contained chunk file into the new snapshot under
  its new part id (``snapshot.copy_keepers``). Payload bytes are never decoded; zone maps, page indexes, blooms,
  NDV sketches and quantile grids ride along unchanged, so reads of the
  compacted table prune exactly as before.
- **the tail** — undersized partitions (the small appends compaction
  exists to absorb), oversized ones (a later, smaller ``target_rows``),
  and every partition of a narrow-schema snapshot (pre-evolution; its
  chunk files lack the new columns) are decoded and re-encoded through
  the normal encode job, which merges them into fresh target-size
  partitions 0..k-1. Keepers are then numbered k..k+m-1.

Everything is planned from the chunk files' METADATA rows
(``decode_job.chunks_df``, which never reads a payload) —
per-partition row counts, snapshot ids — entirely Spark-side: the
driver never materializes a partition list (the keeper→new-id mapping
is a per-snapshot window over metadata rows with O(#snapshots) offsets
collected, and the small-partition selection reaches decode() as a
predicate its decoder tests on each chunk file's metadata rows — keeper
payload bytes are never read). Both halves are resumable: the encode job skips
committed partitions via its ``_commits`` markers, and the copy task
skips keeper ids whose marker exists, so a crashed compaction retried
under the same ``compact:`` staging key finishes exactly once.

Reference parity: the reference has no table maintenance (one file per
writer, reference/src/write/mod.rs); shape follows Iceberg's binpack
file-rewrite thresholds (rewrite below 75% / above 180% of target).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from . import snapshot
from .encode_job import EncodeConfig, commit_metrics_action, encode

# Iceberg rewrite_data_files defaults: files between MIN_FRAC and
# MAX_FRAC of the target size are left untouched
MIN_FRAC = 0.75
MAX_FRAC = 1.8


def binpack_compact(
    spark: SparkSession,
    table_dir: str,
    cfg: EncodeConfig,
    snap_dir: str,
    min_frac: float = MIN_FRAC,
    max_frac: float = MAX_FRAC,
) -> dict:
    """Compact ``table_dir`` into ``snap_dir`` keeping well-sized
    partitions verbatim. Returns the finalized lineage dict (same
    contract as ``encode_job.encode``), with ``binpack_kept`` /
    ``binpack_reencoded_rows`` telemetry added by the caller."""
    from . import decode_job
    from . import table as table_mod

    t0 = time.time()
    lo_rows = max(1, int(cfg.target_rows * min_frac))
    hi_rows = max(lo_rows, int(cfg.target_rows * max_frac))

    # snapshots eligible to donate keepers: their column set must equal
    # the table's union schema — a narrow (pre-evolution) snapshot's
    # chunk files lack the later columns, and a verbatim copy would
    # plant a partition with missing column chunks in the new snapshot.
    # O(#snapshots) driver work, metadata JSON only.
    union_cols = decode_job.lineage(table_dir, filesystem=cfg.filesystem)["columns"]
    eligible_sids = []
    snaps = table_mod.snapshot_dirs(table_dir, filesystem=cfg.filesystem)
    for sid, sdir in snaps:
        lin_s = decode_job.lineage(sdir, filesystem=cfg.filesystem)
        if set(lin_s["columns"]) == set(union_cols):
            eligible_sids.append(sid)

    designated = union_cols[0]
    meta = (
        decode_job.chunks_df(
            spark, table_dir, filesystem=cfg.filesystem, fields=["column", "n_rows"]
        )
        .filter(F.col("column") == designated)
        .select("part_id", "n_rows")
    )
    sid_col = F.shiftrightunsigned(F.col("part_id"), table_mod.SNAP_SHIFT)
    in_window = (F.col("n_rows") >= lo_rows) & (F.col("n_rows") <= hi_rows)
    keep_cond = in_window & sid_col.isin([int(s) for s in eligible_sids])
    keepers = meta.filter(keep_cond).withColumn("sid", sid_col)

    # one metadata aggregation for the whole census: per-snapshot
    # partition totals + in-window counts (eligibility applied driver-
    # side — sid is the group key). O(#snapshots) rows through the
    # driver, never O(#partitions), and a single Spark job.
    census = (
        meta.withColumn("sid", sid_col)
        .groupBy("sid")
        .agg(
            F.count("*").alias("total"),
            F.sum(in_window.cast("long")).alias("in_window"),
        )
        .collect()
    )
    elig_set = {int(s) for s in eligible_sids}
    sid_counts = {
        int(r["sid"]): int(r["in_window"])
        for r in census
        if int(r["sid"]) in elig_set and int(r["in_window"])
    }
    m_keep = sum(sid_counts.values())

    # ---- tail: decode ONLY the non-keeper partitions, re-encode ----
    n_tail = sum(int(r["total"]) for r in census) - m_keep
    k = 0
    if n_tail:
        # the tail selection reaches decode as a predicate over each
        # chunk file's metadata rows (one partition per file, so one
        # n_rows): the decoder tests it before it reads a payload, so
        # the keepers' payload bytes are never read. A semijoin frame
        # here measured 90 s on a 2M-row table where this form pays only
        # the surviving tail's IO.
        def tail_filter(sid, meta):
            if sid not in elig_set:
                return True  # narrow snapshot: every partition re-encodes
            return not lo_rows <= meta.column("n_rows")[0].as_py() <= hi_rows

        sub = decode_job.decode(
            spark, table_dir, filesystem=cfg.filesystem, _chunk_filter=tail_filter
        )
        lin_small = encode(spark, sub, snap_dir, cfg, resume=True)
        # keeper ids start AFTER the tail's PLANNED id space — the plan
        # count, not the committed count: a crash-retry's chunks dir
        # already holds copied keeper files, and counting those would
        # shift the keeper numbering between attempts (duplicating
        # keepers under new ids). plan_partitions is deterministic for
        # the same input, so the planned count is stable across retries.
        k = int(lin_small["n_partitions_planned"])
    if not m_keep:
        lin = decode_job.lineage(snap_dir, filesystem=cfg.filesystem)
        lin["binpack_kept"] = 0
        return lin

    # ---- keepers: new ids k..k+m-1, assigned per-snapshot so the
    # window sorts within one snapshot's metadata rows (parallel across
    # snapshots), with driver-computed offsets gluing them contiguous —
    # deterministic across retries (same snapshot set ⇒ same mapping)
    offsets, base = {}, k
    for sid in sorted(sid_counts):
        offsets[sid] = base
        base += sid_counts[sid]
    off_expr = F.create_map(
        *[x for sid, off in offsets.items() for x in (F.lit(sid), F.lit(off))]
    )
    rn = F.row_number().over(Window.partitionBy("sid").orderBy("part_id"))
    src_snap = F.create_map(
        *[x for sid, sdir in snaps for x in (F.lit(int(sid)), F.lit(sdir))]
    )
    plan = keepers.select(
        F.element_at(src_snap, F.col("sid")).alias("src_snap"),
        F.col("part_id")
        .bitwiseAND(F.lit((1 << table_mod.SNAP_SHIFT) - 1))
        .alias("src_pid"),
        (F.element_at(off_expr, F.col("sid")) + rn - 1).alias("new_pid"),
        F.to_json(F.struct(F.col("part_id").alias("binpack_copied_from"))).alias(
            "marker"
        ),
    )
    job = snapshot.metrics_job()
    metrics_df = snapshot.copy_keepers(plan, snap_dir, cfg.filesystem, job)
    # dtypes-only frame for lineage schema (never executed)
    full = decode_job.decode(spark, table_dir, filesystem=cfg.filesystem)
    lin = commit_metrics_action(
        spark, metrics_df, snap_dir, cfg, union_cols, full,
        k + m_keep, t0, 1, job,
    )
    lin["binpack_kept"] = m_keep
    return lin
