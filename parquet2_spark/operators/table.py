"""Multi-snapshot table layout: incremental (append-only) ingestion.

Iceberg-flavored on purpose (the north-star input is an Iceberg-managed
crawl): a *table* is a directory of immutable snapshot dirs plus one
manifest. Each append writes a brand-new snapshot with the existing
checkpoint-resumable encode job, then commits it with one atomic manifest
replace — readers never see a half-written snapshot, and a crash between
"snapshot encoded" and "manifest committed" is healed by the next append,
which resumes into the same uncommitted snapshot id (per-partition commit
markers make that idempotent).

    <table_dir>/
      snap-000001/     # a normal snapshot (chunks/ + _commits/ + _lineage.json)
      snap-000002/
      _table.json      # {"format": 1, "current": 2, "snapshots": [...]}

Time travel falls out of immutability: reading "as of snapshot k" is just
ignoring manifest entries with id > k.

Reference parity note: parquet2 writes immutable files with a metadata
sidecar (src/write/file.rs:61-75) and leaves table management to the
caller; this module is that caller for the 10^12-doc incremental-crawl
case.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from .. import fsio
from .encode_job import EncodeConfig, encode

MANIFEST = "_table.json"
# snapshot id namespaces the part_id when snapshots are read together:
# part ids stay unique across snapshots without rewriting any file
SNAP_SHIFT = 44  # part_id < 2^44 (~1.8e13 partitions), snap id < 2^19

LOCK_DIR = "_locks"
LOCK_STALE_S = 120.0  # a writer crashed holding the lock → steal after this
LOCK_WAIT_S = 60.0  # give up acquiring after this


class CommitConflict(RuntimeError):
    """Another writer committed a conflicting change; retry the operation."""


def _steal_lock(fs, lock_path: str, expected_raw: bytes) -> None:
    """Delete a lock judged stale — but only while its RAW content is
    still byte-identical to what we judged (another waiter may have
    stolen it and re-created a FRESH lock between our read and our
    delete; a fresh lock never byte-matches a stale or torn one). POSIX
    has no conditional delete, so a residual microsecond window remains
    on plain filesystems; the post-create read-back verify in the
    acquire loop catches that interleaving, and object-store deployments
    close it fully with the ``create_if_absent`` conditional-PUT hook."""
    try:
        if fsio.read_bytes(fs, lock_path) != expected_raw:
            return  # re-created since we judged it stale
    except (FileNotFoundError, OSError):
        return
    fsio.delete_file(fs, lock_path)


def _acquire_manifest_lock(fs, root: str, wait_s: float = LOCK_WAIT_S) -> dict:
    """Serialize manifest read-modify-write with an exclusive-create lock
    file (O_EXCL on local FS; conditional PUT via a ``create_if_absent``
    filesystem hook on object stores; exists+write elsewhere — see
    fsio.try_create_exclusive). A crashed writer's lock is stolen once its
    recorded timestamp is older than ``LOCK_STALE_S``; a torn/unparseable
    lock ages by its FILE mtime (persistent across calls and processes —
    a per-call timer could never reach the staleness window before the
    acquire deadline). Returns a ``{"path", "token"}`` handle for the
    token-verified release."""
    import uuid as _uuid

    lock_path = fsio.join(root, LOCK_DIR, "manifest.lock")
    fsio.mkdirs(fs, fsio.join(root, LOCK_DIR))
    token = _uuid.uuid4().hex
    deadline = time.time() + wait_s
    held = None
    while True:
        payload = {"token": token, "created_unix": time.time()}
        if fsio.try_create_exclusive(fs, lock_path, json.dumps(payload).encode()):
            # read-back verify: a waiter that mis-judged our fresh lock as
            # stale may have deleted it and created its own — only the
            # writer whose token survived owns the critical section
            try:
                if fsio.read_json(fs, lock_path).get("token") == token:
                    return {"path": lock_path, "token": token}
            except (FileNotFoundError, ValueError, OSError):
                pass  # torn from under us — contend again
        else:
            try:
                raw = fsio.read_bytes(fs, lock_path)
            except FileNotFoundError:
                continue  # released between attempts — retry create now
            except OSError:
                raw = None
            held = None
            if raw is not None:
                try:
                    held = json.loads(raw)
                except ValueError:
                    held = None
            if isinstance(held, dict) and held.get("token") == token:
                # our own create landed but its read-back verify tore —
                # the surviving content is ours, so we do own the lock
                return {"path": lock_path, "token": token}
            if isinstance(held, dict):
                stale = time.time() - held.get("created_unix", 0) > LOCK_STALE_S
            else:
                # torn write: age by file mtime (stores without mtimes
                # never steal a torn lock — documented manual recovery)
                mt = fsio.file_mtime(fs, lock_path)
                stale = mt is not None and time.time() - mt > LOCK_STALE_S
            if stale and raw is not None:
                _steal_lock(fs, lock_path, raw)  # compare-then-delete
                continue
        if time.time() > deadline:
            raise TimeoutError(
                f"could not acquire manifest lock {lock_path} in {wait_s}s "
                f"(held by {(held if isinstance(held, dict) else {}).get('token', '?')})"
            )
        time.sleep(0.05)


def _release_manifest_lock(fs, lock) -> None:
    """Token-verified release: a holder whose critical section outlived
    LOCK_STALE_S must not delete the lock a stealer now owns."""
    try:
        if fsio.read_json(fs, lock["path"]).get("token") != lock["token"]:
            return
    except (FileNotFoundError, ValueError, OSError):
        return
    fsio.delete_file(fs, lock["path"])


def is_table(path: str, filesystem=None) -> bool:
    fs, root = fsio.resolve(path, filesystem)
    return fsio.exists(fs, fsio.join(root, MANIFEST))


def read_manifest(table_dir: str, filesystem=None) -> dict | None:
    fs, root = fsio.resolve(table_dir, filesystem)
    p = fsio.join(root, MANIFEST)
    if not fsio.exists(fs, p):
        return None
    return fsio.read_json(fs, p)


def snapshot_dirs(
    table_dir: str, as_of: int | None = None, filesystem=None, since: int | None = None
) -> list[tuple[int, str]]:
    """(snapshot id, absolute dir) for every committed snapshot in
    ``(since, as_of]`` — the incremental-consumption window: a training
    pipeline that processed up to snapshot k reads ``since=k`` next run
    and touches only new data."""
    man = read_manifest(table_dir, filesystem)
    if man is None:
        raise FileNotFoundError(f"{table_dir} has no {MANIFEST}")
    out = []
    for s in man["snapshots"]:
        if as_of is not None and s["id"] > as_of:
            continue
        if since is not None and s["id"] <= since:
            continue
        out.append((s["id"], os.path.join(table_dir, s["dir"])))
    return sorted(out)


CLAIM = "_claim.json"
ADOPT_QUIET_S = 60.0  # a claimed staging dir with activity this recent is LIVE


def _adoptable(fs, root: str, orphan: str, batch_key: str | None = None) -> bool:
    """May a new append resume into this uncommitted staging dir?

    Unclaimed dirs (a manually-encoded snapshot, or a pre-claim layout)
    are adoptable. A CLAIMED dir is adoptable only when the caller's
    ``batch_key`` matches the one stamped in the claim — i.e. this is a
    retry of the SAME logical batch — and the dir has also been quiet for
    ADOPT_QUIET_S. Quietness alone is NOT sufficient: a live writer's
    first commit marker can lag its claim by longer than any fixed window
    (one big partition, a queued cluster), and adopting a live writer's
    dir interleaves two batches into one snapshot. Without a batch key a
    crashed claimed dir is simply left behind (the retry encodes into a
    fresh dir; compaction/cleanup collects the orphan)."""
    claim_p = fsio.join(root, orphan, CLAIM)
    if not fsio.exists(fs, claim_p):
        return True
    claim = {}
    try:
        claim = fsio.read_json(fs, claim_p)
    except (ValueError, OSError):
        pass
    if not batch_key or claim.get("batch_key") != batch_key:
        return False
    last = float(claim.get("created_unix", 0.0) or 0.0)
    # liveness = newest mtime over the WHOLE staging dir (chunks/, tmp,
    # _commits, ...), not just _commits: a live writer's first commit
    # marker can lag its claim by > ADOPT_QUIET_S while its part files
    # are actively landing under chunks/ — those writes must count.
    mt = fsio.newest_mtime(fs, fsio.join(root, orphan))
    if mt is not None:
        last = max(last, mt)
    return time.time() - last > ADOPT_QUIET_S


def _staging_dir_for(
    fs, root: str, man: dict, next_id: int, batch_key: str | None = None
) -> str:
    """Snapshot staging-dir name for ``next_id`` — called under the
    manifest lock, so two writers can never choose (or adopt) the same
    dir.

    A crashed append left an abandoned orphan (encoded but never
    committed) dir for this id — adopt it so the retry resumes instead of
    re-encoding (committed partitions are skipped by the encode job's
    markers). Claimed orphans only ever match a retry carrying the same
    ``batch_key`` (see _adoptable). No adoptable orphan → a fresh
    uuid-suffixed name, so LIVE writers never write into each other's
    files.
    """
    import uuid as _uuid

    committed = {s["dir"] for s in man["snapshots"]}
    prefix = f"snap-{next_id:06d}"
    orphans = sorted(
        d
        for d in fsio.listdir(fs, root)
        if d.startswith(prefix)
        and d not in committed
        and fsio.is_dir(fs, fsio.join(root, d))
        and _adoptable(fs, root, d, batch_key)
    )
    if orphans:
        return orphans[0]
    return f"{prefix}-{_uuid.uuid4().hex[:8]}"


def _claim_staging_dir(
    fs, root: str, man: dict, next_id: int, batch_key: str | None = None
) -> str:
    """Choose (or adopt) a staging dir for ``next_id`` and stamp our claim
    into it. Must run under the manifest lock."""
    import uuid as _uuid

    snap_name = _staging_dir_for(fs, root, man, next_id, batch_key)
    fsio.mkdirs(fs, fsio.join(root, snap_name))
    claim = {"token": _uuid.uuid4().hex, "created_unix": time.time()}
    if batch_key:
        claim["batch_key"] = batch_key
    fsio.write_json_atomic(fs, fsio.join(root, snap_name, CLAIM), claim)
    return snap_name


def _bounds_to_json(bounds: list) -> dict:
    """JSON-safe encoding of layout split points (zone-map units):
    bytes → base64, ints stay exact (python JSON ints are arbitrary
    precision — no 2^53 float loss), floats as-is."""
    import base64

    import numpy as np

    if not bounds:
        return {"t": "int", "v": []}
    b0 = bounds[0]
    if isinstance(b0, (bytes, bytearray)):
        return {"t": "bytes",
                "v": [base64.b64encode(bytes(b)).decode("ascii") for b in bounds]}
    if isinstance(b0, (int, np.integer)) and not isinstance(b0, bool):
        return {"t": "int", "v": [int(b) for b in bounds]}
    return {"t": "float", "v": [float(b) for b in bounds]}


def _bounds_from_json(enc: dict) -> list:
    import base64

    if enc["t"] == "bytes":
        return [base64.b64decode(v) for v in enc["v"]]
    return list(enc["v"])


def _write_layout_sidecar(cfg: EncodeConfig, snap_dir: str, primary: str,
                          bounds: list) -> None:
    """Persist the split points a layout rewrite USED next to the
    snapshot, so the next maintenance pass can keep buckets ALIGNED
    (sticky bounds): re-deriving bounds from the grids after every
    append drifts them by slivers, which makes previously-laid
    partitions straddle the new boundaries and re-read under the fused
    plan. O(1) metadata, written before the manifest swap."""
    fs, root = fsio.resolve(snap_dir, cfg.filesystem)
    fsio.write_json_atomic(fs, fsio.join(root, "_layout.json"), {
        "column": primary,
        "n_parts": len(bounds) + 1,
        "bounds": _bounds_to_json(bounds),
    })


# reuse stored layout bounds only while the heaviest predicted bucket
# stays under this multiple of the mean (audited from the table's
# quantile grids); above it, fresh bounds re-equalize even inside the
# size window — a hot bucket absorbing skewed deltas must not compound
LAYOUT_REBALANCE_LIMIT = 2.5
# ... unless fresh bounds can't do better: when the limit trips, the
# stored bounds still win unless the fresh candidate's predicted max
# bucket is smaller by more than this factor (an atomic hot key — one
# truncated prefix or tied value — bounds every layout's max; paying a
# full rewrite to reproduce the same skew is pure loss)
_REBALANCE_GAIN = 1.25


def _newest_layout_doc(table_dir: str, cfg: EncodeConfig) -> dict | None:
    """The most recent committed snapshot's ``_layout.json``, any
    column, or None. O(#snapshots) tiny metadata reads; stops at the
    first (newest) hit — an older sidecar on a different column is a
    superseded layout, not a fallback."""
    for _sid, sdir in reversed(snapshot_dirs(table_dir, filesystem=cfg.filesystem)):
        fs, root = fsio.resolve(sdir, cfg.filesystem)
        p = fsio.join(root, "_layout.json")
        if fsio.exists(fs, p):
            return fsio.read_json(fs, p)
    return None


def _stored_layout(table_dir: str, cfg: EncodeConfig, primary: str):
    """The operative (newest) stored layout if it is on ``primary``,
    else None — a newer layout on another column means partitions are
    no longer bucket-pure on this one, so its old bounds are stale."""
    doc = _newest_layout_doc(table_dir, cfg)
    if doc is not None and doc.get("column") == primary:
        return doc
    return None


def _resolve_layout_bounds(
    spark: SparkSession,
    table_dir: str,
    cfg: EncodeConfig,
    primary: str,
    total_rows: int,
):
    """Split points for a layout rewrite: REUSE the stored layout's
    bounds while the table's size keeps partitions inside a sane window
    around ``target_rows`` (needed parts within [0.6, 1.25]x the stored
    count) — stable buckets make re-compaction incremental (old
    partitions stay bucket-pure) and zone maps comparable across
    snapshots. Outside the window (the table grew or the target
    changed), fall back to fresh grid-derived bounds, re-equalizing.

    The size window alone is not enough at scale: its growth allowance
    is a FRACTION OF THE TABLE, so with many buckets a skewed delta
    stream can pour the whole allowance into one bucket (sp=1000,
    +25% into one key range → a 251×target partition) while the window
    still says reuse. Before reusing, the stored bounds are therefore
    AUDITED against the table's CURRENT quantile grids
    (``decode_job.bucket_weights`` — metadata only): if the heaviest
    predicted bucket exceeds ``LAYOUT_REBALANCE_LIMIT`` × the mean,
    fresh bounds re-equalize instead — but only when re-equalizing
    would actually HELP. The heaviest bucket can be an ATOMIC key mass
    (one truncated byte prefix — a single hot host — or one tied value
    holding several × the mean) that no split points can divide; a
    webgen-shaped 20M-row table at ~150 buckets trips the plain limit
    forever (hot-host bucket 3.2× the mean under ANY bounds, measured
    r6) and the sticky machinery would degenerate to a full rewrite
    every maintenance cycle. So when the limit trips, the FRESH
    candidate's weights are predicted from the same grids (metadata
    only) and the stored bounds are reused unless fresh bounds beat
    their max bucket by more than ``_REBALANCE_GAIN`` — "pay a full
    re-layout only for a real re-balance". Returns (bounds, n_parts,
    reused)."""
    from . import decode_job

    needed = max(1, -(-int(total_rows) // cfg.target_rows))  # ceil
    stored = _stored_layout(table_dir, cfg, primary)
    if stored is not None:
        sp = int(stored["n_parts"])
        if max(1, int(sp * 0.6)) <= needed <= max(1, int(sp * 1.25)):
            bounds = _bounds_from_json(stored["bounds"])
            balanced = True
            if bounds:
                try:
                    wts = decode_job.bucket_weights(
                        spark, table_dir, primary, bounds,
                        filesystem=cfg.filesystem,
                    )
                    balanced = (
                        max(wts) * len(wts) <= LAYOUT_REBALANCE_LIMIT
                    )
                    if not balanced:
                        fresh = decode_job.range_bounds(
                            spark, table_dir, primary, needed,
                            filesystem=cfg.filesystem,
                        )
                        fw = (
                            decode_job.bucket_weights(
                                spark, table_dir, primary, fresh,
                                filesystem=cfg.filesystem,
                            )
                            if fresh
                            else []
                        )
                        # atomic hot key: fresh bounds predict (about)
                        # the same max bucket — keep the sticky bounds
                        balanced = bool(fw) and (
                            max(wts) <= _REBALANCE_GAIN * max(fw)
                        )
                except (ValueError, KeyError):
                    pass  # grids unreadable: fresh bounds would fail too
            if balanced:
                return bounds, sp, True
    return (
        decode_job.range_bounds(
            spark, table_dir, primary, needed, filesystem=cfg.filesystem
        ),
        needed,
        False,
    )


def _aligned_append_bounds(
    table_dir: str, cfg: EncodeConfig, primary: str, delta_rows: int
) -> list | None:
    """Split points for an APPENDED delta, snapped to the table's stored
    layout: every k-th stored boundary (k chosen so delta partitions
    land near ``target_rows`` under a table-like key distribution).
    Each delta partition then covers a contiguous run of WHOLE stored
    buckets — never splitting one — so the next re-layout compaction
    sees bucket-aligned runs (verbatim-keep for untouched buckets, and
    fused-merge fan-out bounded by the coarsening stride instead of the
    full bucket count). None when no stored layout exists or the delta
    alone outgrows it (fresh grid bounds re-equalize instead)."""
    stored = _stored_layout(table_dir, cfg, primary)
    if stored is None:
        return None
    sp = int(stored["n_parts"])
    needed = max(1, -(-int(delta_rows) // cfg.target_rows))  # ceil
    if needed >= sp:
        # delta alone needs >= the stored bucket count: aligned bounds
        # cannot split buckets, so partitions would exceed target —
        # signal the caller to fall back to fresh grid bounds
        return None if needed > sp else _bounds_from_json(stored["bounds"])
    bounds = _bounds_from_json(stored["bounds"])
    k = -(-sp // needed)  # ceil: buckets per delta partition
    return bounds[k - 1 :: k]


def _range_layout(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    cfg: EncodeConfig,
    column,
    n_rows: int,
    bounds_override: list | None = None,
):
    """Lay ``df`` out by range of ``column`` using split points from the
    TABLE's quantile grids: metadata-only planning (no sampling scan),
    bucket expression → ``EncodeConfig.partition_column`` for an EXACT
    value→partition mapping, sort key prefixed with the layout column.
    Returns (df_with_bucket, encode_cfg). Raises ValueError when the
    table carries no grids for the column.

    ``column`` may be a tuple — composite layout, e.g. ``("host",
    "warc_ts")``, the natural crawl order: grid bounds partition on the
    PRIMARY (first) column only; the remaining columns become the
    within-bucket secondary sort. Disjointness holds on the primary."""
    from dataclasses import replace as _replace

    from pyspark.sql import functions as F

    from . import decode_job

    layout_cols = [column] if isinstance(column, str) else list(column)
    column = layout_cols[0]  # grids partition on the primary only
    if bounds_override is not None:
        bounds = bounds_override
        n_parts = len(bounds) + 1
    else:
        n_parts = max(1, -(-int(n_rows) // cfg.target_rows))  # ceil
        bounds = decode_job.range_bounds(
            spark, table_dir, column, n_parts, filesystem=cfg.filesystem
        )
    ddl = dict(df.dtypes).get(column)
    if ddl is None:
        raise ValueError(f"range-layout column {column} not in batch schema")
    # grids store zone-map UNITS (epoch micros/days as ints for temporal
    # columns) — compare through the same unit-aware literal path decode
    # uses, or `F.col(ts) > F.lit(int)` fails analysis with
    # DATATYPE_MISMATCH. NULLs in the layout column (e.g. compact() over
    # schema-evolved snapshots that decode the column as all-null) would
    # propagate to a NULL bucket and a NULL _part_id downstream — the
    # coalesce routes them to bucket 0 (nulls-first layout).
    from . import merge_compact as mc

    b0 = bounds[0] if bounds else None
    big = len(bounds) >= mc.SEARCHSORTED_MIN_BOUNDS
    bucket = None
    if isinstance(b0, (bytes, bytearray)):
        # string/binary layout key: bounds are truncated byte prefixes
        # (ByteIndex semantics). Compare in BINARY space — UTF-8 byte
        # order equals string order, and a prefix cut mid-codepoint is
        # not valid UTF-8, so a string-typed literal could mis-compare.
        col = F.col(column)
        if ddl != "binary":
            col = col.cast("binary")
        if big and mc._bounds_searchsorted_safe(bounds):
            # 10^4+-bucket layouts: vectorized searchsorted over the
            # broadcast bounds instead of an O(#bounds) expression chain
            # that blows codegen method limits (identical bucket ids,
            # asserted in tests)
            bucket = mc.searchsorted_bucket_bytes(col, bounds)
        else:
            bucket = F.lit(0)
            for b in bounds:
                bucket = bucket + (col > F.lit(bytes(b))).cast("int")
    else:
        is_int = isinstance(b0, (int,)) and not isinstance(b0, bool)
        if big and is_int and ddl in (
            "tinyint", "smallint", "int", "bigint", "timestamp", "date"
        ):
            # integer/temporal keys compare in zone units (micros/days)
            # — session-timezone-independent JVM conversions, then the
            # same vectorized searchsorted (exact int64; float bounds
            # keep the expression chain: NULL and NaN would conflate in
            # the pandas boundary while Spark orders NaN greatest)
            if ddl == "timestamp":
                col = F.unix_micros(F.col(column))
            elif ddl == "date":
                col = F.unix_date(F.col(column))
            else:
                col = F.col(column).cast("long")
            bucket = mc.searchsorted_bucket_long(col, bounds)
        else:
            bucket = F.lit(0)
            for b in bounds:
                bucket = bucket + (
                    F.col(column) > decode_job._typed_lit(b, ddl)
                ).cast("int")
    bucket = F.coalesce(bucket, F.lit(0))
    sort_cols = (
        [cfg.sort_by] if isinstance(cfg.sort_by, str) else list(cfg.sort_by or [])
    )
    sort_cols = layout_cols + [c for c in sort_cols if c not in layout_cols]
    return (
        df.withColumn("_p2s_bucket", bucket),
        _replace(
            cfg,
            partition_column="_p2s_bucket",
            num_partitions=n_parts,
            sort_by=tuple(sort_cols),
        ),
    )


def _local_merge_compact(
    spark: SparkSession,
    table_dir: str,
    cfg: EncodeConfig,
    column,
    snap_dir: str,
    force: bool = False,
    bounds_override: list | None = None,
    keep_pure: bool = False,
) -> dict | None:
    """Run the exchange-free FUSED compaction (merge_compact module) and
    return its lineage — or None to fall back to the shuffle plan (no
    grids for the column, unsupported key type, bloom columns configured,
    or plan fan-out over the limit when not forced).

    ``keep_pure=True`` (set by ``compact()`` when STICKY bounds were
    reused) enables the INCREMENTAL re-layout: buckets whose single
    input partition is already bucket-pure — untouched by any delta
    since the last layout pass — are carried over verbatim at IO speed
    (binpack-style copy, stats/indexes preserved); only buckets that
    received delta rows merge. At 100 TB this is the difference between
    rewriting the table and rewriting the deltas."""
    from dataclasses import replace as _replace

    from pyspark.sql import functions as F

    from . import decode_job, merge_compact
    from .snapshot import committed_parts

    if cfg.bloom_columns:
        # bloom bits are built from JVM xxhash64 of the row values —
        # only the shuffle plan carries those hash columns, and
        # differently-sized split-block blooms cannot be merged
        return None
    layout_cols = [column] if isinstance(column, str) else list(column)
    primary = layout_cols[0]
    lin = decode_job.lineage(table_dir, filesystem=cfg.filesystem)
    if bounds_override is not None:
        bounds = bounds_override
        n_parts = len(bounds) + 1
    else:
        n_parts = max(1, -(-int(lin["rows"]) // cfg.target_rows))  # ceil
        try:
            bounds = decode_job.range_bounds(
                spark, table_dir, primary, n_parts, filesystem=cfg.filesystem
            )
        except (ValueError, KeyError):
            return None  # no grids / column unknown — shuffle path handles it
    snaps = snapshot_dirs(table_dir, filesystem=cfg.filesystem)
    plan_df = merge_compact.plan(
        spark, snaps, primary, bounds, filesystem=cfg.filesystem
    )
    if plan_df is None:
        return None  # key type without an exact stats column (decimal)
    # the metadata plan frame (KBs) feeds three consumers — the fan-out
    # decision, the keeper split + count, and the fused job itself —
    # cache it so the chunk-stats scan and explode run once, not 3-4×
    plan_cached = plan_df = plan_df.persist()
    try:
        if not force and merge_compact.fanout(plan_df) > merge_compact.FANOUT_LIMIT:
            return None  # inputs not range-local — the shuffle reads each byte once
        already = committed_parts(snap_dir, cfg.filesystem)
        keep_df, n_kept = None, 0
        if keep_pure:
            eligible = [
                sdir for _sid, sdir in snaps
                if set(decode_job.lineage(sdir, filesystem=cfg.filesystem)["columns"])
                == set(lin["columns"])
            ]
            # purity is judged on the UNFILTERED plan: a resumed run that
            # dropped committed buckets first would mis-classify a
            # multi-bucket input partition whose sibling bucket already
            # committed as pure, verbatim-copying rows the committed
            # bucket already holds (duplicates). Committed buckets drop
            # from BOTH halves afterwards (keeper copies are idempotent
            # via copy_chunk_file's marker check, but skipping the drop
            # would still re-open their input files).
            kd, md = merge_compact.split_keepers(plan_df, eligible)
            if already:
                not_done = ~F.col("bucket").isin([int(p) for p in already])
                kd, md = kd.filter(not_done), md.filter(not_done)
            n_kept = kd.count()  # tiny metadata job (plan rows are KBs)
            if n_kept:
                keep_df = kd.drop("w")
            plan_df = md
        elif already:
            # resume: drop committed buckets from the PLAN, so their
            # input files are never even opened
            plan_df = plan_df.filter(
                ~F.col("bucket").isin([int(p) for p in already])
            )
        sort_cols = (
            [cfg.sort_by] if isinstance(cfg.sort_by, str) else list(cfg.sort_by or [])
        )
        sort_cols = layout_cols + [c for c in sort_cols if c not in layout_cols]
        out = merge_compact.encode_fused(
            spark, plan_df.drop("w"), primary, bounds, sort_cols, n_parts,
            lin["schema"], lin["columns"],
            _replace(cfg, sort_by=tuple(sort_cols)),
            snap_dir, n_resumed=len(already), keep_df=keep_df,
        )
    finally:
        plan_cached.unpersist()
    out["layout_kept"] = int(n_kept)
    return out


def _check_additive_schema(fs, root: str, man: dict, new_schema: dict, exc) -> None:
    """Enforce additive schema evolution (Iceberg add-column) against the
    LAST snapshot recorded in ``man``: every existing column must keep its
    type; brand-new columns are allowed and read as NULL in older
    snapshots. Drops/renames/retypes raise ``exc``. Called twice per
    append — once pre-encode for fast failure, and again INSIDE the commit
    lock against the freshly re-read manifest, because a racing append may
    have committed a conflicting schema while we encoded (merged-lineage
    last-wins would then silently cast the other snapshot's chunks)."""
    snaps = man.get("snapshots") or []
    if not snaps:
        return
    last = max(snaps, key=lambda s: s["id"])
    prev_schema = fsio.read_json(fs, fsio.join(root, last["dir"], "_lineage.json"))[
        "schema"
    ]
    changed = {c: (t, new_schema.get(c)) for c, t in prev_schema.items()
               if new_schema.get(c) != t}
    if changed:
        raise exc(
            f"append would drop/retype table columns {changed}; only "
            f"adding new columns is supported (additive evolution)"
        )


def append(
    spark: SparkSession,
    df: DataFrame,
    table_dir: str,
    cfg: EncodeConfig | None = None,
    resume: bool = True,
    batch_key: str | None = None,
    range_layout_on: str | tuple | None = None,
) -> dict:
    """Encode ``df`` as the table's next snapshot and commit it.

    ``range_layout_on=<column or tuple>`` lays the NEW batch out by range
    split points derived from the TABLE'S existing quantile grids
    (numeric/temporal/string keys; a tuple gives a composite layout —
    grid buckets on the first column, within-bucket sort on the rest) — the
    incremental sort-order story: every delta lands range-clustered by
    the same distribution, zone maps stay maximally prunable, and no
    sampling scan of the batch is ever taken (first append, with no
    grids to consult, falls back to the normal layout).

    Crash-safe at every point: the snapshot encodes with per-partition
    atomic commits (resumable), and becomes visible only via the final
    atomic manifest replace. ``batch_key`` is an idempotency key naming
    the logical batch: a retry carrying the same key RESUMES the crashed
    attempt's staging dir (committed partitions are skipped); without a
    key a retry encodes fresh (a claimed crashed dir is never adopted —
    quietness alone cannot distinguish it from a live writer whose first
    commit marker is still in flight). Unclaimed orphan dirs (manual
    encodes) adopt as before.
    """
    cfg = cfg or EncodeConfig()
    fs, root = fsio.resolve(table_dir, cfg.filesystem)
    fsio.mkdirs(fs, root)
    man = read_manifest(table_dir, cfg.filesystem) or {"format": 1, "current": 0, "snapshots": []}
    if batch_key:
        done = _committed_batch(fs, root, man, batch_key)
        if done is not None:
            # exactly-once: this logical batch already committed (a prior
            # attempt crashed AFTER its manifest commit) — return its
            # lineage instead of appending a duplicate
            return done
    new_schema = dict(df.dtypes)
    _check_additive_schema(fs, root, man, new_schema, ValueError)
    # staging-dir choice runs under the manifest lock: adoption of an
    # abandoned orphan and creation of a fresh claimed dir are serialized,
    # so two live writers can never interleave into one snapshot dir
    lock = _acquire_manifest_lock(fs, root)
    try:
        man = read_manifest(table_dir, cfg.filesystem) or man
        next_id = (max((s["id"] for s in man["snapshots"]), default=0)) + 1
        snap_name = _claim_staging_dir(fs, root, man, next_id, batch_key)
    finally:
        _release_manifest_lock(fs, lock)
    snap_dir = os.path.join(table_dir, snap_name)

    enc_cfg = cfg
    if range_layout_on is not None and man["snapshots"]:
        try:
            _lcols = ([range_layout_on] if isinstance(range_layout_on, str)
                      else list(range_layout_on))
            n_delta = df.count()
            # snap the delta's split points to the stored (sticky) layout
            # when one exists: delta partitions then cover whole stored
            # buckets, keeping future re-layout compaction incremental
            aligned = _aligned_append_bounds(table_dir, cfg, _lcols[0], n_delta)
            df, enc_cfg = _range_layout(
                spark, df, table_dir, cfg, range_layout_on, n_delta,
                bounds_override=aligned,
            )
        except (ValueError, KeyError):
            # ValueError: table predates quantile grids (or grids
            # disabled); KeyError: the layout column is not yet in the
            # TABLE schema (this batch introduces it — additive
            # evolution), so quantiles() has no grids to consult. Either
            # way the incremental layout is an optimization, not a
            # requirement.
            enc_cfg = cfg
    lin = encode(spark, df, snap_dir, enc_cfg, resume=resume)

    # Iceberg-style single-pointer commit, serialized by the manifest
    # lock; the snapshot id is FINALIZED here, not at encode start — if
    # another writer committed our provisional id meanwhile, this commit
    # takes the next free id (the manifest maps id → dir explicitly, the
    # dir-name prefix is only an adoption hint). Appends therefore never
    # conflict and never drop each other's entries.
    lock = _acquire_manifest_lock(fs, root)
    try:
        latest = read_manifest(table_dir, cfg.filesystem) or man
        if batch_key:
            done = _committed_batch(fs, root, latest, batch_key)
            if done is not None:
                # a concurrent holder of the same key committed while we
                # encoded — keep the table exactly-once; our fresh dir
                # stays behind as an orphan for vacuum()
                return done
        # re-validate additive evolution against the manifest AS COMMITTED:
        # the pre-encode check ran outside the lock, so a racing append may
        # have committed a conflicting schema meanwhile (e.g. both adds of
        # column y with different types — merged-lineage last-wins would
        # then silently cast one snapshot's chunks to the wrong type).
        # Raising CommitConflict here keeps the race loud, like compact().
        _check_additive_schema(fs, root, latest, dict(lin["schema"]), CommitConflict)
        # strictly greater than every committed id — NOT "first free id":
        # a ``since=k`` incremental consumer assumes ids are monotone in
        # commit order, so a later commit must never fill an earlier gap
        commit_id = max(
            next_id, max((s["id"] for s in latest["snapshots"]), default=0) + 1
        )
        entry = {
            "id": commit_id,
            "dir": snap_name,
            "rows": lin["rows"],
            "raw_bytes": lin["raw_bytes"],
            "enc_bytes": lin["enc_bytes"],
            "created_unix": time.time(),
        }
        if batch_key:
            entry["batch_key"] = batch_key  # the exactly-once record
        latest["snapshots"].append(entry)
        latest["current"] = max(commit_id, latest.get("current", 0))
        _write_manifest(table_dir, latest, cfg.filesystem)
    finally:
        _release_manifest_lock(fs, lock)
    return lin


def _committed_batch(fs, root: str, man: dict, batch_key: str) -> dict | None:
    """The committed lineage of ``batch_key``'s snapshot, or None if no
    snapshot in ``man`` carries that key. Compacted snapshots carry the
    keys of everything they absorbed (``compacted_batch_keys``), so the
    exactly-once guarantee survives compaction."""
    for s in man.get("snapshots", []):
        if s.get("batch_key") == batch_key or batch_key in s.get(
            "compacted_batch_keys", []
        ):
            lin = fsio.read_json(fs, fsio.join(root, s["dir"], "_lineage.json"))
            lin["already_committed"] = True
            lin["snapshot_id"] = s["id"]
            return lin
    return None


def _write_manifest(table_dir: str, man: dict, filesystem=None) -> None:
    """Atomic on local/HDFS (rename); on rename-free object stores a
    manifest PUT is atomic per object — same single-pointer commit model
    Iceberg uses (readers follow only the manifest)."""
    fs, root = fsio.resolve(table_dir, filesystem)
    fsio.write_json_atomic(fs, fsio.join(root, MANIFEST), man, indent=1)


def compact(
    spark: SparkSession,
    table_dir: str,
    cfg: EncodeConfig | None = None,
    keep_old: bool = False,
    range_layout_on: str | tuple | None = None,
    local_merge: bool | None = None,
    binpack: bool | None = None,
) -> dict:
    """Rewrite every committed snapshot into one fresh snapshot (the
    Iceberg `rewrite_data_files` maintenance op): many small appends →
    one well-partitioned snapshot, re-running codec selection over the
    merged data. Readers switch atomically at the manifest replace; old
    snapshot dirs are removed afterwards (or kept with ``keep_old`` for
    external time-travel archival).

    ``range_layout_on=<column or tuple>`` lays the rewrite out by RANGE of
    that column using split points from the table's own quantile grids —
    metadata-only planning (no sampling scan of 100 TB), a bucket
    expression instead of the encode job's hash shuffle, and DISJOINT
    per-partition zone maps on the column, so post-compaction range/point
    reads prune maximally. The target partition count comes from
    ``cfg.target_rows`` against the table's row count.

    ``local_merge`` picks the EXCHANGE-FREE compaction plan (see
    operators/merge_compact.py): one FUSED Arrow task per output bucket
    reads only its overlapping input chunk files (planned from chunk
    zone maps — metadata only), page-prunes to the bucket's key span,
    merges + sorts + ENCODES in place — the payload never crosses a
    shuffle and never enters the JVM at all. ``None`` (default)
    auto-selects it when ``range_layout_on`` is set and the measured
    plan fan-out (avg output buckets per input file) stays under
    ``merge_compact.FANOUT_LIMIT`` — i.e. when the inputs are already
    range-laid-out deltas; un-laid-out inputs whose partitions span the
    whole key space fall back to the shuffle plan, which reads each
    input byte exactly once.

    ``binpack`` (plain compaction only — ignored under
    ``range_layout_on``, whose rewrite re-buckets every row): partitions
    already sized within Iceberg's binpack window
    ([0.75, 1.8] × ``cfg.target_rows``) are carried over VERBATIM at
    IO speed — chunk files copied with their ``part_id`` renumbered,
    payloads never decoded, all stats/indexes preserved — and only the
    under/over-sized tail is decoded and re-encoded (see
    operators/binpack.py). Default ``None`` enables it; pass ``False``
    to force a full re-encode of every partition (e.g. after changing
    codec config, which binpack deliberately does NOT re-apply to
    keepers)."""
    from . import decode_job

    if cfg is None:
        # derive a schema-appropriate default: key/sort on the table's
        # first column, no host bucketing (the url-specific default would
        # fail on tables without a url column)
        lin0 = decode_job.lineage(table_dir)
        first = lin0["columns"][0]
        cfg = EncodeConfig(key=first, sort_by=first, host_from_key=False)
    man = read_manifest(table_dir, cfg.filesystem)
    if man is None or not man["snapshots"]:
        raise FileNotFoundError(f"{table_dir}: nothing to compact")
    old = snapshot_dirs(table_dir, filesystem=cfg.filesystem)
    next_id = max(s["id"] for s in man["snapshots"]) + 1
    fs, root = fsio.resolve(table_dir, cfg.filesystem)
    # deterministic resume key: a retry compacting the SAME snapshot set
    # adopts the crashed attempt's staging dir (resume skips committed
    # partitions); if the table changed meanwhile the key differs and the
    # stale partial encode is correctly abandoned (vacuum collects it)
    compact_key = "compact:" + ",".join(str(s["id"]) for s in sorted(
        man["snapshots"], key=lambda s: s["id"]))
    lock = _acquire_manifest_lock(fs, root)
    try:
        snap_name = _claim_staging_dir(fs, root, man, next_id, compact_key)
    finally:
        _release_manifest_lock(fs, lock)
    snap_dir = os.path.join(table_dir, snap_name)

    # STICKY layout bounds: reuse the previous layout's split points
    # while the table size keeps partitions near target — aligned
    # buckets keep old partitions bucket-pure across maintenance
    # cycles (fan-out ~1 under the fused plan) and zone maps
    # comparable. Falls back to fresh grid-derived bounds when the
    # table outgrew the stored layout or none exists.
    layout_bounds, layout_reused = None, False
    if range_layout_on is not None:
        _lcols = ([range_layout_on] if isinstance(range_layout_on, str)
                  else list(range_layout_on))
        try:
            layout_bounds, _, layout_reused = _resolve_layout_bounds(
                spark, table_dir, cfg, _lcols[0],
                sum(s["rows"] for s in man["snapshots"]),
            )
        except (ValueError, KeyError):
            layout_bounds = None  # no grids: paths below handle/raise as before

    lin = None
    if range_layout_on is not None and local_merge is not False:
        lin = _local_merge_compact(
            spark, table_dir, cfg, range_layout_on, snap_dir,
            force=bool(local_merge), bounds_override=layout_bounds,
            keep_pure=layout_reused,
        )
    if lin is not None:
        lin["compaction_path"] = "local_merge"
    elif range_layout_on is None and binpack is not False:
        from .binpack import binpack_compact

        lin = binpack_compact(spark, table_dir, cfg, snap_dir)
        lin["compaction_path"] = "binpack"
    else:
        df = decode_job.decode(spark, table_dir, filesystem=cfg.filesystem)
        enc_cfg = cfg
        if range_layout_on is not None:
            # bucket by the sketch bounds — handed to encode as the EXACT
            # partition id (partition_column), so every bucket is its own
            # partition (repartitionByRange over a handful of distinct bucket
            # values under-splits: RangePartitioner boundaries are sampled)
            df, enc_cfg = _range_layout(
                spark, df, table_dir, cfg, range_layout_on,
                sum(s["rows"] for s in man["snapshots"]),
                bounds_override=layout_bounds,
            )
        lin = encode(spark, df, snap_dir, enc_cfg, resume=True)
        lin["compaction_path"] = "shuffle"

    if range_layout_on is not None and layout_bounds is not None:
        # persist the split points this rewrite USED (sticky bounds for
        # the next maintenance pass) before the manifest swap, so every
        # committed layout snapshot carries its layout
        _write_layout_sidecar(
            cfg, snap_dir,
            (range_layout_on if isinstance(range_layout_on, str)
             else list(range_layout_on)[0]),
            layout_bounds,
        )
        lin["layout_bounds_reused"] = layout_reused
    elif lin.get("compaction_path") == "binpack":
        # binpack keepers are verbatim copies — the physical range layout
        # (if any) survives plain compaction, so carry the operative
        # sidecar into the new snapshot; only the re-encoded tail departs
        # from it, which the next re-layout's fan-out gate tolerates
        prev_doc = _newest_layout_doc(table_dir, cfg)
        if prev_doc is not None:
            sfs, sroot = fsio.resolve(snap_dir, cfg.filesystem)
            fsio.write_json_atomic(
                sfs, fsio.join(sroot, "_layout.json"), prev_doc
            )

    compacted_ids = {s["id"] for s in man["snapshots"]}
    # batch keys of everything absorbed ride along so a late keyed retry
    # still short-circuits (exactly-once survives compaction)
    absorbed_keys = sorted(
        {s["batch_key"] for s in man["snapshots"] if s.get("batch_key")}
        | {k for s in man["snapshots"] for k in s.get("compacted_batch_keys", [])}
    )
    entry = {
        "id": next_id,
        "dir": snap_name,
        "rows": lin["rows"],
        "raw_bytes": lin["raw_bytes"],
        "enc_bytes": lin["enc_bytes"],
        "created_unix": time.time(),
        "compacted_from": sorted(compacted_ids),
    }
    if absorbed_keys:
        entry["compacted_batch_keys"] = absorbed_keys
    new_man = {
        "format": man["format"],
        "current": next_id,
        "snapshots": [entry],
    }
    if keep_old:
        # archived (manifest-unreferenced) dirs must survive vacuum()
        new_man["archived"] = sorted(
            set(man.get("archived", [])) | {s["dir"] for s in man["snapshots"]}
        )
    elif man.get("archived"):
        new_man["archived"] = man["archived"]
    # the (long) re-encode ran outside the lock; refuse the manifest
    # replace if any snapshot was appended meanwhile — the rewrite would
    # silently drop it. Caller retries the compaction over the new state.
    lock = _acquire_manifest_lock(fs, root)
    try:
        latest = read_manifest(table_dir, cfg.filesystem)
        latest_ids = {s["id"] for s in latest["snapshots"]} if latest else set()
        if latest_ids != compacted_ids:
            raise CommitConflict(
                f"table changed during compaction (snapshots {sorted(latest_ids)} "
                f"vs compacted {sorted(compacted_ids)}) — retry compact()"
            )
        _write_manifest(table_dir, new_man, cfg.filesystem)
    finally:
        _release_manifest_lock(fs, lock)
    if not keep_old:
        for _, sdir in old:
            sfs, sroot = fsio.resolve(sdir, cfg.filesystem)
            fsio.delete_dir(sfs, sroot)
    return lin


VACUUM_FLOOR_S = 3600.0  # quiet-age floor: must exceed any plausible
# encode-finished-to-manifest-commit stall, or vacuum could collect a
# snapshot whose commit is still in flight


def vacuum(table_dir: str, older_than_s: float = 86400.0, filesystem=None) -> list[str]:
    """Delete abandoned staging dirs: ``snap-*`` dirs neither referenced
    by the manifest nor archived by ``compact(keep_old=True)``, whose
    newest file activity is older than ``older_than_s`` (default 24 h,
    floored at ``VACUUM_FLOOR_S``). This is where unkeyed crashed
    appends, lost compactions, and superseded keyed retries end up;
    committed and archived snapshot dirs are never touched, dirs without
    a readable mtime are PROTECTED (an mtime-less store cannot prove a
    dir is abandoned), and the scan+delete runs under the manifest lock
    so it cannot race a concurrent claim or commit.

    A dir holding a ``_claim.json`` is additionally protected until the
    CLAIM itself is older than ``older_than_s``: a live append stalled
    mid-encode for hours (queued cluster) can be file-quiet while its
    driver still holds a committed_parts listing — deleting its part
    files would make the resumed writer skip re-encoding them and commit
    a manifest referencing missing files (silent row loss). Operators
    must therefore pick ``older_than_s`` longer than the longest possible
    append wall-time — the claim age bounds the total job age, not just
    the quiet gap. Returns the deleted dir names."""
    fs, root = fsio.resolve(table_dir, filesystem)
    older_than_s = max(older_than_s, VACUUM_FLOOR_S)
    deleted = []
    lock = _acquire_manifest_lock(fs, root)
    try:
        man = read_manifest(table_dir, filesystem)
        keep = {s["dir"] for s in (man["snapshots"] if man else [])}
        keep |= set((man or {}).get("archived", []))
        for d in fsio.listdir(fs, root):
            if not d.startswith("snap-") or d in keep:
                continue
            p = fsio.join(root, d)
            if not fsio.is_dir(fs, p):
                continue
            mt = fsio.newest_mtime(fs, p)
            if mt is None or time.time() - mt <= older_than_s:
                continue
            claim_p = fsio.join(p, CLAIM)
            if fsio.exists(fs, claim_p):
                # claimed dir: only collect once the CLAIM is older than
                # the window too — quietness alone can't distinguish an
                # abandoned dir from a live append stalled mid-encode
                claim_age = None
                try:
                    claim = fsio.read_json(fs, claim_p)
                    created = float(claim.get("created_unix", 0.0) or 0.0)
                    if created > 0:
                        claim_age = time.time() - created
                except (ValueError, OSError):
                    pass
                if claim_age is None:
                    claim_mt = fsio.file_mtime(fs, claim_p)
                    claim_age = (
                        time.time() - claim_mt if claim_mt is not None else None
                    )
                if claim_age is None or claim_age <= older_than_s:
                    continue
            fsio.delete_dir(fs, p)
            deleted.append(d)
    finally:
        _release_manifest_lock(fs, lock)
    return deleted


def layout_drift(table_dir: str, filesystem=None) -> float | None:
    """Bucket-balance drift of the CURRENT table: max partition weight
    over mean partition weight, from lineage metadata only (each
    snapshot's ``max_partition_rows`` rides the encode job's observed
    metrics — zero extra jobs, O(#snapshots) driver work).

    1.0 is perfectly equal-weight range layout; repeated skewed
    ``append(range_layout_on=)`` deltas push it up because each delta
    reuses bounds from the table's historical grids. A ``compact(...,
    range_layout_on=)`` re-derives bounds from the merged grids and
    re-equalizes. None when any snapshot's lineage predates the field."""
    from . import decode_job

    man = read_manifest(table_dir, filesystem)
    if not man or not man["snapshots"]:
        return None
    total_rows = total_parts = 0
    mx = 0
    for s in man["snapshots"]:
        lin = decode_job.lineage(
            os.path.join(table_dir, s["dir"]), filesystem=filesystem
        )
        m = lin.get("max_partition_rows")
        n = lin.get("n_partitions_committed")
        if m is None or not n:
            return None
        mx = max(mx, int(m))
        total_rows += int(lin["rows"])
        total_parts += int(n)
    if total_parts == 0 or total_rows == 0:
        return None
    return mx / (total_rows / total_parts)
