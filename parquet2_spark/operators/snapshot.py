"""One snapshot directory on disk: its layout, its commit protocol, and
the run splitter that feeds its partition tasks.

Snapshot layout (Iceberg-style: immutable data files + manifest):
    <snapshot>/chunks/part-<part_id>.parquet
    <snapshot>/_commits/<part_id>.json
    <snapshot>/_tmp/                       (staging for atomic writes)
    <snapshot>/_metrics/job-<uuid>/*.parquet
    <snapshot>/_lineage.json

Every Spark partition task of a writer (encode job, fused merge
compaction, keeper copies) is a column-chunk worker that owns whole
partitions. It commits each partition in two atomic steps: the chunk
file first (staged under ``_tmp/``, outside the Spark scan dir, then
renamed into ``chunks/``), then a slim commit marker. A marker therefore
always has its data file; the markers are the resume ledger
(``committed_parts``) and the torn-snapshot check (``torn_parts``).

Part identity lives in the chunk FILENAME (``decode_job.chunks_df``
derives ``part_id`` from it), which is what lets a keeper be carried
into a new snapshot as a byte-verbatim file copy.

Marker fields: ``part_id``, ``file``, ``rows``, ``wall_s``, plus
``cpu_s`` for encoded partitions or the copy's provenance
(``binpack_copied_from`` / ``layout_copied_from``) for keepers.
"""

from __future__ import annotations

import json
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

from .. import fsio

CHUNKS = "chunks"
COMMITS = "_commits"
TMP = "_tmp"


def chunk_name(part_id: int) -> str:
    return f"part-{int(part_id):06d}.parquet"


def chunks_dir(snapshot_root: str) -> str:
    return fsio.join(snapshot_root, CHUNKS)


def chunk_path(snapshot_root: str, part_id: int) -> str:
    return fsio.join(snapshot_root, CHUNKS, chunk_name(part_id))


def _marker_ids(fs, root: str) -> list[int]:
    commits = fsio.join(root, COMMITS)
    if not fsio.is_dir(fs, commits):
        return []
    return [
        int(f.split(".")[0])
        for f in fsio.listdir(fs, commits)
        if f.endswith(".json") and f.split(".")[0].isdigit()
    ]


def committed_parts(snapshot_dir: str, filesystem=None) -> set[int]:
    """Part ids whose commit marker exists (the resume ledger)."""
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    return set(_marker_ids(fs, root))


def torn_parts(snapshot_dir: str, filesystem=None) -> list[int]:
    """Part ids with a commit marker but no chunk file, sorted."""
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    return sorted(
        pid for pid in _marker_ids(fs, root)
        if not fsio.exists(fs, chunk_path(root, pid))
    )


class PartWriter:
    """One task's handle on the snapshot it writes: resolves the
    filesystem and creates the layout dirs once, then commits partitions
    chunk-file-then-marker."""

    def __init__(self, snapshot_dir: str, filesystem=None):
        self.fs, self.root = fsio.resolve(snapshot_dir, filesystem)
        self.tmp_dir = fsio.join(self.root, TMP)
        for d in (chunks_dir(self.root), fsio.join(self.root, COMMITS), self.tmp_dir):
            fsio.mkdirs(self.fs, d)

    def _marker_path(self, part_id: int) -> str:
        return fsio.join(self.root, COMMITS, f"{int(part_id)}.json")

    def is_committed(self, part_id: int) -> bool:
        return fsio.exists(self.fs, self._marker_path(part_id))

    def _mark(self, part_id: int, rows: int, wall: float, extra: dict) -> None:
        fsio.write_json_atomic(
            self.fs,
            self._marker_path(part_id),
            {
                "part_id": int(part_id),
                "file": chunk_name(part_id),
                "rows": int(rows),
                "wall_s": wall,
                **extra,
            },
        )

    def commit_table(
        self, part_id: int, table: pa.Table, rows: int, t0: float, c0: float
    ) -> float:
        """Write ``table`` as the partition's chunk file (payloads are
        already compressed — stored raw), then its marker with the task's
        wall and cpu seconds since ``t0``/``c0``. Returns the wall."""
        fsio.write_parquet_atomic(
            self.fs, chunk_path(self.root, part_id), table,
            tmp_dir=self.tmp_dir, compression="none",
        )
        wall = time.time() - t0
        self._mark(part_id, rows, wall, {"cpu_s": time.process_time() - c0})
        return wall

    def commit_copy(
        self, part_id: int, src_fs, src_path: str, rows: int, t0: float, extra: dict
    ) -> float:
        """Copy a chunk file verbatim as the partition's chunk file, then
        write its marker (``extra`` records provenance). Returns the wall
        since ``t0``."""
        fsio.copy_file_atomic(
            src_fs, src_path, self.fs, chunk_path(self.root, part_id),
            tmp_dir=self.tmp_dir,
        )
        wall = time.time() - t0
        self._mark(part_id, rows, wall, extra)
        return wall


def copy_chunk_file(
    writer: PartWriter, src_fs, src_path: str, npid: int, marker_extra: dict
) -> pa.RecordBatch | None:
    """Carry one partition's chunk parquet into the writer's snapshot as
    partition ``npid``: a BYTE-VERBATIM copy plus its commit marker.
    Part identity lives in the filename, so the embedded ``part_id`` is
    dead weight and the file needs NO rewrite: locally the copy streams
    at IO speed with no parquet parse; on an object store the
    ``fsio.copy_file_atomic`` hook becomes a server-side copy moving zero
    bytes through the worker. Metric rows come from a column-projected
    read of the slim stat columns (payload chunks are never fetched),
    with ``part_id`` patched to ``npid`` in the METRIC stream only.
    Returns the metric record batch, or None when the marker already
    exists (resume)."""
    from .encode_job import METRICS_PA_SCHEMA

    t0 = time.time()
    if writer.is_committed(npid):
        return None  # resume: this keeper already carried over
    stat_fields = [f for f in METRICS_PA_SCHEMA if f.name != "wall_s"]
    with src_fs.open_input_file(src_path) as fh:
        pf = pq.ParquetFile(fh)
        have = pf.schema_arrow.names
        mt = pf.read(columns=[fld.name for fld in stat_fields if fld.name in have])
    n = mt.num_rows
    arrs = []
    for fld in stat_fields:
        if fld.name == "part_id":
            arr = pa.array(np.full(n, npid, dtype=np.int64))
        elif fld.name in mt.schema.names:
            arr = mt.column(fld.name).combine_chunks().cast(fld.type)
        else:  # chunk file from before this stat column existed
            arr = pa.nulls(n, fld.type)
        if fld.name == "n_rows":
            rows = int(pc.max(arr).as_py() or 0)
        arrs.append(arr)
    wall = writer.commit_copy(npid, src_fs, src_path, rows, t0, marker_extra)
    arrs.append(pa.array([wall] * n, pa.float64()))
    return pa.record_batch(arrs, schema=METRICS_PA_SCHEMA)


def copy_keepers(plan: DataFrame, snapshot_dir: str, filesystem=None) -> DataFrame:
    """Metric-row frame of the verbatim keeper copies into
    ``snapshot_dir``. ``plan`` has one row per keeper: ``src_snap`` (the
    source snapshot dir), ``src_pid`` (its part id there), ``new_pid``
    (its part id in the new snapshot) and ``marker`` (a JSON object of
    provenance fields for the commit marker). Tasks are spread by
    ``new_pid``; each skips keepers already committed, so a crashed copy
    retried into the same dir finishes exactly once."""
    from .encode_job import CHUNK_SCHEMA

    def copy_tasks(batches):
        writer = PartWriter(snapshot_dir, filesystem)
        for rb in batches:
            cols = rb.to_pydict()
            for snap, pid, npid, marker in zip(
                cols["src_snap"], cols["src_pid"], cols["new_pid"], cols["marker"]
            ):
                src_fs, src_root = fsio.resolve(snap, filesystem)
                out = copy_chunk_file(
                    writer, src_fs, chunk_path(src_root, pid), int(npid),
                    json.loads(marker),
                )
                if out is not None:
                    yield out

    return (
        plan.select("src_snap", "src_pid", "new_pid", "marker")
        .repartition("new_pid")
        .mapInArrow(copy_tasks, CHUNK_SCHEMA)
    )


def split_runs(batches, key: str):
    """Split an Arrow batch stream whose rows arrive grouped by ``key``
    into one table per run of equal keys, using zero-copy batch slices.
    A run may span batch boundaries; empty batches are skipped. Raises
    ``ValueError`` when a key shows up again after its run closed: the
    stream was not grouped, and the caller would silently split one
    partition into two."""
    bufs: list = []
    cur = None
    closed: set = set()
    for rb in batches:
        if rb.num_rows == 0:
            continue
        keys = rb.column(rb.schema.get_field_index(key)).to_numpy()
        cuts = np.flatnonzero(keys[1:] != keys[:-1]) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(keys)]))
        for s, e in zip(starts, ends):
            k = keys[s].item()
            if k != cur:
                if bufs:
                    yield pa.Table.from_batches(bufs)
                    bufs = []
                    closed.add(cur)
                if k in closed:
                    raise ValueError(
                        f"{key}={k} reappears after its run closed: "
                        f"the input is not grouped by {key}"
                    )
                cur = k
            bufs.append(rb.slice(s, e - s))
    if bufs:
        yield pa.Table.from_batches(bufs)
