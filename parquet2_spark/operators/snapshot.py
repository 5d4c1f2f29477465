"""One snapshot directory on disk: its layout, its commit protocol, and
the run splitter that feeds its partition tasks.

Snapshot layout (Iceberg-style: immutable data files + manifest):
    <snapshot>/chunks/part-<part_id>.parquet
    <snapshot>/_commits/<part_id>.json
    <snapshot>/_tmp/                       (staging for atomic writes)
    <snapshot>/_metrics/job-<id>/part-<task>.parquet
    <snapshot>/_lineage.json

Every Spark partition task of a writer (encode job, fused merge
compaction, keeper copies) is a column-chunk worker that owns whole
partitions. It commits each partition in two atomic steps: the chunk
file first (staged under ``_tmp/``, outside the Spark scan dir, then
renamed into ``chunks/``), then a slim commit marker. A marker therefore
always has its data file; the markers are the resume ledger
(``committed_parts``) and the torn-snapshot check (``torn_parts``).

Part identity lives in the chunk FILENAME (``chunk_listing`` derives
``part_id`` from it, and every reader takes it from the listing), which
is what lets a keeper be carried into a new snapshot as a byte-verbatim
file copy.

Marker fields: ``part_id``, ``file``, ``rows``, ``wall_s``, plus
``cpu_s`` and the writer's planned partition count ``n_parts`` for
encoded partitions, or the copy's provenance (``binpack_copied_from`` /
``layout_copied_from``) for keepers.

Every writer task also writes its partitions' metric rows (below) as one
parquet file under ``_metrics/job-<id>/``, staged in ``_tmp/``
(``metric_task``). The writer's action is then a discard (``noop``) sink:
no Spark file writer, no commit protocol, nothing O(#partitions) through
the driver.

A chunk file holds one row per column of its partition, typed by
``CHUNK_PA_SCHEMA`` (the one declaration of the format):
    part_id, column, type_code, n_rows, null_count, n_pages,
    codecs, outers                       codec mix, comma-joined
    raw_bytes, enc_bytes
    min_bin/max_bin, min_num/max_num,
    min_dbl/max_dbl                      chunk zone maps
    ndv                                  distinct-count hint
    page_rows, page_mins, page_maxs,
    page_nulls, bounds_order             page index (json text)
    qgrid                                quantile grid (json text)
    bloom, ndv_hll                       bloom filter, NDV sketch
    payload                              the encoded chunk
Every chunk read goes through ``ChunkFile`` (pyarrow: one open and one
footer parse, then any number of field reads; ``read_chunk_file`` is its
one-read form; ``decode_job.chunks_frame`` runs it in Spark tasks for
the metadata queries), typed by that schema: a field missing from an
older file reads as null, so no reader asks which fields a file has. The metric rows the writers return are the chunk
rows without ``payload``, ``bloom``, ``ndv_hll``, ``qgrid``,
``bounds_order`` and the page min/max/null lists, plus ``wall_s``.
"""

from __future__ import annotations

import json
import re
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame

from .. import fsio

CHUNKS = "chunks"
COMMITS = "_commits"
TMP = "_tmp"
METRICS = "_metrics"

CHUNK_PA_SCHEMA = pa.schema(
    [
        ("part_id", pa.int64()),
        ("column", pa.string()),
        ("type_code", pa.int32()),
        ("n_rows", pa.int64()),
        ("null_count", pa.int64()),
        ("n_pages", pa.int32()),
        ("codecs", pa.string()),
        ("outers", pa.string()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("min_bin", pa.binary()),
        ("max_bin", pa.binary()),
        ("min_num", pa.int64()),
        ("max_num", pa.int64()),
        # float zone maps (reference keeps PrimitiveStatistics<f32/f64>,
        # src/statistics/primitive.rs:11-17) + persisted distinct-count
        # hint (reference statistics carry it, src/statistics/mod.rs:20-26)
        ("min_dbl", pa.float64()),
        ("max_dbl", pa.float64()),
        ("ndv", pa.int64()),
        ("page_rows", pa.string()),
        ("page_mins", pa.string()),
        ("page_maxs", pa.string()),
        # per-page null counts (PageIndex null_count analog,
        # reference/src/indexes/index.rs:74-135) for IS [NOT] NULL skip
        ("page_nulls", pa.string()),
        # mergeable K-cell quantile grid (numeric/temporal columns, zone-map
        # units) — table-level quantiles / repartitionByRange planning
        # without a sampling scan (plans/quantile.py)
        ("qgrid", pa.string()),
        ("bounds_order", pa.string()),
        ("bloom", pa.binary()),
        ("ndv_hll", pa.binary()),
        ("payload", pa.binary()),
    ]
)

_NOT_METRIC = {
    "page_mins", "page_maxs", "page_nulls", "qgrid", "bounds_order",
    "bloom", "ndv_hll", "payload",
}
METRICS_PA_SCHEMA = pa.schema(
    [f for f in CHUNK_PA_SCHEMA if f.name not in _NOT_METRIC]
    + [pa.field("wall_s", pa.float64())]
)

_DDL_TYPE = {
    pa.int32(): "int", pa.int64(): "long", pa.float64(): "double",
    pa.string(): "string", pa.binary(): "binary",
}


def ddl(schema: pa.Schema) -> str:
    """Spark DDL of a schema of chunk-file fields."""
    return ", ".join(f"`{f.name}` {_DDL_TYPE[f.type]}" for f in schema)


METRICS_DDL = ddl(METRICS_PA_SCHEMA)


def chunk_name(part_id: int) -> str:
    return f"part-{int(part_id):06d}.parquet"


def chunks_dir(snapshot_root: str) -> str:
    return fsio.join(snapshot_root, CHUNKS)


def chunk_path(snapshot_root: str, part_id: int) -> str:
    return fsio.join(snapshot_root, CHUNKS, chunk_name(part_id))


class ChunkFile:
    """One chunk file, opened once through pyarrow: ``read`` any fields,
    typed by ``CHUNK_PA_SCHEMA`` (a field the file lacks reads as null),
    as often as needed, with the footer parsed once. The decoder reads
    a file's metadata fields, tests them, and reads the payload of a
    survivor from the same open file.

    The file is read by ``pq.ParquetFile`` on the calling thread. The
    dataset reader behind ``pq.read_table`` would cost every fresh
    Python worker about 0.26 CPU-s to import, and a thread pool, to read
    what is one row group."""

    def __init__(self, fs, path: str):
        self._f = (fs or pafs.LocalFileSystem()).open_input_file(path)
        try:
            self._pf = pq.ParquetFile(self._f)
        except BaseException:
            self._f.close()
            raise
        self._have = set(self._pf.schema_arrow.names)

    def read(self, columns: list[str] | None = None) -> pa.Table:
        want = CHUNK_PA_SCHEMA if columns is None else pa.schema(
            [CHUNK_PA_SCHEMA.field(c) for c in columns]
        )
        t = self._pf.read(columns=[c for c in want.names if c in self._have], use_threads=False)
        n = self._pf.metadata.num_rows
        return pa.table(
            [
                t.column(fld.name).cast(fld.type) if fld.name in self._have
                else pa.nulls(n, fld.type)
                for fld in want
            ],
            schema=want,
        )

    def close(self) -> None:
        self._f.close()

    def __enter__(self) -> "ChunkFile":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def read_chunk_file(fs, path: str, columns: list[str] | None = None) -> pa.Table:
    """The ``columns`` of a chunk file (all by default), read once
    through ``ChunkFile``."""
    with ChunkFile(fs, path) as f:
        return f.read(columns)


def _marker_ids(fs, root: str) -> list[int]:
    return [
        int(f.split(".")[0])
        for f in fsio.listdir(fs, fsio.join(root, COMMITS))
        if f.endswith(".json") and f.split(".")[0].isdigit()
    ]


_CHUNK_NAME = re.compile(r"part-(\d+)\.parquet")


def chunk_listing(snapshot_dir: str, filesystem=None) -> tuple[np.ndarray, np.ndarray, list[int]]:
    """One listing each of ``chunks/`` and ``_commits/``: the chunk
    files' part ids and byte sizes (int64 arrays in part id order), and
    the torn part ids (a commit marker without its chunk file), sorted.
    No file is stat-ed on its own, so the cost is two listings at any
    partition count."""
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    infos = fs.get_file_info(pafs.FileSelector(chunks_dir(root), allow_not_found=True))
    found = sorted(
        (int(m.group(1)), i.size)
        for i in infos
        if i.is_file and (m := _CHUNK_NAME.fullmatch(i.base_name))
    )
    ids, sizes = np.array(found, dtype=np.int64).reshape(-1, 2).T.copy()
    torn = sorted(set(_marker_ids(fs, root)).difference(ids.tolist()))
    return ids, sizes, torn


def committed_parts(snapshot_dir: str, filesystem=None) -> set[int]:
    """Part ids whose commit marker exists (the resume ledger)."""
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    return set(_marker_ids(fs, root))


def planned_parts(snapshot_dir: str, parts: set[int], filesystem=None) -> int | None:
    """The partition count the writer of the committed ``parts`` planned,
    from the marker of the lowest of them (one read: every encoded marker
    of one snapshot holds the same count, and keeper copies take ids
    above the encoded ones). None when that marker predates the field or
    is a keeper's."""
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    marker = fsio.read_json(fs, fsio.join(root, COMMITS, f"{min(parts)}.json"))
    return marker.get("n_parts")


def torn_parts(snapshot_dir: str, filesystem=None) -> list[int]:
    """Part ids with a commit marker but no chunk file, sorted."""
    return chunk_listing(snapshot_dir, filesystem)[2]


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
        self, part_id: int, table: pa.Table, rows: int, t0: float, c0: float,
        n_parts: int,
    ) -> float:
        """Write ``table`` as the partition's chunk file (payloads are
        already compressed — stored raw), then its marker with the task's
        wall and cpu seconds since ``t0``/``c0`` and the writer's planned
        partition count. Returns the wall."""
        fsio.write_parquet_atomic(
            self.fs, chunk_path(self.root, part_id), table,
            tmp_dir=self.tmp_dir, compression="none",
        )
        wall = time.time() - t0
        self._mark(
            part_id, rows, wall,
            {"cpu_s": time.process_time() - c0, "n_parts": int(n_parts)},
        )
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


def metrics_job() -> str:
    """A fresh ``_metrics`` job dir name, one per writer action: a retried
    action never mixes its rows with a crashed attempt's."""
    return f"job-{uuid.uuid4().hex[:8]}"


def _write_metrics(snapshot_dir: str, filesystem, job: str, name: str, rows: pa.Table) -> None:
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    job_dir, tmp_dir = fsio.join(root, METRICS, job), fsio.join(root, TMP)
    for d in (job_dir, tmp_dir):
        fsio.mkdirs(fs, d)
    fsio.write_parquet_atomic(fs, fsio.join(job_dir, name), rows, tmp_dir=tmp_dir)


def metric_task(snapshot_dir: str, filesystem, job: str, tables):
    """Finish one writer task: drain ``tables`` (the metric rows of the
    partitions it committed), write them as the task's one parquet file
    under ``_metrics/<job>/`` (staged in ``_tmp/``, named by the task's
    partition index so a retried task replaces its earlier attempt's
    file), then yield them as record batches for the action's
    observations. A task that committed nothing writes nothing."""
    out = [t for t in tables if t.num_rows]
    if not out:
        return
    rows = pa.concat_tables(out)
    ctx = TaskContext.get()
    name = f"part-{ctx.partitionId():05d}" if ctx else f"part-{uuid.uuid4().hex[:8]}"
    _write_metrics(snapshot_dir, filesystem, job, f"{name}.parquet", rows)
    yield from rows.to_batches()


def seal_metrics_job(snapshot_dir: str, filesystem, job: str) -> None:
    """After a writer action: a job none of whose tasks committed a
    partition (empty input, everything resumed) leaves one empty file,
    so ``_metrics`` always reads as a parquet dataset."""
    fs, root = fsio.resolve(snapshot_dir, filesystem)
    if not fsio.is_dir(fs, fsio.join(root, METRICS, job)):
        _write_metrics(
            snapshot_dir, filesystem, job, "part-empty.parquet",
            METRICS_PA_SCHEMA.empty_table(),
        )


def copy_chunk_file(
    writer: PartWriter, src_fs, src_path: str, npid: int, marker_extra: dict
) -> pa.Table | None:
    """Carry one partition's chunk parquet into the writer's snapshot as
    partition ``npid``: a BYTE-VERBATIM copy plus its commit marker.
    Part identity lives in the filename, so the embedded ``part_id`` is
    dead weight and the file needs NO rewrite: locally the copy streams
    at IO speed with no parquet parse; on an object store the
    ``fsio.copy_file_atomic`` hook becomes a server-side copy moving zero
    bytes through the worker. Metric rows come from a column-projected
    read of the slim stat columns (payload chunks are never fetched),
    with ``part_id`` patched to ``npid`` in the METRIC stream only.
    Returns the metric rows, or None when the marker already exists
    (resume)."""
    t0 = time.time()
    if writer.is_committed(npid):
        return None  # resume: this keeper already carried over
    mt = read_chunk_file(src_fs, src_path, METRICS_PA_SCHEMA.names[:-1])
    n = mt.num_rows
    pid_at = mt.schema.get_field_index("part_id")
    mt = mt.set_column(pid_at, "part_id", pa.array(np.full(n, npid, dtype=np.int64)))
    rows = int(pc.max(mt.column("n_rows")).as_py() or 0)
    wall = writer.commit_copy(npid, src_fs, src_path, rows, t0, marker_extra)
    return mt.append_column("wall_s", pa.array([wall] * n, pa.float64()))


def copy_keepers(
    plan: DataFrame, snapshot_dir: str, filesystem, job: str
) -> DataFrame:
    """Metric-row frame of the verbatim keeper copies into
    ``snapshot_dir``, whose tasks write their rows under ``_metrics/<job>/``.
    ``plan`` has one row per keeper: ``src_snap`` (the
    source snapshot dir), ``src_pid`` (its part id there), ``new_pid``
    (its part id in the new snapshot) and ``marker`` (a JSON object of
    provenance fields for the commit marker). Tasks are spread by
    ``new_pid``; each skips keepers already committed, so a crashed copy
    retried into the same dir finishes exactly once."""
    def copies(batches):
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

    def copy_tasks(batches):
        return metric_task(snapshot_dir, filesystem, job, copies(batches))

    return (
        plan.select("src_snap", "src_pid", "new_pid", "marker")
        .repartition("new_pid")
        .mapInArrow(copy_tasks, METRICS_DDL)
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
