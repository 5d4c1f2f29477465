"""Filesystem-agnostic metadata/side-channel IO via ``pyarrow.fs``.

Every file the engine reads or writes goes through one
``pyarrow.fs.FileSystem`` (``resolve``, or an explicit ``filesystem=``),
so the same code runs against local disk, HDFS, or S3:

- the chunk files: listed on the driver, then read in the executors'
  Python (``snapshot.ChunkFile``), by ``decode`` and by the metadata
  queries alike (``decode_job.chunks_frame``); Spark scans none of them;
- commit markers, lineage sidecars, table manifests, ``_metrics`` and
  the executor-side chunk-file writes.

Atomicity model (the part rename-free object stores change):

- LocalFileSystem: write to a temp name, then ``move`` (POSIX rename —
  atomic, same as before).
- Object stores (no atomic rename): write the final object directly. A
  single PUT is atomic at object granularity, and *visibility* is gated
  by the commit protocol anyway — data file first, marker second,
  manifest last; readers trust only markers/manifests (the same ordering
  Iceberg relies on).

``pyarrow`` FileSystem objects pickle, so an explicit filesystem rides
into executor closures via ``EncodeConfig.filesystem``.
"""

from __future__ import annotations

import json
import posixpath
import uuid

import pyarrow as pa
from pyarrow import fs as pafs


def resolve(path: str, filesystem=None) -> tuple[pafs.FileSystem, str]:
    """(filesystem, fs-local path). Explicit filesystem wins; else a URI
    scheme picks the filesystem (``s3://…``, ``hdfs://…``, ``file://…``);
    else local."""
    if filesystem is not None:
        return filesystem, path
    if "://" in path:
        try:
            return pafs.FileSystem.from_uri(path)
        except pa.ArrowInvalid as e:
            # a Hadoop-only scheme (s3a://, abfs://, ...): Spark may read
            # it, the metadata plane and the decoder cannot
            raise ValueError(
                f"pyarrow cannot open {path!r} ({e}); pass filesystem= a "
                "pyarrow.fs.FileSystem for it"
            ) from e
    return pafs.LocalFileSystem(), path


def _is_local(fs: pafs.FileSystem) -> bool:
    if isinstance(fs, pafs.LocalFileSystem):
        return True
    if isinstance(fs, pafs.SubTreeFileSystem):
        return _is_local(fs.base_fs)
    return False


def join(*parts: str) -> str:
    return posixpath.join(*parts)


def mkdirs(fs: pafs.FileSystem, path: str) -> None:
    fs.create_dir(path, recursive=True)


def file_type(fs: pafs.FileSystem, path: str) -> pafs.FileType:
    return fs.get_file_info(path).type


def exists(fs: pafs.FileSystem, path: str) -> bool:
    return file_type(fs, path) != pafs.FileType.NotFound


def is_dir(fs: pafs.FileSystem, path: str) -> bool:
    return file_type(fs, path) == pafs.FileType.Directory


def listdir(fs: pafs.FileSystem, path: str) -> list[str]:
    infos = fs.get_file_info(pafs.FileSelector(path, allow_not_found=True))
    return sorted(i.base_name for i in infos)


def read_bytes(fs: pafs.FileSystem, path: str) -> bytes:
    with fs.open_input_stream(path) as f:
        return f.read()


def read_json(fs: pafs.FileSystem, path: str) -> dict:
    return json.loads(read_bytes(fs, path).decode("utf-8"))


def write_bytes_atomic(fs: pafs.FileSystem, path: str, payload: bytes) -> None:
    """Local: temp-name + rename. Object store: direct PUT (atomic per
    object; visibility gated by the commit protocol, see module doc)."""
    if _is_local(fs):
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        with fs.open_output_stream(tmp) as f:
            f.write(payload)
        fs.move(tmp, path)
    else:
        with fs.open_output_stream(path) as f:
            f.write(payload)


def write_json_atomic(fs: pafs.FileSystem, path: str, obj: dict, indent: int | None = None) -> None:
    write_bytes_atomic(fs, path, json.dumps(obj, indent=indent).encode("utf-8"))


def write_parquet_atomic(
    fs: pafs.FileSystem, path: str, table, tmp_dir: str | None = None, **kwargs
) -> None:
    """``tmp_dir`` must live OUTSIDE any Spark-scanned directory — Spark
    reads every file in a scan dir as parquet, so a torn temp file in
    place would be visible. Object stores skip staging (PUT is atomic)."""
    import pyarrow.parquet as pq

    if _is_local(fs):
        base = posixpath.basename(path)
        tmp = (
            join(tmp_dir, f"{base}.tmp-{uuid.uuid4().hex[:8]}")
            if tmp_dir
            else f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        )
        with fs.open_output_stream(tmp) as f:
            pq.write_table(table, f, **kwargs)
        fs.move(tmp, path)
    else:
        with fs.open_output_stream(path) as f:
            pq.write_table(table, f, **kwargs)


def copy_file_atomic(
    src_fs: pafs.FileSystem,
    src: str,
    fs: pafs.FileSystem,
    path: str,
    tmp_dir: str | None = None,
    chunk: int = 8 << 20,
) -> None:
    """Byte-verbatim file copy with the same atomicity contract as
    ``write_parquet_atomic`` (local: stage in ``tmp_dir`` + rename;
    object stores: single copy, atomic like PUT). This is the
    COPY-BY-REFERENCE primitive for table maintenance: part identity
    lives in the FILENAME (readers derive ``part_id`` from it), so
    carrying a partition into a new snapshot never rewrites its
    parquet. Same-filesystem copies go through pyarrow's
    ``FileSystem.copy_file`` — on S3/GCS that is the store's
    SERVER-SIDE copy (CopyObject / rewrite), moving ZERO bytes through
    the worker; locally it is an in-kernel copy. Cross-filesystem
    copies fall back to a chunked stream."""
    # same-fs fast path only when the two filesystem objects PROVABLY
    # address the same store: identity, or pyarrow's own equals() (which
    # compares endpoint/credential configuration — two S3FileSystem
    # instances pointing at different endpoints or credentials compare
    # unequal, where the old type_name-only heuristic would have routed
    # a cross-store copy through fs.copy_file with a path that only
    # resolves in src_fs's store). Anything unprovable streams chunked.
    same_fs = src_fs is fs
    if not same_fs:
        try:
            same_fs = bool(src_fs.equals(fs))
        except (AttributeError, TypeError, NotImplementedError):
            same_fs = False

    def _pump(out) -> None:
        with src_fs.open_input_stream(src) as fi:
            while True:
                b = fi.read(chunk)
                if not b:
                    break
                out.write(b)

    def _write_to(dest: str) -> None:
        if same_fs:
            fs.copy_file(src, dest)
        else:
            with fs.open_output_stream(dest) as fo:
                _pump(fo)

    if _is_local(fs):
        base = posixpath.basename(path)
        tmp = (
            join(tmp_dir, f"{base}.tmp-{uuid.uuid4().hex[:8]}")
            if tmp_dir
            else f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        )
        _write_to(tmp)
        fs.move(tmp, path)
    else:
        _write_to(path)


def delete_dir(fs: pafs.FileSystem, path: str) -> None:
    try:
        fs.delete_dir(path)
    except FileNotFoundError:
        pass


def delete_file(fs: pafs.FileSystem, path: str) -> None:
    try:
        fs.delete_file(path)
    except FileNotFoundError:
        pass


def _local_os_path(fs: pafs.FileSystem, path: str) -> str | None:
    """OS path for a (possibly SubTree-wrapped) LocalFileSystem, else None."""
    if isinstance(fs, pafs.LocalFileSystem):
        return path
    if isinstance(fs, pafs.SubTreeFileSystem):
        inner = _local_os_path(fs.base_fs, fs.base_path)
        return posixpath.join(inner, path) if inner is not None else None
    return None


def file_mtime(fs: pafs.FileSystem, path: str) -> float | None:
    """Unix mtime of one file (None if missing or the store reports
    none) — the persistent staleness clock for unreadable lock files."""
    info = fs.get_file_info([path])[0]
    if info.type == pafs.FileType.NotFound or info.mtime is None:
        return None
    return info.mtime.timestamp()


def newest_mtime(fs: pafs.FileSystem, path: str) -> float | None:
    """Unix mtime of the newest entry under ``path`` (None if empty or
    missing) — the liveness signal for staging-dir adoption."""
    infos = fs.get_file_info(pafs.FileSelector(path, allow_not_found=True, recursive=True))
    stamps = [i.mtime.timestamp() for i in infos if i.mtime is not None]
    return max(stamps) if stamps else None


def try_create_exclusive(fs: pafs.FileSystem, path: str, payload: bytes) -> bool:
    """Create ``path`` with ``payload`` ONLY if it does not already exist;
    return whether this caller won the creation race.

    Three tiers of atomicity (best available wins):
    - a filesystem exposing ``create_if_absent(path, payload) -> bool``
      (object-store adapters backed by conditional PUT / If-None-Match) —
      true CAS on the store;
    - local filesystems: ``os.open(O_CREAT|O_EXCL)`` — POSIX-atomic;
    - anything else: existence check then write — first-write-wins with a
      small race window, same model the commit protocol already documents
      for rename-free stores (the id-uniqueness check in table.append
      backstops it).
    """
    create_if_absent = getattr(fs, "create_if_absent", None)
    if callable(create_if_absent):
        return bool(create_if_absent(path, payload))
    os_path = _local_os_path(fs, path)
    if os_path is not None:
        import os

        try:
            fd = os.open(os_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            return False
        with os.fdopen(fd, "wb") as f:
            f.write(payload)
        return True
    if exists(fs, path):
        return False
    with fs.open_output_stream(path) as f:
        f.write(payload)
    return True
