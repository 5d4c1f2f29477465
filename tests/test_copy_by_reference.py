"""Copy-by-reference maintenance: part identity lives in the FILENAME.

Verbatim-copied chunk files (binpack keepers, incremental re-layout
keepers) are byte-identical to their source — the rename IS the
renumber, and every reader derives ``part_id`` from the filename
(``snapshot.chunk_listing``) instead of the embedded column, whose
value goes stale in copies. This is what lets an object-store deployment
carry partitions by server-side copy (zero bytes through the worker);
locally the copy streams at IO speed with no parquet parse.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from parquet2_spark.operators import decode_job, table, validate
from parquet2_spark.operators.encode_job import EncodeConfig


def _corpus(spark, n, voff=0):
    return spark.range(n).select(
        F.format_string("k%08d", F.col("id") + voff).alias("k"),
        (F.col("id") + voff).alias("v"))


def _cfg(**kw):
    base = dict(target_rows=500, page_rows=100, sort_by="k", key="v",
                host_from_key=False)
    base.update(kw)
    return EncodeConfig(**base)


@pytest.fixture(scope="class")
def packed(spark, tmp_path_factory):
    """3 appends (one undersized) -> binpack compact with keep_old so the
    source files survive for byte comparison."""
    td = str(tmp_path_factory.mktemp("cbr") / "t")
    cfg = _cfg()
    table.append(spark, _corpus(spark, 2000), td, cfg)
    table.append(spark, _corpus(spark, 2000, voff=2000), td, cfg)
    table.append(spark, _corpus(spark, 120, voff=4000), td, cfg)  # tail
    src_dirs = dict(table.snapshot_dirs(td))  # sid -> dir, pre-compact
    lin = table.compact(spark, td, cfg, keep_old=True)
    return td, cfg, lin, src_dirs


class TestCopyByReference:
    def test_keeper_files_are_byte_identical_to_source(self, spark, packed):
        td, cfg, lin, src_dirs = packed
        assert lin["compaction_path"] == "binpack" and lin["binpack_kept"] >= 8
        man = table.read_manifest(td)
        snap = os.path.join(td, man["snapshots"][-1]["dir"])
        commits = os.path.join(snap, "_commits")
        checked = 0
        for f in os.listdir(commits):
            m = json.load(open(os.path.join(commits, f)))
            if "binpack_copied_from" not in m:
                continue
            gpid = int(m["binpack_copied_from"])
            sid, lpid = gpid >> table.SNAP_SHIFT, gpid % (1 << table.SNAP_SHIFT)
            src_path = os.path.join(src_dirs[sid], "chunks",
                                    f"part-{lpid:06d}.parquet")
            dst_path = os.path.join(snap, "chunks",
                                    f"part-{int(m['part_id']):06d}.parquet")
            with open(src_path, "rb") as a, open(dst_path, "rb") as b:
                assert a.read() == b.read(), "copy must be byte-verbatim"
            checked += 1
        assert checked == lin["binpack_kept"]

    def test_embedded_part_id_is_stale_but_reads_are_right(
            self, spark, packed):
        td, cfg, lin, _ = packed
        man = table.read_manifest(td)
        snap = os.path.join(td, man["snapshots"][-1]["dir"])
        commits = os.path.join(snap, "_commits")
        renumbered = 0
        for f in os.listdir(commits):
            m = json.load(open(os.path.join(commits, f)))
            if "binpack_copied_from" not in m:
                continue
            npid = int(m["part_id"])
            t = pq.read_table(
                os.path.join(snap, "chunks", f"part-{npid:06d}.parquet"),
                columns=["part_id"])
            if int(t.column("part_id")[0].as_py()) != npid:
                renumbered += 1
        assert renumbered > 0, "at least one keeper must have been renumbered"
        # the frame's part_id column comes from the filename and matches
        # the commit markers exactly
        pids = {
            int(r["part_id"])
            for r in decode_job.chunks_df(spark, snap)
            .select("part_id").distinct().collect()
        }
        markers = {
            int(json.load(open(os.path.join(commits, f)))["part_id"])
            for f in os.listdir(commits)
        }
        assert pids == markers
        rep = validate.digest_frames(
            _corpus(spark, 4120), decode_job.decode(spark, td))
        assert rep["bit_identical"], rep

    def test_row_range_on_copied_snapshot(self, spark, packed):
        """row_range reads an explicit file list; renumbered keepers with
        stale embedded ids must still produce exact row intervals."""
        td, cfg, lin, _ = packed
        man = table.read_manifest(td)
        snap = os.path.join(td, man["snapshots"][-1]["dir"])
        total = int(lin["rows"])
        counts = [
            decode_job.decode(spark, snap, row_range=(lo, min(lo + 997, total))
                              ).count()
            for lo in range(0, total, 997)
        ]
        assert sum(counts) == total
        # interval slices reassemble the exact multiset of rows
        parts = [
            decode_job.decode(spark, snap, row_range=(lo, min(lo + 997, total)))
            for lo in range(0, total, 997)
        ]
        union = parts[0]
        for p in parts[1:]:
            union = union.unionByName(p)
        rep = validate.digest_frames(_corpus(spark, 4120), union)
        assert rep["bit_identical"], rep
