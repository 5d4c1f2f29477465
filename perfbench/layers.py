"""Per-layer numbers for the traced run.

Three sources, all outside the engine:

- readers of the artifacts the engine already writes: commit markers
  (``_commits/*.json``: per-task wall and cpu seconds), the ``_metrics``
  parquet sidecar (per-chunk raw/encoded bytes), binpack keeper markers,
  the decode page accumulators, and a walk of the output dirs;
- spans recorded by ``trace.Tracer`` around the benchmark's calls and
  around the engine functions it wraps;
- a single-threaded driver-side replay of the encode kernels over the
  ingest input, and two noop-sink Spark jobs that split the JVM side of
  an encode (the same method as ``bench_extra.py``).
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COLUMNS = ("url", "warc_ts", "html", "text", "lang")
LOOKUP_KINDS = ("key_eq_hit", "key_eq_miss", "range_url", "range_ts")
# end-to-end metrics (untraced runs) and their units
E2E_UNITS = {
    "setup_s": "s",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
    "ingest.encode_mb_per_cpu_s": "MB/cpu_s",
    "ingest.enc_ratio": "ratio",
    "ingest.size_vs_ref": "ratio",
    "read.scan_mb_per_cpu_s": "MB/cpu_s",
    "read.lookup_cpu_ms": "ms",
}

# kernel metrics per column; fsst only where the column is byte-typed
# (for the others FSST is never a candidate and the time is always 0)
KERNEL_METRICS = ("blob.encode_chunk_s", "stats.compute_s", "blob.select_codec_s",
                  "selector.candidates_per_chunk", "block.compress_s",
                  "blob.value_encode_self_s", "blob.enc_ratio",
                  "blob.decode_chunk_s", "block.decompress_s")
FSST_COLUMNS = ("url", "html", "text")


def unit(name: str) -> str:
    """The unit of a per-layer metric."""
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name in ("encode_job.slot_util", "binpack.kept_frac", "trace.overhead_frac",
                "validate.fail_frac", "fsio.write_amp", "merge_compact.fanout") \
            or name.startswith("blob.enc_ratio"):
        return "ratio"
    if name == "fsio.bytes_written":
        return "bytes"
    return "count"


def names() -> list[str]:
    """Every per-layer metric, in report order."""
    out = ["encode_job.plan_s", "encode_job.action_s", "encode_job.finalize_s",
           "encode_job.task_core_s", "encode_job.task_wall_p50_s",
           "encode_job.task_wall_max_s", "encode_job.slot_util", "encode_job.partitions",
           "spark.scan_sort_s", "spark.arrow_ipc_s"]
    for m in KERNEL_METRICS:
        out += [f"{m}.{c}" for c in COLUMNS]
    out += [f"fsst.train_s.{c}" for c in FSST_COLUMNS]
    out += ["block.compress_calls", "block.compress_in_mb", "block.compress_out_mb",
            "decode_job.build_s", "decode_job.lineage_s", "decode_job.check_integrity_s",
            "decode_job.exec_s", "decode_job.stats_s"]
    out += [f"decode_job.pages_read.{k}" for k in LOOKUP_KINDS]
    out += [f"decode_job.pages_skipped.{k}" for k in LOOKUP_KINDS]
    out += ["validate.digest_s", "validate.fail_frac"]
    out += ["table.append_s", "table.compact_binpack_s", "table.compact_range_s",
            "table.vacuum_s",
            "merge_compact.plan_s", "merge_compact.fanout",
            "binpack.kept_frac", "binpack.reencoded_rows",
            "fsio.files_written", "fsio.bytes_written", "fsio.write_amp",
            "proc.jvm_rss_mb", "proc.py_workers_rss_mb", "trace.overhead_frac"]
    return out


# ------------------------------------------------------------ artifacts
def read_markers(snap_dir: str) -> list[dict]:
    out = []
    for f in glob.glob(os.path.join(snap_dir, "_commits", "*.json")):
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def snapshot_artifacts(snap_dir: str) -> dict:
    """Per-task (wall_s, cpu_s) from the commit markers and per-column
    encoded/raw byte ratios from the ``_metrics`` sidecar."""
    tasks = [(m["wall_s"], m.get("cpu_s", 0.0)) for m in read_markers(snap_dir)]
    t = pq.read_table(os.path.join(snap_dir, "_metrics"),
                      columns=["column", "raw_bytes", "enc_bytes"])
    g = t.group_by("column").aggregate([("raw_bytes", "sum"), ("enc_bytes", "sum")])
    ratio = {r["column"]: r["enc_bytes_sum"] / r["raw_bytes_sum"]
             for r in g.to_pylist() if r["raw_bytes_sum"]}
    return {"tasks": tasks, "col_ratio": ratio}


def binpack_artifacts(table_dir: str) -> dict:
    """Keeper vs re-encoded partitions of the table's current snapshot,
    from its commit markers (keepers carry ``binpack_copied_from``)."""
    from parquet2_spark.operators import table

    man = table.read_manifest(table_dir)
    snap = os.path.join(table_dir, man["snapshots"][0]["dir"])
    markers = read_markers(snap)
    kept = [m for m in markers if "binpack_copied_from" in m]
    return {
        "partitions": len(markers),
        "kept": len(kept),
        "reencoded_rows": sum(m["rows"] for m in markers if "binpack_copied_from" not in m),
    }


def tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def tree_bytes(root: str) -> int:
    return sum(tree_files(root).values())


class WriteLedger:
    """Files and bytes that appear under a directory between walks."""

    def __init__(self, root: str):
        self.root = root
        self.seen = tree_files(root)
        self.files = 0
        self.bytes = 0

    def update(self) -> None:
        for p, size in tree_files(self.root).items():
            if self.seen.get(p) != size:
                self.files += 1
                self.bytes += size
                self.seen[p] = size


# ------------------------------------------------------------ probes
def kernel_replay(tracer, tbl: pa.Table, sizes, cfg) -> None:
    """Encode and decode the first partitions' worth of the ingest input
    on the driver with the workload's ``SelectorConfig``, one thread, with
    the kernel layers wrapped. Spans are tagged with the column and
    partition they belong to."""
    from parquet2_spark import blob

    from .trace import KERNEL_TARGETS

    t_rows, p_rows = sizes.target_rows, sizes.page_rows
    n_chunks = min(sizes.replay_chunks, math.ceil(tbl.num_rows / t_rows))
    with tracer.active(KERNEL_TARGETS):
        for ci in range(n_chunks):
            part = tbl.slice(ci * t_rows, t_rows)
            part = part.take(pc.sort_indices(part, sort_keys=[("url", "ascending")]))
            for col in COLUMNS:
                arr = part.column(col).combine_chunks()
                pages = [arr.slice(s, min(p_rows, len(arr) - s))
                         for s in range(0, len(arr), p_rows)]
                tracer.context = {"col": col, "chunk": ci}
                try:
                    with tracer.span("blob.encode_chunk") as a:
                        payload, meta = blob.encode_chunk(pages, cfg)
                        a.update(raw=meta.raw_bytes, enc=meta.enc_bytes)
                    with tracer.span("blob.decode_chunk"):
                        blob.decode_chunk(payload)
                finally:
                    tracer.context = {}


def spark_probes(spark, src_path: str, cfg, reps: int = 2) -> dict:
    """The JVM side of an encode with no Python work: scan + exchange +
    Tungsten sort into a noop sink, then the same frame through a
    pass-through ``mapInArrow`` (adds Arrow conversion and IPC to the
    Python workers). Medians of ``reps``."""
    from pyspark.sql import functions as F

    from parquet2_spark.operators.encode_job import plan_partitions

    planned, _ = plan_partitions(spark.read.parquet(src_path), cfg)
    arranged = planned.repartition("_part_id").sortWithinPartitions(
        F.col("_part_id").asc(), F.col(cfg.sort_by).asc_nulls_last()
    )

    def passthrough(batches):
        import pyarrow as _pa

        n = 0
        for rb in batches:
            n += rb.num_rows
        yield _pa.record_batch({"n": _pa.array([n], type=_pa.int64())})

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    sort_s = statistics.median(timed(arranged) for _ in range(reps))
    conv_s = statistics.median(
        timed(arranged.mapInArrow(passthrough, "n long")) for _ in range(reps)
    )
    return {"spark.scan_sort_s": sort_s, "spark.arrow_ipc_s": conv_s - sort_s}


# ------------------------------------------------------------ from spans
class SpanIndex:
    def __init__(self, tracer):
        self.spans = tracer.closed()
        self.self_time = tracer.self_times()
        self.kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                self.kids.setdefault(s["parent"], []).append(s)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def under(self, span: dict, name: str) -> list[dict]:
        """Outermost descendants of ``span`` named ``name``."""
        out, todo = [], list(self.kids.get(span["id"], []))
        while todo:
            s = todo.pop()
            if s["name"] == name:
                out.append(s)
            else:
                todo.extend(self.kids.get(s["id"], []))
        return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def _sum_dur(spans) -> float:
    return sum(_dur(s) for s in spans)


def from_spans(tracer, cores: int) -> dict:
    ix = SpanIndex(tracer)
    m: dict = {}

    # encode_job: the ingest encodes
    enc_ops = ix.named("ingest.encode")
    plan, action, fin, core, w50, wmax, util, parts = ([] for _ in range(8))
    for op in enc_ops:
        acts = ix.under(op, "encode_job.action")
        act_self = sum(ix.self_time[s["id"]] for s in acts)
        plan.append(_sum_dur(ix.under(op, "encode_job.plan")))
        action.append(act_self)
        fin.append(sum(_sum_dur(ix.under(a, "encode_job.finalize")) for a in acts))
        tasks = op["attrs"].get("tasks") or []
        walls = sorted(w for w, _ in tasks)
        if walls:
            core.append(sum(c for _, c in tasks))
            w50.append(statistics.median(walls))
            wmax.append(walls[-1])
            parts.append(len(walls))
            if act_self > 0:
                util.append(sum(walls) / (cores * act_self))
    m.update({
        "encode_job.plan_s": _med(plan), "encode_job.action_s": _med(action),
        "encode_job.finalize_s": _med(fin), "encode_job.task_core_s": _med(core),
        "encode_job.task_wall_p50_s": _med(w50), "encode_job.task_wall_max_s": _med(wmax),
        "encode_job.slot_util": _med(util), "encode_job.partitions": _med(parts),
    })

    # kernels: the replay's per-(column, partition) spans
    per: dict[str, dict[str, list]] = {}
    for e in ix.named("blob.encode_chunk"):
        col = e["attrs"]["col"]
        d = per.setdefault(col, {})
        sel = ix.under(e, "blob.select_codec")
        d.setdefault("blob.encode_chunk_s", []).append(_dur(e))
        d.setdefault("stats.compute_s", []).append(_sum_dur(ix.under(e, "stats.compute")))
        d.setdefault("blob.select_codec_s", []).append(_sum_dur(sel))
        d.setdefault("fsst.train_s", []).append(_sum_dur(ix.under(e, "fsst.train")))
        d.setdefault("block.compress_s", []).append(_sum_dur(ix.under(e, "block.compress")))
        d.setdefault("blob.value_encode_self_s", []).append(ix.self_time[e["id"]])
        d.setdefault("_picks", []).append(len(sel))
        d.setdefault("_attempts", []).append(sum(
            s["attrs"].get("candidates", 0)
            for x in sel for s in ix.under(x, "selector.shortlist")))
    for dec in ix.named("blob.decode_chunk"):
        d = per.setdefault(dec["attrs"]["col"], {})
        d.setdefault("blob.decode_chunk_s", []).append(_dur(dec))
        d.setdefault("block.decompress_s", []).append(
            _sum_dur(ix.under(dec, "block.decompress")))
    ratios = [op["attrs"].get("col_ratio", {}) for op in enc_ops]
    for col in COLUMNS:
        d = per.get(col, {})
        for k in KERNEL_METRICS:
            if k == "selector.candidates_per_chunk":
                picks = sum(d.get("_picks", []))
                m[f"{k}.{col}"] = sum(d.get("_attempts", [])) / picks if picks else 0.0
            elif k == "blob.enc_ratio":
                m[f"{k}.{col}"] = _med([r.get(col) for r in ratios])
            else:
                m[f"{k}.{col}"] = _med(d.get(k, []))
    for col in FSST_COLUMNS:
        m[f"fsst.train_s.{col}"] = _med(per.get(col, {}).get("fsst.train_s", []))
    comp = ix.named("block.compress")
    m["block.compress_calls"] = len(comp)
    m["block.compress_in_mb"] = sum(s["attrs"]["in_bytes"] for s in comp) / 1e6
    m["block.compress_out_mb"] = sum(s["attrs"]["out_bytes"] for s in comp) / 1e6

    # decode_job: the lookups' decode() builds and actions, the stats call
    lookups = ix.named("read.lookup")
    builds = [b for op in lookups for b in ix.under(op, "decode_job.build")]
    m["decode_job.build_s"] = _med([_dur(b) for b in builds])
    m["decode_job.lineage_s"] = _med(
        [_sum_dur(ix.under(b, "decode_job.lineage")) for b in builds])
    m["decode_job.check_integrity_s"] = _med(
        [_sum_dur(ix.under(b, "decode_job.check_integrity")) for b in builds])
    m["decode_job.exec_s"] = _med(
        [_dur(x) for op in lookups for x in ix.under(op, "decode_job.exec")])
    m["decode_job.stats_s"] = _med([_dur(s) for s in ix.named("read.stats")])
    for kind in LOOKUP_KINDS:
        ops = [op for op in lookups if op["attrs"]["kind"] == kind]
        for key in ("pages_read", "pages_skipped"):
            vals = [op["attrs"][key] for op in ops if key in op["attrs"]]
            m[f"decode_job.{key}.{kind}"] = sum(vals) / len(vals) if vals else None

    m["validate.digest_s"] = _med([_dur(s) for s in ix.named("validate.digest")])

    # table maintenance
    m["table.append_s"] = _med([_dur(s) for s in ix.named("maintain.append")])
    ranges = ix.named("maintain.compact_range")
    m["table.compact_range_s"] = _med([_dur(s) for s in ranges])
    binpacks = ix.named("maintain.compact_binpack")
    m["table.compact_binpack_s"] = _med([_dur(s) for s in binpacks])
    m["table.vacuum_s"] = _med([_dur(s) for s in ix.named("maintain.vacuum")])
    m["merge_compact.plan_s"] = _med([
        _sum_dur(ix.under(r, "merge_compact.plan") + ix.under(r, "merge_compact.fanout"))
        for r in ranges])
    m["merge_compact.fanout"] = _med([
        f["attrs"].get("fanout") for r in ranges for f in ix.under(r, "merge_compact.fanout")])
    bp = [s["attrs"] for s in binpacks if "partitions" in s["attrs"]]
    m["binpack.kept_frac"] = _med([a["kept"] / a["partitions"] for a in bp if a["partitions"]])
    m["binpack.reencoded_rows"] = _med([a["reencoded_rows"] for a in bp])
    cyc = [s["attrs"] for s in ix.named("maintain.cycle")]
    m["fsio.files_written"] = _med([a["files_written"] for a in cyc])
    m["fsio.bytes_written"] = _med([a["bytes_written"] for a in cyc])
    m["fsio.write_amp"] = _med([a["bytes_written"] / a["live_bytes"] for a in cyc])
    return m
