"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded from the benchmark's own files only: explicit
``with tracer.span(...)`` blocks around the calls the benchmark makes, and
wrappers that ``install()`` swaps into engine module attributes so that
the engine's internal calls into a layer's public functions are timed
from outside. Nothing under ``parquet2_spark/`` is changed; ``uninstall()``
puts every original function back.

A span is ``{id, name, start, end, parent, run, attrs}``; ``parent`` is
the id of the span open on the same thread when it started. Self time is
a span's duration minus the part of its interval its children cover.
"""

from __future__ import annotations

import importlib
import json
import threading
import time
from contextlib import contextmanager

# (module, attribute, span name). Each module attribute is what the
# engine's own call sites look up at call time: module-level functions
# called through the module object or as module globals, and names other
# modules bound with ``from .encode_job import ...``.
ENGINE_TARGETS = [
    ("parquet2_spark.operators.encode_job", "plan_partitions", "encode_job.plan"),
    ("parquet2_spark.operators.encode_job", "commit_metrics_action", "encode_job.action"),
    ("parquet2_spark.operators.binpack", "commit_metrics_action", "encode_job.action"),
    ("parquet2_spark.operators.encode_job", "finalize", "encode_job.finalize"),
    ("parquet2_spark.operators.decode_job", "check_integrity", "decode_job.check_integrity"),
    ("parquet2_spark.operators.decode_job", "lineage", "decode_job.lineage"),
    ("parquet2_spark.operators.merge_compact", "plan", "merge_compact.plan"),
    ("parquet2_spark.operators.merge_compact", "fanout", "merge_compact.fanout"),
    ("parquet2_spark.operators.merge_compact", "encode_fused", "merge_compact.encode_fused"),
    ("parquet2_spark.operators.binpack", "binpack_compact", "binpack.compact"),
    ("parquet2_spark.operators.validate", "digest_frames", "validate.digest"),
]

# kernel layers, active only during the driver-side replay
KERNEL_TARGETS = [
    ("parquet2_spark.functions.stats", "compute", "stats.compute"),
    ("parquet2_spark.blob", "select_codec", "blob.select_codec"),
    ("parquet2_spark.functions.selector", "shortlist", "selector.shortlist"),
    ("parquet2_spark.codecs.fsst", "train", "fsst.train"),
    ("parquet2_spark.codecs.block", "compress", "block.compress"),
    ("parquet2_spark.codecs.block", "decompress", "block.decompress"),
]


def _result_attrs(name: str, args: tuple, result) -> dict:
    """Counts recorded at the boundary where the work happens."""
    if name == "block.compress":
        return {"in_bytes": len(args[0]), "out_bytes": len(result)}
    if name == "selector.shortlist":
        return {"candidates": len(result)}
    if name == "merge_compact.fanout":
        return {"fanout": float(result)}
    return {}


class Tracer:
    """Collects spans for one run; disabled until ``install()``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = False
        # attributes stamped on every span opened while set (the replay
        # tags its spans with the column it is encoding)
        self.context: dict = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; yields its (mutable) attrs dict, or a throwaway
        dict while tracing is off."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": stack[-1] if stack else None,
                "run": self.run_id,
                "attrs": {**self.context, **attrs},
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, fn, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as attrs:
                result = fn(*args, **kwargs)
                attrs.update(_result_attrs(name, args, result))
                return result

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self, targets=ENGINE_TARGETS) -> None:
        """Swap wrappers into the engine's module attributes and start
        recording."""
        for mod_name, attr, name in targets:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._patched.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name))
        self.enabled = True

    def uninstall(self) -> None:
        """Restore every original function and stop recording."""
        self.enabled = False
        while self._patched:
            mod, attr, orig = self._patched.pop()
            setattr(mod, attr, orig)

    @contextmanager
    def active(self, targets=ENGINE_TARGETS):
        self.install(targets)
        try:
            yield self
        finally:
            self.uninstall()

    # ------------------------------------------------------------ reading
    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def self_times(self) -> dict[int, float]:
        return self_times(self.closed())

    def dump(self, path: str, **extra) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": None if s["end"] is None else s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, **extra, "spans": rows}, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id → duration minus the union of its children's intervals
    (children clipped to the parent's interval). ``spans`` are closed
    spans, as ``Tracer.closed()`` or a dumped trace holds them."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
