#!/usr/bin/env python3
"""Benchmark of the parquet2_spark engine on one machine.

    python3 perfbench/run.py --workload {default,speed} --seed N \\
        [--seconds S] [--trace {0,1}] [--tiny] [--plant-mismatch]

Runs one single-process ``local[<nproc>]`` Spark session, generates the
inputs from ``--seed`` with ``sources.webgen``, sets up and warms up, runs
the workload's closed loop of ingest/read/maintain cycles for
``--seconds`` (default: ``run_seconds`` of BENCHMARK.json), checks
correctness, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: the loop alternates untraced and traced
cycles (their gap is ``trace.overhead_frac``), then a driver-side replay
of the encode kernels and two noop-sink Spark jobs cover the layers the
cycle reaches only inside Spark tasks. The spans are written as JSON
under ``.bench_build/perfbench/traces/``.

Exits 1 when any correctness check fails, 2 when the engine cannot be
imported. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_seconds() -> float:
    """``run_seconds`` of BENCHMARK.json: a run's fixed measuring time."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def parse(argv):
    from perfbench.workloads import PROFILES

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=PROFILES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    p.add_argument("--plant-mismatch", action="store_true",
                   help="alter one source cell before the digest check (must fail)")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def measure(wl, seconds: float, min_cycles: int, tracer, trace: bool):
    """Run cycles until ``seconds`` have passed and at least
    ``min_cycles`` ran. Traced runs trace every second cycle. Returns
    (traced, wall, samples) per cycle."""
    cycles = []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(cycles) < min_cycles:
        traced = trace and len(cycles) % 2 == 1
        if traced:
            tracer.install()
        t0 = time.perf_counter()
        try:
            samples = wl.cycle()
        finally:
            if traced:
                tracer.uninstall()
        cycles.append((traced, time.perf_counter() - t0, samples))
    return cycles


def layer_report(ctx, wl, cycles, tracer, sampler, t_loop) -> dict:
    """Per-layer metrics of a traced run; also writes the spans."""
    from perfbench import layers

    layers.kernel_replay(tracer, wl.src.table, ctx.sizes, wl.cfg.selector)
    probes = layers.spark_probes(ctx.spark, wl.src.path, wl.cfg)
    wall_s = time.perf_counter() - t_loop
    metrics = layers.from_spans(tracer, ctx.cores)
    metrics.update(probes)
    metrics["validate.fail_frac"] = ctx.failed / ctx.attempted
    metrics["proc.jvm_rss_mb"] = sampler.peak_jvm_mb
    metrics["proc.py_workers_rss_mb"] = sampler.peak_workers_mb
    walls = {t: [w for tr, w, _ in cycles if tr == t] for t in (True, False)}
    metrics["trace.overhead_frac"] = (
        statistics.median(walls[True]) / statistics.median(walls[False]) - 1.0)
    traces = os.path.join(ROOT, ".bench_build", "perfbench", "traces")
    os.makedirs(traces, exist_ok=True)
    path = os.path.join(traces, f"{tracer.run_id}.json")
    tracer.dump(path, wall_s=wall_s)
    log(f"trace written: {path}")
    return {k: {"value": metrics.get(k), "unit": layers.unit(k)}
            for k in layers.names()}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import parquet2_spark.operators.encode_job  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    args = parse(argv)
    seconds = default_seconds() if args.seconds is None else args.seconds
    from perfbench import layers, procmon, sparkenv, workloads
    from perfbench.trace import Tracer

    run_id = f"{args.workload}-seed{args.seed}-{'traced' if args.trace else 'plain'}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_build", "perfbench", "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sparkenv.configure(ROOT, work)
    sizes = workloads.TINY if args.tiny else workloads.Sizes()
    tracer = Tracer(run_id)
    sampler = procmon.RssSampler().start()
    spark = ctx = None
    cycles = []
    setup_s = None
    report = {}
    try:
        # set-up, timed once: session, inputs and base table, one
        # untimed warm-up cycle
        t0 = time.perf_counter()
        n_cores = sparkenv.cores()
        spark = sparkenv.session(work, n_cores)
        ctx = workloads.Ctx(spark, work, args.seed, n_cores, sizes, tracer,
                            plant_mismatch=args.plant_mismatch)
        wl = workloads.Pipeline(ctx, args.workload, full=bool(args.trace))
        t1 = time.perf_counter()
        wl.prepare()
        t2 = time.perf_counter()
        wl.cycle()
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.2f}s (session {t1 - t0:.2f}s, inputs {t2 - t1:.2f}s, "
            f"warm-up cycle {time.perf_counter() - t2:.2f}s)")

        t_loop = time.perf_counter()
        # traced: untraced, traced, untraced at least, so that the
        # comparison straddles the warm-up trend
        cycles = measure(wl, seconds, 3 if args.trace else 1, tracer, bool(args.trace))
        log(f"{len(cycles)} cycles in {time.perf_counter() - t_loop:.2f}s: "
            + ", ".join(f"{w:.2f}" for _, w, _ in cycles))
        if args.trace:
            with tracer.active():
                wl.maintain()
                wl.verify()
            sampler.sample()
            report = layer_report(ctx, wl, cycles, tracer, sampler, t_loop)
        else:
            wl.verify()
    except Exception:
        traceback.print_exc()
        if ctx is None:
            return 1
        ctx.op_failed("an operation raised")
    finally:
        sampler.stop()
        if spark is not None:
            sparkenv.stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not args.trace:
        samples = [s for _, _, smp in cycles for s in smp]
        values = {"setup_s": setup_s, "ok_frac": 1.0 - ctx.failed / ctx.attempted,
                  "peak_rss_mb": sampler.peak_total_mb}
        if samples:
            values.update(wl.metrics(samples))
        report = {k: {"value": values[k], "unit": u}
                  for k, u in layers.E2E_UNITS.items() if values.get(k) is not None}
    for f in ctx.failures:
        log(f"FAILED: {f}")
    correct = ctx.failed == 0
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": report}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
