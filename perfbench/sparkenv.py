"""Process environment, Spark session and teardown for one benchmark run.

Everything a run writes lands inside the checkout: Spark's local dirs,
the JVM's temp files and the tables under the run's work dir, Python's
temp files under ``.bench_build/perfbench/tmp``, which runs share because
the engine compiles and caches its optional C accelerator there.
"""

from __future__ import annotations

import os
import signal
import sys
import tempfile
import time

from . import procmon


def cores() -> int:
    """The CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def configure(root: str, work: str) -> None:
    """Set the environment the JVM and its Python workers inherit. Must
    run before pyspark launches the JVM."""
    tmp = os.path.join(root, ".bench_build", "perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR
    # large numpy temporaries stay on the heap instead of mmap/munmap
    # churn (the same setting bench.py and conf.RECOMMENDED use)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")


def session(work: str, n_cores: int):
    """The engine's recommended configuration (``conf.RECOMMENDED``) on a
    ``local[n_cores]`` master, sized for a small box."""
    from pyspark.sql import SparkSession

    from parquet2_spark import conf

    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        # 8 shuffle partitions per core, as bench.py
        .config("spark.sql.shuffle.partitions", str(min(128, max(8, n_cores * 8))))
        .config("spark.default.parallelism", str(n_cores))
        .config("spark.driver.memory", "1g")
        # C1 only: a session this short would spend a large, varying
        # share of its CPU in C2 compiler threads; with C1 the JIT settles
        # within the warm-up cycle. No hsperfdata files in the system temp
        # dir.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:TieredStopAtLevel=1 -XX:-UsePerfData -XX:MaxDirectMemorySize=1g "
            f"-Djava.io.tmpdir={tmp}",
        )
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = conf.apply(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 : stat.rindex(b")") + 3] != b"Z"


def stop(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, end the JVM and wait until it and every Python
    worker it forked have exited."""
    spark_pids = procmon.descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone; the JVM wait below decides
        pass
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + timeout_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        while time.time() < deadline and any(_alive(p) for p in spark_pids):
            time.sleep(0.1)
        left = [p for p in spark_pids if _alive(p)]
        if not left:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        deadline = time.time() + 5
