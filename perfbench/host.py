"""Host pinning and the Spark session lifecycle of one benchmark run.

The engine's defaults assume a 32-core, 16 GB-heap box
(``SPARK_GRAFT_CPUS`` = 32, ``spark.driver.memory`` = 16g).  The
benchmark sizes both from the host it runs on instead, before the JVM
starts, and records what it chose.
"""

from __future__ import annotations

import os
import subprocess
import tempfile


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment(work: str) -> dict:
    """Set cores, driver memory and Spark's scratch dirs for this host;
    return the host record.  Must run before the first JVM starts."""
    cores = len(os.sched_getaffinity(0))
    mem_mb = _mem_total_mb()
    # a quarter of RAM for the driver heap: the Python workers, the page
    # cache and the neighbours share the rest
    driver_mb = min(8192, max(1024, mem_mb // 4))
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local_dirs
    # temporary files of this process, the JVM and the workers stay in
    # the checkout too
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    import pyarrow
    import pyspark

    return {"cores": cores, "mem_total_mb": mem_mb,
            "driver_memory_mb": driver_mb,
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def start_session(cores: int, event_log_dir: str | None = None):
    """``build_session`` on ``local[cores]``; with ``event_log_dir`` the
    session writes one uncompressed Spark event log file there."""
    from atr_adaptive_laguerre_spark.engine.session import build_session

    extra = {"spark.ui.showConsoleProgress": "false",
             "spark.eventLog.enabled": "false",
             "spark.driver.extraJavaOptions":
                 f"-Djava.io.tmpdir={tempfile.gettempdir()}"}
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{event_log_dir}",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = build_session(app="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def bigcache_active() -> bool:
    """Whether ``build_session`` put the bigcache allocator shim into
    LD_PRELOAD (the JVM and the workers inherit it)."""
    return "bigcache" in os.environ.get("LD_PRELOAD", "")


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop any active session, then end the gateway JVM and wait for it,
    so the run leaves no process behind."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway server exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
