"""SparkSession builder tuned for this engine.

Scale rationale (100 TB / 1000-executor target; tested on local[N]):

* AQE on — runtime coalescing of shuffle partitions and skew-join
  splitting cover the relational layer; the per-entity kernel layer
  handles its own skew (see ``engine.partitioning``).
* Arrow enabled with a bounded ``maxRecordsPerBatch`` — the kernel's
  memory is proportional to (docs per batch) x (max doc length); doc-grain
  rows are wide (the tokens array), so small record batches keep the
  Python worker's resident set flat.
* ``spark.sql.files.maxPartitionBytes`` left at default 128 MB: input
  bytes are proportional to total tokens, which is proportional to kernel
  work, so byte-based file splits are already work-balanced.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re

from pyspark.sql import SparkSession

from atr_adaptive_laguerre_spark.native import BuildError, build_shared

log = logging.getLogger(__name__)


#: Allocator tuning for the driver JVM and the Python workers (both
#: inherit this environment in local mode; ``spark.executorEnv.*``
#: propagates it to cluster executors).  Page-fault handling collapses
#: under many-core concurrency on virtualized hosts, so freed buffers
#: must STAY MAPPED — that is what lets the kernel's expander,
#: interactions and feature jobs allocate fresh arrays per chunk
#: without re-faulting them:
#:
#: * ``MALLOC_TRIM_THRESHOLD_=-1`` — never give the main-arena heap
#:   back to the OS.
#: * ``MALLOC_MMAP_THRESHOLD_=32 MiB`` (glibc's hard cap) — blocks up
#:   to 32 MiB come from the retained heap instead of per-block
#:   mmap/munmap.  16 MiB (the r2 value) exactly matched the Arrow/
#:   netty allocator's chunk size, so every JVM-side Arrow chunk was
#:   still mmap'd and the receive path re-faulted the full funnel
#:   volume (~1.2 M faults/run measured at sf0.1) every query run.
#: * ``MALLOC_ARENA_MAX=1`` — glibc frees EMPTY NON-MAIN arena heaps
#:   back to the OS regardless of the trim threshold, so the JVM's
#:   multi-threaded allocations must be pinned to the main arena for
#:   the retention settings to hold.  Measured: java faults/run
#:   1.2 M -> ~0.3 M, python workers 0.43 M -> 0.25 M, with no
#:   arena-lock contention visible in the relational suite.
#: * ``ARROW_DEFAULT_MEMORY_POOL=system`` — pyarrow's bundled jemalloc
#:   purges dirty pages after a decay interval (madvise DONTNEED), so
#:   worker-side Arrow buffers re-faulted on every run; the system
#:   (glibc) pool inherits the retention settings above.
MALLOC_ENV = {
    "MALLOC_TRIM_THRESHOLD_": "-1",
    "MALLOC_MMAP_THRESHOLD_": "33554432",
    "MALLOC_ARENA_MAX": "1",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


#: the allocator shim's source and its build
_NATIVE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "native")


def _bigcache_preload(native_dir: str | None = None) -> str | None:
    """Path to the ``native/bigcache-<hash>.so`` retaining-allocator shim
    (in ``native_dir``, default this checkout's ``native/``), compiling
    it on first use when a C toolchain is present.  The name
    pins source and flags, so an edit to ``bigcache.c`` never preloads a
    stale build.

    glibc cannot retain EVERY large block (the mmap threshold is capped
    at 32 MiB and one-arena mode fragments under 32 interleaved JVM
    threads, measured as ~1.5 GB of brk growth per features_121 run),
    so the shim serves allocations >= 512 KiB from one MAP_NORESERVE
    reservation with power-of-two freelists that are never munmapped.
    Measured at sf0.1 (OPTIMIZATION_r06.md): steady-state driver-JVM
    faults 1.2 M -> ~15 k per run, worker median 7.  Returns None (and
    the engine runs unchanged) when the library is unavailable, with a
    logged warning when its compile failed; BIGCACHE_DISABLE=1 turns the
    loaded shim into a no-op.
    """
    native_dir = native_dir or _NATIVE_DIR
    src = os.path.join(native_dir, "bigcache.c")
    if not os.path.exists(src):
        so = os.path.join(native_dir, "bigcache.so")
        return so if os.path.exists(so) else None
    with open(src, "rb") as f:
        source = f.read()
    flags = ("-O2", "-shared", "-fPIC")
    tag = hashlib.sha256(source + " ".join(flags).encode()).hexdigest()
    so = os.path.join(native_dir, f"bigcache-{tag[:12]}.so")
    try:
        return build_shared(source, so, flags, ("-lpthread", "-ldl"))
    except BuildError as e:
        log.warning("bigcache allocator shim unavailable (%s); the "
                    "session runs without it", e)
        return None


def worker_env(native_dir: str | None = None) -> dict[str, str]:
    """The environment the Python workers must START under: ``MALLOC_ENV``
    (values already in ``os.environ`` win) and, when the shim builds, an
    ``LD_PRELOAD`` that puts it ahead of any existing preload.  glibc and
    the loader read both only at process start, so a running process
    cannot adopt them: ``build_session`` sets them before its JVM starts,
    and a session whose JVM is already up (spark-submit) passes them as
    ``spark.executorEnv.*``, which PySpark hands to the Python workers it
    launches, local mode included."""
    env = {k: os.environ.get(k, v) for k, v in MALLOC_ENV.items()}
    so = _bigcache_preload(native_dir)
    prev = os.environ.get("LD_PRELOAD", "")
    if so is not None and so not in prev:
        env["LD_PRELOAD"] = f"{so}:{prev}" if prev else so
    return env


def _mem_total_bytes() -> int | None:
    """MemTotal from /proc/meminfo; None where it cannot be read."""
    try:
        with open("/proc/meminfo") as f:
            return next(int(line.split()[1]) * 1024 for line in f
                        if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return None


#: JVM memory-string suffixes; a bare number is MiB for the driver heap
_UNITS = {"": 1 << 20, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
          "t": 1 << 40}


def _driver_memory(extra: dict[str, str] | None) -> str:
    """The driver heap the session gets: the ``extra`` override, else
    SPARK_DRIVER_MEMORY, else 16g.  Logs a warning when it is larger than
    the host's RAM, as the default is on small hosts."""
    value = ((extra or {}).get("spark.driver.memory")
             or os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    m = re.fullmatch(r"(\d+)([bkmgt]?)b?", value.strip().lower())
    have = _mem_total_bytes()
    if m and have is not None and int(m[1]) * _UNITS[m[2]] > have:
        log.warning("spark.driver.memory=%s exceeds this host's RAM "
                    "(MemTotal %d MiB); set SPARK_DRIVER_MEMORY lower",
                    value, have >> 20)
    return value


def build_session(app: str = "atr-adaptive-laguerre-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra: dict[str, str] | None = None) -> SparkSession:
    # set before the JVM starts: local-mode Python workers inherit the
    # driver JVM's environment
    os.environ.update(worker_env())
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus * 2, 8)
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled",
                "true")
        .config("spark.driver.memory", _driver_memory(extra))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in MALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)   # cluster mode
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    active = SparkSession.getActiveSession()
    if active is not None:
        cur = active.conf.get("spark.master", "")
        if cur != master:
            # getOrCreate() would silently hand back the old session and
            # ignore every config above (master, shuffle partitions,
            # memory) — mistuned benchmarks with no warning; rebuild
            active.stop()
    return b.getOrCreate()
