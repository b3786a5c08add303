"""On-demand build of the package's small C libraries, and the
allocator environment the engine's processes start under.

Two libraries compile from C source on first use when a C toolchain is
present: the per-step kernel recurrences (``kernel/recurrences.c``) and
the ``native/bigcache.c`` allocator shim, each named by a hash of its
source and flags.  Several Python workers can import the kernel and
build at once, so a build compiles into a temporary file in the target
directory and ``os.replace``-s it into place: a reader sees either no
library or a complete one, never a half-written file.

It also holds what every process that runs the kernel does on its first
kernel call (``kernel.recurrences.compiled``):

* :func:`warn_without_malloc_env` logs when the process started without
  the retaining allocator (``MALLOC_ENV`` or the ``bigcache`` shim).
* :func:`skip_unchanged_zip_rereads` makes ``zipimport`` re-read an
  archive's directory only when the archive changed.  PySpark's worker
  calls ``importlib.invalidate_caches()`` at the start of every task,
  and on CPython 3.11 each ``zipimporter`` then re-reads its archive's
  whole central directory: ``pyspark.zip`` (1,328 entries), the py4j
  zip and the spark-core jar (5,359 entries) that Spark puts on the
  worker's path, 0.10-0.12 s of CPU per task before the first chunk.
"""

from __future__ import annotations

import logging
import os
import shutil
import subprocess
import tempfile
import zipimport
from collections.abc import Sequence

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


def _read_proc_self(name: str) -> bytes | None:
    """``/proc/self/<name>``; None where it cannot be read."""
    try:
        with open(f"/proc/self/{name}", "rb") as f:
            return f.read()
    except OSError:
        return None


def warn_without_malloc_env() -> None:
    """Log one warning when this process STARTED without the
    ``MALLOC_ENV`` keys, and one when the ``bigcache`` allocator shim is
    not mapped into it (``engine.session.worker_env`` starts it under
    both).  glibc reads the keys, and the loader ``LD_PRELOAD``, only at
    start, so setting them later does nothing; ``/proc/self/environ``
    holds that start-time environment and ``/proc/self/maps`` the loaded
    libraries.  Without them the kernel's fresh per-chunk arrays are
    trimmed and re-faulted on every call (measured ~25% slower per
    121-column chunk).  Says nothing where a file is unreadable."""
    environ = _read_proc_self("environ")
    if environ is not None:
        started = {kv.split(b"=", 1)[0] for kv in environ.split(b"\0")}
        missing = [k for k in MALLOC_ENV if k.encode() not in started]
        if missing:
            log.warning("this process started without %s; the kernel's "
                        "fresh arrays are re-faulted on every call (~25%% "
                        "slower). Start it under engine.session.worker_env()",
                        ", ".join(missing))
    maps = _read_proc_self("maps")
    if maps is not None and b"/bigcache-" not in maps:
        log.warning("the bigcache allocator shim is not mapped into this "
                    "process; large fresh arrays come from glibc. Start it "
                    "under engine.session.worker_env()")


def skip_unchanged_zip_rereads() -> None:
    """Make each ``zipimporter`` re-read its archive's directory on
    ``invalidate_caches`` only when the archive's ``(st_mtime_ns,
    st_size)`` changed since that importer last read it (see the module
    docstring).  A rewritten or replaced archive is still re-read on the
    next invalidate, and a missing one takes the original path.  Installs
    once per process; later calls do nothing."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop("_read_stamp", None)
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size)
        if self.__dict__.get("_read_stamp") != stamp:
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


class BuildError(RuntimeError):
    """The library is missing and could not be compiled."""


def compiler() -> str | None:
    """Path of the C compiler, or None when the host has none."""
    return shutil.which("gcc") or shutil.which("cc")


def build_shared(source: bytes, so: str, cflags: Sequence[str],
                 ldlibs: Sequence[str] = ()) -> str:
    """Path of the shared library ``so``, compiling C ``source`` into it
    first when it does not exist yet.  Raises :class:`BuildError` when
    there is no compiler or the compile fails."""
    if os.path.exists(so):
        return so
    cc = compiler()
    if cc is None:
        raise BuildError("no C compiler on PATH")
    try:
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(so),
                                   prefix=".build-", suffix=".so")
    except OSError as e:
        raise BuildError(f"cannot write next to {so}: {e}") from e
    os.close(fd)
    try:
        subprocess.run([cc, *cflags, "-o", tmp, "-x", "c", "-", *ldlibs],
                       input=source, check=True, capture_output=True,
                       timeout=120)
        os.replace(tmp, so)
    except subprocess.CalledProcessError as e:
        err = e.stderr.decode(errors="replace").strip()
        raise BuildError(f"{cc} exited {e.returncode}: {err[-500:]}") from e
    except (OSError, subprocess.TimeoutExpired) as e:
        raise BuildError(f"{cc} failed: {e}") from e
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return so
