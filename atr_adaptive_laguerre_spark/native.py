"""On-demand build of the package's small C libraries.

Two libraries compile from C source on first use when a C toolchain is
present: the per-step kernel recurrences (``kernel/recurrences.c``) and
the ``native/bigcache.c`` allocator shim, each named by a hash of its
source and flags.  Several Python workers can import the kernel and
build at once, so a build compiles into a temporary file in the target
directory and ``os.replace``-s it into place: a reader sees either no
library or a complete one, never a half-written file.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import tempfile
from collections.abc import Sequence


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
