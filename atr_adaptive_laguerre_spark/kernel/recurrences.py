"""Compiled per-step recurrences of the lockstep kernel.

The incremental ATR sum, the Laguerre cascade and the EWM mean are the
kernel's only loops over time.  As NumPy loops they cost one ufunc call
per step whatever the batch width, which dominates narrow batches (a
lone long document runs as a B=1 row).  ``recurrences.c`` holds the same
three loops in C.  Each loop starts from an optional carried state, which
is how the streaming steppers resume it.  Each process builds the library
on its first kernel call (never at import, so jobs that run no kernel
never pay the compile) and loads it through ctypes, which releases the
GIL for the call.

Bit-identity: the C loops apply the NumPy loops' float ops in the same
order and are compiled with ``-O2 -ffp-contract=off`` and no fast-math,
so both backends give identical results (tested).  The NumPy loops stay
as the fallback, chosen only by whether the library builds and loads; a
process that falls back logs one warning.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import tempfile
from importlib import resources

import numpy as np

from atr_adaptive_laguerre_spark.native import (
    BuildError, build_shared, skip_unchanged_zip_rereads,
    warn_without_malloc_env,
)

log = logging.getLogger(__name__)

#: no FMA contraction and no fast-math: the bit-identity rule above
CFLAGS = ("-O2", "-ffp-contract=off", "-shared", "-fPIC")

_f64p = ctypes.c_void_p
_i64 = ctypes.c_int64
_SIGNATURES = {
    "atr_incremental": [_f64p, _f64p, _i64, _i64, _i64, _i64, _f64p],
    "laguerre_cascade": [_f64p] * 6 + [_i64, _i64, _f64p],
    "ewm_mean": [_f64p, _f64p, _i64, _i64, ctypes.c_double,
                 ctypes.c_double, _f64p],
}


def _ptr(a: np.ndarray | None, shape: tuple[int, ...]) -> int | None:
    """Address of a C-contiguous float64 slab of the expected shape (None
    passes NULL: no carried state); the kernel's call sites pass such
    slabs, so anything else is a bug to report, not to copy around."""
    if a is None:
        return None
    if (a.dtype != np.float64 or not a.flags.c_contiguous
            or a.shape != shape):
        raise ValueError(
            f"compiled recurrence needs a C-contiguous float64 {shape} "
            f"slab, got {a.dtype} {a.shape} "
            f"(c_contiguous={a.flags.c_contiguous})")
    return a.ctypes.data


class Compiled:
    """The loaded library, with argument checks in front of each call.
    The optional carried state (``sums``, ``init``, ``y0``) is read and,
    for ``sums``, written back in place."""

    def __init__(self, lib: ctypes.CDLL):
        for name, argtypes in _SIGNATURES.items():
            fn = getattr(lib, name)
            fn.argtypes = argtypes
            fn.restype = None
        self._lib = lib

    def atr_incremental(self, tr: np.ndarray, p: int, out: np.ndarray,
                        start: int = 0, sums: np.ndarray | None = None
                        ) -> None:
        b, t = tr.shape
        self._lib.atr_incremental(_ptr(tr, (b, t)), _ptr(out, (b, t)),
                                  b, t, p, start, _ptr(sums, (b,)))

    def laguerre_cascade(self, close: np.ndarray, gamma: np.ndarray,
                         L0, L1, L2, L3,
                         init: np.ndarray | None = None) -> None:
        b, t = close.shape
        self._lib.laguerre_cascade(
            *(_ptr(a, (b, t)) for a in (close, gamma, L0, L1, L2, L3)),
            b, t, _ptr(init, (b, 4)))

    def ewm_mean(self, x: np.ndarray, alpha: float, one_minus_alpha: float,
                 out: np.ndarray, y0: np.ndarray | None = None) -> None:
        b, t = x.shape
        self._lib.ewm_mean(_ptr(x, (b, t)), _ptr(out, (b, t)), b, t,
                           alpha, one_minus_alpha, _ptr(y0, (b,)))


def _build_dir() -> str:
    """Beside this module when its directory is writable; otherwise (a
    read-only install, or the package imported from a --py-files zip)
    the temp directory."""
    here = os.path.dirname(os.path.abspath(__file__))
    if os.path.isdir(here) and os.access(here, os.W_OK):
        return here
    return tempfile.gettempdir()


def _load() -> Compiled | None:
    source = resources.files(__package__).joinpath(
        "recurrences.c").read_bytes()
    # the name pins source and flags, so an edit never loads a stale build
    tag = hashlib.sha256(source + " ".join(CFLAGS).encode()).hexdigest()
    so = os.path.join(_build_dir(), f"_recurrences-{tag[:12]}.so")
    try:
        return Compiled(ctypes.CDLL(build_shared(source, so, CFLAGS)))
    except (BuildError, OSError) as e:
        log.warning("compiled kernel recurrences unavailable (%s); this "
                    "process runs the slower NumPy loops", e)
        return None


_compiled: Compiled | None | bool = None      # False: tried, unavailable


def compiled() -> Compiled | None:
    """The compiled recurrences, built and loaded on the first call in
    this process; None when they are unavailable (warned once).  The
    first call also warns when the process started without the
    retaining allocator's environment, and stops ``zipimport`` from
    re-reading unchanged archives at each task's start."""
    global _compiled
    if _compiled is None:
        warn_without_malloc_env()
        skip_unchanged_zip_rereads()
        _compiled = _load() or False
    return _compiled or None
