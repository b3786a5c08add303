"""The native/bigcache.so retaining-allocator shim (r6, guide §5).

The shim serves allocations >= 512 KiB from a never-munmapped
reservation so repeated query runs stop re-faulting gigabytes on
virtualized hosts (OPTIMIZATION_r06.md has the fault-count evidence).
These tests pin its malloc-API semantics and the no-leak property under
alloc/free cycling — run in a SUBPROCESS with LD_PRELOAD so a shim bug
cannot corrupt the test runner.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

from atr_adaptive_laguerre_spark.engine.session import _bigcache_preload

SO = _bigcache_preload()

pytestmark = pytest.mark.skipif(
    SO is None, reason="no C toolchain to build bigcache.so")


def _run(code: str, **env) -> str:
    full_env = {**os.environ, "LD_PRELOAD": SO, **env}
    out = subprocess.run([sys.executable, "-c", textwrap.dedent(code)],
                         capture_output=True, text=True, env=full_env,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout


def test_values_survive_alloc_free_cycles():
    print(_run("""
        import numpy as np
        rng = np.random.default_rng(7)
        keep = []
        for it in range(20):
            # mixed sizes straddling the 512 KiB shim threshold
            arrs = [rng.standard_normal(n)
                    for n in (1000, 70_000, 65_536, 200_000, 1 << 20,
                              (1 << 19) + 3, 5_000_000)]
            sums = [a.sum() for a in arrs]
            # free half, keep half, verify checksums repeatedly
            keep = arrs[::2]
            ksums = sums[::2]
            del arrs
            big = np.empty(3_000_000); big[:] = 2.5       # forces reuse
            for a, s in zip(keep, ksums):
                assert a.sum() == s, (it, s)
            assert big.sum() == 2.5 * 3_000_000
        print("CYCLES-OK")
    """))


def test_rss_stable_across_cycles():
    out = _run("""
        import numpy as np, resource
        def rss():
            return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        for _ in range(3):                       # warm the freelists
            a = [np.empty(1 << 20) for _ in range(64)]
            for x in a: x[:] = 1.0
            del a
        warm = rss()
        for _ in range(10):
            a = [np.empty(1 << 20) for _ in range(64)]
            for x in a: x[:] = 1.0
            del a
        assert rss() - warm < 64 * 1024, (warm, rss())   # < 64 MB growth
        print("RSS-OK", warm, rss())
    """)
    assert "RSS-OK" in out


def test_realloc_and_calloc_semantics():
    out = _run("""
        import ctypes, ctypes.util
        libc = ctypes.CDLL(None, use_errno=True)
        libc.malloc.restype = ctypes.c_void_p
        libc.malloc.argtypes = [ctypes.c_size_t]
        libc.realloc.restype = ctypes.c_void_p
        libc.realloc.argtypes = [ctypes.c_void_p, ctypes.c_size_t]
        libc.calloc.restype = ctypes.c_void_p
        libc.calloc.argtypes = [ctypes.c_size_t, ctypes.c_size_t]
        libc.free.argtypes = [ctypes.c_void_p]

        # calloc big must be zeroed even when the block is REUSED
        n = 1 << 20
        p = libc.malloc(n)
        ctypes.memset(p, 0xAB, n)
        libc.free(p)
        q = libc.calloc(1, n)
        buf = (ctypes.c_char * n).from_address(q)
        assert bytes(buf[:64]) == b"\\x00" * 64
        assert bytes(buf[n - 64:]) == b"\\x00" * 64
        libc.free(q)

        # realloc small->big->bigger preserves the prefix
        p = libc.malloc(1000)
        ctypes.memmove(p, b"hello-bigcache", 14)
        for size in (700_000, 3_000_000, 9_000_000):
            p = libc.realloc(p, size)
            got = (ctypes.c_char * 14).from_address(p)
            assert bytes(got) == b"hello-bigcache", size
        libc.free(p)

        # posix_memalign with 64-byte alignment
        libc.posix_memalign.argtypes = [ctypes.POINTER(ctypes.c_void_p),
                                        ctypes.c_size_t, ctypes.c_size_t]
        out_p = ctypes.c_void_p()
        rc = libc.posix_memalign(ctypes.byref(out_p), 64, 2 << 20)
        assert rc == 0 and out_p.value % 64 == 0
        libc.free(out_p)
        print("API-OK")
    """)
    assert "API-OK" in out


def test_non_power_of_two_min_keeps_64_byte_alignment():
    """An env-supplied ``BIGCACHE_MIN`` is rounded up to a power of two.
    Blocks are carved back to back in ``min << cls`` capacities, so a
    minimum that is not a multiple of 32 would step every later block
    off the 64-byte alignment that ``malloc`` and ``posix_memalign``'s
    in-cache path promise."""
    out = _run("""
        import ctypes
        libc = ctypes.CDLL(None)
        libc.malloc.restype = ctypes.c_void_p
        libc.malloc.argtypes = [ctypes.c_size_t]
        libc.posix_memalign.argtypes = [ctypes.POINTER(ctypes.c_void_p),
                                        ctypes.c_size_t, ctypes.c_size_t]
        libc.free.argtypes = [ctypes.c_void_p]
        ptrs = []
        for size in (140_000, 199_000, 300_000, 600_000) * 4:
            ptrs.append(libc.malloc(size))
            out_p = ctypes.c_void_p()
            assert libc.posix_memalign(ctypes.byref(out_p), 64, size) == 0
            ptrs.append(out_p.value)
        assert all(p is not None and p % 64 == 0 for p in ptrs), \
            [p % 64 for p in ptrs]
        for p in ptrs:
            libc.free(p)
        print("ALIGN-OK")
    """, BIGCACHE_MIN="100001")
    assert "ALIGN-OK" in out


def test_sizes_that_wrap_the_header_fail_cleanly():
    """A request within the block header of SIZE_MAX must fail like
    glibc's (NULL), not wrap ``size + HDR`` to a small class and hand
    back a 512 KiB block."""
    out = _run("""
        import ctypes
        libc = ctypes.CDLL(None)
        libc.malloc.restype = ctypes.c_void_p
        libc.malloc.argtypes = [ctypes.c_size_t]
        libc.calloc.restype = ctypes.c_void_p
        libc.calloc.argtypes = [ctypes.c_size_t, ctypes.c_size_t]
        libc.realloc.restype = ctypes.c_void_p
        libc.realloc.argtypes = [ctypes.c_void_p, ctypes.c_size_t]
        libc.free.argtypes = [ctypes.c_void_p]
        size_max = ctypes.c_size_t(-1).value

        for size in (size_max, size_max - 1, size_max - 63):
            assert libc.malloc(size) is None, size
            assert libc.calloc(1, size) is None, size
        # a failed realloc leaves the block (a cached one) intact
        p = libc.malloc(1 << 20)
        ctypes.memmove(p, b"kept", 4)
        assert libc.realloc(p, size_max) is None
        assert bytes((ctypes.c_char * 4).from_address(p)) == b"kept"
        libc.free(p)
        print("WRAP-OK")
    """)
    assert "WRAP-OK" in out


def test_disable_env_is_a_noop():
    out = _run("""
        import numpy as np
        a = [np.empty(1 << 20) for _ in range(8)]
        for x in a: x[:] = 3.0
        assert sum(float(x.sum()) for x in a) == 8 * 3.0 * (1 << 20)
        print("DISABLED-OK")
    """, BIGCACHE_DISABLE="1")
    assert "DISABLED-OK" in out
