"""The compiled kernel recurrences and the native-build helper.

The compiled loops must give the same bits as the NumPy loops they
replace, on every column the kernel emits; a process that cannot build
them must say so once and run the NumPy loops; a process that started
without the retaining allocator's environment, or without its shim
mapped, must say so once; and concurrent builds of one library must
install it atomically.
"""

from __future__ import annotations

import ctypes
import logging
import os
import shutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pytest

from atr_adaptive_laguerre_spark import native
from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import (
    doc_length, make_tokens, tokens_to_ohlcv,
)
from atr_adaptive_laguerre_spark.engine import features_job, session
from atr_adaptive_laguerre_spark.kernel import recurrences
from atr_adaptive_laguerre_spark.kernel.batched import (
    core_loop_batched, pad_sequences,
)
from atr_adaptive_laguerre_spark.kernel.reference_impl import (
    CORE_OUTPUTS, core_loop,
)

CONFIGS = {
    "single43": FeatureConfig(atr_period=14),
    "multi121": FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                             atr_period=14),
    "availability121": FeatureConfig.multi_interval(
        multiplier_1=3, multiplier_2=12, atr_period=14, availability=True),
}


def _corpus_columns(cfg: FeatureConfig) -> dict[str, bytes]:
    """Every output column of the engine's chunked kernel over a corpus
    with the bench's length mix (64-1024 tokens plus an 8192-token doc)
    and docs of 1, 5 and 13 tokens, as raw bytes."""
    toks = [make_tokens(i, doc_length(i, heavy_every=40))
            for i in range(1, 81)]
    toks += [make_tokens(100 + n, n) for n in (1, 5, 13)]
    lengths = np.array([len(t) for t in toks])
    out: dict[str, list[bytes]] = {}
    for idx in features_job._length_chunks(lengths,
                                           features_job.CELL_BUDGET):
        mat, lens = pad_sequences([toks[i] for i in idx], dtype=np.int64)
        for col, vals in features_job._chunk_feature_cols(
                mat, lens, cfg).items():
            out.setdefault(col, []).append(vals.tobytes())
    return {col: b"".join(parts) for col, parts in out.items()}


@pytest.mark.parametrize("name", list(CONFIGS))
def test_compiled_bit_identical_to_numpy_on_corpus(name, monkeypatch):
    if recurrences.compiled() is None:
        pytest.skip("compiled recurrences unavailable (no C toolchain)")
    cfg = CONFIGS[name]
    got = _corpus_columns(cfg)
    monkeypatch.setattr(recurrences, "_compiled", False)
    want = _corpus_columns(cfg)
    assert list(got) == list(want)
    assert len(got) == len(features_job.feature_columns_for(cfg))
    differ = [c for c in want if got[c] != want[c]]
    assert not differ, f"compiled != NumPy in {differ}"


def test_compiled_rejects_non_contiguous_slabs():
    rec = recurrences.compiled()
    if rec is None:
        pytest.skip("compiled recurrences unavailable (no C toolchain)")
    tr = np.ones((4, 10))
    with pytest.raises(ValueError, match="C-contiguous float64"):
        rec.atr_incremental(tr[:, ::2], 3, np.empty((4, 5)))
    with pytest.raises(ValueError, match="C-contiguous float64"):
        rec.ewm_mean(tr.astype(np.float32), 0.5, 0.5, np.empty((4, 10)))
    # the carried initial state is checked like the slabs: one entry
    # per row (four for the cascade)
    out = np.empty((4, 10))
    with pytest.raises(ValueError, match="C-contiguous float64"):
        rec.atr_incremental(tr, 3, out, 2, np.zeros(3))
    with pytest.raises(ValueError, match="C-contiguous float64"):
        rec.laguerre_cascade(tr, tr, out, out, out, out, np.zeros((4, 3)))
    with pytest.raises(ValueError, match="C-contiguous float64"):
        rec.ewm_mean(tr, 0.5, 0.5, out, np.zeros((4, 1)))


def _failing_compiler(monkeypatch) -> None:
    """Make every build fail: ``false`` accepts any arguments and exits 1."""
    false = shutil.which("false")
    if false is None:
        pytest.skip("no `false` binary to stand in for a broken compiler")
    monkeypatch.setattr(native, "compiler", lambda: false)


def test_unavailable_recurrences_warn_once_and_fall_back(
        monkeypatch, tmp_path, caplog):
    _failing_compiler(monkeypatch)
    monkeypatch.setattr(recurrences, "_build_dir", lambda: str(tmp_path))
    monkeypatch.setattr(recurrences, "_compiled", None)
    caplog.set_level(logging.WARNING, logger=recurrences.__name__)

    assert recurrences.compiled() is None
    assert recurrences.compiled() is None
    warnings = [r for r in caplog.records if r.name == recurrences.__name__]
    assert len(warnings) == 1
    assert "NumPy loops" in warnings[0].getMessage()
    assert os.listdir(tmp_path) == []          # no partial build left

    # the kernel still runs, on the fallback, bit-identical to the oracle
    h, l, c = tokens_to_ohlcv(make_tokens(1, 300))
    got = core_loop_batched(h[None, :], l[None, :], c[None, :], 14)
    want = core_loop(h, l, c, 14)
    for k in CORE_OUTPUTS:
        np.testing.assert_array_equal(got[k][0], want[k], err_msg=k)
    assert len([r for r in caplog.records
                if r.name == recurrences.__name__]) == 1


def _first_kernel_call_stderr(env: dict[str, str]) -> str:
    """stderr of a fresh interpreter, started under exactly ``env`` (plus
    PATH and the repo on PYTHONPATH), that makes its first kernel call."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", "from atr_adaptive_laguerre_spark.kernel "
         "import recurrences; recurrences.compiled()"],
        env={**env, "PATH": os.environ["PATH"], "PYTHONPATH": root},
        capture_output=True, text=True, timeout=120, check=True)
    return out.stderr


def test_kernel_warns_once_when_started_without_malloc_env():
    bare = _first_kernel_call_stderr({})
    assert bare.count("started without") == 1, bare
    assert all(k in bare for k in session.MALLOC_ENV), bare
    tuned = _first_kernel_call_stderr(session.worker_env())
    assert "started without" not in tuned, tuned


def test_kernel_warns_once_when_the_shim_is_not_mapped(monkeypatch):
    # a session built earlier in this process already preloads the shim,
    # and worker_env() then leaves LD_PRELOAD to the inherited environment
    monkeypatch.delenv("LD_PRELOAD", raising=False)
    env = session.worker_env()
    if "LD_PRELOAD" not in env:
        pytest.skip("the bigcache shim does not build on this host")
    bare = _first_kernel_call_stderr({})
    assert bare.count("shim is not mapped") == 1, bare
    tuned = _first_kernel_call_stderr(env)
    assert "shim is not mapped" not in tuned, tuned


def test_bigcache_compile_failure_warns(monkeypatch, tmp_path, caplog):
    shutil.copy(os.path.join(session._NATIVE_DIR, "bigcache.c"), tmp_path)
    _failing_compiler(monkeypatch)
    monkeypatch.setattr(session, "_NATIVE_DIR", str(tmp_path))
    caplog.set_level(logging.WARNING, logger=session.__name__)

    assert session._bigcache_preload() is None
    warnings = [r for r in caplog.records if r.name == session.__name__]
    assert len(warnings) == 1
    assert "bigcache" in warnings[0].getMessage()
    assert sorted(os.listdir(tmp_path)) == ["bigcache.c"]


def test_bigcache_without_source_ignores_unhashed_build(tmp_path):
    """Without ``bigcache.c`` there is nothing to hash a build against, so
    a plain ``bigcache.so`` left in the directory is never preloaded."""
    (tmp_path / "bigcache.so").write_bytes(b"")
    assert session._bigcache_preload(str(tmp_path)) is None


def test_bigcache_rebuilds_after_source_edit(monkeypatch, tmp_path):
    """An edit to the shim's source builds and preloads a new library
    instead of reusing the one built from the old source."""
    if native.compiler() is None:
        pytest.skip("no C toolchain to build the shim")
    src = tmp_path / "bigcache.c"
    shutil.copy(os.path.join(session._NATIVE_DIR, "bigcache.c"), src)
    monkeypatch.setattr(session, "_NATIVE_DIR", str(tmp_path))

    before = session._bigcache_preload()
    assert before is not None and os.path.exists(before)
    src.write_bytes(src.read_bytes() + b"\nint bigcache_edited = 1;\n")
    after = session._bigcache_preload()
    assert after is not None and after != before
    assert os.path.exists(after)


def test_concurrent_builds_install_atomically(tmp_path):
    """More builders than cores race on one target: every one returns the
    installed library, it loads, and no temporary file is left."""
    if native.compiler() is None:
        pytest.skip("no C compiler")
    source = b"int answer(void) { return 42; }\n"
    so = str(tmp_path / "answer.so")
    workers = 2 * (os.cpu_count() or 1) + 2
    with ThreadPoolExecutor(workers) as pool:
        futures = [pool.submit(native.build_shared, source, so,
                               ("-O2", "-shared", "-fPIC"))
                   for _ in range(workers)]
        paths = [f.result(timeout=120) for f in futures]
    assert paths == [so] * workers
    assert os.listdir(tmp_path) == ["answer.so"]
    assert ctypes.CDLL(so).answer() == 42
