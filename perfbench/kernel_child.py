"""Wall and peak memory of one B=1 kernel call, in a fresh process.

``ru_maxrss`` covers the whole life of a process, so the call runs in a
child interpreter that does nothing else; the figure includes the
interpreter and NumPy (about the same in every Spark Python worker).

Child usage: ``python3 -m perfbench.kernel_child TOKENS.npy M1 M2 ATR``
prints the call's wall in seconds and the peak RSS in MiB.
"""

from __future__ import annotations

import os
import resource
import subprocess
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def b1_call(tokens: np.ndarray, cfg, work: str,
            timeout_s: float = 150.0) -> tuple[float, float]:
    """(wall seconds, peak RSS MiB) of ``multi_interval_long`` on one row."""
    path = os.path.join(work, f"b1-{os.getpid()}.npy")
    np.save(path, tokens)
    try:
        out = subprocess.run(
            [sys.executable, "-m", "perfbench.kernel_child", path,
             str(cfg.multiplier_1), str(cfg.multiplier_2),
             str(cfg.atr_period)],
            cwd=ROOT, capture_output=True, text=True, check=True,
            timeout=timeout_s)
    finally:
        os.remove(path)
    wall, rss = out.stdout.split()[-2:]
    return float(wall), float(rss)


def main(argv: list[str]) -> None:
    from atr_adaptive_laguerre_spark.config import FeatureConfig
    from atr_adaptive_laguerre_spark.data.corpus import tokens_to_ohlcv_batched
    from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
        multi_interval_long,
    )

    path, m1, m2, atr = argv
    cfg = FeatureConfig.multi_interval(multiplier_1=int(m1),
                                       multiplier_2=int(m2),
                                       atr_period=int(atr))
    tokens = np.load(path).astype(np.int64)[None, :]
    h, l, c = tokens_to_ohlcv_batched(tokens)
    t0 = time.perf_counter()
    multi_interval_long(h, l, c, np.array([tokens.shape[1]]), cfg)
    wall = time.perf_counter() - t0
    print(wall, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024)


if __name__ == "__main__":
    main(sys.argv[1:])
