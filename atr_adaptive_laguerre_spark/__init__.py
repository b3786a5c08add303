"""atr_adaptive_laguerre_spark — a PySpark-native feature-engineering engine.

From-scratch re-expression of the capabilities of the reference library
``terrylica/atr-adaptive-laguerre`` (single-machine pandas/numba) as an
idiomatic Spark engine:

* **Layer K (kernel)** — ``kernel/``: order-sensitive per-entity recurrences
  (true range -> ATR -> adaptive gamma -> 4-stage Laguerre cascade -> RSI,
  plus the 43/169/121-column feature expansion) implemented twice:
  a transparent per-entity loop (the test oracle, ``kernel.reference_impl``)
  and a lockstep-batched vectorized NumPy implementation
  (``kernel.batched``, per-step loops compiled) that runs inside the
  Spark jobs' Arrow workers.
* **Layer S (Spark-native)** — ``engine/`` + ``operators/``: partitioning &
  skew handling, as-of joins, lag/lead, backfill, sessionization,
  resampling, dedup / similarity / text-analysis operators, manifests and
  checkpoint-resume — all pure DataFrame ops optimized by Catalyst.

No code is copied from the reference; semantics are cited by file:line in
docstrings so parity can be audited.
"""

__version__ = "0.2.0"

from atr_adaptive_laguerre_spark.api import ATRAdaptiveLaguerreRSI, RSIUpdater
from atr_adaptive_laguerre_spark.config import FeatureConfig

__all__ = ["ATRAdaptiveLaguerreRSI", "FeatureConfig", "RSIUpdater",
           "__version__"]
