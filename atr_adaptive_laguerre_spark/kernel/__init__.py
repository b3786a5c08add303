"""Layer K — order-sensitive per-entity kernels.

Two implementations of the same math, cross-checked in tests:

* ``reference_impl`` — transparent per-entity Python loop; the oracle.
* ``batched``        — lockstep-vectorized NumPy over a (B docs, T steps)
  padded matrix; the production kernel the Spark jobs run in their Arrow
  workers.  Its per-step loops over time run compiled
  (``recurrences``), bit-identical to their NumPy fallback.
"""
