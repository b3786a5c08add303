"""Reference-shaped top-level API.

The reference's public surface (``atr_adaptive_rsi.py:300-360, 802-903,
572-672``) is a frozen-config class with three entry points —
``fit_transform`` (RSI series), ``fit_transform_features`` (43/169/121
columns), and ``update`` (O(1) streaming increment).  This module gives
a user switching from the reference the same names over Spark
DataFrames:

* ``fit_transform`` accepts EITHER the doc-grain token table
  (``input_hint`` shape: doc_id, tokens, n_tok, source) OR a long-form
  OHLCV bar table keyed by entity, and appends/returns the RSI series
  per entity row — reference ``fit_transform -> pd.Series`` where the
  DataFrame row-set IS the index.
* ``fit_transform_features`` returns the long-form feature matrix
  (43 single-interval / 121 multi-interval per the config), optionally
  worker-projected to a column subset.
* ``updater()`` returns a per-entity O(1) incremental state machine —
  the reference's ``update(row)`` for driver-side/debug use; the
  DISTRIBUTED streaming path is ``streaming.stateful.stream_rsi``
  (``applyInPandasWithState``, vectorized, checkpointed).

Config validation (cross-field checks) happens in ``FeatureConfig``
exactly as the reference's pydantic model does; lookback validation is
available as an explicit Spark aggregation (``validate_lookback``)
rather than an eager per-call scan — at 10^12 sequences an implicit
full count per fit would be a hidden O(corpus) job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from atr_adaptive_laguerre_spark.config import FeatureConfig


class RSIUpdater:
    """O(1)-per-bar incremental RSI for ONE entity — the reference's
    ``update(row)``/``update_full(row)`` surface (atr_adaptive_rsi.py:
    572-672).  Each bar is a 1-bar slab through the batch kernel's
    resume-from-state entry (``kernel.batched.core_loop_resumed``), so
    the float-op order is the batch kernel's (bit-parity tested)."""

    def __init__(self, cfg: FeatureConfig):
        from atr_adaptive_laguerre_spark.streaming.stateful import (
            new_core_state,
        )

        self.cfg = cfg
        self._state = new_core_state(cfg.atr_period)

    def update(self, high: float, low: float, close: float) -> float:
        """Advance one bar, return rsi (reference ``update``)."""
        return self.update_full(high, low, close)["rsi"]

    def update_full(self, high: float, low: float, close: float) -> dict:
        """Advance one bar, return rsi + the 9 intermediates
        (reference ``update_full``)."""
        from atr_adaptive_laguerre_spark.kernel.batched import (
            core_loop_resumed,
        )

        out = core_loop_resumed([high], [low], [close], self._state,
                                self.cfg.atr_period,
                                self.cfg.adaptive_offset)
        return {k: float(v[0]) for k, v in out.items()}


class ATRAdaptiveLaguerreRSI:
    """Spark-first analog of the reference's top-level class."""

    def __init__(self, config: FeatureConfig | None = None):
        self.config = config or FeatureConfig()

    # -- helpers ---------------------------------------------------------

    def lookback(self) -> int:
        """Minimum bars per entity for a fully-warmed feature row —
        the reference's ``min_lookback`` rule (atr_adaptive_rsi.py:456-488,
        enforced at :814): base = max(atr_period, smoothing_period,
        20) + 10; multi-interval multiplies the WHOLE padded base by
        max(multiplier_1, multiplier_2) so the coarse grain gets its
        warm-up pad too (360 at defaults).  Delegates to
        ``FeatureConfig.min_lookback`` — one source of truth."""
        return self.config.min_lookback

    def validate_lookback(self, df: DataFrame) -> None:
        """Raise if any entity is shorter than the lookback — the
        reference's eager length check as ONE explicit aggregation
        (doc-grain: n_tok; long-form: count per entity)."""
        need = self.lookback()
        if "n_tok" in df.columns:
            lengths = df.select("doc_id", F.col("n_tok").alias("n"))
        else:
            lengths = (df.groupBy("source", "doc_id")
                       .agg(F.count(F.lit(1)).alias("n")))
        short = lengths.filter(F.col("n") < need)
        n = short.count()
        if n:
            ex = [r["doc_id"] for r in short.select("doc_id")
                  .limit(3).collect()]
            raise ValueError(
                f"{n} entities shorter than lookback {need}; e.g. {ex}")

    # -- entry points ----------------------------------------------------

    def fit_transform(self, df: DataFrame,
                      num_partitions: int | None = None) -> DataFrame:
        """RSI per entity row (reference fit_transform -> pd.Series).

        Doc-grain token input -> (source, doc_id, offset, token, rsi);
        long-form OHLCV input -> input columns + ``rsi``."""
        if "tokens" in df.columns:
            from atr_adaptive_laguerre_spark.engine.features_job import (
                core_features_long,
            )

            out = core_features_long(df, self.config, num_partitions)
            return out.select("source", "doc_id", "offset", "token", "rsi")
        from atr_adaptive_laguerre_spark.adapters import compute_indicator

        return (compute_indicator(df, self.config)
                .withColumnRenamed("indicator", "rsi"))

    def fit_transform_features(self, df: DataFrame,
                               num_partitions: int | None = None,
                               columns: list[str] | None = None
                               ) -> DataFrame:
        """Long-form 43/121-column feature matrix over the doc-grain
        token table (reference fit_transform_features); ``columns``
        worker-projects the output (see features_job.features_long)."""
        from atr_adaptive_laguerre_spark.engine.features_job import (
            features_long,
        )

        return features_long(df, self.config, num_partitions,
                             columns=columns)

    def updater(self) -> RSIUpdater:
        """Fresh per-entity incremental state machine (reference
        ``update``); use ``streaming.stateful.stream_rsi`` for the
        distributed checkpointed version."""
        return RSIUpdater(self.config)
