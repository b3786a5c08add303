"""Adapter surfaces: re-expressions of the reference's integration shims.

* backtesting.py adapter (``backtesting_adapter.py:36-130``): Title-case
  OHLCV column mapping + validation, and the indicator entry point that
  returns the RSI series for a strategy framework.
* rangebar plugin (``rangebar_plugin.py:39-179``): enrich a bar table
  with the curated 6-column ``laguerre_*`` subset of the 43-feature
  expansion; idempotent, NaN below the warm-up lookback.
* exness Phase7 session adapter (``data/exness_adapter.py:34-200``):
  3 binary session flags joined onto the feature matrix; values
  validated to {0, 1}.

All are thin projection/rename/join layers over the engine's feature
pipelines — Spark-first: the mapping/validation is Catalyst column work,
the joins broadcast or co-partition, nothing touches Python rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from atr_adaptive_laguerre_spark.config import FeatureConfig

#: backtesting.py Title-case -> engine lowercase (backtesting_adapter.py:36-43)
COLUMN_MAPPING = {
    "Open": "open", "High": "high", "Low": "low",
    "Close": "close", "Volume": "volume",
}
REQUIRED_COLUMNS = ("open", "high", "low", "close", "volume")

#: rangebar plugin curated output subset (rangebar_plugin.py:39-56)
RANGEBAR_FEATURE_MAP = {
    "rsi": "laguerre_rsi",
    "regime": "laguerre_regime",
    "regime_strength": "laguerre_regime_strength",
    "bars_in_regime": "laguerre_bars_in_regime",
    "tail_risk_score": "laguerre_tail_risk_score",
    "rsi_velocity": "laguerre_rsi_velocity",
}

#: exness Phase7 session flags (exness_adapter.py:69-75)
SESSION_FEATURES = ("is_nyse_session", "is_lse_session", "is_xtks_session")

#: UTC trading windows used to derive the flags when producing the
#: Phase7 shape from raw timestamps (NYSE 09:30-16:00 ET ~ 14:30-21:00
#: UTC, LSE 08:00-16:30 GMT, XTKS 09:00-15:00 JST ~ 00:00-06:00 UTC;
#: fixed-offset approximation, documented)
_SESSIONS_UTC = {
    "is_nyse_session": (14.5, 21.0),
    "is_lse_session": (8.0, 16.5),
    "is_xtks_session": (0.0, 6.0),
}


def to_lowercase_ohlcv(df: DataFrame,
                       required: tuple[str, ...] = REQUIRED_COLUMNS
                       ) -> DataFrame:
    """backtesting.py column adapter: rename Title-case OHLCV columns and
    validate the required set exists (raises like the reference,
    ``backtesting_adapter.py:49-88``).  ``required`` lets callers that
    need only a subset (e.g. the indicator needs no volume) still get
    the driver-side ValueError instead of an executor KeyError."""
    out = df
    for src, dst in COLUMN_MAPPING.items():
        if src in out.columns:
            out = out.withColumnRenamed(src, dst)
    missing = set(required) - set(out.columns)
    if missing:
        raise ValueError(
            f"Data missing required columns: {sorted(missing)}. "
            f"Available columns: {list(df.columns)}. "
            f"Expected Title case: {list(COLUMN_MAPPING)}")
    return out


def compute_indicator(bars: DataFrame, cfg: FeatureConfig | None = None,
                      entity_cols: tuple[str, str] = ("source", "doc_id"),
                      order_col: str = "offset") -> DataFrame:
    """backtesting.py ``compute_indicator`` analog: per-entity RSI series
    from an OHLC bar table (Title-case columns accepted), appended as an
    ``indicator`` column in [0, 1]."""
    import pandas as pd

    cfg = cfg or FeatureConfig()
    # ALWAYS map + validate: gating on 'close' alone let a frame with
    # close but Title-case High/Low reach the executor and die with an
    # opaque KeyError instead of the adapter's ValueError
    lower = to_lowercase_ohlcv(bars, required=("high", "low", "close"))
    key = list(entity_cols)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        from atr_adaptive_laguerre_spark.kernel.batched import (
            core_loop_batched,
        )

        pdf = pdf.sort_values(order_col, kind="stable")
        out = core_loop_batched(
            pdf["high"].to_numpy(dtype=np.float64)[None, :],
            pdf["low"].to_numpy(dtype=np.float64)[None, :],
            pdf["close"].to_numpy(dtype=np.float64)[None, :],
            cfg.atr_period, cfg.adaptive_offset)
        pdf = pdf.copy()
        pdf["indicator"] = out["rsi"][0]
        return pdf

    from pyspark.sql.types import DoubleType, StructField, StructType

    # NB: StructType.add mutates in place (it would poison the
    # DataFrame's cached schema) — build a fresh StructType
    schema = StructType(list(lower.schema.fields)
                        + [StructField("indicator", DoubleType())])
    return lower.groupBy(*key).applyInPandas(run, schema=schema)


def enrich_rangebars(docs: DataFrame, cfg: FeatureConfig | None = None,
                     ) -> DataFrame:
    """Rangebar-plugin analog over the doc-grain token table: append the
    curated 6-column ``laguerre_*`` subset of the 43-feature expansion
    (projection + rename over ``features_long``, which ships only those
    6 columns from the worker).  Idempotent like the reference: returns
    the input unchanged when the first output column already exists."""
    from atr_adaptive_laguerre_spark.engine.features_job import features_long

    first = next(iter(RANGEBAR_FEATURE_MAP.values()))
    if first in docs.columns:
        return docs
    cfg = cfg or FeatureConfig()
    feats = features_long(docs, cfg, columns=list(RANGEBAR_FEATURE_MAP))
    return feats.select(
        "source", "doc_id", "offset", "token",
        *[F.col(src).alias(dst) for src, dst in RANGEBAR_FEATURE_MAP.items()])


def extract_session_features(phase7: DataFrame) -> DataFrame:
    """exness Phase7 adapter: project the 3 binary session flags and
    validate their values are in {0, 1} (``exness_adapter.py:80-133``);
    raises on schema or value violations."""
    missing = [c for c in SESSION_FEATURES if c not in phase7.columns]
    if missing:
        raise ValueError(
            f"Missing Phase7 session columns: {missing}. "
            f"Available columns: {list(phase7.columns)}")
    bad = phase7.filter(" OR ".join(
        f"({c} IS NULL OR {c} NOT IN (0, 1))" for c in SESSION_FEATURES))
    n_bad = bad.limit(1).count()
    if n_bad:
        raise ValueError(
            "session flags must be binary {0, 1}; found invalid rows")
    # keep the row keys: the flags are joined back onto the feature
    # matrix (combine_with_features) — a flags-only projection would
    # make that join impossible
    keys = [c for c in phase7.columns if c not in SESSION_FEATURES]
    return phase7.select(*keys, *SESSION_FEATURES)


def with_session_flags(events: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Produce the Phase7 session-flag shape from raw timestamps: flag =
    1 iff the UTC time-of-day falls inside the session window (the
    upstream producer the reference assumes; fixed-offset UTC windows)."""
    hour = (F.hour(ts_col).cast("double")
            + F.minute(ts_col).cast("double") / F.lit(60.0))
    cols = [
        F.when((hour >= F.lit(lo)) & (hour < F.lit(hi)), 1).otherwise(0)
        .alias(name)
        for name, (lo, hi) in _SESSIONS_UTC.items()
    ]
    return events.select("*", *cols)


def combine_with_features(features: DataFrame, flags: DataFrame,
                          on: list[str]) -> DataFrame:
    """exness ``combine_with_rsi_features`` analog: equi-join the session
    flags onto the feature matrix on the row key (at scale: both sides
    are co-partitioned on the key; flags are narrow so AQE broadcasts
    when small)."""
    return features.join(flags, on=on, how="inner")
