"""Adapter surfaces: backtesting.py column mapping + indicator,
rangebar enrich subset, exness session-flag contract."""

import numpy as np
import pandas as pd
import pytest

from atr_adaptive_laguerre_spark.adapters import (
    RANGEBAR_FEATURE_MAP, compute_indicator, enrich_rangebars,
    extract_session_features, to_lowercase_ohlcv, with_session_flags,
)
from atr_adaptive_laguerre_spark.config import FeatureConfig

CFG = FeatureConfig(atr_period=14)


def test_title_case_mapping_and_validation(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 0.5, 1.5, 10.0)],
        "Open double, High double, Low double, Close double, Volume double")
    out = to_lowercase_ohlcv(df)
    assert set(out.columns) == {"open", "high", "low", "close", "volume"}
    with pytest.raises(ValueError, match="missing required columns"):
        to_lowercase_ohlcv(spark.createDataFrame([(1.0,)], "Open double"))


def test_compute_indicator_matches_kernel(spark):
    from atr_adaptive_laguerre_spark.data.corpus import (
        make_tokens, tokens_to_ohlcv,
    )
    from atr_adaptive_laguerre_spark.kernel.reference_impl import core_loop

    h, l, c = tokens_to_ohlcv(make_tokens(4, 120))
    pdf = pd.DataFrame({
        "source": "s0", "doc_id": "d0",
        "offset": np.arange(120, dtype=np.int64),
        "Open": c, "High": h, "Low": l, "Close": c, "Volume": 1.0})
    got = (compute_indicator(spark.createDataFrame(pdf), CFG)
           .orderBy("offset").toPandas())
    want = core_loop(h, l, c, CFG.atr_period, CFG.adaptive_offset)["rsi"]
    assert (got["indicator"].to_numpy() == want).all()
    assert ((got["indicator"] >= 0) & (got["indicator"] <= 1)).all()


def test_enrich_rangebars_idempotent_and_subset(spark, corpus_parquet):
    docs = spark.read.parquet(corpus_parquet).limit(8)
    out = enrich_rangebars(docs, CFG)
    assert set(RANGEBAR_FEATURE_MAP.values()) <= set(out.columns)
    # the worker ships only the 6 columns; their values equal the
    # unprojected 43-column job's
    from atr_adaptive_laguerre_spark.engine.features_job import features_long

    keys = ["source", "doc_id", "offset"]
    got = out.toPandas().sort_values(keys).reset_index(drop=True)
    full = (features_long(docs, CFG).toPandas()
            .sort_values(keys).reset_index(drop=True))
    assert len(got) == len(full) > 0
    for src, dst in RANGEBAR_FEATURE_MAP.items():
        np.testing.assert_array_equal(got[dst].to_numpy(),
                                      full[src].to_numpy(), err_msg=src)
    # idempotency: already-enriched input passes through unchanged
    again = enrich_rangebars(out, CFG)
    assert again is out


def test_session_flags_contract(spark):
    from pyspark.sql import functions as F

    ev = spark.createDataFrame(
        [(1, "2024-01-02 15:00:00"), (2, "2024-01-02 03:30:00"),
         (3, "2024-01-02 22:00:00")],
        "event_id int, ts_s string").select(
        "event_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    flagged = with_session_flags(ev)
    got = {r["event_id"]: r.asDict() for r in flagged.collect()}
    assert got[1]["is_nyse_session"] == 1 and got[1]["is_lse_session"] == 1
    assert got[2]["is_xtks_session"] == 1 and got[2]["is_nyse_session"] == 0
    assert (got[3]["is_nyse_session"] == got[3]["is_lse_session"]
            == got[3]["is_xtks_session"] == 0)
    extract_session_features(flagged)        # contract holds
    bad = flagged.withColumn("is_nyse_session", F.lit(2))
    with pytest.raises(ValueError, match="binary"):
        extract_session_features(bad)
