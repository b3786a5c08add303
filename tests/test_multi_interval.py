"""Batched multi-interval pipeline == pandas oracle (169 and 121 cols)."""

import warnings

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import make_tokens, tokens_to_ohlcv
from atr_adaptive_laguerre_spark.engine.features_job import (
    feature_columns_for,
)
from atr_adaptive_laguerre_spark.kernel.batched import (
    _SLABS, get_workspace, pad_sequences,
)
from atr_adaptive_laguerre_spark.kernel.expander_ref import INT_COLUMNS
from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
    INTERACTION_INPUTS, _flat_explode_idx, _interactions_2d,
    multi_interval_long,
)
from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
    INTERACTION_COLUMNS, multi_interval_columns, multi_interval_features,
)

CFG169 = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                      atr_period=14, filter_redundancy=False)
CFG121 = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                      atr_period=14, filter_redundancy=True)

INTERACTION_INT = {
    "all_intervals_bullish", "all_intervals_bearish", "all_intervals_neutral",
    "regime_agreement_count", "regime_majority", "regime_unanimity",
    "base_bull_higher_bear", "base_bear_higher_bull", "divergence_direction",
    "base_extreme_higher_neutral", "base_neutral_higher_extreme",
    "gradient_up", "gradient_down", "momentum_direction",
    "momentum_consistency", "any_interval_crossed_overbought",
    "all_intervals_crossed_overbought", "any_interval_crossed_oversold",
    "all_intervals_crossed_oversold", "base_crossed_while_higher_extreme",
    "cascade_crossing_up", "cascade_crossing_down", "higher_crossed_first",
    "regime_change_cascade", "bars_since_alignment", "alignment_duration",
    "higher_interval_leads", "regime_transition_pattern",
    "interval_momentum_agreement",
}


def _is_int_col(col: str) -> bool:
    for suf in ("_base", "_mult1", "_mult2"):
        if col.endswith(suf) and col[: -len(suf)] in INT_COLUMNS:
            return True
    return col in INTERACTION_INT


def _check_docs(seqs, cfg):
    hi, lens = pad_sequences([s[0] for s in seqs])
    lo, _ = pad_sequences([s[1] for s in seqs])
    cl, _ = pad_sequences([s[2] for s in seqs])
    got = multi_interval_long(hi, lo, cl, lens, cfg)
    cols = multi_interval_columns(cfg.filter_redundancy)
    assert list(got) == cols
    assert len(cols) == cfg.n_features

    import pandas as pd

    want = pd.concat([multi_interval_features(h, l, c, cfg)
                      for h, l, c in seqs]).reset_index(drop=True)
    assert list(want.columns) == cols
    for col in cols:
        g = got[col]
        w = want[col].to_numpy(dtype=np.float64)
        assert len(g) == len(w)
        if _is_int_col(col):
            np.testing.assert_array_equal(g, w, err_msg=col)
        elif col in ("rsi_zscore_20_base", "rsi_zscore_20_mult1",
                     "rsi_zscore_20_mult2", "laguerre_slope_base",
                     "laguerre_slope_mult1", "laguerre_slope_mult2"):
            # z-like ratios: variance-algorithm noise amplification (see
            # test_expander) — meaningful-agreement bar
            finite = np.isfinite(w)
            np.testing.assert_allclose(g[finite], w[finite], rtol=1e-5,
                                       atol=1e-5, err_msg=col)
        else:
            np.testing.assert_allclose(g, w, rtol=1e-9, atol=1e-10,
                                       err_msg=col)


@pytest.mark.parametrize("cfg", [CFG169, CFG121], ids=["169", "121"])
def test_multi_interval_matches_oracle(cfg):
    seqs = [tokens_to_ohlcv(make_tokens(i, n))
            for i, n in enumerate([600, 145, 80, 257, 601])]
    _check_docs(seqs, cfg)


def test_multi_interval_long_and_short_docs():
    """One B=1 row of 8192 tokens, then a batch with docs shorter than
    atr_period (12 and 13 bars; the oracle needs >= multiplier_2)."""
    _check_docs([tokens_to_ohlcv(make_tokens(9, 8192))], CFG121)
    _check_docs([tokens_to_ohlcv(make_tokens(i, n))
                 for i, n in enumerate([13, 200, 12])], CFG121)


def test_multi_interval_short_doc_nan_mults():
    """Docs shorter than a multiplier get NaN mult features (deviation
    from the reference's hard lookback gate, documented in the kernel)."""
    seqs = [tokens_to_ohlcv(make_tokens(0, 600)),
            tokens_to_ohlcv(make_tokens(1, 8))]   # 8 < mult2=12
    hi, lens = pad_sequences([s[0] for s in seqs])
    lo, _ = pad_sequences([s[1] for s in seqs])
    cl, _ = pad_sequences([s[2] for s in seqs])
    got = multi_interval_long(hi, lo, cl, lens, CFG169)
    sl = slice(600, 608)
    assert np.isnan(got["rsi_mult2"][sl]).all()
    assert np.isfinite(got["rsi_mult1"][sl]).all()  # 8 >= mult1=3
    assert np.isfinite(got["rsi_base"][sl]).all()


@settings(max_examples=8, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000),
       n=st.integers(min_value=36, max_value=400))
def test_multi_interval_hypothesis(seed, n):
    rng = np.random.default_rng(seed)
    close = 100 + np.cumsum(rng.standard_normal(n) * 0.5)
    high = close + np.abs(rng.standard_normal(n) * 0.2)
    low = close - np.abs(rng.standard_normal(n) * 0.2)
    _check_docs([(high, low, close)], CFG121)


@settings(max_examples=10, deadline=None)
@given(atr_period=st.integers(min_value=2, max_value=30),
       m1=st.integers(min_value=2, max_value=6),
       dm=st.integers(min_value=1, max_value=9),
       filt=st.booleans())
def test_multi_interval_config_space(atr_period, m1, dm, filt):
    """Batched == oracle across the config space (atr_period,
    multipliers, redundancy filter) — the reference's property-based
    config generation (tests/test_temporal/test_properties.py)."""
    cfg = FeatureConfig.multi_interval(
        multiplier_1=m1, multiplier_2=m1 + dm, atr_period=atr_period,
        filter_redundancy=filt)
    seqs = [tokens_to_ohlcv(make_tokens(3, 180))]
    _check_docs(seqs, cfg)


def _random_interaction_inputs(rng, b, t):
    K = {}
    for g in "b12":
        K[(g, "regime")] = rng.integers(0, 3, (b, t)).astype(np.float64)
        K[(g, "rsi")] = rng.random((b, t))
        K[(g, "rsi_change_1")] = rng.standard_normal((b, t))
        for col in ("cross_below_overbought", "cross_above_oversold",
                    "regime_changed"):
            K[(g, col)] = (rng.random((b, t)) < 0.2).astype(np.float64)
        K[(g, "bars_in_regime")] = rng.integers(0, 30, (b, t)).astype(
            np.float64)
    assert set(c for _, c in K) == set(INTERACTION_INPUTS)
    return K


def test_interactions_result_owns_its_arrays():
    """A second ``_interactions_2d`` call, on a different shape and
    inputs, leaves every column of the first result unchanged."""
    rng = np.random.default_rng(3)
    first = _interactions_2d(_random_interaction_inputs(rng, 3, 120))
    assert set(first) == set(INTERACTION_COLUMNS)
    want = {col: v.copy() for col, v in first.items()}
    _interactions_2d(_random_interaction_inputs(rng, 2, 200))
    for col in INTERACTION_COLUMNS:
        np.testing.assert_array_equal(first[col], want[col], err_msg=col)


def test_workspace_holds_only_core_slabs():
    """After a 121-column chunk the per-process workspace holds exactly
    the core kernel's slabs: the expander, resample and interactions
    allocate their own arrays."""
    seqs = [tokens_to_ohlcv(make_tokens(i, n))
            for i, n in enumerate((40, 150, 299))]
    hi, lens = pad_sequences([s[0] for s in seqs])
    lo, _ = pad_sequences([s[1] for s in seqs])
    cl, _ = pad_sequences([s[2] for s in seqs])
    multi_interval_long(hi, lo, cl, lens, CFG121)
    assert sorted(get_workspace()._flat) == sorted(_SLABS)


@pytest.mark.parametrize("cfg", [
    FeatureConfig(atr_period=14), CFG121,
    FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                 atr_period=14, availability=True),
], ids=["43", "121", "121-avail"])
def test_chunk_padding_is_inert(cfg):
    """Whatever a chunk's padding cells hold (the jobs leave them
    uninitialized), the kernel raises no RuntimeWarning on them and the
    real cells' features do not change: padding of int32 extremes and
    zeros, on a ragged chunk (docs shorter than either multiplier, one
    of them the only length) and on a chunk too short to resample."""
    from atr_adaptive_laguerre_spark.engine.features_job import (
        _chunk_feature_cols,
    )

    i32 = np.iinfo(np.int32)
    for lengths in ((2, 5, 11, 12, 40, 150, 300), (1, 2, 7)):
        lens = np.array(lengths, dtype=np.int64)
        results = []
        for pads in ((i32.max,), (i32.min,), (0,), (i32.max, i32.min, 0)):
            mat = np.resize(np.array(pads, dtype=np.int64),
                            (len(lens), int(lens.max())))
            for i, n in enumerate(lengths):
                mat[i, :n] = make_tokens(i, n)
            with warnings.catch_warnings():
                warnings.simplefilter("error", RuntimeWarning)
                results.append(_chunk_feature_cols(mat, lens, cfg))
        want = results[0]
        assert list(want) == feature_columns_for(cfg)
        for got in results[1:]:
            assert list(got) == list(want)
            for col, v in got.items():
                np.testing.assert_array_equal(v, want[col], err_msg=col)


@pytest.mark.usefixtures("numpy_backend")
class TestNumpyFallback:
    """The oracle tests above, on the NumPy fallback loops."""

    test_matches_oracle = staticmethod(test_multi_interval_matches_oracle)
    test_long_and_short = staticmethod(
        test_multi_interval_long_and_short_docs)
    test_hypothesis = staticmethod(test_multi_interval_hypothesis)
    test_workspace = staticmethod(test_workspace_holds_only_core_slabs)


@given(st.lists(st.integers(0, 40), max_size=30), st.integers(0, 3))
@settings(max_examples=200, deadline=None)
def test_flat_explode_idx_matches_loop(lengths, pad):
    """The explode index equals its per-doc loop definition, for a padded
    (B, T) stride and for t=0 (each token's offset within its doc)."""
    lens = np.array(lengths, dtype=np.int64)
    for t in (0, max(lengths, default=0) + pad):
        want = [b * t + i for b, n in enumerate(lengths) for i in range(n)]
        got = _flat_explode_idx(lens, t)
        assert got.dtype == np.int64
        np.testing.assert_array_equal(got, np.array(want, dtype=np.int64))
