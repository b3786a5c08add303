"""Cross-check the batched production kernel against the loop oracle.

The two implementations share no code paths beyond NumPy itself; the
batched kernel is required to be *bit-identical* to the oracle (same
float64 operation order by construction).
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from atr_adaptive_laguerre_spark.data.corpus import (
    make_tokens, tokens_to_ohlcv, tokens_to_ohlcv_batched,
)
from atr_adaptive_laguerre_spark.kernel.batched import (
    core_loop_batched, pad_sequences,
)
from atr_adaptive_laguerre_spark.kernel.reference_impl import (
    CORE_OUTPUTS, core_loop, ewm_mean, rolling_percentile,
)


def _random_ohlcv(rng, n):
    close = 100 + np.cumsum(rng.standard_normal(n) * 0.5)
    open_ = close + rng.standard_normal(n) * 0.3
    high = np.maximum(close, open_) + np.abs(rng.standard_normal(n) * 0.2)
    low = np.minimum(close, open_) - np.abs(rng.standard_normal(n) * 0.2)
    return high, low, close


@pytest.mark.parametrize("atr_period", [1, 2, 14, 32])
@pytest.mark.parametrize("n", [1, 2, 5, 14, 33, 200])
def test_batched_matches_oracle_exact(atr_period, n):
    rng = np.random.default_rng(7 * n + atr_period)
    seqs = []
    for b in range(5):
        m = max(1, n - b)  # ragged lengths
        seqs.append(_random_ohlcv(rng, m))
    hi, lengths = pad_sequences([s[0] for s in seqs])
    lo, _ = pad_sequences([s[1] for s in seqs])
    cl, _ = pad_sequences([s[2] for s in seqs])

    got = core_loop_batched(hi, lo, cl, atr_period)
    for b, (h, l, c) in enumerate(seqs):
        want = core_loop(h, l, c, atr_period)
        m = lengths[b]
        for k in CORE_OUTPUTS:
            np.testing.assert_array_equal(
                got[k][b, :m], want[k], err_msg=f"{k} (entity {b})")


@pytest.mark.parametrize("atr_period,n", [(14, 8192), (14, 1), (32, 13)])
def test_batched_matches_oracle_single_row(atr_period, n):
    """B=1 rows: a long document (every step of the per-step loops runs on
    a one-element batch), a single bar, and fewer bars than atr_period."""
    rng = np.random.default_rng(n)
    h, l, c = _random_ohlcv(rng, n)
    got = core_loop_batched(h[None, :], l[None, :], c[None, :], atr_period)
    want = core_loop(h, l, c, atr_period)
    for k in CORE_OUTPUTS:
        np.testing.assert_array_equal(got[k][0], want[k], err_msg=k)


def test_token_derivation_batched_matches_single():
    toks = [make_tokens(i, 50 + 13 * i) for i in range(6)]
    mat, lengths = pad_sequences(toks, dtype=np.int64)
    hb, lb, cb = tokens_to_ohlcv_batched(mat)
    for b, t in enumerate(toks):
        h, l, c = tokens_to_ohlcv(t)
        m = lengths[b]
        np.testing.assert_array_equal(hb[b, :m], h)
        np.testing.assert_array_equal(lb[b, :m], l)
        np.testing.assert_array_equal(cb[b, :m], c)


def test_rsi_in_unit_range_and_warmup_degenerate():
    t = make_tokens(3, 400)
    h, l, c = tokens_to_ohlcv(t)
    out = core_loop(h, l, c, 14)
    assert np.all(out["rsi"] >= 0.0) and np.all(out["rsi"] <= 1.0)
    # first bar: min==max==atr -> coeff 0.5; gamma from period 14*(1.25)
    assert out["adaptive_coeff"][0] == 0.5
    period0 = 14.0 * (0.5 + 0.75)
    assert out["gamma"][0] == 1.0 - 10.0 / (period0 + 9.0)
    # OHLC invariants of the derivation
    assert np.all(h >= c) and np.all(l <= c)


def test_rolling_percentile_vs_pandas():
    import pandas as pd

    rng = np.random.default_rng(0)
    x = rng.random(300)
    got = rolling_percentile(x, 20)
    want = (pd.Series(x).rolling(20, min_periods=1)
            .apply(lambda w: (w[-1] > w[:-1]).sum() / len(w) * 100, raw=True)
            .to_numpy())
    np.testing.assert_allclose(got, want, rtol=0, atol=0)


def test_ewm_mean_vs_pandas():
    import pandas as pd

    rng = np.random.default_rng(1)
    x = rng.standard_normal(500)
    got = ewm_mean(x, span=5)
    want = pd.Series(x).ewm(span=5, adjust=False).mean().to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-15, atol=1e-15)


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=120),
    atr_period=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=10_000),
)
def test_batched_matches_oracle_hypothesis(n, atr_period, seed):
    rng = np.random.default_rng(seed)
    h, l, c = _random_ohlcv(rng, n)
    got = core_loop_batched(h[None, :], l[None, :], c[None, :], atr_period)
    want = core_loop(h, l, c, atr_period)
    for k in CORE_OUTPUTS:
        np.testing.assert_array_equal(got[k][0], want[k], err_msg=k)


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000),
       n=st.integers(min_value=30, max_value=200))
def test_non_anticipative_prefix_property(seed, n):
    """Core outputs on a prefix equal the full-series outputs at the same
    positions (zero temporal leakage; mirrors the reference's progressive
    prefix validator, validation/non_anticipative.py:22-156)."""
    rng = np.random.default_rng(seed)
    h, l, c = _random_ohlcv(rng, n)
    full = core_loop(h, l, c, 14)
    cut = n // 2
    pre = core_loop(h[:cut], l[:cut], c[:cut], 14)
    for k in CORE_OUTPUTS:
        np.testing.assert_array_equal(full[k][:cut], pre[k], err_msg=k)


def test_workspace_vec_grows_beyond_default():
    """A chunk with more docs than 65,536 (legal under the cell budget
    with 1-token docs) must not truncate the kernel's per-row state
    vectors: 70k one-token docs through the batched kernel."""
    b = 70_000
    high = np.full((b, 1), 101.0)
    low = np.full((b, 1), 99.0)
    close = np.full((b, 1), 100.0)
    out = core_loop_batched(high, low, close, 14)
    assert out["rsi"].shape == (b, 1)
    assert np.isfinite(out["atr"]).all()


@pytest.mark.usefixtures("numpy_backend")
class TestNumpyFallback:
    """The bit-identity tests above, on the NumPy fallback loops."""

    test_exact = staticmethod(test_batched_matches_oracle_exact)
    test_single_row = staticmethod(test_batched_matches_oracle_single_row)
    test_hypothesis = staticmethod(test_batched_matches_oracle_hypothesis)
    test_workspace_vec_grows_beyond_default = staticmethod(
        test_workspace_vec_grows_beyond_default)
