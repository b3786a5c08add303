"""Availability-aware (point-in-time) alignment: batched == oracle,
strict-tie adversarial semantics, and the availability leakage property.
"""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import (
    make_tokens, tokens_to_availability, tokens_to_ohlcv,
)
from atr_adaptive_laguerre_spark.kernel.batched import pad_sequences
from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
    multi_interval_long,
)
from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
    multi_interval_columns, multi_interval_features,
)

CFG = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                   atr_period=14, filter_redundancy=True)


def _run_batched(seqs, avails, cfg=CFG):
    hi, lens = pad_sequences([s[0] for s in seqs])
    lo, _ = pad_sequences([s[1] for s in seqs])
    cl, _ = pad_sequences([s[2] for s in seqs])
    av, _ = pad_sequences(avails)
    return multi_interval_long(hi, lo, cl, lens, cfg, avail=av), lens


def test_availability_batched_matches_oracle():
    import pandas as pd

    seqs, avails = [], []
    for i, n in enumerate([600, 150, 97]):
        toks = make_tokens(i, n)
        seqs.append(tokens_to_ohlcv(toks))
        avails.append(tokens_to_availability(toks))
    got, _ = _run_batched(seqs, avails)
    want = pd.concat(
        [multi_interval_features(h, l, c, CFG, avail=a)
         for (h, l, c), a in zip(seqs, avails)]).reset_index(drop=True)
    cols = multi_interval_columns(True)
    for col in cols:
        if col.startswith(("rsi_zscore_20", "laguerre_slope")):
            continue  # variance-noise columns covered in test_expander
        np.testing.assert_allclose(
            got[col], want[col].to_numpy(dtype=np.float64),
            rtol=1e-9, atol=1e-10, err_msg=col)


def test_strict_tie_exclusion_at_boundary():
    """Zero-delay availability (avail == bar index): at the exact
    completion instant of resampled bar j, strict '<' must EXCLUDE bar j
    and use bar j-1 — the v1.0.4->v1.0.5 searchsorted-side bugfix the
    reference's adversarial suite guards
    (tests/test_temporal/test_adversarial_regression.py:14-19)."""
    n = 120
    toks = make_tokens(5, n)
    h, l, c = tokens_to_ohlcv(toks)
    avail = np.arange(n, dtype=np.float64)  # ties at window boundaries
    cfg169 = CFG.with_(filter_redundancy=False)  # keep rsi_mult1
    got, _ = _run_batched([(h, l, c)], [avail], cfg169)

    m = CFG.multiplier_1  # 3
    # resampled bar j has availability avail[(j+1)*m-1] = (j+1)*m-1.
    # base row i = (j+1)*m-1 (bar j's own completion instant) must map to
    # bar j-1; row i+1 maps to bar j.
    from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
        _resample,
    )
    from atr_adaptive_laguerre_spark.kernel.reference_impl import core_loop

    hm, lm, cm = _resample(h, l, c, m)
    rsi_m = core_loop(hm, lm, cm, CFG.atr_period, CFG.adaptive_offset)["rsi"]
    for j in [5, 10, 20]:
        i_boundary = (j + 1) * m - 1
        assert got["rsi_mult1"][i_boundary] == rsi_m[j - 1], \
            f"tie at bar {j} must resolve to bar {j-1} (strict <)"
        assert got["rsi_mult1"][i_boundary + 1] == rsi_m[j], \
            f"row after the boundary must see bar {j}"


@settings(max_examples=10, deadline=None)
@given(seed=st.integers(min_value=0, max_value=5_000),
       n=st.integers(min_value=60, max_value=300))
def test_availability_no_leakage_prefix(seed, n):
    """For every availability cut T: features computed on the subset
    {rows: avail <= T} equal the full-data features at those positions —
    the reference's availability validator (tests/test_temporal/
    conftest.py:147-245) generalized to all rows."""
    toks = make_tokens(seed, n)
    h, l, c = tokens_to_ohlcv(toks)
    avail = tokens_to_availability(toks)
    full, _ = _run_batched([(h, l, c)], [avail])
    cut = n // 2
    pre, _ = _run_batched([(h[:cut], l[:cut], c[:cut])], [avail[:cut]])
    cols = multi_interval_columns(True)
    for col in cols:
        if col.startswith(("rsi_zscore_20", "laguerre_slope")):
            continue
        np.testing.assert_array_equal(full[col][:cut], pre[col],
                                      err_msg=col)


@pytest.mark.usefixtures("numpy_backend")
class TestNumpyFallback:
    """The oracle tests above, on the NumPy fallback loops."""

    test_matches_oracle = staticmethod(
        test_availability_batched_matches_oracle)
    test_strict_tie = staticmethod(test_strict_tie_exclusion_at_boundary)
