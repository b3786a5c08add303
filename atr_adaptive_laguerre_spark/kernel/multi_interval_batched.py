"""Lockstep-batched multi-interval (169/121-column) pipeline.

Batched equivalent of ``multi_interval_ref.multi_interval_features``
(reference flow: ``atr_adaptive_rsi.py:754-905``), producing long-form
1-D output arrays directly:

* base grain: core + 43-col expansion on (B, T), materialized immediately;
* each multiplier grain: positional reshape-resample (complete windows
  only, ``multi_interval.py:210-217``), core + expansion on (B, T//m),
  positional ffill-alignment onto the base grid via a single flat gather
  per column (``multi_interval.py:227-255`` semantics);
* 40 cross-interval interactions on (B, T) slabs
  (``cross_interval.py:35-441``), then materialized.

Only the 7 interaction-input columns per grain are retained as 2-D slabs;
all other feature columns stream straight to 1-D output — bounding the
workspace footprint at ~30 persistent slabs regardless of the 169-column
output width.

Docs with no complete resampled window (n_tok < multiplier) get NaN mult
features (documented deviation: the reference's lookback gate rejects such
inputs outright, ``atr_adaptive_rsi.py:812-824``).
"""

from __future__ import annotations

import numpy as np

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.kernel.batched import (
    core_loop_batched, get_workspace,
)
from atr_adaptive_laguerre_spark.kernel.expander_batched import expand_batched
from atr_adaptive_laguerre_spark.kernel.expander_ref import FEATURE_COLUMNS
from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
    INTERACTION_COLUMNS, multi_interval_columns,
)
from atr_adaptive_laguerre_spark.kernel.redundancy import REDUNDANT_FEATURES

#: feature columns each grain must retain as 2-D slabs for interactions
INTERACTION_INPUTS = (
    "regime", "rsi", "rsi_change_1", "cross_below_overbought",
    "cross_above_oversold", "bars_in_regime", "regime_changed",
)


def _flat_explode_idx(lengths: np.ndarray, t: int) -> np.ndarray:
    """Flat int64 indices selecting the valid cells of a (B, T) matrix in
    doc order: [b*T + i for b in docs for i in range(lengths[b])].  With
    ``t=0`` they are each token's offset within its doc."""
    reps = lengths.astype(np.int64)
    starts = np.cumsum(reps) - reps
    return (np.arange(int(reps.sum()), dtype=np.int64)
            + np.repeat(np.arange(len(reps), dtype=np.int64) * t - starts,
                        reps))


def _resample_hlc(high, low, close, lengths, m, ws):
    """Positional tumbling resample on (B, T): high=max, low=min,
    close=last over windows of exactly m bars; trailing partials dropped."""
    b, t = high.shape
    tm = t // m
    lengths_m = lengths // m
    if tm == 0:
        return None, lengths_m
    hv = high[:, : tm * m].reshape(b, tm, m)
    lv = low[:, : tm * m].reshape(b, tm, m)
    cv = close[:, : tm * m].reshape(b, tm, m)
    hm = ws.view("mi_rs_h", b, tm)
    lm = ws.view("mi_rs_l", b, tm)
    cm = ws.view("mi_rs_c", b, tm)
    np.max(hv, axis=2, out=hm)
    np.min(lv, axis=2, out=lm)
    cm[:] = cv[:, :, m - 1]
    return (hm, lm, cm), lengths_m


def _align_gather_idx_avail(avail: np.ndarray, lengths: np.ndarray,
                            lengths_m: np.ndarray, m: int, tm: int,
                            ) -> tuple[np.ndarray, np.ndarray]:
    """Strict point-in-time gather (reference A2,
    ``atr_adaptive_rsi.py:999-1043``): resampled bar j carries the
    availability of its last constituent base bar ``avail[(j+1)*m-1]``;
    base cell (b, i) maps to the last bar whose availability is
    *strictly below* ``avail[b, i]`` (searchsorted side='left' - 1, the
    v1.0.5 strictness fix), clamped into [0, lengths_m-1]."""
    b_n = len(lengths)
    flat_parts = []
    for b in range(b_n):
        n_b = int(lengths[b])
        lm = int(lengths_m[b])
        if lm == 0:
            flat_parts.append(np.zeros(n_b, dtype=np.int64))
            continue
        avail_m = avail[b, np.arange(1, lm + 1) * m - 1]
        idx = np.searchsorted(avail_m, avail[b, :n_b], side="left") - 1
        np.clip(idx, 0, lm - 1, out=idx)
        flat_parts.append(b * tm + idx)
    gidx = (np.concatenate(flat_parts) if flat_parts
            else np.empty(0, dtype=np.int64))
    doc = np.repeat(np.arange(b_n, dtype=np.int64), lengths.astype(np.int64))
    nomatch = lengths_m.astype(np.int64)[doc] == 0
    return gidx, nomatch


def _align_gather_idx(flat_idx: np.ndarray, lengths_m: np.ndarray,
                      t: int, tm: int) -> tuple[np.ndarray, np.ndarray]:
    """Flat gather indices mapping each valid base cell (b, i) — given as
    the chunk's ``flat_idx`` into (B, t) — to the resampled cell
    (b, min(i, lengths_m[b]-1)); plus a mask of base cells whose doc has
    no complete window (lengths_m == 0)."""
    doc, offs = np.divmod(flat_idx, t)
    lm = lengths_m.astype(np.int64)[doc]
    src = np.minimum(offs, np.maximum(lm - 1, 0))
    return doc * tm + src, lm == 0


def _rolling_sum_shift1(x, w, out):
    """rolling(w, min_periods=1).sum().shift(1).fillna(0) — the
    "recent events, excluding now" pattern (cross_interval.py:318,376)."""
    t = x.shape[1]
    out[:] = 0.0
    # sum over offsets 1..w (previous w rows)
    for j in range(1, min(w + 1, t + 1)):
        if j >= t:
            break
        out[:, j:] += x[:, : t - j]
    return out


def _interactions_2d(K, ws, b, t) -> dict[str, np.ndarray]:
    """40 interactions on 2-D slabs.  ``K[(grain, col)]`` -> (B, T) slab,
    grain in {'b','1','2'}.  Mirrors multi_interval_ref.extract_interactions."""
    V = lambda name: ws.view(name, b, t)  # noqa: E731
    out: dict[str, np.ndarray] = {}
    rb, r1, r2 = K[("b", "regime")], K[("1", "regime")], K[("2", "regime")]
    ib, i1, i2 = K[("b", "rsi")], K[("1", "rsi")], K[("2", "rsi")]

    out["all_intervals_bullish"] = ((rb == 2) & (r1 == 2) & (r2 == 2)).astype(np.float64)
    out["all_intervals_bearish"] = ((rb == 0) & (r1 == 0) & (r2 == 0)).astype(np.float64)
    out["all_intervals_neutral"] = ((rb == 1) & (r1 == 1) & (r2 == 1)).astype(np.float64)
    bm1 = rb == r1
    bm2 = rb == r2
    m1m2 = r1 == r2
    all_same = bm1 & bm2
    any_pair = bm1 | bm2 | m1m2
    out["regime_agreement_count"] = np.where(
        all_same, 3.0, np.where(any_pair, 2.0, 1.0))
    out["regime_majority"] = np.where(
        bm1, rb, np.where(bm2, rb, np.where(
            m1m2, r1, np.minimum(np.minimum(rb, r1), r2))))
    out["regime_unanimity"] = all_same.astype(np.float64)

    out["base_bull_higher_bear"] = ((rb == 2) & ((r1 == 0) | (r2 == 0))).astype(np.float64)
    out["base_bear_higher_bull"] = ((rb == 0) & ((r1 == 2) | (r2 == 2))).astype(np.float64)
    out["divergence_strength"] = (np.maximum(np.maximum(ib, i1), i2)
                                  - np.minimum(np.minimum(ib, i1), i2))
    out["divergence_direction"] = np.sign(ib - i2)
    out["base_extreme_higher_neutral"] = (
        ((rb == 0) | (rb == 2)) & (r2 == 1)).astype(np.float64)
    out["base_neutral_higher_extreme"] = (
        (rb == 1) & ((r2 == 0) | (r2 == 2))).astype(np.float64)
    out["gradient_up"] = ((ib > i1) & (i1 > i2)).astype(np.float64)
    out["gradient_down"] = ((ib < i1) & (i1 < i2)).astype(np.float64)

    chb = K[("b", "rsi_change_1")]
    ch1 = K[("1", "rsi_change_1")]
    ch2 = K[("2", "rsi_change_1")]
    out["rsi_spread_base_mult1"] = ib - i1
    out["rsi_spread_base_mult2"] = ib - i2
    out["rsi_spread_mult1_mult2"] = i1 - i2
    out["momentum_direction"] = np.sign(ib - i2)
    out["momentum_magnitude"] = np.abs(ib - i2)
    out["momentum_consistency"] = (np.sign(chb) == np.sign(ch2)).astype(np.float64)

    cob, co1, co2 = (K[("b", "cross_below_overbought")],
                     K[("1", "cross_below_overbought")],
                     K[("2", "cross_below_overbought")])
    csb, cs1, cs2 = (K[("b", "cross_above_oversold")],
                     K[("1", "cross_above_oversold")],
                     K[("2", "cross_above_oversold")])
    out["any_interval_crossed_overbought"] = (
        (cob == 1) | (co1 == 1) | (co2 == 1)).astype(np.float64)
    out["all_intervals_crossed_overbought"] = (
        (cob == 1) & (co1 == 1) & (co2 == 1)).astype(np.float64)
    out["any_interval_crossed_oversold"] = (
        (csb == 1) | (cs1 == 1) | (cs2 == 1)).astype(np.float64)
    out["all_intervals_crossed_oversold"] = (
        (csb == 1) & (cs1 == 1) & (cs2 == 1)).astype(np.float64)
    out["base_crossed_while_higher_extreme"] = (
        (csb == 1) & ((r2 == 0) | (r2 == 2))).astype(np.float64)
    # cascades: shift(2)/shift(1) with NaN->0 (pandas fillna(0) after the
    # boolean; leading rows are 0)
    cs2s2 = V("mi_s2"); cs2s2[:] = 0.0
    if t > 2:
        cs2s2[:, 2:] = cs2[:, :-2]
    cs1s1 = V("mi_s1"); cs1s1[:] = 0.0
    if t > 1:
        cs1s1[:, 1:] = cs1[:, :-1]
    out["cascade_crossing_up"] = (
        (cs2s2 == 1) & (cs1s1 == 1) & (csb == 1)).astype(np.float64)
    co2s2 = V("mi_s2b"); co2s2[:] = 0.0
    if t > 2:
        co2s2[:, 2:] = co2[:, :-2]
    co1s1 = V("mi_s1b"); co1s1[:] = 0.0
    if t > 1:
        co1s1[:, 1:] = co1[:, :-1]
    out["cascade_crossing_down"] = (
        (co2s2 == 1) & (co1s1 == 1) & (cob == 1)).astype(np.float64)
    rec10 = _rolling_sum_shift1(cs2, 10, V("mi_rec10"))
    out["higher_crossed_first"] = ((csb == 1) & (rec10 > 0)).astype(np.float64)

    bib = K[("b", "bars_in_regime")]
    bi2 = K[("2", "bars_in_regime")]
    rcb = K[("b", "regime_changed")]
    rc1 = K[("1", "regime_changed")]
    rc2 = K[("2", "regime_changed")]
    bi2_safe = V("mi_bi2")
    np.copyto(bi2_safe, bi2)
    bi2_safe[bi2_safe == 0.0] = 1.0
    out["regime_persistence_ratio"] = bib / bi2_safe
    rec5 = _rolling_sum_shift1(rc2, 5, V("mi_rec5"))
    cascade = ((rcb == 1) & (rec5 > 0)).astype(np.float64)
    out["regime_change_cascade"] = cascade
    out["regime_stability_score"] = 1.0 - (rcb + rc1 + rc2) / 3.0
    unanimity = bm1 & m1m2
    # bars since / duration via the cumulative-max index trick
    cum_not = V("mi_cumnot")
    np.cumsum(~unanimity, axis=1, out=cum_not)
    reset = V("mi_reset")
    np.multiply(cum_not, unanimity, out=reset)
    np.maximum.accumulate(reset, axis=1, out=reset)
    out["bars_since_alignment"] = cum_not - reset
    cum_u = V("mi_cumu")
    np.cumsum(unanimity, axis=1, out=cum_u)
    reset2 = V("mi_reset2")
    np.multiply(cum_u, ~unanimity, out=reset2)
    np.maximum.accumulate(reset2, axis=1, out=reset2)
    out["alignment_duration"] = cum_u - reset2
    out["higher_interval_leads"] = cascade
    out["regime_transition_pattern"] = rcb * 4.0 + rc1 * 2.0 + rc2

    # numpy mean/std(ddof=1) over the 3 grains, matching the oracle's
    # column_stack formulation
    mean_rsi = (ib + i1 + i2) / 3.0
    db = ib - mean_rsi
    d1 = i1 - mean_rsi
    d2 = i2 - mean_rsi
    var = (db * db + d1 * d1 + d2 * d2) / 2.0
    std_rsi = np.sqrt(var)
    out["mean_rsi_across_intervals"] = mean_rsi
    out["std_rsi_across_intervals"] = std_rsi
    out["rsi_range_across_intervals"] = (np.maximum(np.maximum(ib, i1), i2)
                                         - np.minimum(np.minimum(ib, i1), i2))
    std_safe = np.where(std_rsi == 0.0, 1.0, std_rsi)
    out["rsi_skew_across_intervals"] = (ib - mean_rsi) / std_safe
    out["interval_momentum_agreement"] = ((chb > 0).astype(np.float64)
                                          + (ch1 > 0)
                                          + (ch2 > 0))
    return out


def single_interval_long(high: np.ndarray, low: np.ndarray,
                         close: np.ndarray, lengths: np.ndarray,
                         cfg: FeatureConfig) -> dict[str, np.ndarray]:
    """43-column single-interval pipeline on padded (B, T) inputs,
    returning long-form 1-D float64 arrays (reference
    ``fit_transform_features`` single-interval branch,
    ``atr_adaptive_rsi.py:829-846``)."""
    b, t = high.shape
    ws = get_workspace(b * t)
    flat_idx = _flat_explode_idx(lengths, t)
    core = core_loop_batched(high, low, close, cfg.atr_period,
                             cfg.adaptive_offset, copy_out=False)
    core["close"] = ws.view("close", b, t)
    feats = expand_batched(core, cfg)
    return {col: feats[col].ravel()[flat_idx] for col in FEATURE_COLUMNS}


def multi_interval_long(high: np.ndarray, low: np.ndarray, close: np.ndarray,
                        lengths: np.ndarray, cfg: FeatureConfig,
                        avail: np.ndarray | None = None,
                        ) -> dict[str, np.ndarray]:
    """Full multi-interval pipeline on padded (B, T) inputs, returning
    long-form 1-D float64 arrays (total real tokens, docs in order).

    With ``avail`` (padded (B, T) monotonic availability timestamps),
    higher-grain features are aligned by the strict point-in-time rule
    (reference ``_fit_transform_features_with_availability``) instead of
    positionally."""
    assert cfg.is_multi_interval
    b, t = high.shape
    ws = get_workspace(b * t)
    flat_idx = _flat_explode_idx(lengths, t)
    out: dict[str, np.ndarray] = {}

    # --- base grain ---
    core = core_loop_batched(high, low, close, cfg.atr_period,
                             cfg.adaptive_offset, copy_out=False)
    core["close"] = ws.view("close", b, t)       # kernel's own close slab
    feats = expand_batched(core, cfg)
    K: dict[tuple[str, str], np.ndarray] = {}
    for col in FEATURE_COLUMNS:
        out[f"{col}_base"] = feats[col].ravel()[flat_idx]
    for col in INTERACTION_INPUTS:
        slab = ws.view(f"mi_kb_{col}", b, t)
        np.copyto(slab, feats[col])
        K[("b", col)] = slab

    # --- multiplier grains ---
    for m, tag, g in ((cfg.multiplier_1, "mult1", "1"),
                      (cfg.multiplier_2, "mult2", "2")):
        res, lengths_m = _resample_hlc(high, low, close, lengths, m, ws)
        if res is None:
            for col in FEATURE_COLUMNS:
                out[f"{col}_{tag}"] = np.full(len(flat_idx), np.nan)
            for col in INTERACTION_INPUTS:
                slab = ws.view(f"mi_k{g}_{col}", b, t)
                slab[:] = np.nan
                K[(g, col)] = slab
            continue
        hm, lm, cm = res
        tm = hm.shape[1]
        # resample slabs are clobbered by the next core call -> copy h/l/c
        hm2 = ws.view("mi_rs_h2", b, tm); np.copyto(hm2, hm)
        lm2 = ws.view("mi_rs_l2", b, tm); np.copyto(lm2, lm)
        cm2 = ws.view("mi_rs_c2", b, tm); np.copyto(cm2, cm)
        core_m = core_loop_batched(hm2, lm2, cm2, cfg.atr_period,
                                   cfg.adaptive_offset, copy_out=False)
        core_m["close"] = ws.view("close", b, tm)
        feats_m = expand_batched(core_m, cfg)
        if avail is None:
            gidx, nomatch = _align_gather_idx(flat_idx, lengths_m, t, tm)
        else:
            gidx, nomatch = _align_gather_idx_avail(avail, lengths,
                                                    lengths_m, m, tm)
        for col in FEATURE_COLUMNS:
            vals = feats_m[col].ravel()[gidx]
            if nomatch.any():
                vals[nomatch] = np.nan
            out[f"{col}_{tag}"] = vals
        for col in INTERACTION_INPUTS:
            slab = ws.view(f"mi_k{g}_{col}", b, t)
            slab.ravel()[flat_idx] = out[f"{col}_{tag}"]
            K[(g, col)] = slab

    # NOTE: the interaction slabs for mult grains are only valid at the
    # real cells (padding cells hold stale data), but interactions are
    # materialized through flat_idx, and the shift/rolling patterns only
    # read earlier cells of the same row, which are real wherever the
    # output cell is real.
    inter = _interactions_2d(K, ws, b, t)
    for col in INTERACTION_COLUMNS:
        out[col] = inter[col].ravel()[flat_idx]

    if cfg.filter_redundancy:
        for col in REDUNDANT_FEATURES:
            out.pop(col, None)
    expected = multi_interval_columns(cfg.filter_redundancy)
    return {c: out[c] for c in expected}
