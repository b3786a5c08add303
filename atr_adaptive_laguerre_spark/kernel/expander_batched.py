"""Lockstep-batched 43-column feature expansion.

Vectorized (B docs, T steps) implementation of the reference's
``FeatureExpander`` (``/root/reference/src/atr_adaptive_laguerre/features/
feature_expander.py:83-607``), cross-checked against the pandas oracle in
``expander_ref``.  Design rules:

* vectorized across the batch everywhere; the only time loop is the EWM
  recurrence (``rsi_velocity``);
* rolling windows are computed with w shifted in-place passes over (B, T)
  slabs (exact per-window arithmetic — no cumsum drift, so constant
  windows produce exactly-zero variance, which the reference's
  ``std.replace(0, 1)`` guards depend on);
* run-length / "bars since" features use cumulative-maximum index tricks
  (the 2-D equivalent of the reference's cumsum-group idiom,
  ``feature_expander.py:192-194,292-300``);
* all large intermediates live in the shared per-process Workspace
  (fresh allocations are page-fault bound on virtualized hosts).

Everything is float64 internally; integer-valued columns are exact small
integers and are cast at materialization time.
"""

from __future__ import annotations

import numpy as np

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.kernel import recurrences
from atr_adaptive_laguerre_spark.kernel.batched import get_workspace
from atr_adaptive_laguerre_spark.kernel.expander_ref import (
    FEATURE_COLUMNS, INT_COLUMNS,
)

__all__ = ["expand_batched", "FEATURE_COLUMNS", "INT_COLUMNS"]


def _shift1(x, out, fill_first=True):
    """out[i] = x[i-1]; first column = x[0] (reference fillna(iloc[0]))."""
    out[:, 1:] = x[:, :-1]
    out[:, 0] = x[:, 0] if fill_first else 0.0
    return out


def _rolling_sum(x, w, out):
    """Backward rolling sum, min_periods=1 (partial windows at the start)."""
    out[:] = 0.0
    t = x.shape[1]
    for j in range(min(w, t)):
        out[:, j:] += x[:, : t - j]
    return out


def _window_counts(t, w):
    return np.minimum(np.arange(t) + 1, w).astype(np.float64)


def _rolling_mean(x, w, out, n):
    _rolling_sum(x, w, out)
    out /= n
    return out


def _rolling_var_std(x, mean, w, ws, b, t, out_std):
    """Exact two-pass sample std (ddof=1), min_periods=1 (first col -> 0).

    O(w) shifted passes by construction: the per-cell accumulation order
    (j ascending = newest first) is part of the cross-engine contract
    (oracles mirror it), so log-pass tricks that reorder additions are
    off the table — unlike min/max, where selection is order-free.
    Row-blocking was tried and won nothing (this host is DRAM-bound with
    no effective cache tier)."""
    acc = ws.view("xp_acc", b, t)
    acc[:] = 0.0
    d = ws.view("xp_d", b, t)
    for j in range(min(w, t)):
        dj = d[:, j:]
        np.subtract(x[:, : t - j], mean[:, j:], out=dj)
        np.multiply(dj, dj, out=dj)
        acc[:, j:] += dj
    n = _window_counts(t, w)
    denom = np.maximum(n - 1.0, 1.0)
    np.divide(acc, denom, out=acc)
    np.sqrt(acc, out=out_std)
    out_std[:, 0] = 0.0
    return out_std


def _rolling_min_max(x, w, ws, b, t):
    """Backward rolling min/max, min_periods=1, in O(log w) slab passes
    via the sparse-table doubling trick: m_{2p}[i] = op(m_p[i], m_p[i-p])
    extends the window exactly (partial head windows stay truncated), and
    the final combine op(m_p[i], m_p[i-(w-p)]) with p >= w/2 covers the
    full w-window with overlap — min/max are idempotent selections, so
    overlap is harmless and every output bit equals the naive w-pass
    version.  Ping-pong buffers avoid self-overlap hazards."""
    we = min(w, t)
    out = {}
    for name, op, src in (("xp_rmin", np.minimum, x),
                          ("xp_rmax", np.maximum, x)):
        a = ws.view(name, b, t)
        bbuf = ws.view(name + "2", b, t)
        np.copyto(a, src)
        p = 1
        while p * 2 <= we:
            bbuf[:, :p] = a[:, :p]
            op(a[:, p:], a[:, : t - p], out=bbuf[:, p:])
            a, bbuf = bbuf, a
            p *= 2
        off = we - p
        if off > 0:
            bbuf[:, :off] = a[:, :off]
            op(a[:, off:], a[:, : t - off], out=bbuf[:, off:])
            a = bbuf
        out[name] = a
    return out["xp_rmin"], out["xp_rmax"]


def _rolling_sum_pow2(x, w, ws, b, t, tag):
    """Backward rolling sum, min_periods=1, in O(log w) slab passes via
    non-overlapping power-of-two decomposition: s_{2p}[i] = s_p[i] +
    s_p[i-p] (head windows stay truncated, matching min_periods=1), then
    the powers of w's binary decomposition are chained back-to-back.

    Unlike :func:`_rolling_sum` this REORDERS the additions (pairwise
    tree instead of newest-first), so per-cell results drift by ~1 ulp
    per level.  Use ONLY where the consumer is drift-tolerant — the
    w=100 volatility-spike block, whose sole outputs are binary
    comparisons (see ``expand_batched``); every real-valued feature
    keeps the order-pinned :func:`_rolling_sum` / :func:`_rolling_var_std`.
    """
    we = min(w, t)
    pows = []
    r, p = we, 1
    while r:
        if r & 1:
            pows.append(p)
        r >>= 1
        p <<= 1
    a = ws.view(f"xp_p2a_{tag}", b, t)
    np.copyto(a, x)
    bbuf = ws.view(f"xp_p2b_{tag}", b, t)
    saves = {}
    p = 1
    if pows and p in pows[:-1]:
        s = ws.view(f"xp_p2s{p}_{tag}", b, t)
        np.copyto(s, a)
        saves[p] = s
    while p * 2 <= we:
        bbuf[:, :p] = a[:, :p]
        np.add(a[:, p:], a[:, : t - p], out=bbuf[:, p:])
        a, bbuf = bbuf, a
        p *= 2
        if p in pows[:-1]:
            s = ws.view(f"xp_p2s{p}_{tag}", b, t)
            np.copyto(s, a)
            saves[p] = s
    out = ws.view(f"xp_p2o_{tag}", b, t)
    np.copyto(out, a)
    off = pows[-1] if pows else 0
    for q in reversed(pows[:-1]):
        out[:, off:] += saves[q][:, : t - off]
        off += q
    return out


def _rolling_std_fast(x, w, ws, b, t, out_std):
    """Drift-tolerant rolling sample std (ddof=1, min_periods=1) in
    O(log w) passes: row-centered E[x^2] expansion with power-of-two
    rolling sums.  Centering on the row's first value keeps the
    cancellation error ~1e-15 absolute even on near-constant windows
    (measured: max |diff| vs the exact two-pass ~5e-15).

    ONLY for the w=100 volatility-spike block: its sole consumers are
    the binary ``rsi_volatility_spike`` comparison (and via it
    ``tail_risk_score``), exact-constant windows are forced to zero by
    the caller's ``vmin == vmax`` mask either way, and the DuckDB /
    pandas oracles already compute this std with their own op order —
    the binary column is empirically order-tolerant on every gated
    corpus (verified by the full catalog gate + kernel parity suite).
    """
    y = ws.view("xp_fsy", b, t)
    np.subtract(x, x[:, 0:1], out=y)
    y2 = ws.view("xp_fsy2", b, t)
    np.multiply(y, y, out=y2)
    sy = _rolling_sum_pow2(y, w, ws, b, t, "v1")
    sy2 = _rolling_sum_pow2(y2, w, ws, b, t, "v2")
    n = _window_counts(t, w)
    mean_y = ws.view("xp_fsm", b, t)
    np.divide(sy, n, out=mean_y)
    # var = (sy2 - 2*mean*sy + n*mean^2) / (n-1), clamped at 0
    acc = out_std
    np.multiply(mean_y, sy, out=acc)
    acc *= -2.0
    acc += sy2
    np.multiply(mean_y, mean_y, out=mean_y)
    mean_y *= n
    acc += mean_y
    np.maximum(acc, 0.0, out=acc)
    acc /= np.maximum(n - 1.0, 1.0)
    np.sqrt(acc, out=acc)
    acc[:, 0] = 0.0
    return acc


def _bars_since(event, ws, b, t, out):
    """Consecutive non-event bars since the last event (0 at event rows,
    counts from the series start before any event) — the reference's
    groupby-cumsum idiom (feature_expander.py:292-300)."""
    cum_not = ws.view("xp_acc", b, t)
    np.cumsum(~event, axis=1, out=cum_not)
    reset = ws.view("xp_d", b, t)
    np.multiply(cum_not, event, out=reset)     # cum_not where event else 0
    np.maximum.accumulate(reset, axis=1, out=reset)
    np.subtract(cum_not, reset, out=out)
    return out


def _ewm_mean(x, span, out, ws, b, y0=None):
    """EWM recurrence; with ``y0`` each row continues from its carried
    mean ``y0[r]``, so column 0 also takes the recurrence form.  Stays
    column-oriented (r6 note): 2 column touches per step keep the live
    line set L2-resident; the transposed variant measured 65% slower
    (transpose passes dominate) — unlike the 6-slab Laguerre cascade,
    which does profit from (T, B).  That note describes the NumPy
    fallback only; the compiled loop (see ``kernel.recurrences``) runs
    row by row."""
    alpha = 2.0 / (span + 1.0)
    rec = recurrences.compiled()
    if rec is not None:
        rec.ewm_mean(x, alpha, 1.0 - alpha, out, y0)
        return out
    t = x.shape[1]
    y = ws.vec(0, b)
    tmp = ws.vec(1, b)
    if y0 is None:
        np.copyto(y, x[:, 0])
        out[:, 0] = y
        start = 1
    else:
        np.copyto(y, y0)
        start = 0
    for i in range(start, t):
        np.multiply(x[:, i], alpha, out=tmp)
        np.multiply(y, 1.0 - alpha, out=y)
        np.add(tmp, y, out=y)
        out[:, i] = y
    return out


def expand_batched(core: dict[str, np.ndarray],
                   cfg: FeatureConfig | None = None
                   ) -> dict[str, np.ndarray]:
    """Expand batched core outputs into the 43 feature slabs.

    ``core`` is the dict returned by ``core_loop_batched`` **plus** a
    ``"close"`` entry.  Returns {column: (B, T) float64 slab}; slabs are
    views into the shared workspace *or* the inputs — copy before the next
    kernel call if retention is needed (the explode step does).
    """
    cfg = cfg or FeatureConfig()
    up, down = cfg.level_up, cfg.level_down
    sw, vspan = cfg.stats_window, cfg.velocity_span

    rsi = core["rsi"]
    b, t = rsi.shape
    ws = get_workspace(b * t)
    V = lambda name: ws.view(name, b, t)  # noqa: E731

    out: dict[str, np.ndarray] = {"rsi": rsi}

    # --- regimes (feature_expander.py:157-216) ---
    regime = V("xp_regime")
    regime[:] = 1.0
    regime[rsi < down] = 0.0
    regime[rsi > up] = 2.0
    out["regime"] = regime
    # binary columns: fused compare-with-cast into float slabs (one pass,
    # no bool temp + astype pass); exact 0/1 values, order-free
    rb_ = V("xp_obear"); np.equal(regime, 0.0, out=rb_, casting="unsafe")
    out["regime_bearish"] = rb_
    rn_ = V("xp_oneut"); np.equal(regime, 1.0, out=rn_, casting="unsafe")
    out["regime_neutral"] = rn_
    rl_ = V("xp_obull"); np.equal(regime, 2.0, out=rl_, casting="unsafe")
    out["regime_bullish"] = rl_
    prev_regime = _shift1(regime, V("xp_prevreg"))
    changed = V("xp_changed")
    np.not_equal(regime, prev_regime, out=changed, casting="unsafe")
    out["regime_changed"] = changed
    # bars_in_regime: index minus last-change index (+1); first bar is a
    # "change" in the reference's cumsum-group formulation
    idx = np.arange(t, dtype=np.float64)
    lci = V("xp_lci")
    np.multiply(changed, idx, out=lci)
    np.maximum.accumulate(lci, axis=1, out=lci)
    bars_in = V("xp_barsin")
    np.subtract(idx, lci, out=bars_in)
    bars_in += 1.0
    out["bars_in_regime"] = bars_in
    strength = V("xp_strength")
    strength[:] = 0.0
    bear = regime == 0.0
    bull = regime == 2.0
    np.copyto(strength, np.maximum(down - rsi, 0.0), where=bear)
    np.copyto(strength, np.maximum(rsi - up, 0.0), where=bull)
    out["regime_strength"] = strength

    # --- thresholds (:218-240) ---
    dob = V("xp_odob"); np.subtract(rsi, up, out=dob)
    out["dist_overbought"] = dob
    dos = V("xp_odos"); np.subtract(rsi, down, out=dos)
    out["dist_oversold"] = dos
    dmid = V("xp_odmid"); np.subtract(rsi, 0.5, out=dmid)
    out["dist_midline"] = dmid
    adob = V("xp_oadob"); np.abs(dob, out=adob)
    out["abs_dist_overbought"] = adob
    ados = V("xp_oados"); np.abs(dos, out=ados)
    out["abs_dist_oversold"] = ados

    # --- crossings (:242-275) ---
    prev = _shift1(rsi, V("xp_prev"))
    cao = V("xp_ocao")
    np.logical_and(prev <= down, rsi > down, out=cao, casting="unsafe")
    out["cross_above_oversold"] = cao
    cbo = V("xp_ocbo")
    np.logical_and(prev >= up, rsi < up, out=cbo, casting="unsafe")
    out["cross_below_overbought"] = cbo
    cam = V("xp_ocam")
    np.logical_and(prev <= 0.5, rsi > 0.5, out=cam, casting="unsafe")
    out["cross_above_midline"] = cam
    cbm = V("xp_ocbm")
    np.logical_and(prev >= 0.5, rsi < 0.5, out=cbm, casting="unsafe")
    out["cross_below_midline"] = cbm

    # --- temporal (:277-311) ---
    is_os = rsi < down
    is_ob = rsi > up
    bso = _bars_since(is_os, ws, b, t, V("xp_bso"))
    out["bars_since_oversold"] = bso
    bsb = _bars_since(is_ob, ws, b, t, V("xp_bsb"))
    out["bars_since_overbought"] = bsb
    bse = V("xp_obse"); np.minimum(bso, bsb, out=bse)
    out["bars_since_extreme"] = bse

    # --- rate of change (:313-337) ---
    ch1 = V("xp_ch1")
    np.subtract(rsi, prev, out=ch1)
    out["rsi_change_1"] = ch1
    prev5 = V("xp_prev5")
    prev5[:, 5:] = rsi[:, :-5] if t > 5 else 0.0
    prev5[:, : min(5, t)] = rsi[:, 0:1]
    ch5 = V("xp_och5"); np.subtract(rsi, prev5, out=ch5)
    out["rsi_change_5"] = ch5
    out["rsi_velocity"] = _ewm_mean(ch1, vspan, V("xp_vel"), ws, b)

    # --- rolling statistics (:339-383) ---
    n20 = _window_counts(t, sw)
    rmean = _rolling_mean(rsi, sw, V("xp_rmean"), n20)
    rstd = _rolling_var_std(rsi, rmean, sw, ws, b, t, V("xp_rstd"))
    rmin, rmax = _rolling_min_max(rsi, sw, ws, b, t)
    # exact-constant windows -> std exactly 0 (pandas yields exact zeros
    # there; the replace(0,1) z-score guard depends on it)
    const_win = rmin == rmax
    rstd[const_win] = 0.0
    # percentile: % of strictly-smaller values among the previous sw-1
    # bars, denominator includes the current bar (_numba_kernel.py:169-202)
    cnt = V("xp_cnt")
    cnt[:] = 0.0
    cmpf = V("xp_cmpf")
    for j in range(1, min(sw, t)):
        cj = cmpf[:, j:]
        np.greater(rsi[:, j:], rsi[:, : t - j], out=cj, casting="unsafe")
        cnt[:, j:] += cj
    np.divide(cnt, n20, out=cnt)
    cnt *= 100.0
    out["rsi_percentile_20"] = cnt
    z = V("xp_z")
    np.subtract(rsi, rmean, out=z)
    std_safe = V("xp_stdsafe")
    np.copyto(std_safe, rstd)
    std_safe[rstd == 0.0] = 1.0
    z /= std_safe
    out["rsi_zscore_20"] = z
    out["rsi_volatility_20"] = rstd
    rng = V("xp_rng")
    np.subtract(rmax, rmin, out=rng)
    out["rsi_range_20"] = rng

    # --- tail risk (:385-454) ---
    shock = V("xp_oshock")
    np.greater(np.abs(ch1), 0.3, out=shock, casting="unsafe")
    out["rsi_shock_1bar"] = shock
    persist = V("xp_opers")
    np.logical_and(regime != 1.0, bars_in > 10.0, out=persist,
                   casting="unsafe")
    out["extreme_regime_persistence"] = persist
    # rolling(100, min_periods=20) mean/std of the volatility series —
    # the O(log w) drift-tolerant path (see _rolling_std_fast: this
    # block's only outputs are the binary spike and tail_risk_score,
    # which tolerate the ~1e-14 threshold drift; ~400 -> ~25 slab
    # passes, the largest single compute sink in the 43-col expansion)
    n100 = _window_counts(t, 100)
    vmean = V("xp_vmean")
    np.divide(_rolling_sum_pow2(rstd, 100, ws, b, t, "vm"), n100,
              out=vmean)
    vstd = _rolling_std_fast(rstd, 100, ws, b, t, V("xp_vstd"))
    vmin, vmax = _rolling_min_max(rstd, 100, ws, b, t)
    vstd[vmin == vmax] = 0.0
    # min_periods=20 gate: pandas mean/std are NaN below 20 obs -> spike 0
    spike = V("xp_spike")
    np.multiply(vstd, 2.0, out=spike)
    spike += vmean
    gate = np.arange(t) + 1 >= 20
    np.copyto(spike, (rstd > spike).astype(np.float64) * gate)
    out["rsi_volatility_spike"] = spike
    score = V("xp_score")
    np.multiply(shock, 0.4, out=score)
    score += persist * 0.3
    score += spike * 0.3
    np.clip(score, 0.0, 1.0, out=score)
    out["tail_risk_score"] = score

    # --- adaptive features (:458-483) ---
    coeff = core["adaptive_coeff"]
    gamma = core["gamma"]
    out["adaptive_coeff"] = coeff
    out["adaptive_coeff_roc_1"] = coeff - _shift1(coeff, V("xp_pc"))
    out["gamma_value"] = gamma
    ng = n20          # same (t, sw) counts — one definition
    gmean = _rolling_mean(gamma, sw, V("xp_gmean"), ng)
    out["gamma_spread"] = gamma - gmean

    # --- laguerre stage features (:485-523) ---
    L0, L1, L2, L3 = core["L0"], core["L1"], core["L2"], core["L3"]
    eps = 1e-10
    out["laguerre_spread"] = (L0 - L3) / (np.abs(L0) + np.abs(L3) + eps)
    out["laguerre_mid_convergence"] = (
        np.abs(L1 - L2) / (np.abs(L0 - L1) + np.abs(L2 - L3) + eps))
    l0d = V("xp_l0d")
    np.subtract(L0, _shift1(L0, V("xp_pl0")), out=l0d)
    l0mean = _rolling_mean(l0d, sw, V("xp_l0m"), n20)
    l0std = _rolling_var_std(l0d, l0mean, sw, ws, b, t, V("xp_l0s"))
    l0mn, l0mx = _rolling_min_max(l0d, sw, ws, b, t)
    l0std[l0mn == l0mx] = 0.0
    l0std[l0std == 0.0] = 1.0
    out["laguerre_slope"] = l0d / l0std

    # --- atr range width (:525-538) ---
    out["atr_range_width"] = (
        (core["max_atr"] - core["min_atr"]) / (core["max_atr"] + eps))

    # --- efficiency (:540-569) ---
    close = core["close"]
    prevn = V("xp_pcn")
    if t > sw:
        prevn[:, sw:] = close[:, :-sw]
    prevn[:, : min(sw, t)] = close[:, 0:1]
    direction = np.abs(close - prevn)
    abs_ch = np.abs(close - _shift1(close, V("xp_pc1")))
    vol = _rolling_sum(abs_ch, sw, V("xp_volsum"))
    vol[vol == 0.0] = 1.0
    er = direction / vol
    np.clip(er, 0.0, 1.0, out=er)
    out["efficiency_ratio"] = er
    etr = V("xp_oetr"); np.greater(er, 0.5, out=etr, casting="unsafe")
    out["efficiency_trend"] = etr

    # --- cycle phase (:571-607) ---
    g01 = L0 > L1
    g23 = L2 > L3
    phase = V("xp_phase")
    phase[:] = 0.0
    phase[g01 & ~g23] = 1.0
    phase[g01 & g23] = 2.0
    phase[~g01 & g23] = 3.0
    out["cycle_phase"] = phase
    pprev = _shift1(phase, V("xp_pphase"))
    cpc = V("xp_ocpc")
    np.not_equal(phase, pprev, out=cpc, casting="unsafe")
    out["cycle_phase_changed"] = cpc

    assert set(out) == set(FEATURE_COLUMNS)
    return out
