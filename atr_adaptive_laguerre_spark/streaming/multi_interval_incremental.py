"""Incremental streaming 121-column multi-interval pipeline
(availability mode) with O(1) state.

Why availability mode and not the default: the reference's positional
alignment maps base row i to resampled row min(i, n//m - 1)
(`kernel/multi_interval_batched._align_gather_idx`), so emitting row i
with batch parity would require m*(i+1) bars — a lag growing m-fold
with stream length.  The strict point-in-time variant
(`_align_gather_idx_avail`, reference
``_fit_transform_features_with_availability``) is non-anticipative, so a
row becomes final within a lag bounded by ``multiplier_2`` bars.

State stays CONSTANT in stream length, so entities may be unbounded:

* one :class:`~atr_adaptive_laguerre_spark.streaming.expanded.Entity43Stream`
  per grain (base, mult1, mult2) — the carried-window incremental
  43-column stepper (HIST=118 trailing bars + counters each);
* per multiplier grain: a partial-window remainder (< m raw bars) and a
  bounded deque of completed windows' (availability, 43-vector) — only
  windows at or after the current as-of pointer are retained (the
  pointer never moves backwards because availability is monotone);
* a pending-row buffer of base rows not yet final (bounded by the
  emission-lag guarantee: a row becomes final within ``multiplier_2``
  bars);
* the cross-interval carried state: last-1/2 aligned crossing flags,
  the last 10 aligned ``cross_above_oversold_mult2`` and last 5
  ``regime_changed_mult2`` values (rolling sums), and four integer
  counters (the cumulative unanimity trick's running state).

Emission rule (strict-tie safe): base row i is final once every grain
has a completed window with availability >= avail[i] — a later window's
availability can never drop below an existing one (availability is
monotone), and a tie is excluded by the strict rule on both sides, so
>= settles it.  Its aligned grain vector is the last window with
availability STRICTLY below avail[i] (clamped to window 0 — the A3
backfill), which at that point can never change again.  Emitted rows
are bit-identical to the batch pipeline (tested); the trailing
not-yet-final rows of a finished stream remain unemitted.  Offsets of
an entity must be gapless (history position == offset for the
positional resample); a gap raises ``ValueError`` naming the entity.

All interaction arithmetic is element-wise or exact-integer counters,
so chunking cannot perturb a bit; the only float recurrences (kernel,
EWM, expander windows) live inside the parity-pinned steppers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.kernel.expander_ref import FEATURE_COLUMNS
from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
    multi_interval_columns,
)
from atr_adaptive_laguerre_spark.streaming.expanded import (
    _SERIES, Entity43Stream,
)

NF = len(FEATURE_COLUMNS)          # 43
_CI = {c: i for i, c in enumerate(FEATURE_COLUMNS)}

AVAIL_INPUT_SCHEMA = ("source string, doc_id string, offset long, "
                      "high double, low double, close double, avail double")

#: carried aligned-history depths (lag/rolling windows of _interactions_2d)
_H_CS2, _H_RC2, _H_CO2 = 10, 5, 2


def _arr(x) -> np.ndarray:
    return np.asarray(x, dtype=np.float64)


class _Grain:
    """One multiplier grain: partial-window remainder + window deque +
    its own 43-column stepper."""

    __slots__ = ("m", "ent", "rem_h", "rem_l", "rem_c", "rem_av",
                 "wavail", "wvecs", "discarded")

    def __init__(self, cfg: FeatureConfig, m: int):
        self.m = m
        self.ent = Entity43Stream(cfg)
        self.rem_h = np.empty(0)
        self.rem_l = np.empty(0)
        self.rem_c = np.empty(0)
        self.rem_av = np.empty(0)
        self.wavail = np.empty(0)
        self.wvecs = np.empty((0, NF))
        self.discarded = 0

    def ingest(self, h, l, c, av) -> None:
        """Fold new base bars into the partial window; run every newly
        completed window through the grain stepper (max/min/last per
        window — bit-identical to the batch reshape-resample)."""
        ah = np.concatenate([self.rem_h, h])
        al = np.concatenate([self.rem_l, l])
        ac = np.concatenate([self.rem_c, c])
        aav = np.concatenate([self.rem_av, av])
        m = self.m
        k = len(ah) // m
        if k:
            wh = ah[:k * m].reshape(k, m).max(axis=1)
            wl = al[:k * m].reshape(k, m).min(axis=1)
            wc = ac[:k * m].reshape(k, m)[:, m - 1]
            wav = aav[:k * m].reshape(k, m)[:, m - 1]
            out = self.ent.advance(wh, wl, wc)
            vecs = np.column_stack([out[col] for col in FEATURE_COLUMNS])
            self.wavail = np.concatenate([self.wavail, wav])
            self.wvecs = np.vstack([self.wvecs, vecs])
        self.rem_h = ah[k * m:].copy()
        self.rem_l = al[k * m:].copy()
        self.rem_c = ac[k * m:].copy()
        self.rem_av = aav[k * m:].copy()

    @property
    def has_window(self) -> bool:
        return self.discarded > 0 or len(self.wavail) > 0

    @property
    def newest_avail(self) -> float:
        return float(self.wavail[-1])

    def gather(self, row_avail: np.ndarray) -> tuple[np.ndarray, int]:
        """Aligned window vectors for final rows: last window with
        availability strictly below each row's (batch
        ``_align_gather_idx_avail`` semantics, clamp-to-0 backfill).
        Returns (vectors (n, 43), last mapped absolute index)."""
        cnt = self.discarded + np.searchsorted(self.wavail, row_avail,
                                               side="left")
        idx = np.maximum(cnt - 1, 0)
        rel = idx - self.discarded
        assert (rel >= 0).all(), "as-of pointer moved backwards"
        return self.wvecs[rel], int(idx[-1])

    def discard_below(self, abs_idx: int) -> None:
        drop = abs_idx - self.discarded
        if drop > 0:
            self.wavail = self.wavail[drop:]
            self.wvecs = self.wvecs[drop:]
            self.discarded = abs_idx

    # -- packing --------------------------------------------------------

    def to_tuple(self) -> tuple:
        return (*self.ent.to_tuple(),
                self.rem_h.tolist(), self.rem_l.tolist(),
                self.rem_c.tolist(), self.rem_av.tolist(),
                self.wavail.tolist(), self.wvecs.ravel().tolist(),
                int(self.discarded))

    @classmethod
    def from_tuple(cls, cfg: FeatureConfig, m: int, tup) -> "_Grain":
        self = cls(cfg, m)
        self.ent = Entity43Stream.from_tuple(cfg, tup[:24])
        self.rem_h, self.rem_l, self.rem_c, self.rem_av = (
            _arr(tup[24]), _arr(tup[25]), _arr(tup[26]), _arr(tup[27]))
        self.wavail = _arr(tup[28])
        self.wvecs = _arr(tup[29]).reshape(-1, NF)
        self.discarded = int(tup[30])
        return self


GRAIN_N_FIELDS = 31


def _block_interactions(Kb, K1, K2, istate) -> dict[str, np.ndarray]:
    """The 40 cross-interval interactions for a block of FINAL rows,
    mirroring ``multi_interval_batched._interactions_2d`` op for op,
    with the lag/rolling/cumulative patterns continued from carried
    state (exact-integer arithmetic — chunking cannot perturb them).
    ``istate`` is mutated with the new carried values."""
    out: dict[str, np.ndarray] = {}
    n = len(Kb["regime"])
    rb, r1, r2 = Kb["regime"], K1["regime"], K2["regime"]
    ib, i1, i2 = Kb["rsi"], K1["rsi"], K2["rsi"]

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

    chb, ch1, ch2 = (Kb["rsi_change_1"], K1["rsi_change_1"],
                     K2["rsi_change_1"])
    out["rsi_spread_base_mult1"] = ib - i1
    out["rsi_spread_base_mult2"] = ib - i2
    out["rsi_spread_mult1_mult2"] = i1 - i2
    out["momentum_direction"] = np.sign(ib - i2)
    out["momentum_magnitude"] = np.abs(ib - i2)
    out["momentum_consistency"] = (np.sign(chb) == np.sign(ch2)).astype(np.float64)

    cob, co1, co2 = (Kb["cross_below_overbought"],
                     K1["cross_below_overbought"],
                     K2["cross_below_overbought"])
    csb, cs1, cs2 = (Kb["cross_above_oversold"],
                     K1["cross_above_oversold"],
                     K2["cross_above_oversold"])
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

    # lagged aligned flags continued across blocks (defaults 0.0 at the
    # stream head — the batch fillna(0))
    ext_cs2 = np.concatenate([istate["h_cs2"], cs2])
    ext_cs1 = np.concatenate([istate["h_cs1"], cs1])
    ext_co2 = np.concatenate([istate["h_co2"], co2])
    ext_co1 = np.concatenate([istate["h_co1"], co1])
    hl2, hl1 = len(istate["h_cs2"]), len(istate["h_cs1"])

    def shifted(ext, hlen, k):
        s = np.zeros(n)
        src = hlen + np.arange(n) - k
        valid = src >= 0
        s[valid] = ext[src[valid]]
        return s

    cs2s2 = shifted(ext_cs2, hl2, 2)
    cs1s1 = shifted(ext_cs1, hl1, 1)
    co2s2 = shifted(ext_co2, len(istate["h_co2"]), 2)
    co1s1 = shifted(ext_co1, len(istate["h_co1"]), 1)
    out["cascade_crossing_up"] = (
        (cs2s2 == 1) & (cs1s1 == 1) & (csb == 1)).astype(np.float64)
    out["cascade_crossing_down"] = (
        (co2s2 == 1) & (co1s1 == 1) & (cob == 1)).astype(np.float64)

    # rolling(w, min_periods=1).sum().shift(1).fillna(0) over the
    # aligned series, continued across blocks via the carried window
    def rec(ext, hlen, w):
        csum = np.zeros(len(ext) + 1)
        np.cumsum(ext, out=csum[1:])
        j = np.arange(n)
        hi = hlen + j                     # exclusive end: previous rows
        lo = np.maximum(hi - w, 0)
        return csum[hi] - csum[lo]

    rec10 = rec(ext_cs2, hl2, 10)
    out["higher_crossed_first"] = ((csb == 1) & (rec10 > 0)).astype(np.float64)

    bib = Kb["bars_in_regime"]
    bi2 = K2["bars_in_regime"]
    rcb, rc1, rc2 = (Kb["regime_changed"], K1["regime_changed"],
                     K2["regime_changed"])
    bi2_safe = bi2.copy()
    bi2_safe[bi2_safe == 0.0] = 1.0
    out["regime_persistence_ratio"] = bib / bi2_safe
    ext_rc2 = np.concatenate([istate["h_rc2"], rc2])
    rec5 = rec(ext_rc2, len(istate["h_rc2"]), 5)
    cascade = ((rcb == 1) & (rec5 > 0)).astype(np.float64)
    out["regime_change_cascade"] = cascade
    out["regime_stability_score"] = 1.0 - (rcb + rc1 + rc2) / 3.0

    # cumulative unanimity counters continued from carried scalars
    unanimity = bm1 & m1m2
    cum_not = istate["cum_not"] + np.cumsum(~unanimity)
    reset_u = np.maximum.accumulate(np.concatenate(
        ([istate["reset_u"]], np.where(unanimity, cum_not, 0.0))))[1:]
    out["bars_since_alignment"] = cum_not - reset_u
    cum_u = istate["cum_u"] + np.cumsum(unanimity)
    reset2 = np.maximum.accumulate(np.concatenate(
        ([istate["reset2"]], np.where(~unanimity, cum_u, 0.0))))[1:]
    out["alignment_duration"] = cum_u - reset2
    out["higher_interval_leads"] = cascade
    out["regime_transition_pattern"] = rcb * 4.0 + rc1 * 2.0 + rc2

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

    # -- carry forward the aligned histories / counters --
    istate["h_cs2"] = ext_cs2[-_H_CS2:].copy()
    istate["h_cs1"] = ext_cs1[-1:].copy()
    istate["h_co2"] = ext_co2[-_H_CO2:].copy()
    istate["h_co1"] = ext_co1[-1:].copy()
    istate["h_rc2"] = ext_rc2[-_H_RC2:].copy()
    istate["cum_not"] = float(cum_not[-1])
    istate["reset_u"] = float(reset_u[-1])
    istate["cum_u"] = float(cum_u[-1])
    istate["reset2"] = float(reset2[-1])
    return out


class Entity121Stream:
    """Per-entity incremental availability-121 stepper (O(1) state)."""

    __slots__ = ("cfg", "base", "g1", "g2", "p_off", "p_avail", "p_base",
                 "istate", "out_cols")

    def __init__(self, cfg: FeatureConfig):
        assert cfg.is_multi_interval and cfg.availability
        self.cfg = cfg
        self.base = Entity43Stream(cfg)
        self.g1 = _Grain(cfg, cfg.multiplier_1)
        self.g2 = _Grain(cfg, cfg.multiplier_2)
        self.p_off = np.empty(0, dtype=np.int64)
        self.p_avail = np.empty(0)
        self.p_base = np.empty((0, NF))
        self.istate = {"h_cs2": np.empty(0), "h_cs1": np.empty(0),
                       "h_co2": np.empty(0), "h_co1": np.empty(0),
                       "h_rc2": np.empty(0),
                       "cum_not": 0.0, "reset_u": 0.0,
                       "cum_u": 0.0, "reset2": 0.0}
        self.out_cols = multi_interval_columns(cfg.filter_redundancy)

    def advance(self, offs, high, low, close, avail
                ) -> tuple[np.ndarray, dict[str, np.ndarray]] | None:
        """Feed new base bars; returns (offsets, columns) for the rows
        that became FINAL, or None if nothing finalized."""
        h, l, c, av = _arr(high), _arr(low), _arr(close), _arr(avail)
        base_out = self.base.advance(h, l, c)
        self.p_off = np.concatenate([self.p_off,
                                     np.asarray(offs, dtype=np.int64)])
        self.p_avail = np.concatenate([self.p_avail, av])
        self.p_base = np.vstack([
            self.p_base,
            np.column_stack([base_out[col] for col in FEATURE_COLUMNS])])
        self.g1.ingest(h, l, c, av)
        self.g2.ingest(h, l, c, av)

        if not (self.g1.has_window and self.g2.has_window):
            return None
        cap = min(self.g1.newest_avail, self.g2.newest_avail)
        emit_n = int(np.searchsorted(self.p_avail, cap, side="right"))
        if emit_n == 0:
            return None

        row_av = self.p_avail[:emit_n]
        base_blk = self.p_base[:emit_n]
        v1, last1 = self.g1.gather(row_av)
        v2, last2 = self.g2.gather(row_av)
        Kb = {col: base_blk[:, _CI[col]] for col in FEATURE_COLUMNS}
        K1 = {col: v1[:, _CI[col]] for col in FEATURE_COLUMNS}
        K2 = {col: v2[:, _CI[col]] for col in FEATURE_COLUMNS}
        inter = _block_interactions(Kb, K1, K2, self.istate)

        full: dict[str, np.ndarray] = {}
        for col in FEATURE_COLUMNS:
            full[f"{col}_base"] = Kb[col]
            full[f"{col}_mult1"] = K1[col]
            full[f"{col}_mult2"] = K2[col]
        full.update(inter)
        out = {c2: full[c2] for c2 in self.out_cols}

        emitted_offs = self.p_off[:emit_n]
        self.p_off = self.p_off[emit_n:]
        self.p_avail = self.p_avail[emit_n:]
        self.p_base = self.p_base[emit_n:]
        self.g1.discard_below(last1)
        self.g2.discard_below(last2)
        return emitted_offs, out

    # -- packing --------------------------------------------------------

    def to_tuple(self) -> tuple:
        i = self.istate
        return (*self.base.to_tuple(),
                *self.g1.to_tuple(), *self.g2.to_tuple(),
                self.p_off.tolist(), self.p_avail.tolist(),
                self.p_base.ravel().tolist(),
                i["h_cs2"].tolist(), i["h_cs1"].tolist(),
                i["h_co2"].tolist(), i["h_co1"].tolist(),
                i["h_rc2"].tolist(),
                float(i["cum_not"]), float(i["reset_u"]),
                float(i["cum_u"]), float(i["reset2"]))

    @classmethod
    def from_tuple(cls, cfg: FeatureConfig, tup) -> "Entity121Stream":
        self = cls(cfg)
        self.base = Entity43Stream.from_tuple(cfg, tup[:24])
        p = 24
        self.g1 = _Grain.from_tuple(cfg, cfg.multiplier_1,
                                    tup[p:p + GRAIN_N_FIELDS])
        p += GRAIN_N_FIELDS
        self.g2 = _Grain.from_tuple(cfg, cfg.multiplier_2,
                                    tup[p:p + GRAIN_N_FIELDS])
        p += GRAIN_N_FIELDS
        self.p_off = np.asarray(tup[p], dtype=np.int64)
        self.p_avail = _arr(tup[p + 1])
        self.p_base = _arr(tup[p + 2]).reshape(-1, NF)
        self.istate = {"h_cs2": _arr(tup[p + 3]), "h_cs1": _arr(tup[p + 4]),
                       "h_co2": _arr(tup[p + 5]), "h_co1": _arr(tup[p + 6]),
                       "h_rc2": _arr(tup[p + 7]),
                       "cum_not": float(tup[p + 8]),
                       "reset_u": float(tup[p + 9]),
                       "cum_u": float(tup[p + 10]),
                       "reset2": float(tup[p + 11])}
        return self


def _entity43_state_fields(prefix: str) -> str:
    return (f"{prefix}prev_close double, {prefix}seen int, "
            f"{prefix}tr_buf array<double>, {prefix}buf_head int, "
            f"{prefix}buf_len int, {prefix}tr_sum double, "
            f"{prefix}l0 double, {prefix}l1 double, {prefix}l2 double, "
            f"{prefix}l3 double, {prefix}vel double, "
            + ", ".join(f"{prefix}h_{s} array<double>" for s in _SERIES)
            + f", {prefix}c_bars_in double, {prefix}c_bs_os double, "
            f"{prefix}c_bs_ob double")


def _grain_state_fields(prefix: str) -> str:
    return (_entity43_state_fields(prefix)
            + f", {prefix}rem_h array<double>, {prefix}rem_l array<double>, "
            f"{prefix}rem_c array<double>, {prefix}rem_av array<double>, "
            f"{prefix}wavail array<double>, {prefix}wvecs array<double>, "
            f"{prefix}discarded long")


def state121_inc_schema() -> str:
    return (_entity43_state_fields("b_")
            + ", " + _grain_state_fields("g1_")
            + ", " + _grain_state_fields("g2_")
            + ", p_off array<long>, p_avail array<double>, "
            "p_base array<double>, i_cs2 array<double>, "
            "i_cs1 array<double>, i_co2 array<double>, "
            "i_co1 array<double>, i_rc2 array<double>, "
            "i_cum_not double, i_reset_u double, i_cum_u double, "
            "i_reset2 double, last_offset long")


def output121_schema(cfg: FeatureConfig) -> str:
    from atr_adaptive_laguerre_spark.engine.features_job import (
        feature_columns_for,
    )

    return ("source string, doc_id string, offset long, "
            + ", ".join(f"{c} double" for c in feature_columns_for(cfg)))


def make_update121_inc_fn(cfg: FeatureConfig):
    from atr_adaptive_laguerre_spark.engine.features_job import (
        feature_columns_for,
    )

    feat_cols = feature_columns_for(cfg)

    def fn(key, pdf_iter, state):
        source, doc_id = key
        from atr_adaptive_laguerre_spark.streaming.stateful import (
            filter_new_bars, gather_group_chunks,
        )

        if state.exists:
            tup = state.get
            ent = Entity121Stream.from_tuple(cfg, tup[:-1])
            last_offset = int(tup[-1])
        else:
            ent = Entity121Stream(cfg)
            last_offset = -1

        for pdf in gather_group_chunks(pdf_iter):
            pdf = filter_new_bars(pdf, last_offset)
            if len(pdf) == 0:
                continue
            offs = pdf["offset"].to_numpy(dtype=np.int64)
            if offs[0] != last_offset + 1 or \
                    (len(offs) > 1 and (np.diff(offs) != 1).any()):
                raise ValueError(
                    f"offset gap for entity {doc_id!r}: got "
                    f"{offs[0]}..{offs[-1]} after {last_offset}")
            res = ent.advance(offs,
                              pdf["high"].to_numpy(dtype=np.float64),
                              pdf["low"].to_numpy(dtype=np.float64),
                              pdf["close"].to_numpy(dtype=np.float64),
                              pdf["avail"].to_numpy(dtype=np.float64))
            last_offset = int(offs[-1])
            if res is None:
                continue
            out_offs, cols = res
            yield pd.DataFrame({"source": source, "doc_id": doc_id,
                                "offset": out_offs,
                                **{c: cols[c] for c in feat_cols}})

        state.update((*ent.to_tuple(), int(last_offset)))

    return fn


def stream_features121_incremental(spark, input_dir: str, output_dir: str,
                                   checkpoint_dir: str,
                                   cfg: FeatureConfig) -> None:
    """availableNow micro-batch pass emitting the availability-mode
    121-column pipeline with O(1) per-entity state, resuming from
    checkpointed state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    out = (spark.readStream.schema(AVAIL_INPUT_SCHEMA).parquet(input_dir)
           .groupBy("source", "doc_id")
           .applyInPandasWithState(
               make_update121_inc_fn(cfg), output121_schema(cfg),
               state121_inc_schema(), "append",
               GroupStateTimeout.NoTimeout))
    q = (out.writeStream.format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
