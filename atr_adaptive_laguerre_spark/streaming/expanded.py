"""Streaming 43-column feature expansion (beyond-reference surface).

The reference's streaming ``update()`` emits only rsi + intermediates
(``features/atr_adaptive_rsi.py:542-672``); its 43-column expansion is
batch-only.  This module streams the full expansion with **bit-exact
batch parity** (tested): per entity, the state carries

* the core recurrence state (as ``stateful.py``), plus the EWM velocity
  accumulator,
* a trailing window of the 10 derived series (rsi, coeff, gamma, L0-L3,
  min/max ATR, close) — ``HIST = 118`` bars, exactly enough that every
  windowed statistic of a new bar sees its full lookback: the deepest
  chain is vstd (rolling-100 std of rstd, each rstd a rolling-20 std of
  rsi -> 99 + 19),
* three unbounded counters (bars-in-regime, bars-since-oversold/
  overbought) whose batch formulation is a global cumulative trick.

Per micro-batch: ``core_loop_resumed`` advances the recurrence
vectorized; the batched expander runs over (1, HIST + n) and the new
tail is emitted after two carried-state overrides:

* ``rsi_velocity`` — the batch EWM (``_ewm_mean``) over the new rows,
  continued from the carried accumulator (the slab-local EWM would
  restart at the window edge);
* ``bars_in_regime`` / ``bars_since_*`` (+ their dependents
  ``bars_since_extreme``, ``extreme_regime_persistence``,
  ``tail_risk_score``) — slab-local values are corrected by the carried
  counter wherever no event/change occurred inside the slab; for
  untruncated entities the correction is provably zero, so it is applied
  unconditionally.

Why the window sizes are safe: new rows sit at slab position >= HIST
(or == their true global position when the entity is younger than
HIST); every windowed input they read is itself computed from a full
in-slab window, and the min-period gates (n20/n100, the >=20 spike
gate) saturate identically local vs global at position >= 118.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.kernel.batched import core_loop_resumed
from atr_adaptive_laguerre_spark.kernel.expander_batched import (
    _ewm_mean, expand_batched,
)
from atr_adaptive_laguerre_spark.kernel.expander_ref import FEATURE_COLUMNS
from atr_adaptive_laguerre_spark.streaming.stateful import (
    INPUT_SCHEMA, filter_new_bars, gather_group_chunks, new_core_state,
    unpack_core_state,
)

#: trailing bars kept per entity: 99 (vol window) + 19 (rstd's rsi window)
HIST = 118

_SERIES = ("rsi", "adaptive_coeff", "gamma", "L0", "L1", "L2", "L3",
           "min_atr", "max_atr", "close")

OUTPUT43_SCHEMA = ("source string, doc_id string, offset long, "
                   + ", ".join(f"{c} double" for c in FEATURE_COLUMNS))

STATE43_SCHEMA = (
    "prev_close double, seen int, tr_buf array<double>, buf_head int, "
    "buf_len int, tr_sum double, l0 double, l1 double, l2 double, "
    "l3 double, last_offset long, vel double, "
    + ", ".join(f"h_{s} array<double>" for s in _SERIES)
    + ", c_bars_in double, c_bs_os double, c_bs_ob double")




class Entity43Stream:
    """Per-entity incremental 43-column expansion stepper — the carried
    state + ``advance`` logic shared by :func:`make_update43_fn` (the
    applyInPandasWithState surface) and the incremental streaming-121
    pipeline (``streaming/multi_interval_incremental.py``), which runs
    one instance per grain.  Bit-exact batch parity is pinned by
    test_streaming.

    ``from_tuple``/``to_tuple`` pack exactly the 25 fields of
    STATE43_SCHEMA minus ``last_offset`` (a 24-tuple; offset tracking
    belongs to the caller)."""

    __slots__ = ("cfg", "p", "off", "down", "up", "st", "vel", "hist",
                 "c_bars_in", "c_bs_os", "c_bs_ob")

    def __init__(self, cfg: FeatureConfig):
        self.cfg = cfg
        self.p = cfg.atr_period
        self.off = cfg.adaptive_offset
        self.down, self.up = cfg.level_down, cfg.level_up
        self.st = new_core_state(self.p)
        self.vel = 0.0
        self.hist = {s: np.empty(0) for s in _SERIES}
        self.c_bars_in = self.c_bs_os = self.c_bs_ob = 0.0

    # -- state packing (24 flat fields) ---------------------------------

    @classmethod
    def from_tuple(cls, cfg: FeatureConfig, tup) -> "Entity43Stream":
        self = cls(cfg)
        self.st = unpack_core_state(tup, self.p)
        self.vel = tup[10]
        self.hist = {s: np.asarray(tup[11 + i], dtype=np.float64)
                     for i, s in enumerate(_SERIES)}
        self.c_bars_in, self.c_bs_os, self.c_bs_ob = (
            tup[21], tup[22], tup[23])
        return self

    def to_tuple(self) -> tuple:
        st = self.st
        return (st["prev_close"], st["seen"], st["tr_buf"],
                st["buf_head"], st["buf_len"], st["tr_sum"],
                st["l0"], st["l1"], st["l2"], st["l3"],
                float(self.vel),
                *[self.hist[s].tolist() for s in _SERIES],
                float(self.c_bars_in), float(self.c_bs_os),
                float(self.c_bs_ob))

    # -- the incremental step -------------------------------------------

    def advance(self, high: np.ndarray, low: np.ndarray,
                close: np.ndarray) -> dict[str, np.ndarray]:
        """Advance the entity by ``n`` bars; returns the 43 feature
        columns for exactly those bars (bit-identical to the batch
        expander on the full series)."""
        cfg, hist = self.cfg, self.hist
        n = len(close)
        close_new = np.asarray(close, dtype=np.float64)
        core = core_loop_resumed(
            np.asarray(high, dtype=np.float64),
            np.asarray(low, dtype=np.float64),
            close_new, self.st, self.p, self.off)
        core["close"] = close_new

        h = len(hist["rsi"])
        slab = {s: np.concatenate([hist[s], core[s]])[None, :]
                for s in _SERIES}
        feats = expand_batched(slab, cfg)
        overridden = {"bars_in_regime", "bars_since_oversold",
                      "bars_since_overbought", "bars_since_extreme",
                      "extreme_regime_persistence", "tail_risk_score"}
        out = {c: feats[c][0, h:] for c in FEATURE_COLUMNS
               if c not in overridden}

        rsi_all = slab["rsi"][0]

        # --- override 1: EWM velocity continued from carried state ---
        if h:
            out["rsi_velocity"] = _ewm_mean(
                feats["rsi_change_1"][:, h:], cfg.velocity_span,
                y0=np.array([self.vel]))[0]
        self.vel = float(out["rsi_velocity"][-1])

        # --- override 2: unbounded counters (carry across slabs) ---
        regime_all = np.where(rsi_all < self.down, 0.0,
                              np.where(rsi_all > self.up, 2.0, 1.0))
        changed = np.zeros(h + n, dtype=bool)
        changed[1:] = regime_all[1:] != regime_all[:-1]
        idx = np.arange(h + n, dtype=np.float64)
        lci = np.maximum.accumulate(changed * idx)
        no_change = lci == 0
        # where no change occurred inside the slab, the true count
        # continues the carried counter; the correction is exactly 0
        # for untruncated entities (carried == h when changeless)
        bars_in = idx - lci + 1.0
        corr = self.c_bars_in - h if h else 0.0
        bars_in = np.where(no_change, bars_in + corr, bars_in)
        out["bars_in_regime"] = bars_in[h:]

        def bars_since(event, carried):
            # last-event-index formulation: an event AT slab position
            # 0 must anchor the count (idx - 0), not fall into the
            # carried-correction branch — the cum_not*event reset
            # trick can't distinguish "event at 0" (reset==0 because
            # cum_not[0]==0) from "no event at all", which made
            # counts drift by 1 when the only event in the window
            # sat exactly HIST bars back.  For a full slab (h==0)
            # this is algebraically identical to the batch
            # _bars_since (idx - last_event == cum_not - reset after
            # the last event; idx + 1 == cum_not before any event).
            idx2 = np.arange(h + n, dtype=np.float64)
            lei = np.maximum.accumulate(np.where(event, idx2, -1.0))
            seen_event = lei >= 0.0
            loc = np.where(seen_event, idx2 - lei, idx2 + 1.0)
            corr2 = carried - h if h else 0.0
            return np.where(seen_event, loc, loc + corr2)

        is_os = rsi_all < self.down
        is_ob = rsi_all > self.up
        bso = bars_since(is_os, self.c_bs_os)
        bsb = bars_since(is_ob, self.c_bs_ob)
        out["bars_since_oversold"] = bso[h:]
        out["bars_since_overbought"] = bsb[h:]
        out["bars_since_extreme"] = np.minimum(bso, bsb)[h:]

        # --- dependents of the corrected counters ---
        persist = ((regime_all[h:] != 1.0)
                   & (out["bars_in_regime"] > 10.0)).astype(np.float64)
        out["extreme_regime_persistence"] = persist
        score = out["rsi_shock_1bar"] * 0.4
        score = score + persist * 0.3
        score = score + out["rsi_volatility_spike"] * 0.3
        out["tail_risk_score"] = np.clip(score, 0.0, 1.0)

        # --- carry forward ---
        self.c_bars_in = float(out["bars_in_regime"][-1])
        self.c_bs_os = float(out["bars_since_oversold"][-1])
        self.c_bs_ob = float(out["bars_since_overbought"][-1])
        keep_n = min(HIST, h + n)
        self.hist = {s: slab[s][0, -keep_n:].copy() for s in _SERIES}
        return out


def make_update43_fn(cfg: FeatureConfig):
    def fn(key, pdf_iter, state):
        source, doc_id = key
        if state.exists:
            tup = state.get
            last_offset = tup[10]
            ent = Entity43Stream.from_tuple(
                cfg, tup[:10] + tup[11:])     # drop last_offset at [10]
        else:
            ent = Entity43Stream(cfg)
            last_offset = -1

        for pdf in gather_group_chunks(pdf_iter):
            pdf = filter_new_bars(pdf, last_offset)
            if len(pdf) == 0:
                continue
            offs = pdf["offset"].to_numpy(dtype=np.int64)
            out = ent.advance(pdf["high"].to_numpy(dtype=np.float64),
                              pdf["low"].to_numpy(dtype=np.float64),
                              pdf["close"].to_numpy(dtype=np.float64))
            last_offset = int(offs[-1])
            yield pd.DataFrame({"source": source, "doc_id": doc_id,
                                "offset": offs,
                                **{c: out[c] for c in FEATURE_COLUMNS}})

        t = ent.to_tuple()
        state.update(t[:10] + (int(last_offset),) + t[10:])

    return fn


def stream_features43(spark, input_dir: str, output_dir: str,
                      checkpoint_dir: str,
                      cfg: FeatureConfig | None = None) -> None:
    """availableNow micro-batch pass emitting the full 43-column
    expansion per bar, resuming from checkpointed state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    cfg = cfg or FeatureConfig()
    sdf = spark.readStream.schema(INPUT_SCHEMA).parquet(input_dir)
    out = (sdf.groupBy("source", "doc_id")
           .applyInPandasWithState(
               make_update43_fn(cfg), OUTPUT43_SCHEMA, STATE43_SCHEMA,
               "append", GroupStateTimeout.NoTimeout))
    q = (out.writeStream.format("parquet")
         .option("path", output_dir)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
