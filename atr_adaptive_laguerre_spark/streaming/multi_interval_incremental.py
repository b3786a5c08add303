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
* the cross-interval carried state: the last 10 aligned rows of the
  21 interaction inputs (``INTERACTION_INPUTS`` of each grain) and the
  two unbounded counters ``bars_since_alignment`` and
  ``alignment_duration``.

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

The interactions are not re-implemented here: each block runs the
batch ``_interactions_2d`` over the carried rows plus the new rows (the
``Entity43Stream`` pattern) and corrects only the two counters, so
chunking cannot perturb a bit; the only float recurrences (kernel,
EWM, expander windows) live inside the parity-pinned steppers.

Checkpoint layout: the carried interaction state is ``i_k_hist``,
``i_c_bsa`` and ``i_c_ad``; streaming checkpoints written before this
layout cannot be resumed (no migration).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.kernel.expander_ref import FEATURE_COLUMNS
from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
    INTERACTION_INPUTS, _interactions_2d,
)
from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
    INTERACTION_COLUMNS, multi_interval_columns,
)
from atr_adaptive_laguerre_spark.streaming.expanded import (
    _SERIES, Entity43Stream,
)
from atr_adaptive_laguerre_spark.streaming.stateful import (
    filter_new_bars, gather_group_chunks,
)

NF = len(FEATURE_COLUMNS)          # 43
_CI = {c: i for i, c in enumerate(FEATURE_COLUMNS)}

AVAIL_INPUT_SCHEMA = ("source string, doc_id string, offset long, "
                      "high double, low double, close double, avail double")

#: carried aligned interaction-input rows: the deepest window of
#: ``_interactions_2d`` (rolling-10 of ``cross_above_oversold_mult2``)
_K_HIST = 10
#: slab column order: INTERACTION_INPUTS of the base, mult1, mult2 grains
_K_KEYS = tuple((g, col) for g in "b12" for col in INTERACTION_INPUTS)


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
    """The 40 cross-interval interactions for a block of FINAL rows.

    One batch ``_interactions_2d`` call over a (1, h + n) slab: the
    ``h <= 10`` carried aligned rows (``istate["k_hist"]``) stacked on
    the block's n rows; the new rows' columns are kept.  Ten rows cover
    the deepest window (the rolling-10 behind ``higher_crossed_first``),
    so every shift/rolling input of a new row lies inside the slab.
    The two unbounded counters are corrected where no reset event
    occurred in the slab at or before the row (carried count − h).
    ``istate`` is mutated with the new carried values."""
    new = np.column_stack([K[col] for K in (Kb, K1, K2)
                           for col in INTERACTION_INPUTS])
    slab = np.concatenate([istate["k_hist"], new])
    h = len(istate["k_hist"])
    K = {key: slab[None, :, j] for j, key in enumerate(_K_KEYS)}
    inter = _interactions_2d(K)
    out = {col: inter[col][0, h:] for col in INTERACTION_COLUMNS}

    rb, r1, r2 = (K[(g, "regime")][0] for g in "b12")
    unanimity = (rb == r1) & (r1 == r2)
    for col, event, carried in (
            ("bars_since_alignment", unanimity, "c_bsa"),
            ("alignment_duration", ~unanimity, "c_ad")):
        # an event AT slab position 0 leaves the batch reset at 0, so
        # "seen an event" must come from the events, not the reset
        seen = np.logical_or.accumulate(event)[h:]
        out[col] = np.where(seen, out[col], out[col] + (istate[carried] - h))
        istate[carried] = float(out[col][-1])
    istate["k_hist"] = slab[-_K_HIST:].copy()
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
        self.istate = {"k_hist": np.empty((0, len(_K_KEYS))),
                       "c_bsa": 0.0, "c_ad": 0.0}
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
                i["k_hist"].ravel().tolist(),
                float(i["c_bsa"]), float(i["c_ad"]))

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
        self.istate = {"k_hist": _arr(tup[p + 3]).reshape(-1, len(_K_KEYS)),
                       "c_bsa": float(tup[p + 4]),
                       "c_ad": float(tup[p + 5])}
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
            "p_base array<double>, i_k_hist array<double>, "
            "i_c_bsa double, i_c_ad double, last_offset long")


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
