"""The streaming steppers' checkpoint layout.  Spark's state store keeps
each entity's state as a row of the stepper's state schema, so a
changed schema string, or a stepper whose packed tuple no longer fits
it, stops checkpoints already written from resuming.  The schemas are
pinned as literals; the tuples are checked against them fresh and
mid-stream, and must unpack to the same state."""

import numpy as np
import pytest

from atr_adaptive_laguerre_spark.config import FeatureConfig
from atr_adaptive_laguerre_spark.data.corpus import (
    make_tokens, tokens_to_availability, tokens_to_ohlcv,
)
from atr_adaptive_laguerre_spark.streaming.expanded import (
    STATE43_SCHEMA, Entity43Stream,
)
from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (
    Entity121Stream, _Grain, state121_inc_schema,
)
from atr_adaptive_laguerre_spark.streaming.stateful import STATE_SCHEMA

CFG = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                   atr_period=14, availability=True)

PINNED_STATE = (
    "prev_close double, seen int, tr_buf array<double>, buf_head int, "
    "buf_len int, tr_sum double, l0 double, l1 double, l2 double, "
    "l3 double, last_offset long")

PINNED_STATE43 = (
    "prev_close double, seen int, tr_buf array<double>, buf_head int, "
    "buf_len int, tr_sum double, l0 double, l1 double, l2 double, "
    "l3 double, last_offset long, vel double, h_rsi array<double>, "
    "h_adaptive_coeff array<double>, h_gamma array<double>, "
    "h_L0 array<double>, h_L1 array<double>, h_L2 array<double>, "
    "h_L3 array<double>, h_min_atr array<double>, "
    "h_max_atr array<double>, h_close array<double>, c_bars_in double, "
    "c_bs_os double, c_bs_ob double")

PINNED_STATE121 = (
    "b_prev_close double, b_seen int, b_tr_buf array<double>, "
    "b_buf_head int, b_buf_len int, b_tr_sum double, b_l0 double, "
    "b_l1 double, b_l2 double, b_l3 double, b_vel double, "
    "b_h_rsi array<double>, b_h_adaptive_coeff array<double>, "
    "b_h_gamma array<double>, b_h_L0 array<double>, "
    "b_h_L1 array<double>, b_h_L2 array<double>, b_h_L3 array<double>, "
    "b_h_min_atr array<double>, b_h_max_atr array<double>, "
    "b_h_close array<double>, b_c_bars_in double, b_c_bs_os double, "
    "b_c_bs_ob double, g1_prev_close double, g1_seen int, "
    "g1_tr_buf array<double>, g1_buf_head int, g1_buf_len int, "
    "g1_tr_sum double, g1_l0 double, g1_l1 double, g1_l2 double, "
    "g1_l3 double, g1_vel double, g1_h_rsi array<double>, "
    "g1_h_adaptive_coeff array<double>, g1_h_gamma array<double>, "
    "g1_h_L0 array<double>, g1_h_L1 array<double>, "
    "g1_h_L2 array<double>, g1_h_L3 array<double>, "
    "g1_h_min_atr array<double>, g1_h_max_atr array<double>, "
    "g1_h_close array<double>, g1_c_bars_in double, g1_c_bs_os double, "
    "g1_c_bs_ob double, g1_rem_h array<double>, "
    "g1_rem_l array<double>, g1_rem_c array<double>, "
    "g1_rem_av array<double>, g1_wavail array<double>, "
    "g1_wvecs array<double>, g1_discarded long, g2_prev_close double, "
    "g2_seen int, g2_tr_buf array<double>, g2_buf_head int, "
    "g2_buf_len int, g2_tr_sum double, g2_l0 double, g2_l1 double, "
    "g2_l2 double, g2_l3 double, g2_vel double, "
    "g2_h_rsi array<double>, g2_h_adaptive_coeff array<double>, "
    "g2_h_gamma array<double>, g2_h_L0 array<double>, "
    "g2_h_L1 array<double>, g2_h_L2 array<double>, "
    "g2_h_L3 array<double>, g2_h_min_atr array<double>, "
    "g2_h_max_atr array<double>, g2_h_close array<double>, "
    "g2_c_bars_in double, g2_c_bs_os double, g2_c_bs_ob double, "
    "g2_rem_h array<double>, g2_rem_l array<double>, "
    "g2_rem_c array<double>, g2_rem_av array<double>, "
    "g2_wavail array<double>, g2_wvecs array<double>, "
    "g2_discarded long, p_off array<long>, p_avail array<double>, "
    "p_base array<double>, i_k_hist array<double>, i_c_bsa double, "
    "i_c_ad double, last_offset long")


def test_state_schemas_are_pinned():
    assert STATE_SCHEMA == PINNED_STATE
    assert STATE43_SCHEMA == PINNED_STATE43
    assert state121_inc_schema() == PINNED_STATE121


def _n_fields(schema: str, prefix: str = "") -> int:
    return sum(f.startswith(prefix) for f in schema.split(", "))


def _steppers(n_bars: int):
    """A fresh or advanced stepper of each kind, with the number of
    schema fields its ``to_tuple`` must fill (``last_offset`` is the
    caller's, so it is not counted)."""
    toks = make_tokens(11, max(n_bars, 1))
    h, l, c = tokens_to_ohlcv(toks)
    av = tokens_to_availability(toks)
    e43 = Entity43Stream(CFG)
    e121 = Entity121Stream(CFG)
    if n_bars:
        e43.advance(h, l, c)
        e121.advance(np.arange(n_bars, dtype=np.int64), h, l, c, av)
    return [
        (e43, _n_fields(STATE43_SCHEMA) - 1,
         lambda t: Entity43Stream.from_tuple(CFG, t)),
        (e121.g1, _n_fields(state121_inc_schema(), "g1_"),
         lambda t: _Grain.from_tuple(CFG, CFG.multiplier_1, t)),
        (e121, _n_fields(state121_inc_schema()) - 1,
         lambda t: Entity121Stream.from_tuple(CFG, t)),
    ]


@pytest.mark.parametrize("n_bars", [0, 150], ids=["fresh", "mid_stream"])
def test_packed_state_fills_its_schema(n_bars):
    for stepper, n_fields, from_tuple in _steppers(n_bars):
        tup = stepper.to_tuple()
        assert len(tup) == n_fields, type(stepper).__name__
        again = from_tuple(tup).to_tuple()
        assert len(again) == n_fields
        for a, b in zip(tup, again):
            np.testing.assert_array_equal(a, b)
