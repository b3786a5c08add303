"""Incremental (O(1)-state) streaming 121 — bit parity vs batch, state
boundedness, and checkpoint restart through Spark."""

import dataclasses
import os

import numpy as np
import pandas as pd
import pytest

from atr_adaptive_laguerre_spark.config import FeatureConfig

CFG = FeatureConfig.multi_interval(multiplier_1=3, multiplier_2=12,
                                   atr_period=14, availability=True)


def make_tokens(seed: int, n: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, 50000, n).astype(np.int64)


def _series(seed: int, n: int):
    from atr_adaptive_laguerre_spark.data.corpus import (
        tokens_to_availability, tokens_to_ohlcv,
    )

    toks = make_tokens(seed, n)
    h, l, c = tokens_to_ohlcv(toks)
    return h, l, c, tokens_to_availability(toks)


def _batch(h, l, c, av, cfg=CFG):
    from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
        multi_interval_long,
    )

    n = len(c)
    return multi_interval_long(h[None, :], l[None, :], c[None, :],
                               np.array([n], dtype=np.int64), cfg,
                               avail=av[None, :])


_CHUNKINGS = [
    [150],                       # one shot
    [1] * 150,                   # bar at a time (worst case)
    [7, 1, 40, 3, 99],           # ragged
    [36, 36, 36, 42],            # window-aligned-ish
]


@pytest.mark.parametrize("chunks, filter_redundancy", [
    *(pytest.param(ch, True, id=f"chunks{i}")
      for i, ch in enumerate(_CHUNKINGS)),
    # the unfiltered 169 columns add the interactions that read carried
    # shift(1)/shift(2)/rolling-10 history (cascade_crossing_up/down,
    # higher_crossed_first, regime_change_cascade) and
    # regime_persistence_ratio
    *(pytest.param(ch, False, id=f"chunks{i}-169")
      for i, ch in enumerate(_CHUNKINGS)),
])
def test_entity121_stream_chunked_parity(chunks, filter_redundancy):
    """Entity121Stream emits bit-identical rows to the batch kernel
    under every chunking, including bar-at-a-time, with and without the
    redundancy filter."""
    from atr_adaptive_laguerre_spark.engine.features_job import (
        feature_columns_for,
    )
    from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (
        Entity121Stream,
    )

    cfg = dataclasses.replace(CFG, filter_redundancy=filter_redundancy)
    n = sum(chunks)
    h, l, c, av = _series(11, n)
    want = _batch(h, l, c, av, cfg)
    feat_cols = feature_columns_for(cfg)
    assert len(feat_cols) == (121 if filter_redundancy else 169)

    ent = Entity121Stream(cfg)
    got_offs, got = [], {col: [] for col in feat_cols}
    pos = 0
    for k in chunks:
        sl = slice(pos, pos + k)
        offs = np.arange(pos, pos + k, dtype=np.int64)
        res = ent.advance(offs, h[sl], l[sl], c[sl], av[sl])
        pos += k
        if res is None:
            continue
        o, cols = res
        got_offs.extend(o.tolist())
        for col in feat_cols:
            got[col].extend(cols[col].tolist())

    lm1, lm2 = n // 3, n // 12
    av_cap = min(av[lm1 * 3 - 1], av[lm2 * 12 - 1])
    exp_hi = int(np.searchsorted(av, av_cap, side="right"))
    assert got_offs == list(range(exp_hi)), (len(got_offs), exp_hi)
    for col in feat_cols:
        a = np.asarray(got[col])
        b = want[col][:exp_hi]
        ok = (a == b) | (np.isnan(a) & np.isnan(b))
        assert ok.all(), (col, int((~ok).sum()))


@pytest.mark.usefixtures("numpy_backend")
def test_entity121_stream_bar_at_a_time_numpy_backend():
    """The bar-at-a-time chunking on the NumPy fallback loops, whose
    carried-state entry points the compiled loops mirror."""
    test_entity121_stream_chunked_parity([1] * 150, True)


def test_entity121_stream_second_config_parity():
    """Chunked parity also at a non-default config (mults 2/8, atr 10,
    levels .8/.2 — no constant may hide in the streaming path)."""
    from atr_adaptive_laguerre_spark.engine.features_job import (
        feature_columns_for,
    )
    from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (
        Entity121Stream,
    )

    cfg = FeatureConfig.multi_interval(
        multiplier_1=2, multiplier_2=8, atr_period=10,
        level_up=0.8, level_down=0.2, adaptive_offset=0.6,
        velocity_span=4, stats_window=15, availability=True)
    n = 160
    h, l, c, av = _series(33, n)
    want = _batch(h, l, c, av, cfg)
    feat_cols = feature_columns_for(cfg)

    ent = Entity121Stream(cfg)
    got_offs, got = [], {col: [] for col in feat_cols}
    pos = 0
    for k in [13, 1, 50, 2, 94]:
        sl = slice(pos, pos + k)
        res = ent.advance(np.arange(pos, pos + k, dtype=np.int64),
                          h[sl], l[sl], c[sl], av[sl])
        pos += k
        if res is None:
            continue
        o, cols = res
        got_offs.extend(o.tolist())
        for col in feat_cols:
            got[col].extend(cols[col].tolist())

    lm1, lm2 = n // 2, n // 8
    av_cap = min(av[lm1 * 2 - 1], av[lm2 * 8 - 1])
    exp_hi = int(np.searchsorted(av, av_cap, side="right"))
    assert got_offs == list(range(exp_hi))
    for col in feat_cols:
        a = np.asarray(got[col])
        b = want[col][:exp_hi]
        ok = (a == b) | (np.isnan(a) & np.isnan(b))
        assert ok.all(), (col, int((~ok).sum()))


def _interaction_inputs(n: int, seed: int) -> dict[tuple[str, str], np.ndarray]:
    """Synthetic interaction inputs per (grain, column): regimes in
    {0, 1, 2}, 0/1 crossing and change flags at p=0.3, and scripted
    unanimous / non-unanimous runs longer than the carried window so
    both alignment counters run past it (random regimes keep unanimous
    runs short)."""
    rng = np.random.default_rng(seed)
    K = {}
    for g in "b12":
        K[(g, "regime")] = rng.integers(0, 3, n).astype(np.float64)
        K[(g, "rsi")] = rng.random(n)
        K[(g, "rsi_change_1")] = rng.normal(0.0, 0.1, n)
        K[(g, "bars_in_regime")] = rng.integers(0, 30, n).astype(np.float64)
        for col in ("cross_below_overbought", "cross_above_oversold",
                    "regime_changed"):
            K[(g, col)] = (rng.random(n) < 0.3).astype(np.float64)
    for lo, hi, regimes in ((0, 15, (1.0, 1.0, 1.0)),
                            (100, 125, (2.0, 2.0, 2.0)),
                            (200, 230, (0.0, 1.0, 2.0))):
        for g, r in zip("b12", regimes):
            K[(g, "regime")][lo:hi] = r
    return K


@pytest.mark.parametrize("blocks", [
    [400],
    [1] * 400,
    # ragged; blocks start inside the scripted runs (rows 120, 215, 225)
    [7, 1, 40, 3, 69, 95, 10, 11, 164],
])
def test_block_interactions_match_batch_kernel(blocks):
    """The streaming tier's 40 interactions, fed block by block from a
    fresh entity's carried state, equal one batch ``_interactions_2d``
    call over the whole series on every column."""
    from atr_adaptive_laguerre_spark.kernel.batched import get_workspace
    from atr_adaptive_laguerre_spark.kernel.multi_interval_batched import (
        INTERACTION_INPUTS, _interactions_2d,
    )
    from atr_adaptive_laguerre_spark.kernel.multi_interval_ref import (
        INTERACTION_COLUMNS,
    )
    from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (
        Entity121Stream, _block_interactions,
    )

    n = sum(blocks)
    K = _interaction_inputs(n, seed=7)
    batch = _interactions_2d({k: v[None, :] for k, v in K.items()},
                             get_workspace(n), 1, n)
    want = {col: batch[col][0].copy() for col in INTERACTION_COLUMNS}
    # the inputs reach every carried pattern
    for col in ("cascade_crossing_up", "cascade_crossing_down",
                "higher_crossed_first", "regime_change_cascade"):
        assert want[col].sum() > 0, col
    assert want["bars_since_alignment"].max() > 10
    assert want["alignment_duration"].max() > 10

    istate = Entity121Stream(CFG).istate
    got = {col: [] for col in INTERACTION_COLUMNS}
    pos = 0
    for k in blocks:
        Kb, K1, K2 = ({col: K[(g, col)][pos:pos + k]
                       for col in INTERACTION_INPUTS} for g in "b12")
        out = _block_interactions(Kb, K1, K2, istate)
        for col in INTERACTION_COLUMNS:
            got[col].append(out[col])
        pos += k
    for col in INTERACTION_COLUMNS:
        np.testing.assert_array_equal(np.concatenate(got[col]), want[col],
                                      err_msg=col)


def test_entity121_stream_state_is_bounded():
    """The O(1)-in-bars contract: the packed per-entity state stays
    flat as the stream grows, so entities may be unbounded."""
    from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (
        Entity121Stream,
    )

    def packed_floats(ent):
        total = 0
        for f in ent.to_tuple():
            if isinstance(f, list):
                total += len(f)
        return total

    # the slowest-saturating component is the mult2 grain's 118-window
    # trailing history (118 * 12 = 1416 base bars); measure beyond it
    sizes = []
    for n in (2400, 4800, 9600):
        h, l, c, av = _series(5, n)
        ent = Entity121Stream(CFG)
        for lo in range(0, n, 50):
            sl = slice(lo, min(lo + 50, n))
            ent.advance(np.arange(sl.start, sl.stop, dtype=np.int64),
                        h[sl], l[sl], c[sl], av[sl])
        sizes.append(packed_floats(ent))
    assert sizes[2] <= sizes[0] + 50, sizes    # flat, not linear
    assert sizes[2] < 8000                      # absolute sanity bound


def test_entity121_pack_roundtrip_mid_stream():
    """to_tuple/from_tuple at an arbitrary mid-stream point resumes
    bit-identically (the checkpoint-restart contract, without Spark)."""
    from atr_adaptive_laguerre_spark.engine.features_job import (
        feature_columns_for,
    )
    from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (
        Entity121Stream,
    )

    n = 200
    h, l, c, av = _series(21, n)
    feat_cols = feature_columns_for(CFG)

    def run(split):
        ent = Entity121Stream(CFG)
        outs = []
        r = ent.advance(np.arange(split, dtype=np.int64),
                        h[:split], l[:split], c[:split], av[:split])
        if r:
            outs.append(r)
        ent = Entity121Stream.from_tuple(CFG, ent.to_tuple())   # roundtrip
        r = ent.advance(np.arange(split, n, dtype=np.int64),
                        h[split:], l[split:], c[split:], av[split:])
        if r:
            outs.append(r)
        offs = np.concatenate([o for o, _ in outs])
        cols = {col: np.concatenate([cc[col] for _, cc in outs])
                for col in feat_cols}
        return offs, cols

    o1, c1 = run(37)
    o2, c2 = run(123)
    np.testing.assert_array_equal(o1, o2)
    for col in feat_cols:
        ok = (c1[col] == c2[col]) | (np.isnan(c1[col]) & np.isnan(c2[col]))
        assert ok.all(), col


def test_stream_121_incremental_matches_batch_spark(spark, tmp_path):
    """End-to-end through applyInPandasWithState: 3 file drops, a
    checkpoint restart, replay overlap deduped; emitted rows equal the
    batch kernel bit-for-bit."""
    from atr_adaptive_laguerre_spark.engine.features_job import (
        feature_columns_for,
    )
    from atr_adaptive_laguerre_spark.streaming.multi_interval_incremental import (
        stream_features121_incremental,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    N = 150
    docs = {}
    for i in range(3):
        docs[f"d{i}"] = _series(40 + i, N)

    def drop(lo, hi):
        rows = []
        for did, (h, l, c, av) in docs.items():
            for j in range(lo, hi):
                rows.append(("s0", did, j, float(h[j]), float(l[j]),
                             float(c[j]), float(av[j])))
        pdf = pd.DataFrame(rows, columns=["source", "doc_id", "offset",
                                          "high", "low", "close", "avail"])
        (spark.createDataFrame(pdf)
         .coalesce(1).write.mode("append").parquet(in_dir))

    drop(0, 40)
    stream_features121_incremental(spark, in_dir, out_dir, ckpt, CFG)
    drop(40, 90)
    drop(80, 150)        # overlap 80-90 replays -> must be ignored
    stream_features121_incremental(spark, in_dir, out_dir, ckpt, CFG)

    got = (spark.read.parquet(out_dir).toPandas()
           .sort_values(["doc_id", "offset"]).reset_index(drop=True))
    assert got.groupby(["doc_id", "offset"]).size().max() == 1

    feat_cols = feature_columns_for(CFG)
    for did, (h, l, c, av) in docs.items():
        want = _batch(h, l, c, av)
        sub = got[got["doc_id"] == did].sort_values("offset")
        lm2 = N // 12
        av_cap = min(av[(N // 3) * 3 - 1], av[lm2 * 12 - 1])
        exp_hi = int(np.searchsorted(av, av_cap, side="right"))
        assert sub["offset"].tolist() == list(range(exp_hi)), did
        for col in feat_cols:
            a = sub[col].to_numpy()
            b = want[col][:exp_hi]
            ok = (a == b) | (np.isnan(a) & np.isnan(b))
            assert ok.all(), (did, col, int((~ok).sum()))
